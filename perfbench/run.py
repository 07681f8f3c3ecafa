"""Extraction benchmark for coa_ocr_simple_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Spark runs at ``local[N]`` with N the
CPUs this process may use (``os.sched_getaffinity``).  The load is a closed
loop from one client process: one extraction job at a time.

Workloads (inputs generated from ``--seed``, cached per (workload, seed)
under ``.perfbench_cache/``; generation time is reported, never timed):

* ``thin_onefile`` — single-span text/html docs in ONE parquet file (one
  input split), noop sink: only the single-span fast path and short-doc
  core work run, so fast-branch parallelism and per-doc UDF glue show here
  and nowhere else.
* ``job_resume`` — ``jobs.extract.run --resume --checkpoint`` over the
  FIXTURES §4 bench mix (70% text, 10% html, 15% pdf with 2-5 spans, 5%
  fat docs with 20-200 image spans) in many files plus the media table,
  against an output table that already holds the first half of the
  corpus; each execution starts from an untimed fresh copy of that table.
  Covers the wide branch (explode, media join, the collect_list groupBy,
  long-doc core work) and the job's bookkeeping (append, the resume
  anti-join, partition_metrics, the re-scan of its output table); any
  fast-path change must be a no-op here.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` is a separate
traced run that reports the per-layer metrics (see ``perfbench/trace.py``).
Each run is one fresh process (``perfbench/session.py``) that sets up
Spark, runs one cold execution, then timed executions.  Outputs are checked
against the single-node oracle, untimed: every execution's output table for
``job_resume``; for ``thin_onefile``, whose noop sink leaves nothing to
read, one extra execution that collects its rows.  An execution during
which the hypervisor gave more than 2% of the CPU time this guest asked
for to other guests is "disturbed" and left out of the medians; in a
disturbed window the timed loop goes on for up to 1.33x ``--seconds``
(see ``timed_loop`` in ``perfbench/session.py``).  The last stdout line is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``; the
full report (samples, window hygiene, spans) goes to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time

# One fresh process per run.  Its set-up (JVM and session start, Python
# worker spawn, imports, one cold execution) takes ~20-25 s at local[4],
# so a second set-up sample per run does not fit the benchmark's time budget.
SESSION_TIMEOUT_S = 150


def declared_metrics(root: str) -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name -> unit, as BENCHMARK.json
    declares them."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return (
        {m["name"]: m["unit"] for m in bench["end_to_end"]},
        {m["name"]: m["unit"] for m in bench["per_layer"]},
    )


def percentile_summary(samples: list[float]) -> dict:
    """Median and the highest of p90/p95/p99/p99.9 with at least ten
    samples beyond it (None when there are too few samples)."""
    ordered = sorted(samples)
    n = len(ordered)
    out = {"median": statistics.median(ordered), "n": n, "p": None, "p_value": None}
    for p in (99.9, 99, 95, 90):
        if n * (100 - p) / 100 >= 10:
            out["p"] = p
            out["p_value"] = ordered[min(n - 1, int(n * p / 100))]
            break
    return out


def window_state() -> dict:
    """Load average, CPU steal counters and any java/pytest processes that
    are not ours."""
    from perfbench.session import cpu_counters

    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    asked, stolen = cpu_counters()
    others = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == os.getpid():
            continue
        try:
            with open(f"/proc/{name}/cmdline", "rb") as f:
                argv = f.read().decode(errors="replace").split("\0")
        except OSError:
            continue
        exe = os.path.basename(argv[0])
        if exe == "java" or exe == "pytest" or (exe.startswith("python") and "pytest" in argv[1:3]):
            others.append({"pid": int(name), "cmd": " ".join(argv)[:160]})
    return {"loadavg": load, "cpu_asked": asked, "cpu_stolen": stolen, "other_processes": others}


def _session_members(sid: int) -> list[int]:
    """Live (non-zombie) processes of session ``sid``."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z" and int(fields[3]) == sid:
            out.append(int(name))
    return out


def _reap_session(sid: int) -> None:
    """Kill what is left of a benchmark process's session (the JVM, the
    PySpark daemon and its workers, which sit in process groups of their
    own) and wait until every member has exited."""
    deadline = time.time() + 30
    while members := _session_members(sid):
        if time.time() > deadline:
            raise RuntimeError(f"processes {members} of session {sid} did not exit")
        for pid in members:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def run_session(root: str, cache: str, cfg: dict) -> dict:
    """One fresh process: setup + cold execution + timed executions."""
    os.makedirs(os.path.join(cache, "sessions"), exist_ok=True)
    tag = f"{cfg['workload']}-{cfg['seed']}-{os.getpid()}-{time.time_ns()}"
    config_path = os.path.join(cache, "sessions", f"{tag}.json")
    log_path = os.path.join(cache, "sessions", f"{tag}.log")
    cfg = {**cfg, "root": root, "cache": cache, "result": config_path + ".result"}
    env = {
        **os.environ,
        "PYTHONPATH": root,
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(cache, "spark-local"),
        "TMPDIR": os.path.join(cache, "tmp"),
        # keeps every JVM (the launcher's too) writing only inside the checkout
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(cache, 'tmp')}",
    }
    os.makedirs(env["TMPDIR"], exist_ok=True)
    cfg["spawned_at"] = time.time()
    with open(config_path, "w") as f:
        json.dump(cfg, f)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(root, "perfbench", "session.py"), config_path],
            cwd=root, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            code = proc.wait(timeout=SESSION_TIMEOUT_S)
        finally:
            proc.kill()
            proc.wait()
            _reap_session(proc.pid)
    if code != 0 or not os.path.exists(cfg["result"]):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"session failed (exit {code}); log tail:\n{tail}")
    with open(cfg["result"]) as f:
        result = json.load(f)
    for path in (config_path, log_path, cfg["result"]):
        os.remove(path)
    return result


def trace_core(workload: str, seed: int) -> dict:
    """Core phase self times over the documents one execution extracts."""
    from coa_ocr_simple_spark.fixtures import generate as G

    from perfbench import inputs, trace

    corpus = inputs.build_corpus(workload, seed)
    docs = inputs.split_done(corpus.docs)[1] if workload == "job_resume" else corpus.docs
    return trace.core_phase_times(docs, G.media_lookup(corpus))


def measure(args, root: str, cache: str, cpus: int, meta: dict, names) -> tuple[dict, dict]:
    """One fresh session; returns (metrics named in ``names``, report
    details)."""
    r = run_session(
        root, cache,
        {"workload": args.workload, "seed": args.seed, "cpus": cpus,
         "trace": bool(args.trace), "budget_s": args.seconds},
    )
    from perfbench.session import MAX_STOLEN_SHARE, undisturbed

    walls = undisturbed(r["walls"], r["stolen"])
    if args.trace:
        layers = dict(r["layers"])
        core = trace_core(args.workload, args.seed)
        layers.update(core)
        layers["core.us_per_kchar"] = core["core.cpu_s"] * 1e6 / (meta["n_todo_chars"] / 1e3)
        python_run = (
            layers["functions.udfs.python_run_s.fast"] + layers["functions.udfs.python_run_s.wide"]
        )
        layers["functions.udfs.glue_frac"] = 1 - core["core.cpu_s"] / python_run
        layers["tracing_overhead_frac"] = (
            statistics.median(undisturbed(r["traced_walls"], r["traced_stolen"]))
            / statistics.median(walls)
            - 1
        )
        # peak RSS varies by up to 20% between runs of one workload, so it is
        # reported beside the per-layer numbers rather than bounded end to end
        layers["peak_rss_mb"] = r["peak_rss_mb"]
        values = layers
    else:
        values = {
            "wall_s": statistics.median(walls),
            "docs_per_s": statistics.median(meta["n_todo"] / w for w in walls),
            "setup_s": r["setup_s"],
        }
    metrics = {k: values[k] for k in names}
    details = {
        "session": r,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "failed_frac": r["failed"] / r["attempted"],
        # untraced executions during which the hypervisor held back CPU
        "disturbed": sum(1 for s in r["stolen"] if s > MAX_STOLEN_SHARE),
        "wall_s": percentile_summary(walls),
        "docs_per_s": percentile_summary([meta["n_todo"] / w for w in walls]),
    }
    return metrics, details


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "coa_ocr_simple_spark", "__init__.py")):
        print("perfbench: run from a checkout root holding coa_ocr_simple_spark/", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from perfbench.inputs import WORKLOADS, Inputs

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {WORKLOADS}", file=sys.stderr)
        return 2
    end_to_end, per_layer = declared_metrics(root)
    units = per_layer if args.trace else end_to_end
    cache = os.path.join(root, ".perfbench_cache")
    cpus = len(os.sched_getaffinity(0))
    window_before = window_state()

    inputs = Inputs(cache, args.workload, args.seed)
    meta = inputs.ensure()
    metrics, details = measure(args, root, cache, cpus, meta, units)

    window_after = window_state()
    from perfbench.session import MAX_STOLEN_SHARE

    stolen_share = (window_after["cpu_stolen"] - window_before["cpu_stolen"]) / max(
        window_after["cpu_asked"] - window_before["cpu_asked"], 1
    )
    dirty = bool(
        window_before["other_processes"] or window_after["other_processes"]
        or stolen_share > MAX_STOLEN_SHARE
    )
    print(f"perfbench {args.workload} seed={args.seed} local[{cpus}] "
          f"inputs={meta['digest'][:12]} "
          f"generate_s={meta['generate_s']:.3f}{' (cached)' if meta['cached'] else ''} "
          f"window={'DIRTY' if dirty else 'clean'} load={window_before['loadavg'][0]:.2f} "
          f"stolen={stolen_share:.3f}")
    for name in ("wall_s", "docs_per_s"):
        s = details[name]
        pct = f" p{s['p']:g}={s['p_value']:.4f}" if s["p"] else ""
        print(f"  {name:<14} median={s['median']:.4f} {end_to_end[name]}{pct} n={s['n']}")
    print(f"  {'disturbed':<14} {details['disturbed']} of {len(details['session']['walls'])} "
          f"untraced executions (medians over n)")
    print(f"  {'setup_s':<14} {details['session']['setup_s']:.4f} s (one fresh process)")
    print(f"  {'failed_frac':<14} {details['failed_frac']:.6f} ratio "
          f"({details['failed']}/{details['attempted']})")
    if args.trace:
        for name, value in metrics.items():
            print(f"  {name:<14} {value:.6g} {units[name]}")

    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    report = {
        "workload": args.workload, "seed": args.seed, "cpus": cpus,
        "seconds": args.seconds, "trace": args.trace, "inputs": meta,
        "window": {
            "before": window_before, "after": window_after,
            "stolen_share": stolen_share, "dirty": dirty,
        },
        "metrics": metrics, **details,
    }
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1)

    print(json.dumps({
        "correct": details["failed"] == 0,
        "attempted": details["attempted"],
        "failed": details["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
