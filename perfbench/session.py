"""One fresh benchmark process: Spark session, cold execution, timed
executions, output check.

Run by ``perfbench/run.py`` as ``python3 perfbench/session.py <config.json>``
from the checkout root; writes its result JSON to ``config["result"]``.
One execution runs at a time (a closed loop with one client), which is how
a batch extraction job is submitted.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time


WARMUP_S = 10
# a timed loop in a disturbed window goes on for up to this multiple of its
# budget (see timed_loop); longer extensions found few more undisturbed
# executions on a 4-vCPU VM and made each run up to 5 s longer
MAX_EXTEND = 1.33


def make_spark(cfg: dict):
    from coa_ocr_simple_spark.jobs.extract import make_session

    cache = cfg["cache"]
    conf = [
        "spark.ui.enabled=false",
        "spark.ui.showConsoleProgress=false",
        # a fixed, small heap keeps the JVM's resident size comparable
        # between runs and leaves the shared host's memory alone
        "spark.driver.memory=1g",
        f"spark.sql.warehouse.dir={os.path.join(cache, 'warehouse')}",
        # full scan locations in plan descriptions, so the trace can tell
        # the output-table re-scan from the input scan
        "spark.sql.maxMetadataStringLength=10000",
    ]
    spark = make_session("perfbench", f"local[{cfg['cpus']}]", cfg["cpus"], conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def tree_peak_rss_mb(root_pid: int) -> float:
    """Sum of VmHWM over ``root_pid`` and all its descendants (the JVM and
    the Python daemon and workers it forked)."""
    parents: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                parents[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        pid = frontier.pop()
        for child, parent in parents.items():
            if parent == pid and child not in tree:
                tree.add(child)
                frontier.append(child)
    kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024


class Workload:
    """Executes one workload's job against the generated inputs."""

    def __init__(self, spark, cfg: dict):
        from perfbench.inputs import Inputs

        self.spark = spark
        self.cfg = cfg
        self.inputs = Inputs(cfg["cache"], cfg["workload"], cfg["seed"])
        self.work = os.path.join(cfg["cache"], "work", f"{os.getpid()}")
        self.n = 0
        self.last = None
        # the noop sink leaves nothing to read back, so only job_resume can
        # check the output of every execution
        self.check_each = cfg["workload"] == "job_resume"
        self.attempted = 0
        self.failed = 0

    def prepare(self) -> None:
        """Untimed per-execution state: a fresh copy of the prior run's
        output table for job_resume."""
        self.n += 1
        if self.cfg["workload"] == "job_resume":
            self.state = self.inputs.fresh_job_state(os.path.join(self.work, str(self.n)))

    def execute(self) -> None:
        """One timed execution: from input paths to a complete result."""
        if self.cfg["workload"] == "job_resume":
            from coa_ocr_simple_spark.jobs import extract

            output, checkpoint = self.state
            args = extract.parse_args(
                ["--input", self.inputs.docs, "--media", self.inputs.media, "--output", output,
                 "--checkpoint", checkpoint, "--resume", "--run-id", f"bench-{self.n}"]
            )
            self.last = extract.run(args, self.spark)
        else:
            self.results().write.mode("overwrite").format("noop").save()

    def results(self):
        from coa_ocr_simple_spark.plans import extract_plan
        from coa_ocr_simple_spark.sources.tables import TableIO

        docs = TableIO(self.spark).read(self.inputs.docs)
        return extract_plan.build_extract_plan(
            docs, None, options=extract_plan.ExtractOptions(run_id="bench")
        )

    def check(self) -> None:
        """Untimed check of the latest execution's output against the
        oracle, added to ``attempted`` / ``failed``.  job_resume reads the
        table the execution wrote and counts only the docs it had to
        extract as attempted; the noop workload runs the plan once more,
        collecting its rows (one extra execution)."""
        from perfbench.inputs import canonical, count_failed

        expected = self.inputs.expected()
        if self.cfg["workload"] == "job_resume":
            import pyarrow.parquet as pq

            output, checkpoint = self.state
            rows = pq.read_table(output).to_pylist()
            actual = [(r["doc_id"], canonical(r)) for r in rows]
            n_new = sum(1 for r in rows if r["_run_id"] == f"bench-{self.n}")
            n_todo = self.inputs.ensure()["n_todo"]
            ckpt = sum(r["n_docs"] for r in pq.read_table(checkpoint).to_pylist())
            # any wrong, missing or duplicated doc of the whole table, done
            # ones included, plus any miscount in the job's bookkeeping
            failed = count_failed(expected, actual)
            failed += abs(n_new - n_todo) + abs(self.last["docs_written"] - n_todo)
            failed += abs(ckpt - n_todo)
            self.attempted += n_todo
            self.failed += min(failed, n_todo)
            return
        rows = [r.asDict(recursive=True) for r in self.results().collect()]
        actual = [(r["doc_id"], canonical(r)) for r in rows]
        self.attempted += len(expected)
        self.failed += count_failed(expected, actual)

    def written_bytes(self) -> int:
        """Bytes the last job_resume execution added to its output table."""
        output, _ = self.state
        prior = self.inputs.prior
        size = lambda d: sum(
            os.path.getsize(os.path.join(d, f)) for f in os.listdir(d) if f.endswith(".parquet")
        )
        return size(output) - size(prior)

    def close(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)


# An execution during which the hypervisor held back more than this share
# of the CPU time the guest asked for is "disturbed": another guest on the
# host, not the program, set its wall.  Most executions here lose 0-1%.
MAX_STOLEN_SHARE = 0.02
# undisturbed executions a median needs; with fewer, the least disturbed
MIN_UNDISTURBED = 3


def cpu_counters() -> tuple[int, int]:
    """(CPU time the guest asked for, the part of it the hypervisor gave to
    other guests), in clock ticks summed over this host's CPUs."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9]
        )
    return user + nice + system + irq + softirq + steal, steal


def undisturbed(walls: list[float], stolen: list[float]) -> list[float]:
    """The walls of the undisturbed executions (``stolen`` <=
    MAX_STOLEN_SHARE), or the MIN_UNDISTURBED least disturbed ones when
    there are fewer."""
    clean = [w for w, s in zip(walls, stolen) if s <= MAX_STOLEN_SHARE]
    if len(clean) >= MIN_UNDISTURBED:
        return clean
    ranked = sorted(zip(stolen, walls))
    return [w for _, w in ranked[:MIN_UNDISTURBED]]


def timed_loop(
    workload: Workload,
    budget_s: float,
    at_least: int = 2,
    traced: "TracedExecutions | None" = None,
    max_s: float | None = None,
) -> dict:
    """Back-to-back executions for ``budget_s`` (at least ``at_least``),
    then on, up to ``max_s`` in all, while fewer than half of the untraced
    executions are undisturbed (see MAX_STOLEN_SHARE).  Returns the walls of
    the untraced and traced executions and the share of each one's CPU time
    that was stolen.  With ``traced``, untraced and traced executions
    alternate, so both see the same JVM warm-up.  Output checks run between
    executions, untimed."""
    out: dict[str, list[float]] = {
        "walls": [], "stolen": [], "traced_walls": [], "traced_stolen": []
    }
    max_s = max_s or budget_s

    def more() -> bool:
        elapsed = time.perf_counter() - start
        if len(out["walls"]) < at_least or (traced and len(out["traced_walls"]) < at_least):
            return True
        if elapsed < budget_s:
            return True
        n_clean = sum(1 for s in out["stolen"] if s <= MAX_STOLEN_SHARE)
        return elapsed < max_s and 2 * n_clean < len(out["walls"])

    start = time.perf_counter()
    while more():
        workload.prepare()
        is_traced = traced is not None and len(out["traced_walls"]) < len(out["walls"])
        asked0, stolen0 = cpu_counters()
        if is_traced:
            wall = traced.execute()
        else:
            t0 = time.perf_counter()
            workload.execute()
            wall = time.perf_counter() - t0
        asked1, stolen1 = cpu_counters()
        prefix = "traced_" if is_traced else ""
        out[prefix + "walls"].append(wall)
        out[prefix + "stolen"].append((stolen1 - stolen0) / max(asked1 - asked0, 1))
        if workload.check_each:
            workload.check()
    return out


class TracedExecutions:
    """Executions with spans around the program's public calls, followed
    (untimed) by a read of the status-store metrics they produced."""

    def __init__(self, spark, workload: Workload, cfg: dict):
        from perfbench import trace

        self.spark = spark
        self.workload = workload
        self.cfg = cfg
        self.n_todo = workload.inputs.ensure()["n_todo"]
        self.tracer = trace.Tracer(f"{cfg['workload']}-{cfg['seed']}")
        self.exec_ids: dict[int, tuple[int, int]] = {}
        self.tracer.on_enter = lambda s: self.exec_ids.__setitem__(
            s["id"], (trace.last_execution_id(spark), 0)
        )
        self.tracer.on_exit = lambda s: self.exec_ids.__setitem__(
            s["id"], (self.exec_ids[s["id"]][0], trace.last_execution_id(spark))
        )
        self.samples: list[dict] = []

    def execute(self) -> float:
        """One traced execution; returns its wall."""
        from perfbench import trace

        for owner, attr, name in trace.program_wrap_points():
            self.tracer.wrap(owner, attr, name)
        try:
            with self.tracer.span("execution") as root:
                self.workload.execute()
        finally:
            self.tracer.restore()
        wall = root["end"] - root["start"]
        before, _ = self.exec_ids[root["id"]]
        executions = trace.sql_executions(self.spark, before)
        m = trace.extraction_layers(executions, wall, self.cfg["cpus"], self.n_todo)
        m.update(job_layers(self.tracer, root, self.exec_ids, executions, self.workload, self.n_todo))
        self.samples.append(m)
        return wall

    def layers(self) -> dict:
        """Median of each per-layer metric over the traced executions."""
        return {k: statistics.median(s[k] for s in self.samples) for k in self.samples[0]}


def job_layers(tracer, root, exec_ids, executions, workload: Workload, n_todo: int) -> dict:
    """jobs.extract / operators.checkpoint metrics of one traced execution
    (zero for the workloads that do not run the job)."""
    from perfbench import trace

    out = dict.fromkeys(
        (
            "jobs.extract.plan_build_s", "jobs.extract.results_append_s",
            "jobs.extract.tail_s", "jobs.extract.rescan_rows",
            "operators.checkpoint.done_rows_read", "sources.write_bytes_per_doc",
        ),
        0.0,
    )
    runs = tracer.find("jobs.extract.run", within=root)
    if not runs:
        return out
    run = runs[0]
    dur = lambda s: s["end"] - s["start"]
    out["jobs.extract.plan_build_s"] = sum(
        dur(s) for s in tracer.find("plans.extract_plan.build_extract_plan", within=run)
    )
    append = tracer.find("sources.tables.TableIO.append", within=run)[0]
    out["jobs.extract.results_append_s"] = dur(append)
    out["jobs.extract.tail_s"] = run["end"] - append["end"]
    first, last = exec_ids[append["id"]]
    output_dir = os.path.abspath(workload.state[0])
    in_append = [e for e in executions if first < e["id"] <= last]
    after = [e for e in executions if e["id"] > last]
    out["operators.checkpoint.done_rows_read"] = trace.scan_rows(in_append, output_dir)
    out["jobs.extract.rescan_rows"] = trace.scan_rows(after, output_dir)
    out["sources.write_bytes_per_doc"] = workload.written_bytes() / n_todo
    return out


def main(config_path: str) -> None:
    with open(config_path) as f:
        cfg = json.load(f)
    sys.path.insert(0, cfg["root"])
    spark = make_spark(cfg)
    workload = Workload(spark, cfg)
    result: dict = {}
    try:
        workload.prepare()
        workload.execute()
        result["setup_s"] = time.time() - cfg["spawned_at"]
        workload.check()
        # executions in a fresh JVM keep getting faster for ~15 s (up to
        # 25%); keep that phase out of the timed samples
        result["warmup_walls"] = timed_loop(workload, WARMUP_S, at_least=1)["walls"]
        if cfg["trace"]:
            # untraced and traced executions alternate: the ratio of their
            # medians is the tracing overhead
            traced = TracedExecutions(spark, workload, cfg)
            result.update(
                timed_loop(workload, cfg["budget_s"], traced=traced, max_s=MAX_EXTEND * cfg["budget_s"])
            )
            result.update(layers=traced.layers(), spans=traced.tracer.spans)
        else:
            result.update(
                timed_loop(workload, cfg["budget_s"], max_s=MAX_EXTEND * cfg["budget_s"])
            )
        result["attempted"], result["failed"] = workload.attempted, workload.failed
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        result["peak_rss_mb"] = tree_peak_rss_mb(jvm_pid)
    finally:
        workload.close()
        spark.stop()
    with open(cfg["result"], "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main(sys.argv[1])
