"""Per-layer tracing from outside the program.

Three sources, none of which touches code in ``coa_ocr_simple_spark/``:

* ``Tracer`` wraps public functions of the program's modules in
  spans taken in the benchmark process (name, start, end, parent, run id), kept in memory and
  written out when the run ends;
* ``sql_executions`` reads Spark's own SQL plan metrics and task data from
  the session's status store (works with ``spark.ui.enabled=false``);
* ``core_phase_times`` times ``core``'s public phase functions in a
  single-process pass over the same documents.
"""

from __future__ import annotations

import contextlib
import functools
import re
import statistics
import time


class Tracer:
    """Spans around wrapped callables, kept in memory."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.on_enter = None  # optional hook: span dict -> None
        self.on_exit = None

    @contextlib.contextmanager
    def span(self, name: str):
        record = self._open(name)
        try:
            yield record
        finally:
            self._close(record)

    def _open(self, name: str) -> dict:
        record = {
            "name": name,
            "run_id": self.run_id,
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(record)
        self._stack.append(record["id"])
        if self.on_enter:
            self.on_enter(record)
        return record

    def _close(self, record: dict) -> None:
        record["end"] = time.perf_counter()
        self._stack.pop()
        if self.on_exit:
            self.on_exit(record)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a spanned wrapper until ``restore``."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def spanned(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        self._patched.append((owner, attr, original))
        setattr(owner, attr, spanned)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def find(self, name: str, within: dict | None = None) -> list[dict]:
        """Closed spans called ``name`` (descendants of ``within`` if given)."""
        out = []
        for s in self.spans:
            if s["name"] != name or s["end"] is None:
                continue
            if within is None or self._descends(s, within["id"]):
                out.append(s)
        return out

    def _descends(self, span: dict, ancestor: int) -> bool:
        parent = span["parent"]
        while parent is not None:
            if parent == ancestor:
                return True
            parent = self.spans[parent]["parent"]
        return False


def program_wrap_points():
    """(owner, attribute, span name) for every public call the traced
    executions make into jobs.extract, sources.tables.TableIO,
    operators.checkpoint and plans.extract_plan.  Names a module imported
    with ``from x import y`` are wrapped where the caller looks them up."""
    from coa_ocr_simple_spark.jobs import extract as job
    from coa_ocr_simple_spark.plans import extract_plan as plan
    from coa_ocr_simple_spark.sources.tables import TableIO

    points = [(job, "run", "jobs.extract.run")]
    points += [
        (TableIO, m, f"sources.tables.TableIO.{m}")
        for m in ("read", "read_if_exists", "exists", "append")
    ]
    points += [
        (job, "partition_metrics", "operators.checkpoint.partition_metrics"),
        (plan, "resume_filter", "operators.checkpoint.resume_filter"),
        (plan, "with_lineage", "operators.checkpoint.with_lineage"),
    ]
    points += [
        (job, "build_extract_plan", "plans.extract_plan.build_extract_plan"),
        (plan, "build_extract_plan", "plans.extract_plan.build_extract_plan"),
    ]
    return points


# --- Spark status store -------------------------------------------------------

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
}
_STAGE_RX = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")


def parse_metric(text: str) -> float | None:
    """A formatted SQL metric ('1,234', '5.1 s', 'total (...)\n1.2 MiB (...)')
    as a number in base units (count, seconds, bytes); None for formats
    that carry no total, such as averages."""
    token = text.split("\n")[-1].split(" (")[0].strip().split()
    try:
        value = float(token[0].replace(",", ""))
        return value * _UNITS[token[1]] if len(token) > 1 else value
    except (IndexError, KeyError, ValueError):
        return None


def last_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    return execs.apply(execs.size() - 1).executionId() if execs.size() else -1


def sql_executions(spark, after_id: int) -> list[dict]:
    """Plan nodes (with metric values) and per-stage task data of every SQL
    execution with id > ``after_id``.  Call right after the action: raw
    metric values are read from the live accumulators, falling back to the
    status store's formatted text once an accumulator is gone."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    app_store = jsc.statusStore()
    accumulators = spark.sparkContext._jvm.org.apache.spark.util.AccumulatorContext
    out = []
    execs = store.executionsList()
    for i in range(execs.size()):
        ex = execs.apply(i)
        eid = ex.executionId()
        if eid <= after_id:
            continue
        formatted = store.executionMetrics(eid)
        graph = store.planGraph(eid)
        nodes = []
        all_nodes = graph.allNodes()
        for j in range(all_nodes.size()):
            node = all_nodes.apply(j)
            metrics, stages = {}, {}
            jm = node.metrics()
            for k in range(jm.size()):
                m = jm.apply(k)
                text = formatted.get(m.accumulatorId())
                text = text.get() if text.isDefined() else None
                acc = accumulators.get(m.accumulatorId())
                if acc.isDefined():
                    raw = float(acc.get().value())
                    scale = {"timing": 1e-3, "nsTiming": 1e-9}.get(m.metricType(), 1)
                    value = raw * scale
                else:
                    value = parse_metric(text or "")
                if value is None:
                    continue
                metrics[m.name()] = value
                if text:
                    hit = _STAGE_RX.search(text)
                    if hit:
                        stages[m.name()] = int(hit.group(1))
            nodes.append(
                {
                    "id": node.id(),
                    "name": node.name(),
                    "desc": node.desc(),
                    "metrics": metrics,
                    "stages": stages,
                }
            )
        edges = graph.edges()
        children: dict[int, list[int]] = {}
        for j in range(edges.size()):
            e = edges.apply(j)
            children.setdefault(e.toId(), []).append(e.fromId())
        stage_tasks = {}
        it = ex.stages().iterator()
        while it.hasNext():
            sid = it.next()
            tasks = app_store.taskList(sid, 0, 1_000_000)
            rows = []
            for k in range(tasks.size()):
                t = tasks.apply(k)
                tm = t.taskMetrics()
                if not tm.isDefined():
                    continue
                tm = tm.get()
                rows.append(
                    {
                        "duration_s": (t.duration().get() if t.duration().isDefined() else 0) / 1e3,
                        "run_s": tm.executorRunTime() / 1e3,
                        "input_records": tm.inputMetrics().recordsRead(),
                        "shuffle_records": tm.shuffleReadMetrics().recordsRead(),
                    }
                )
            stage_tasks[sid] = rows
        out.append(
            {"id": eid, "nodes": nodes, "children": children, "stages": stage_tasks}
        )
    return out


def _first_operator_below(execution: dict, node_id: int) -> dict | None:
    """The first node under ``node_id`` that is not a Project or Filter."""
    by_id = {n["id"]: n for n in execution["nodes"]}
    children = execution["children"].get(node_id, [])
    while len(children) == 1:
        node = by_id[children[0]]
        if node["name"] not in ("Project", "Filter"):
            return node
        children = execution["children"].get(node["id"], [])
    return None


def _is_aggregate(node: dict) -> bool:
    return node["name"].endswith("Aggregate")


def _sum(nodes, metric: str) -> float:
    return sum(n["metrics"].get(metric, 0.0) for n in nodes)


def extraction_layers(executions: list[dict], wall_s: float, cpus: int, n_docs: int) -> dict:
    """Per-layer metrics of the SQL execution(s) that ran the extraction
    UDFs.  The wide-branch UDF sits right on the collect_list groupBy (only
    Projects and Filters between); every other ArrowEvalPython is the
    single-span fast branch."""
    extraction = [
        e for e in executions if any(n["name"] == "ArrowEvalPython" for n in e["nodes"])
    ]
    nodes = [n for e in extraction for n in e["nodes"]]
    fast, wide = [], []
    for e in extraction:
        for n in e["nodes"]:
            if n["name"] == "ArrowEvalPython":
                below = _first_operator_below(e, n["id"])
                (wide if below is not None and _is_aggregate(below) else fast).append(n)
    # Spark prints "(stage S: task T)" only for a metric updated by more
    # than one task; an unannotated UDF that produced rows ran as one task.
    udf_stages = {s for n in fast + wide for s in n["stages"].values()}
    fast_stages = {s for n in fast for s in n["stages"].values()}
    stage_tasks = {sid: ts for e in extraction for sid, ts in e["stages"].items()}
    single = [
        n for n in fast + wide
        if not n["stages"] and n["metrics"].get("number of output rows", 0) > 0
    ]
    fast_tasks = sum(
        1 for sid in fast_stages for t in stage_tasks[sid] if t["input_records"] > 0
    ) + sum(1 for n in single if n in fast)
    durations = [
        t["duration_s"]
        for sid in udf_stages
        for t in stage_tasks[sid]
        if t["input_records"] or t["shuffle_records"]
    ]
    tasks = [t for ts in stage_tasks.values() for t in ts]
    joins = [n for n in nodes if "Join" in n["name"] and "media_ref" in n["desc"]]
    exchanges = [n for n in nodes if n["name"] in ("Exchange", "BroadcastExchange")]
    return {
        "sources.scan_s": _sum([n for n in nodes if n["name"].startswith("Scan")], "scan time"),
        "sources.read_bytes": _sum([n for n in nodes if n["name"].startswith("Scan")], "size of files read"),
        "operators.assemble.exploded_rows": _sum(
            [n for n in nodes if n["name"] == "Generate"], "number of output rows"
        ),
        "plans.extract_plan.fast_tasks": fast_tasks,
        "plans.extract_plan.busy_frac": sum(t["run_s"] for t in tasks) / (wall_s * cpus),
        "plans.extract_plan.exchange_bytes": _sum(exchanges, "shuffle bytes written")
        + _sum([n for n in exchanges if n["name"] == "BroadcastExchange"], "data size"),
        "plans.extract_plan.media_join_rows": _sum(joins, "number of output rows"),
        "plans.extract_plan.agg_build_s": _sum(
            [n for n in nodes if _is_aggregate(n)], "time in aggregation build"
        ),
        "plans.extract_plan.agg_sort_fallback_tasks": _sum(
            [n for n in nodes if _is_aggregate(n)], "number of sort fallback tasks"
        ),
        "plans.extract_plan.task_skew": (
            max(durations) / statistics.median(durations) if durations else float(bool(single))
        ),
        "functions.udfs.python_run_s.fast": _sum(fast, "time to run Python workers"),
        "functions.udfs.python_run_s.wide": _sum(wide, "time to run Python workers"),
        "functions.udfs.bytes_to_python_per_doc": _sum(fast + wide, "data sent to Python workers") / n_docs,
        "functions.udfs.bytes_from_python_per_doc": _sum(fast + wide, "data returned from Python workers") / n_docs,
        "functions.udfs.python_start_s": _sum(fast + wide, "time to start Python workers"),
        "functions.udfs.python_init_s": _sum(fast + wide, "time to initialize Python workers"),
    }


def scan_rows(executions: list[dict], path_fragment: str) -> float:
    """Rows output by parquet scans whose location contains ``path_fragment``."""
    return sum(
        n["metrics"].get("number of output rows", 0.0)
        for e in executions
        for n in e["nodes"]
        if n["name"].startswith("Scan") and path_fragment in n["desc"]
    )


# --- core phases --------------------------------------------------------------


def core_phase_wrap_points():
    """(owner, attribute, phase) for core's public phase functions, wrapped
    where ``extract_document`` / ``result_to_row`` look them up."""
    from coa_ocr_simple_spark.core import convert, entities, pipeline

    return [
        (pipeline, "decode_media", "decode"),
        (pipeline, "strip_html", "html_strip"),
        (pipeline, "classify", "classify"),
        (pipeline, "extract_sections", "sections"),
        (pipeline, "extract_entities", "entities"),
        (pipeline, "extract_entities_with_patterns", "entities"),
        (entities, "extract_test_results", "tables"),
        (convert, "rows_from_test_results", "tables"),
        (pipeline, "similar_documents", "fingerprint"),
        (convert, "document_fingerprint", "fingerprint"),
    ]


CORE_PHASES = ("decode", "html_strip", "classify", "sections", "entities", "tables", "fingerprint")


def core_phase_times(docs: list[dict], lookup) -> dict:
    """Single-process pass over ``docs``: CPU seconds of the untraced pass,
    then self time per phase (phase span minus nested phase spans) from a
    second, wrapped pass.  Returns core.* metrics (µs per doc)."""
    from perfbench.inputs import expected_row

    t0 = time.process_time()
    for doc in docs:
        expected_row(doc, lookup)
    cpu_s = time.process_time() - t0

    tracer = Tracer("core")
    self_time = dict.fromkeys(CORE_PHASES, 0.0)
    child_time: dict[int, float] = {}

    def on_exit(span):
        duration = span["end"] - span["start"]
        self_time[span["name"]] += duration - child_time.pop(span["id"], 0.0)
        if span["parent"] is not None:
            child_time[span["parent"]] = child_time.get(span["parent"], 0.0) + duration

    tracer.on_exit = on_exit
    for owner, attr, phase in core_phase_wrap_points():
        tracer.wrap(owner, attr, phase)
    try:
        for doc in docs:
            expected_row(doc, lookup)
            tracer.spans.clear()  # self times are aggregated in on_exit
    finally:
        tracer.restore()
    n = max(len(docs), 1)
    out = {f"core.{phase}_us": self_time[phase] * 1e6 / n for phase in CORE_PHASES}
    out["core.cpu_s"] = cpu_s
    return out
