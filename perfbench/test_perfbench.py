"""Tests of the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench/ -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs, run, session, trace  # noqa: E402


@pytest.mark.parametrize("workload", inputs.WORKLOADS)
def test_same_seed_same_digest(workload):
    a = inputs.corpus_digest(inputs.build_corpus(workload, 7))
    b = inputs.corpus_digest(inputs.build_corpus(workload, 7))
    c = inputs.corpus_digest(inputs.build_corpus(workload, 8))
    assert a == b
    assert a != c


def test_generated_files_digest_and_cache(tmp_path, monkeypatch):
    monkeypatch.setattr(inputs, "RESUME_DOCS", 40)
    first = inputs.Inputs(str(tmp_path / "a"), "job_resume", 3).ensure()
    again = inputs.Inputs(str(tmp_path / "a"), "job_resume", 3).ensure()
    other = inputs.Inputs(str(tmp_path / "b"), "job_resume", 3).ensure()
    assert not first["cached"] and again["cached"]
    assert first["digest"] == again["digest"] == other["digest"]
    assert first["n_todo"] == 20


def _oracle(n=12):
    from coa_ocr_simple_spark.fixtures import generate as G

    corpus = G.build_bench_corpus(n, 5)
    lookup = G.media_lookup(corpus)
    return [inputs.expected_row(d, lookup) for d in corpus.docs]


def _canon(rows):
    return [(r["doc_id"], inputs.canonical(r)) for r in rows]


def test_exact_output_passes():
    rows = _oracle()
    expected = dict(_canon(rows))
    assert inputs.count_failed(expected, _canon(rows)) == 0


def test_planted_wrong_doc_type_fails():
    rows = _oracle()
    expected = dict(_canon(rows))
    rows[3] = {**rows[3], "doc_type": "tds" if rows[3]["doc_type"] != "tds" else "coa"}
    assert inputs.count_failed(expected, _canon(rows)) == 1


def test_planted_reordered_out_spans_fails():
    rows = _oracle(40)
    expected = dict(_canon(rows))
    i = next(k for k, r in enumerate(rows) if len({s["text"] for s in r["out_spans"]}) > 1)
    rows[i] = {**rows[i], "out_spans": list(reversed(rows[i]["out_spans"]))}
    assert inputs.count_failed(expected, _canon(rows)) == 1


def test_missing_duplicate_and_unknown_docs_fail():
    rows = _oracle()
    expected = dict(_canon(rows))
    actual = _canon(rows)
    assert inputs.count_failed(expected, actual[1:]) == 1
    assert inputs.count_failed(expected, actual + actual[:1]) == 1
    assert inputs.count_failed(expected, actual + [("doc-x", actual[0][1])]) == 1


def test_spark_and_arrow_map_shapes_compare_equal():
    row = _oracle()[0]
    as_pairs = {
        **row,
        "entities": list(row["entities"].items()),
        "sections": list(row["sections"].items()),
    }
    assert inputs.canonical(as_pairs) == inputs.canonical(row)


def test_metric_and_workload_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    end_to_end, per_layer = run.declared_metrics(ROOT)
    names = list(inputs.WORKLOADS) + list(end_to_end) + list(per_layer)
    for name in names:
        assert re.fullmatch(r"[A-Za-z0-9_.-]+", name) and len(name) <= 64, name
    assert [w["name"] for w in bench["workloads"]] == list(inputs.WORKLOADS)


def test_resume_todo_half_does_not_depend_on_seed():
    def todo_shape(seed):
        todo = inputs.split_done(inputs.build_corpus("job_resume", seed).docs)[1]
        return sorted((len(d["spans"]), d["spans"][0]["kind"]) for d in todo)

    assert todo_shape(1) == todo_shape(2) == todo_shape(3)


def test_disturbed_executions_are_left_out():
    walls = [1.0, 1.1, 2.0, 0.9, 2.5]
    stolen = [0.0, 0.01, 0.3, 0.0, 0.2]
    assert session.undisturbed(walls, stolen) == [1.0, 1.1, 0.9]
    # too few clean ones: the least disturbed
    assert session.undisturbed(walls, [0.1, 0.3, 0.2, 0.0, 0.4]) == [0.9, 1.0, 2.0]


def test_percentile_needs_ten_samples_beyond():
    assert run.percentile_summary([1.0] * 19)["p"] is None
    s = run.percentile_summary([float(i) for i in range(100)])
    assert s["p"] == 90 and s["p_value"] == 90.0 and s["median"] == 49.5


def test_parse_formatted_sql_metrics():
    assert trace.parse_metric("1,234") == 1234
    assert trace.parse_metric("51 ms") == pytest.approx(0.051)
    text = "total (min, med, max (stageId: taskId))\n1.6 s (302 ms, 478 ms, 502 ms (stage 13.0: task 59))"
    assert trace.parse_metric(text) == pytest.approx(1.6)
    assert trace.parse_metric("129.3 KiB") == pytest.approx(129.3 * 1024)
    assert trace.parse_metric("\n(1, 1, 1 (stage 3.0: task 7))") is None


def test_tracer_spans_nest_and_restore():
    class Box:
        @staticmethod
        def outer():
            return Box.inner() + 1

        @staticmethod
        def inner():
            return 1

    original = Box.inner
    tracer = trace.Tracer("t")
    tracer.wrap(Box, "outer", "outer")
    tracer.wrap(Box, "inner", "inner")
    assert Box.outer() == 2
    tracer.restore()
    assert Box.inner is original
    outer, inner = tracer.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert tracer.find("inner", within=outer) == [inner]
    assert all(s["run_id"] == "t" for s in tracer.spans)


def test_core_phase_self_times_cover_the_pass():
    from coa_ocr_simple_spark.fixtures import generate as G

    corpus = G.build_bench_corpus(30, 5)
    m = trace.core_phase_times(corpus.docs, G.media_lookup(corpus))
    phases = sum(m[f"core.{p}_us"] for p in trace.CORE_PHASES) * 30 / 1e6
    assert all(m[f"core.{p}_us"] >= 0 for p in trace.CORE_PHASES)
    assert 0 < phases < 2 * m["core.cpu_s"] + 0.05
