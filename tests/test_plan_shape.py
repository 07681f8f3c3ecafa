"""Plan-shape regression guards — the scale properties that must not rot:
exactly one wide (groupBy) shuffle in the extraction plan, one
ArrowEvalPython boundary per branch (fast and wide), pruned document
scans, no second execution of a UDF subtree, and a fast-branch exchange
only for sub-split inputs."""

from __future__ import annotations

import re

import pytest

from coa_ocr_simple_spark.plans.extract_plan import ExtractOptions, build_extract_plan


def _single_span_docs(n: int) -> list[dict]:
    import random

    from coa_ocr_simple_spark.fixtures.generate import template_coa, template_html

    rng = random.Random(7)
    return [
        {
            "doc_id": f"doc-{i:04d}",
            "spans": [
                {
                    "kind": "html" if i % 8 == 0 else "text",
                    "text": template_html(rng) if i % 8 == 0 else template_coa(rng),
                    "media_ref": None,
                    "offset": 0,
                }
            ],
        }
        for i in range(n)
    ]


def _subtree(plan: str, node: str, without: str) -> str:
    """The first plan node whose line contains ``node`` and whose subtree
    does not contain ``without``, with all of its descendants."""
    lines = plan.splitlines()

    def depth(line: str) -> int:
        m = re.match(r"[ :|]*[+:]- ", line)
        return m.end() if m else 0

    for i, line in enumerate(lines):
        if node not in line:
            continue
        j = i + 1
        while j < len(lines) and depth(lines[j]) > depth(line):
            j += 1
        sub = "\n".join(lines[i:j])
        if without not in sub:
            return sub
    raise AssertionError(f"no {node} without {without} in:\n{plan}")


def _assert_rows_match_oracle(rows, docs) -> None:
    from coa_ocr_simple_spark.core.convert import result_to_row
    from coa_ocr_simple_spark.core.pipeline import extract_document

    actual = {r["doc_id"]: r.asDict(recursive=True) for r in rows}
    assert len(rows) == len(docs) and set(actual) == {d["doc_id"] for d in docs}
    for doc in docs:
        oracle = extract_document(doc["doc_id"], doc["spans"], lambda ref: ([], []))
        expected = result_to_row(oracle)
        got = actual[doc["doc_id"]]
        assert [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in got["out_spans"]
        ] == [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in oracle["out_spans"]
        ], doc["doc_id"]
        assert got["n_spans"] == 1
        assert got["confidence"] == pytest.approx(expected["confidence"]), doc["doc_id"]
        for col in (
            "doc_type", "entities", "hazard_codes", "cas_numbers",
            "test_results", "sections", "fingerprint",
        ):
            assert got[col] == expected[col], (doc["doc_id"], col)


@pytest.mark.parametrize("layout", ["one_file", "many_files", "in_memory"])
def test_single_span_fastpath_spreads_only_sub_split_inputs(spark, tmp_path, layout):
    """The fast branch (single-text-span docs: no explode, no groupBy)
    gets exactly one round-robin exchange to defaultParallelism below its
    UDF when the input is one small file, and none when the input already
    has >= defaultParallelism files or is not file-backed.  Every doc is
    extracted exactly once, equal to the single-node oracle."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from coa_ocr_simple_spark.fixtures.generate import DOCS_SCHEMA

    parallelism = spark.sparkContext.defaultParallelism
    docs = _single_span_docs(48)
    table = pa.Table.from_pylist(docs, schema=DOCS_SCHEMA)
    if layout == "one_file":
        path = str(tmp_path / "simple.parquet")
        pq.write_table(table, path)
        df = spark.read.parquet(path)
    elif layout == "many_files":
        path = tmp_path / "simple"
        path.mkdir()
        step = len(docs) // parallelism
        for k in range(parallelism):
            pq.write_table(table.slice(k * step, step), str(path / f"part-{k}.parquet"))
        df = spark.read.parquet(str(path))
    else:
        df = spark.createDataFrame(
            docs,
            "doc_id string, spans array<struct<kind:string, text:string, "
            "media_ref:string, offset:int>>",
        )

    plan = build_extract_plan(df, None, options=ExtractOptions(run_id="fast"))
    s = plan._jdf.queryExecution().executedPlan().toString()
    fast = _subtree(s, "ArrowEvalPython", without="collect_list")
    exchanges = re.findall(r"Exchange \w+", fast)
    if layout == "one_file":
        assert exchanges == ["Exchange RoundRobinPartitioning"], fast
        assert f"RoundRobinPartitioning({parallelism})" in fast, fast
    else:
        assert exchanges == [], fast
    _assert_rows_match_oracle(plan.collect(), docs)


def test_dedup_pair_plans_never_cartesian_and_scan_once(spark):
    """The pair-generation queries must be bucket-grouped, not all-pairs:
    no cartesian / nested-loop join node anywhere, and the expensive
    upstream transform (md5 shingles / quantized vectors) must appear in
    the plan exactly once (no self-join double evaluation)."""
    from coa_ocr_simple_spark.plans.driver_queries_dedup import (
        q_embedding_neardup,
        q_minhash_candidate_pairs,
    )

    sf_dir = "/root/testdata/sf0.001"

    pairs = q_minhash_candidate_pairs(spark, sf_dir)
    s = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in s and "BroadcastNestedLoopJoin" not in s, s
    # bands are persisted and feed the size pass + both pair-join sides:
    # the md5-shingle transform runs once (cache fill), every consumer
    # reads InMemoryTableScan
    assert s.count("InMemoryTableScan") >= 2, s
    # mega-buckets are excluded BEFORE the pair join (the semi-join
    # against the size-filtered bucket list feeds the equi-join sides)
    assert "LeftSemi" in s, s
    assert "collect_list" not in s, s

    near = q_embedding_neardup(spark, sf_dir)
    s2 = near._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in s2 and "BroadcastNestedLoopJoin" not in s2, s2
    # quantized-embedding subtree is persisted: the three consumers must
    # all read the InMemoryRelation, not re-scan the parquet
    assert s2.count("InMemoryTableScan") >= 3, s2
    spark.catalog.clearCache()


def test_no_global_window_in_length_quantiles(spark):
    """Round-2 verdict item 2: the exact-quantile query must never plan a
    partition-less Window (a single-executor global sort at scale).  Every
    Window node in the physical plan must carry a partitionBy spec — and
    so must every other registered query's plan."""
    from coa_ocr_simple_spark.plans.driver_queries_corpus import q_length_quantiles

    df = q_length_quantiles(spark, "/root/testdata/sf0.001")
    s = df._jdf.queryExecution().executedPlan().toString()
    for line in s.splitlines():
        if "windowspecdefinition(" not in line:
            continue
        # a partitioned window prints windowspecdefinition(<partcols>,
        # <ordercol> ASC ...); partition-less ones start straight at the
        # order column — i.e. the spec's second element is the frame
        spec = line.split("windowspecdefinition(", 1)[1]
        first_arg = spec.split(",", 1)[0]
        # the first arg must be a partition column, not an "x ASC/DESC"
        # ordering expression (which is what a global window starts with)
        assert " ASC" not in first_arg and " DESC" not in first_arg, line


def test_fused_plan_shape(spark, parity_corpus):
    """The default plan over the parity corpus, whose docs take both
    branches: two fused-UDF boundaries, one wide shuffle, pruned scans."""
    docs = spark.read.parquet(parity_corpus["docs_path"])
    media = spark.read.parquet(parity_corpus["media_path"])
    plan = build_extract_plan(
        docs, media, options=ExtractOptions(spread_partitions=16, run_id="shape")
    )
    s = plan._jdf.queryExecution().executedPlan().toString()
    lines = s.splitlines()

    # two Python boundaries, both the fused UDF: the wide branch's sits on
    # the groupBy aggregate, the fast branch's has no aggregate below it
    udf_lines = [i for i, line in enumerate(lines) if "ArrowEvalPython" in line]
    assert len(udf_lines) == 2, s
    assert sorted("Aggregate" in lines[i + 1] for i in udf_lines) == [False, True], s
    _subtree(s, "ArrowEvalPython", without="collect_list")  # raises if none
    assert "BatchEvalPython" not in s  # no row-at-a-time Python anywhere

    # the one wide shuffle: exactly one doc_id hash exchange feeds an
    # aggregate (the media-span skew spread feeds the join, not the groupBy)
    group_exchanges = [
        i
        for i, line in enumerate(lines)
        if re.search(r"Exchange hashpartitioning\(doc_id\b", line)
        and "Aggregate" in lines[i - 1]
    ]
    assert len(group_exchanges) == 1, s

    # document scans are pruned to (doc_id, spans)
    for m in re.finditer(r"FileScan parquet \[([^\]]*)\]", s):
        cols = {c.split("#")[0] for c in m.group(1).split(",")}
        assert cols <= {"doc_id", "spans", "media_ref", "pages", "ocr_pages"}, cols

    # the UDF appears once per branch -> neither subtree can be re-executed
    # by a second consumer
    assert s.count("fused_udf") == 2, s


def test_bpe_encode_corpus_plan_is_shuffle_free(spark):
    """The distributed BPE encode is ONE per-row projection: its plan
    must contain no Exchange at all (beyond a possible repartition the
    small-input spread adds for single-file inputs — at sf0.001 the table is
    one file, so allow at most that one round-robin repartition and
    nothing key-based), no Window, no Join."""
    from coa_ocr_simple_spark.plans.driver_queries_mix import q_bpe_encode_corpus

    df = q_bpe_encode_corpus(spark, "/root/testdata/sf0.001")
    s = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in s and "BroadcastHashJoin" not in s
    assert "Window" not in s
    assert "hashpartitioning" not in s  # no key shuffle anywhere
    assert "ArrowEvalPython" not in s  # fold engine: zero Python
    assert df.count() == 500


def test_lm_perplexity_plan_has_no_windows(spark):
    """lm_perplexity is aggregates + dimension joins only: any Window
    would mean an unbounded per-key sort snuck in."""
    from coa_ocr_simple_spark.plans.driver_queries_quality import q_lm_perplexity

    df = q_lm_perplexity(spark, "/root/testdata/sf0.001")
    s = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in s
    assert "CartesianProduct" not in s
