"""Streaming front-end + multimodal plumbing tests."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from coa_ocr_simple_spark.fixtures.generate import SpanBuilder, template_coa, write_corpus
from coa_ocr_simple_spark.operators.multimodal import (
    DeterministicFeatureExtractor,
    RealImageDecoder,
    media_features,
)
from coa_ocr_simple_spark.streaming.extract_stream import run_streaming_extract


def test_streaming_equals_batch(spark, tmp_path, parity_corpus):
    """availableNow drain over the parity corpus == batch extraction."""
    src = str(tmp_path / "stream_src")
    rng = random.Random(3)
    b = SpanBuilder()
    for i in range(60):
        b.add(f"doc-{i:08d}", [("text", template_coa(rng), {})])
    import os

    os.makedirs(src, exist_ok=True)
    write_corpus(b, src + "/docs.parquet", str(tmp_path / "m.parquet"))

    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "stream_ckpt")
    run_streaming_extract(spark, src, None, out, ckpt)

    got = spark.read.parquet(out)
    assert got.count() == 60
    assert got.select("doc_id").distinct().count() == 60

    # new files arriving are picked up incrementally, earlier docs not redone
    b2 = SpanBuilder()
    for i in range(60, 80):
        b2.add(f"doc-{i:08d}", [("text", template_coa(rng), {})])
    write_corpus(b2, src + "/docs2.parquet", str(tmp_path / "m2.parquet"))
    run_streaming_extract(spark, src, None, out, ckpt)
    got = spark.read.parquet(out)
    assert got.count() == 80
    assert got.select("doc_id").distinct().count() == 80


def test_streaming_keeps_passthrough_columns(spark, tmp_path):
    """Every streamed result row carries the passthrough column, on both
    plan branches (single-span docs and a text+pdf doc)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from coa_ocr_simple_spark.fixtures.generate import DOCS_SCHEMA
    from coa_ocr_simple_spark.plans.extract_plan import ExtractOptions

    rng = random.Random(5)
    b = SpanBuilder()
    for i in range(20):
        b.add(f"doc-{i:08d}", [("text", template_coa(rng), {})])
    b.add("doc-multi", [("text", template_coa(rng), {}), ("pdf", template_coa(rng), {})])
    table = pa.Table.from_pylist(b.docs, schema=DOCS_SCHEMA)
    tenants = [f"tenant-{i % 3}" for i in range(table.num_rows)]
    table = table.append_column("tenant_id", pa.array(tenants, pa.string()))
    src = str(tmp_path / "stream_src")
    os.makedirs(src)
    pq.write_table(table, src + "/docs.parquet")

    out = str(tmp_path / "stream_out")
    run_streaming_extract(
        spark,
        src,
        None,
        out,
        str(tmp_path / "stream_ckpt"),
        options=ExtractOptions(run_id="pt", passthrough_columns=("tenant_id",)),
    )
    got = {r["doc_id"]: r["tenant_id"] for r in spark.read.parquet(out).collect()}
    assert got == dict(zip(table.column("doc_id").to_pylist(), tenants))


def test_media_features_deterministic_and_partition_preserving(spark, parity_corpus):
    media = spark.read.parquet(parity_corpus["media_path"])
    feats = media_features(media)
    rows = {r["media_ref"]: r for r in feats.collect()}
    assert set(rows) == {m["media_ref"] for m in parity_corpus["builder"].media}
    for m in parity_corpus["builder"].media:
        row = rows[m["media_ref"]]
        assert row["n_pages"] == len(m["pages"]) + len(m["ocr_pages"])
        assert len(row["features"]) == 16
        assert all(0.0 <= f <= 1.0 for f in row["features"])
    # determinism: rerun produces identical features
    again = {r["media_ref"]: r["features"] for r in media_features(media).collect()}
    assert all(again[k] == rows[k]["features"] for k in again)
    # no shuffle in the plan
    plan = feats._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_real_decoder_is_gated():
    import pytest

    decoder = RealImageDecoder()
    if not decoder._available:
        with pytest.raises(NotImplementedError):
            decoder.features(b"bytes")


def test_feature_extractor_stability():
    e = DeterministicFeatureExtractor()
    assert e.features(b"abc") == e.features(b"abc")
    assert e.features(b"abc") != e.features(b"abd")


def test_streaming_dedup_suppresses_duplicates_across_restarts(spark, tmp_path):
    """Streaming exact dedup: first-seen content hashes are emitted once,
    including duplicates arriving in a LATER run — the seen-set lives in
    the checkpointed state store and survives restart."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from coa_ocr_simple_spark.streaming.dedup_stream import run_streaming_dedup

    inp = tmp_path / "in"
    inp.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def write_batch(name: str, rows: list[tuple[int, str]]) -> None:
        pq.write_table(
            pa.Table.from_pylist(
                [
                    {
                        "doc_id": i,
                        "text": t,
                        "lang": "en",
                        "source": "s",
                        "n_chars": len(t),
                    }
                    for i, t in rows
                ]
            ),
            str(inp / name),
        )

    # run 1: 10 docs, texts 3 and 4 duplicate text 0 -> 8 distinct
    write_batch(
        "b1.parquet",
        [(i, f"text-{0 if i in (3, 4) else i}") for i in range(10)],
    )
    run_streaming_dedup(spark, str(inp), out, ckpt)
    first = spark.read.parquet(out)
    assert first.count() == 8
    assert first.select("content_hash").distinct().count() == 8

    # run 2 (restart, same checkpoint): 2 duplicates of run-1 texts + 3 new
    write_batch(
        "b2.parquet",
        [(10, "text-0"), (11, "text-5"), (12, "new-a"), (13, "new-b"), (14, "new-c")],
    )
    run_streaming_dedup(spark, str(inp), out, ckpt)
    final = spark.read.parquet(out)
    assert final.count() == 11  # 8 + only the 3 genuinely new texts
    assert final.select("content_hash").distinct().count() == 11


def test_streaming_neardup_flags_pairs_across_restarts(spark, tmp_path):
    """Streaming LSH: a new arrival pairs against every PRIOR member of
    its band bucket, including members seen in an earlier run (state
    survives restart); buckets stop emitting at the cap."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from coa_ocr_simple_spark.streaming.neardup_stream import run_streaming_neardup

    inp = tmp_path / "in"
    inp.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def write_batch(name, rows):
        pq.write_table(
            pa.Table.from_pylist(
                [
                    {"doc_id": i, "text": t, "lang": "en", "source": "s",
                     "n_chars": len(t)}
                    for i, t in rows
                ]
            ),
            str(inp / name),
        )

    dup = "identical payload text for streaming lsh " * 5
    # run 1: docs 1,2 identical; 3 distinct
    write_batch("b1.parquet", [(1, dup), (2, dup), (3, "totally different " * 10)])
    run_streaming_neardup(spark, str(inp), out, ckpt, cap=5)
    first = spark.read.parquet(out)
    pairs1 = {(r["doc_a"], r["doc_b"]) for r in first.collect()}
    assert pairs1 == {(1, 2)}  # all 8 band events collapse to one pair
    assert first.count() == 8  # one event per agreeing band

    # run 2 (restart): doc 4 duplicates -> pairs against BOTH 1 and 2
    write_batch("b2.parquet", [(4, dup)])
    run_streaming_neardup(spark, str(inp), out, ckpt, cap=5)
    pairs2 = {(r["doc_a"], r["doc_b"]) for r in spark.read.parquet(out).collect()}
    assert pairs2 == {(1, 2), (1, 4), (2, 4)}

    # run 3: three more duplicates blow past cap=5 -> bucket stops emitting
    write_batch("b3.parquet", [(5, dup), (6, dup), (7, dup)])
    run_streaming_neardup(spark, str(inp), out, ckpt, cap=5)
    final = spark.read.parquet(out)
    docs_in_pairs = {d for r in final.collect() for d in (r["doc_a"], r["doc_b"])}
    # with cap=5, ids [1,2,4,5,6] fill the bucket; doc 7 must emit nothing
    assert 7 not in docs_in_pairs
    n_pairs = final.select("doc_a", "doc_b").distinct().count()
    assert n_pairs == 10  # C(5,2): every pair among the first five members


def test_minhash_band_shapes_agree(spark):
    """The batch (explode+aggregate) and streaming (stateless per-row)
    minhash_bands formulations must produce identical (doc_id, band,
    signature) sets — one semantics, two execution shapes."""
    from coa_ocr_simple_spark.plans.driver_queries import (
        _minhash_bands_rowwise,
        minhash_bands,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    agg = {(r["doc_id"], r["band"], r["signature"]) for r in minhash_bands(docs).collect()}
    row = {
        (r["doc_id"], r["band"], r["signature"])
        for r in _minhash_bands_rowwise(docs).collect()
    }
    assert agg == row and len(agg) == docs.count() * 8


def test_streaming_block_dedup_suppresses_across_restarts(spark, tmp_path):
    """Streaming ExactSubstr: each distinct 20-token block is emitted
    once corpus-wide; a restarted job (same checkpoint) keeps
    suppressing blocks it emitted in an earlier run, and the survivor
    set matches the batch operator's distinct block hashes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from coa_ocr_simple_spark.plans.driver_queries_mix import _BLOCK_W
    from coa_ocr_simple_spark.streaming.block_dedup_stream import (
        run_streaming_block_dedup,
    )

    inp = tmp_path / "in"
    inp.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def blk(seed):
        return " ".join(f"{seed}{i}" for i in range(_BLOCK_W))

    def write_batch(name, rows):
        pq.write_table(
            pa.Table.from_pylist(
                [
                    {"doc_id": i, "text": t, "lang": "en", "source": "s",
                     "n_chars": len(t)}
                    for i, t in rows
                ]
            ),
            str(inp / name),
        )

    # run 1: doc 0 = blocks A B; doc 1 = blocks B C (B repeats) -> 3 survivors
    write_batch(
        "b1.parquet",
        [(0, blk("a") + " " + blk("b")), (1, blk("b") + " " + blk("c"))],
    )
    run_streaming_block_dedup(spark, str(inp), out, ckpt)
    first = spark.read.parquet(out)
    assert first.count() == 3
    assert first.select("bh").distinct().count() == 3

    # run 2 (restart, same checkpoint): doc 2 = blocks C D -> only D is new
    write_batch("b2.parquet", [(2, blk("c") + " " + blk("d"))])
    run_streaming_block_dedup(spark, str(inp), out, ckpt)
    final = spark.read.parquet(out).collect()
    assert len(final) == 4
    new = [r for r in final if r["doc_id"] == 2]
    assert len(new) == 1 and new[0]["block_idx"] == 1  # D, not the seen C


def test_streaming_paragraph_dedup_suppresses_across_restarts(spark, tmp_path):
    """Streaming CCNet paragraph dedup: each distinct normalized
    paragraph is emitted once corpus-wide; a restarted job (same
    checkpoint) keeps suppressing paragraphs it already emitted."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from coa_ocr_simple_spark.streaming.paragraph_dedup_stream import (
        run_streaming_paragraph_dedup,
    )

    inp = tmp_path / "in"
    inp.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def write_batch(name, rows):
        pq.write_table(
            pa.Table.from_pylist(
                [
                    {"doc_id": i, "text": t, "lang": "en", "source": "s",
                     "n_chars": len(t)}
                    for i, t in rows
                ]
            ),
            str(inp / name),
        )

    # run 1: the boilerplate paragraph repeats (case/space-normalized)
    write_batch(
        "b1.parquet",
        [
            (0, "unique alpha\nshared boilerplate\n\n"),
            (1, "SHARED   boilerplate\nunique beta"),
        ],
    )
    run_streaming_paragraph_dedup(spark, str(inp), out, ckpt)
    first = spark.read.parquet(out)
    assert first.count() == 3  # alpha, boilerplate (once), beta
    assert first.select("h").distinct().count() == 3

    # run 2 (restart, same checkpoint): one seen + one new paragraph
    write_batch("b2.parquet", [(2, "shared boilerplate\nunique gamma")])
    run_streaming_paragraph_dedup(spark, str(inp), out, ckpt)
    final = spark.read.parquet(out).collect()
    assert len(final) == 4
    new = [r for r in final if r["doc_id"] == 2]
    assert len(new) == 1 and new[0]["line"] == "unique gamma"
    assert new[0]["pos"] == 1
