"""operators/spread.py: the small-input guard decides from the DataFrame
alone — spread a file scan with fewer splits than cores, leave alone any
input with enough splits, too many bytes, or no listable files."""

from __future__ import annotations

import json

import pyarrow as pa
import pyarrow.parquet as pq

from coa_ocr_simple_spark.operators import spread
from coa_ocr_simple_spark.operators.spread import spread_small_input, spread_width
from coa_ocr_simple_spark.sources.tables import TableIO


def _write(path, n: int = 20) -> None:
    pq.write_table(pa.table({"doc_id": [f"d{i}" for i in range(n)]}), str(path))


def test_one_small_file_spreads_to_parallelism(spark, tmp_path):
    _write(tmp_path / "one.parquet")
    df = spark.read.parquet(str(tmp_path / "one.parquet"))
    parallelism = spark.sparkContext.defaultParallelism
    assert spread_width(df) == parallelism
    out = spread_small_input(df)
    assert out.rdd.getNumPartitions() == parallelism
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(f"d{i}" for i in range(20))


def test_file_uri_spreads(spark, tmp_path):
    _write(tmp_path / "one.parquet")
    df = spark.read.parquet((tmp_path / "one.parquet").as_uri())
    assert spread_width(df) == spark.sparkContext.defaultParallelism


def test_jsonl_file_spreads(spark, tmp_path):
    path = tmp_path / "docs.jsonl"
    path.write_text("".join(json.dumps({"doc_id": f"d{i}"}) + "\n" for i in range(20)))
    df = TableIO(spark).read(str(path))
    assert spread_width(df) == spark.sparkContext.defaultParallelism


def test_small_hive_partitioned_layout_is_sized_by_its_leaf_files(spark, tmp_path):
    """A partitioned layout lists its leaf files: two small partitions are
    two splits (spread); one file per core is enough splits (no spread)."""
    parallelism = spark.sparkContext.defaultParallelism
    for tenant in ("a", "b"):
        (tmp_path / "two" / f"tenant={tenant}").mkdir(parents=True)
        _write(tmp_path / "two" / f"tenant={tenant}" / "part-0.parquet")
    two = spark.read.parquet(str(tmp_path / "two"))
    assert "tenant" in two.columns
    assert len(two.inputFiles()) == 2
    assert spread_width(two) == parallelism

    for k in range(parallelism):
        (tmp_path / "wide" / f"tenant=t{k}").mkdir(parents=True)
        _write(tmp_path / "wide" / f"tenant=t{k}" / "part-0.parquet")
    wide = spark.read.parquet(str(tmp_path / "wide"))
    assert spread_width(wide) == 0
    assert spread_small_input(wide) is wide


def test_split_size_comes_from_max_partition_bytes(spark, tmp_path):
    """One file larger than parallelism x maxPartitionBytes already gives
    every core a split."""
    _write(tmp_path / "one.parquet", n=2000)
    size = (tmp_path / "one.parquet").stat().st_size
    parallelism = spark.sparkContext.defaultParallelism
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, str(max(1, size // (parallelism + 1))))
    try:
        assert spread_width(spark.read.parquet(str(tmp_path / "one.parquet"))) == 0
    finally:
        spark.conf.set(key, old)


def test_total_size_cap(spark, tmp_path, monkeypatch):
    _write(tmp_path / "one.parquet")
    monkeypatch.setattr(spread, "SPREAD_MAX_BYTES", 1)
    assert spread_width(spark.read.parquet(str(tmp_path / "one.parquet"))) == 0


def test_relations_without_listable_files_are_left_alone(spark, tmp_path, monkeypatch):
    """In-memory and generated relations list no files; a relation whose
    listing is a directory (a Hive table location) cannot be sized.  All
    count as large."""
    in_memory = spark.createDataFrame([("d0",), ("d1",)], "doc_id string")
    assert spread_width(in_memory) == 0
    assert spread_small_input(in_memory) is in_memory
    assert spread_width(spark.range(10)) == 0

    _write(tmp_path / "one.parquet")
    hive_like = spark.read.parquet(str(tmp_path / "one.parquet"))
    monkeypatch.setattr(hive_like, "inputFiles", lambda: [tmp_path.as_uri()])
    assert spread_width(hive_like) == 0
