"""Small-input spread: the one guard against a starved scan.

A file-backed input smaller than one split per core is read by fewer
tasks than the session has cores, and every CPU-heavy per-row step
fused into the scan stage (a pandas UDF, an 11x explode + md5) then runs
on those few cores.  ``spread_small_input`` repartitions such an input
round-robin to ``defaultParallelism``; at real scale the input has far
more splits than cores and the guard is a no-op that adds no shuffle.

It decides from the DataFrame alone, so it works for any caller that
holds a bare DataFrame: ``df.inputFiles()`` names the files, the Hadoop
``FileSystem`` gives their lengths (``file:``, ``hdfs://``, ``s3://``
alike), and ``spark.sql.files.maxPartitionBytes`` gives the split size.
An input it cannot list as files (in-memory or RDD relations, Iceberg
and other non-file V2 tables, a Hive table whose location lists as a
directory) is treated as large and left alone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# above this total the one-off shuffle stops being cheap next to the scan
# it feeds; such inputs are bandwidth-bound anyway
SPREAD_MAX_BYTES = 256 * 1024 * 1024


def spread_width(df: DataFrame) -> int:
    """``defaultParallelism`` when ``df``'s file scan yields fewer splits
    than that in under SPREAD_MAX_BYTES in total, else 0."""
    spark = df.sparkSession
    parallelism = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
        # each file is at least one split: no stat needed at scale
        if not files or len(files) >= parallelism:
            return 0
        jvm = spark._jvm
        session = spark._jsparkSession
        conf = session.sessionState().newHadoopConf()
        sizes = []
        for f in files:
            path = jvm.org.apache.hadoop.fs.Path(f)
            status = path.getFileSystem(conf).getFileStatus(path)
            if status.isDirectory():
                return 0
            sizes.append(status.getLen())
        split_bytes = session.sessionState().conf().filesMaxPartitionBytes()
    except Exception:
        return 0
    splits = sum(max(1, -(-s // split_bytes)) for s in sizes)
    if splits < parallelism and sum(sizes) < SPREAD_MAX_BYTES:
        return parallelism
    return 0


def spread_small_input(df: DataFrame) -> DataFrame:
    """``df`` repartitioned to ``defaultParallelism`` when its scan is
    starved (see ``spread_width``), else ``df`` unchanged."""
    n = spread_width(df)
    return df.repartition(n) if n else df
