"""Wave-2 driver queries: similarity search, SimHash near-dup, language
ID / quality gating, event sessionization.

Cross-engine determinism techniques (shared with driver_queries.py):
- embeddings are integer-quantized (round(x*1000)) before any dot product,
  so similarity scores are exact BIGINTs in both engines — the standard
  int8/int16 quantization trick, which is also the 100-TB scale path
  (4x smaller vectors, SIMD-friendly);
- hash-derived pseudo-randomness comes from md5 hex digits mapped to ints
  via position-in-'0123456789abcdef' (instr), avoiding hex->int casts that
  DuckDB lacks;
- every aggregate/rank tie-break is explicit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .driver_queries import _read

_HEX = "0123456789abcdef"


# --- approximate similarity search (brute-force baseline) -----------------------

_TOPK = 5
_QMOD = 100  # vec_id % _QMOD == 0 -> query vector


def _quantize(col):
    return F.transform(col, lambda x: F.round(x * 1000).cast("long"))


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-k nearest neighbors by quantized dot product.

    The query side (|Q| = N/_QMOD) broadcasts; candidates stream past it —
    at cluster scale this is the exact-scoring baseline an IVF/LSH route
    is validated against (see q_ann_lsh_bucketed for the bucketed path).
    """
    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", _quantize(F.col("embedding")).alias("qv")
    )
    queries = emb.where(F.col("vec_id") % _QMOD == 0).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("query_qv")
    )
    pairs = emb.where(F.col("vec_id") % _QMOD != 0).crossJoin(F.broadcast(queries))
    dot = F.aggregate(
        F.zip_with("qv", "query_qv", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = pairs.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), dot.alias("dot_q")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("dot_q"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= _TOPK)
        .select("query_id", "rank", "neighbor_id", "dot_q")
    )


_ANN_TOPK_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id,
         list_transform(embedding, x -> CAST(ROUND(x * 1000) AS BIGINT)) AS query_qv
  FROM embeddings WHERE vec_id % {_QMOD} = 0
), c AS (
  SELECT vec_id AS neighbor_id,
         list_transform(embedding, x -> CAST(ROUND(x * 1000) AS BIGINT)) AS qv
  FROM embeddings WHERE vec_id % {_QMOD} != 0
), scored AS (
  SELECT query_id, neighbor_id,
         CAST(list_dot_product(qv, query_qv) AS BIGINT) AS dot_q
  FROM c CROSS JOIN q
)
SELECT query_id, rank, neighbor_id, dot_q FROM (
  SELECT query_id, neighbor_id, dot_q,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY dot_q DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= {_TOPK}
"""


# --- sign-LSH bucketing (the ANN scale path) -------------------------------------

_LSH_PLANES = 12


def _hex_val(char_col):
    """hex char -> 0..15 via position in the hex alphabet (cross-engine)."""
    return F.instr(F.lit(_HEX), char_col) - 1


def _plane_component(plane: int, dim_index):
    """Deterministic pseudo-random hyperplane component in [-7.5, 7.5]:
    the hex digit of md5('p{plane}|{i}') minus 7.5, scaled to int (x2-15
    keeps everything integral: component = 2*digit - 15, odd, never 0)."""
    digest = F.md5(F.concat(F.lit(f"p{plane}|"), dim_index.cast("string")))
    return _hex_val(F.substring(digest, 1, 1)) * 2 - 15


def _plane_component_py(plane: int, i: int) -> int:
    """Driver-side twin of _plane_component — same md5-of-utf8 spec, so
    the values are bit-identical to what the SQL expression (and the
    DuckDB oracle) computes."""
    import hashlib

    digest = hashlib.md5(f"p{plane}|{i}".encode()).hexdigest()
    return _HEX.index(digest[0]) * 2 - 15


def _plane_literal(plane: int, dim: int):
    """The whole hyperplane as a SINGLE literal array column.  The
    components are row-independent constants; computing them driver-side
    removes the per-row md5 (rows x planes x dim digest calls) from the
    executed plan, and emitting one array Literal (not CreateArray of dim
    literals) keeps the expression tree small — large trees cost seconds
    of Catalyst/codegen time per fresh plan (measured 3 s -> 1.2 s for
    the 24-plane banding)."""
    return F.lit([_plane_component_py(plane, i) for i in range(dim)]).cast(
        "array<long>"
    )


def _probe_dim(spark: SparkSession, sf_dir: str) -> int:
    """Embedding dimensionality, probed from one row at plan-construction
    time (the synthetic embeddings table is fixed-dim by contract).

    Local parquet is read driver-side via pyarrow (one row of one row
    group, ~ms) instead of launching a Spark job for a single scalar.
    Non-local paths (hdfs/s3) or any read failure fall back to the Spark
    probe."""
    path = f"{sf_dir}/embeddings.parquet"
    try:
        import os

        import pyarrow.parquet as pq

        if os.path.isdir(path):
            names = sorted(
                e.name
                for e in os.scandir(path)
                if e.is_file() and not e.name.startswith((".", "_"))
            )
            if not names:
                raise FileNotFoundError(path)
            path = os.path.join(path, names[0])
        batch = next(
            pq.ParquetFile(path).iter_batches(batch_size=1, columns=["embedding"])
        )
        return len(batch.column(0)[0])
    except Exception:
        row = (
            spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .select(F.size("embedding").alias("d"))
            .first()
        )
        return int(row["d"])


def q_ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucket assignment: vectors agreeing on all _LSH_PLANES
    hyperplane signs share a bucket; at scale, candidate generation
    becomes a groupBy(bucket) instead of a cross join."""
    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", _quantize(F.col("embedding")).alias("qv")
    )
    dim = _probe_dim(spark, sf_dir)
    bits = []
    for p in range(_LSH_PLANES):
        proj = F.aggregate(
            F.zip_with("qv", _plane_literal(p, dim), lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
    return emb.select("vec_id", F.concat(*bits).alias("bucket"))


def _lsh_sql() -> str:
    bit_exprs = []
    for p in range(_LSH_PLANES):
        bit_exprs.append(
            "CASE WHEN CAST(list_dot_product(qv, "
            f"list_transform(range(0, len(qv)), i -> "
            f"CAST((instr('{_HEX}', substring(md5('p{p}|' || CAST(i AS VARCHAR)), 1, 1)) - 1) * 2 - 15 AS BIGINT))"
            ") AS BIGINT) >= 0 THEN '1' ELSE '0' END"
        )
    bits = " || ".join(bit_exprs)
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(ROUND(x * 1000) AS BIGINT)) AS qv
  FROM embeddings
)
SELECT vec_id, {bits} AS bucket FROM q
"""


# --- IVF coarse quantizer (the other ANN scale path) ---------------------------------

_IVF_CENTROID_MOD = 97  # vec_id % 97 == 1 -> centroid (deterministic seeds)


def q_ann_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF list assignment: a deterministic seed subset of the vectors
    serves as coarse centroids; every vector joins its argmax-dot-product
    list (quantized integer dot, explicit tie-break).  At scale the search
    then probes only the query's nearest list(s) — a groupBy(centroid_id)
    instead of a cross join; this query materializes the inverted-list
    index itself plus per-list sizes for balance monitoring."""
    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", _quantize(F.col("embedding")).alias("qv")
    )
    centroids = emb.where(F.col("vec_id") % _IVF_CENTROID_MOD == 1).select(
        F.col("vec_id").alias("centroid_id"), F.col("qv").alias("cv")
    )
    pairs = emb.crossJoin(F.broadcast(centroids))
    dot = F.aggregate(
        F.zip_with("qv", "cv", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("dot"), F.asc("centroid_id"))
    assigned = (
        pairs.select("vec_id", "centroid_id", dot.alias("dot"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "centroid_id", F.col("dot").alias("dot_q"))
    )
    return assigned


_IVF_SQL = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(ROUND(x * 1000) AS BIGINT)) AS qv
  FROM embeddings
), c AS (
  SELECT vec_id AS centroid_id, qv AS cv FROM q
  WHERE vec_id % {_IVF_CENTROID_MOD} = 1
), scored AS (
  SELECT q.vec_id, c.centroid_id,
         CAST(list_dot_product(q.qv, c.cv) AS BIGINT) AS dot_q,
         ROW_NUMBER() OVER (PARTITION BY q.vec_id
                            ORDER BY CAST(list_dot_product(q.qv, c.cv) AS BIGINT) DESC,
                                     c.centroid_id ASC) AS rn
  FROM q CROSS JOIN c
)
SELECT vec_id, centroid_id, dot_q FROM scored WHERE rn = 1
"""


# --- IVF probe search (completes the IVF story: assign + search) -----------------------
#
# One code path, nprobe as the argument (round-3 verdict item 6): nprobe=1
# is the registered driver query; nprobe=2 (the recall/cost knob) stays a
# public API entry, oracle-checked via the EXTRA registry + pytest.

_IVF_TOPK = 5
# hot-list guard: every (query, candidate) pair of one inverted list lands
# in ONE task of the centroid_id equi-join, so a degenerate quantizer cell
# holding a large fraction of the corpus becomes a single-task
# near-brute-force scan.  Lists above this size are excluded from probe
# results (production IVF re-trains or splits such cells); the cap is
# part of the query definition, mirrored in the oracle, like _MAX_BUCKET.
# Test-scale lists hold ~100 vectors, far below it.
_MAX_IVF_LIST = 4096


def _ivf_search(spark: SparkSession, sf_dir: str, nprobe: int) -> DataFrame:
    """IVF search with a parameterized probe count: every vector ranks
    the broadcast centroids by exact quantized dot product; each QUERY
    probes its ``nprobe`` nearest inverted lists, while every candidate
    belongs to exactly its rank-1 list.  The candidate set is an equi-join on
    centroid_id — never a cross join — so cost scales with list size x
    nprobe; recall lost to a query landing just inside the wrong Voronoi
    cell is recovered by probing runner-up lists.  A (query, neighbor)
    pair cannot duplicate: neighbors live in exactly one list while the
    query's probe lists are distinct.  Lists above _MAX_IVF_LIST are
    excluded from probe results before the join (hot-list guard — see
    the constant's comment).

    The quantized vectors feed the centroid ranking AND both exact-dot
    join sides, and the ranked frame feeds the query and candidate
    branches — no cross-branch CSE in Spark, so both are persisted WITH
    an eager count() fill (concurrent consumers over a cold cache each
    recompute their partitions; measured 1.75x wall elsewhere)."""
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    emb = (
        _read(spark, sf_dir, "embeddings")
        .select("vec_id", _quantize(F.col("embedding")).alias("qv"))
        .persist()
    )
    emb.count()
    centroids = emb.where(F.col("vec_id") % _IVF_CENTROID_MOD == 1).select(
        F.col("vec_id").alias("centroid_id"), F.col("qv").alias("cv")
    )
    cdot = F.aggregate(
        F.zip_with("qv", "cv", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cdot"), F.asc("centroid_id"))
    ranked = (
        emb.crossJoin(F.broadcast(centroids))
        .select("vec_id", "centroid_id", cdot.alias("cdot"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= nprobe)
        .persist()
    )
    ranked.count()
    queries = ranked.where(F.col("vec_id") % _QMOD == 0).select(
        F.col("vec_id").alias("query_id"), "centroid_id"
    )
    cands = ranked.where(
        (F.col("rn") == 1) & (F.col("vec_id") % _QMOD != 0)
    ).select(F.col("vec_id").alias("neighbor_id"), "centroid_id")
    ok_lists = (
        cands.groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("_l_n"))
        .where(F.col("_l_n") <= _MAX_IVF_LIST)
        .select("centroid_id")
    )
    cands = cands.join(ok_lists, "centroid_id", "left_semi")
    pairs = (
        queries.join(cands, "centroid_id")
        .join(
            emb.select(F.col("vec_id").alias("query_id"), F.col("qv").alias("q")),
            "query_id",
        )
        .join(
            emb.select(F.col("vec_id").alias("neighbor_id"), F.col("qv").alias("c")),
            "neighbor_id",
        )
    )
    dot = F.aggregate(
        F.zip_with("q", "c", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = pairs.select("query_id", "neighbor_id", dot.alias("dot_q"))
    wr = Window.partitionBy("query_id").orderBy(F.desc("dot_q"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(wr).cast("long"))
        .where(F.col("rank") <= _IVF_TOPK)
        .select("query_id", "rank", "neighbor_id", "dot_q")
    )


def q_ann_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search, nprobe=1: each query probes only its own list."""
    return _ivf_search(spark, sf_dir, nprobe=1)


def q_ann_ivf_search_p2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search, nprobe=2: the standard recall knob (~2x candidates)."""
    return _ivf_search(spark, sf_dir, nprobe=2)


def _ivf_search_sql(nprobe: int) -> str:
    """DuckDB oracle for _ivf_search at any nprobe — one template, same
    ranked/queries/cands decomposition as the Spark plan."""
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(ROUND(x * 1000) AS BIGINT)) AS qv
  FROM embeddings
), c AS (
  SELECT vec_id AS centroid_id, qv AS cv FROM q
  WHERE vec_id % {_IVF_CENTROID_MOD} = 1
), ranked AS (
  SELECT vec_id, centroid_id, rn FROM (
    SELECT q.vec_id, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY CAST(list_dot_product(q.qv, c.cv) AS BIGINT) DESC,
                                       c.centroid_id ASC) AS rn
    FROM q CROSS JOIN c
  ) WHERE rn <= {nprobe}
), queries AS (
  SELECT vec_id AS query_id, centroid_id FROM ranked WHERE vec_id % {_QMOD} = 0
), cands AS (
  SELECT neighbor_id, centroid_id FROM (
    SELECT vec_id AS neighbor_id, centroid_id,
           COUNT(*) OVER (PARTITION BY centroid_id) AS lsz
    FROM ranked
    WHERE rn = 1 AND vec_id % {_QMOD} != 0
  ) WHERE lsz <= {_MAX_IVF_LIST}
), scored AS (
  SELECT p.query_id, p.neighbor_id,
         CAST(list_dot_product(a.qv, b.qv) AS BIGINT) AS dot_q
  FROM (SELECT query_id, neighbor_id FROM queries JOIN cands USING (centroid_id)) p
  JOIN q a ON p.query_id = a.vec_id
  JOIN q b ON p.neighbor_id = b.vec_id
)
SELECT query_id, rank, neighbor_id, dot_q FROM (
  SELECT query_id, neighbor_id, dot_q,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY dot_q DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= {_IVF_TOPK}
"""


# --- product quantization: PQ codes + IVF-PQ ADC search ----------------------------------
#
# The FAISS-style memory/scale path the IVF family was missing: vectors
# compress to _PQ_M codebook indices (16 bytes replaces 256 bytes of
# floats at dim 64), and search scores candidates with an asymmetric-
# distance LOOKUP TABLE (query x codeword partial distances) instead of
# touching raw vectors.  All integer-exact on the quantized embeddings,
# so the DuckDB oracle matches hash-for-hash.
#
# M/K were swept on this corpus (recall@5 vs the exact in-list ranking
# at sf0.1): M=4/K=16 0.17, M=4/K=64 0.23, M=8/K=16 0.21, M=8/K=64
# 0.30, M=16/K=16 0.38 — finer subspaces dominate.  K is capped at 16
# because the sf0.001 test corpus only yields 17 seed vectors; residual
# encoding was tried and measured WORSE with untrained centroids (see
# CLAUDE.md).

_PQ_DIM = 64  # the embeddings table's dimension (generic form takes it as a param)
_PQ_M = 16  # subspaces -> 4 dims each (the measured recall sweet spot)
_PQ_SUB = _PQ_DIM // _PQ_M
_PQ_K = 16  # codewords per subspace
_PQ_SEED_MOD = 31  # vec_id % 31 == 1 -> codebook seed vector
# seed-rank window input is bounded to the first _PQ_SEED_SCAN ids
# (~128 seed rows at ANY corpus scale — a constant-size global window,
# like the centroid rank), from which the first _PQ_K become codewords
_PQ_SEED_SCAN = _PQ_SEED_MOD * _PQ_K * 8
# fixed-point scale for Lloyd-refined centroids: cluster means stay
# exact integers as (elementwise_sum * _PQ_LLOYD_Q) DIV n — truncating
# integer division, identical in Spark (`DIV`) and DuckDB (`//`).
# Comparing (Q * sub) against Q-scaled centroids preserves the argmin
# exactly; magnitudes stay < 2^53 (|Q*x| ~ 1e6, d2 <= ~2e13).
_PQ_LLOYD_Q = 1024
# swept: 2 steps is the recall sweet spot (see _pq_codebook_lloyd)
_PQ_LLOYD_STEPS = 2
# refine shortlist size: the ADC pass keeps its top-R per query and an
# exact integer dot-product re-rank picks the final top-k from them —
# R trades one bounded vector-fetch join for most of the recall the
# lossy codes dropped (FAISS IndexRefineFlat's k_factor knob)
_RERANK_R = 32


def _pq_subspace_explode(df, vec_col: str = "qv"):
    """(vec_id, m, sub): the M fixed-width subvector splits, JVM-side."""
    subs = F.array(
        *[
            F.struct(
                F.lit(m).cast("long").alias("m"),
                F.slice(vec_col, m * _PQ_SUB + 1, _PQ_SUB).alias("sub"),
            )
            for m in range(_PQ_M)
        ]
    )
    return df.select("vec_id", F.explode(subs).alias("s")).select(
        "vec_id", F.col("s.m").alias("m"), F.col("s.sub").alias("sub")
    )


def _pq_codebook(emb: DataFrame) -> DataFrame:
    """(m, code, cwv): K codewords per subspace from the first K
    deterministic seed vectors (vec_id % _PQ_SEED_MOD == 1, ordered by
    vec_id, drawn only from the first _PQ_SEED_SCAN ids so the rank
    window's input is a ~128-row constant regardless of corpus size).
    M*K = 64 tiny rows — broadcast wherever consumed."""
    seeds = emb.where(
        (F.col("vec_id") % _PQ_SEED_MOD == 1) & (F.col("vec_id") < _PQ_SEED_SCAN)
    )
    w = Window.orderBy("vec_id")  # bounded: <= _PQ_SEED_SCAN/_PQ_SEED_MOD rows
    first_k = (
        seeds.withColumn("code", (F.row_number().over(w) - 1).cast("long"))
        .where(F.col("code") < _PQ_K)
        .select("code", "qv")
    )
    cw = F.array(
        *[
            F.struct(
                F.lit(m).cast("long").alias("m"),
                F.slice("qv", m * _PQ_SUB + 1, _PQ_SUB).alias("cwv"),
            )
            for m in range(_PQ_M)
        ]
    )
    return first_k.select("code", F.explode(cw).alias("s")).select(
        F.col("s.m").alias("m"), "code", F.col("s.cwv").alias("cwv")
    )


def _sq_l2(a: str, b: str):
    """Exact integer squared L2 distance between two quantized arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _pq_codes_df(emb: DataFrame, codebook: DataFrame, scale: int = 1) -> DataFrame:
    """(vec_id, m, code, dist_q): each subvector's nearest codeword by
    exact integer squared-L2, explicit code tie-break.  The rank window
    is per (vec_id, m) over exactly _PQ_K rows — constant-bounded.

    ``scale`` compares (scale * sub) against the codebook — the hook for
    Lloyd-refined codebooks whose centroids are fixed-point means in
    scale-units (a common positive factor preserves the argmin)."""
    pairs = _pq_subspace_explode(emb).join(F.broadcast(codebook), "m")
    sub = (
        F.col("sub")
        if scale == 1
        else F.transform("sub", lambda x: x * scale)
    )
    d2 = F.aggregate(
        F.zip_with(sub, F.col("cwv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("vec_id", "m").orderBy(F.asc("d2"), F.asc("code"))
    return (
        pairs.select("vec_id", "m", "code", d2.alias("d2"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "m", "code", F.col("d2").alias("dist_q"))
    )


def q_ann_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ compression: every vector's M codebook assignments + residual
    distances.  This is the write-side of IVF-PQ — the stored index is
    (vec_id, centroid_id, code_0..code_{M-1}), 100x smaller than the
    raw vectors."""
    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", _quantize(F.col("embedding")).alias("qv")
    )
    # emb feeds the codebook (seed subset) AND the assignment join —
    # persist with an eager fill (no cross-branch CSE)
    emb = emb.persist()
    emb.count()
    return _pq_codes_df(emb, _pq_codebook(emb))


_PQ_CB_SQL = f"""
  seedrank AS (
    SELECT qv, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS code
    FROM q WHERE vec_id % {_PQ_SEED_MOD} = 1 AND vec_id < {_PQ_SEED_SCAN}
  ), cb AS (
    SELECT CAST(m AS BIGINT) AS m, code,
           qv[CAST(m * {_PQ_SUB} + 1 AS BIGINT):CAST((m + 1) * {_PQ_SUB} AS BIGINT)] AS cwv
    FROM seedrank, unnest(range(0, {_PQ_M})) AS r(m)
    WHERE code < {_PQ_K}
  ), subs AS (
    SELECT vec_id, CAST(m AS BIGINT) AS m,
           qv[CAST(m * {_PQ_SUB} + 1 AS BIGINT):CAST((m + 1) * {_PQ_SUB} AS BIGINT)] AS sub
    FROM q, unnest(range(0, {_PQ_M})) AS r(m)
  ), scored_codes AS (
    SELECT s.vec_id, s.m, cb.code,
           CAST(list_dot_product(s.sub, s.sub)
                - 2 * list_dot_product(s.sub, cb.cwv)
                + list_dot_product(cb.cwv, cb.cwv) AS BIGINT) AS d2
    FROM subs s JOIN cb USING (m)
  ), codes AS (
    SELECT vec_id, m, code, d2 AS dist_q FROM (
      SELECT vec_id, m, code, d2,
             ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                ORDER BY d2 ASC, code ASC) AS rn
      FROM scored_codes
    ) WHERE rn = 1
  )"""

_PQ_CODES_SQL = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(ROUND(x * 1000) AS BIGINT)) AS qv
  FROM embeddings
),{_PQ_CB_SQL}
SELECT vec_id, m, code, dist_q FROM codes
"""

def _pq_lloyd_chain(steps: int = _PQ_LLOYD_STEPS) -> str:
    """Lloyd-refinement CTE chain (appended to the seed-codebook chain):
    one block per step — assign Q-scaled subvectors to the current
    Q-scaled codebook, re-center each (m, code) cluster on its members'
    RAW-unit elementwise mean in _PQ_LLOYD_Q fixed-point ((s * Q) // n,
    truncating division = Spark's DIV), empty clusters keep the previous
    centroid.  Ends with `cbq` (the refined codebook) and `codes_q`
    (the final assignment with distances, in Q^2 units)."""
    q = _PQ_LLOYD_Q
    sql = f"""{_PQ_CB_SQL}, subsq AS (
    SELECT vec_id, m, list_transform(sub, x -> x * {q}) AS sub
    FROM subs
  ), cbq0 AS (
    SELECT m, code, list_transform(cwv, x -> x * {q}) AS cwv FROM cb
  )"""
    for t in range(1, steps + 1):
        sql += f"""
  , sc{t} AS (
    SELECT s.vec_id, s.m, c.code,
           CAST(list_dot_product(s.sub, s.sub)
                - 2 * list_dot_product(s.sub, c.cwv)
                + list_dot_product(c.cwv, c.cwv) AS BIGINT) AS d2
    FROM subsq s JOIN cbq{t - 1} c USING (m)
  ), asg{t} AS (
    SELECT vec_id, m, code FROM (
      SELECT vec_id, m, code,
             ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                ORDER BY d2 ASC, code ASC) AS rn
      FROM sc{t}
    ) WHERE rn = 1
  ), dims{t} AS (
    SELECT s.m, a.code, i AS d, s.sub[CAST(i + 1 AS BIGINT)] AS v
    FROM subs s JOIN asg{t} a ON s.vec_id = a.vec_id AND s.m = a.m,
         unnest(range(0, len(s.sub))) AS r(i)
  ), sums{t} AS (
    SELECT m, code, d, CAST(SUM(v) AS BIGINT) AS s,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM dims{t} GROUP BY m, code, d
  ), ref{t} AS (
    SELECT m, code, list((s * {q}) // n ORDER BY d) AS cwv
    FROM sums{t} GROUP BY m, code
  ), cbq{t} AS (
    SELECT c.m, c.code, COALESCE(r.cwv, c.cwv) AS cwv
    FROM cbq{t - 1} c LEFT JOIN ref{t} r USING (m, code)
  )"""
    sql += f"""
  , cbq AS (
    SELECT m, code, cwv FROM cbq{steps}
  ), scored_codes_q AS (
    SELECT s.vec_id, s.m, cbq.code,
           CAST(list_dot_product(s.sub, s.sub)
                - 2 * list_dot_product(s.sub, cbq.cwv)
                + list_dot_product(cbq.cwv, cbq.cwv) AS BIGINT) AS d2
    FROM subsq s JOIN cbq USING (m)
  ), codes_q AS (
    SELECT vec_id, m, code, d2 AS dist_q FROM (
      SELECT vec_id, m, code, d2,
             ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                ORDER BY d2 ASC, code ASC) AS rn
      FROM scored_codes_q
    ) WHERE rn = 1
  )"""
    return sql


_PQ_LLOYD_SQL = _pq_lloyd_chain()

_PQ_CODES_LLOYD_SQL = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(ROUND(x * 1000) AS BIGINT)) AS qv
  FROM embeddings
),{_PQ_LLOYD_SQL}
SELECT vec_id, m, code, dist_q FROM codes_q
"""


def _pq_codebook_lloyd(
    emb: DataFrame, steps: int = None
) -> DataFrame:
    """(m, code, cwv): the seed codebook refined by _PQ_LLOYD_STEPS
    exact-integer Lloyd steps (round-4 verdict item 5) — per step,
    assign every subvector to its nearest current centroid and
    re-center each (m, code) cluster on its members' elementwise mean,
    kept integer in _PQ_LLOYD_Q fixed-point units ((s * Q) DIV n —
    truncating division, matching DuckDB //).  Empty clusters keep the
    previous centroid.  Returned centroids are in Q-units: consume with
    _pq_codes_df(scale=Q).

    Step count swept on this corpus (IVF-PQ recall@5 vs exact-in-list,
    sf0.1 / sf0.001): 0 steps 0.38/0.24, 1 step 0.39/0.36, 2 steps
    0.45/0.36, then oscillation (3: 0.40, 4: 0.44) — the assignments
    flip-flop around the quantized means.  _PQ_LLOYD_STEPS = 2 is the
    sweet spot, strictly above the untrained baseline at both scales.

    Shape per step: the same constant-bounded assignment window as
    ann_pq_codes, a posexplode to (m, code, dim) rows and one map-side-
    combinable sum.  Each intermediate codebook (M*K rows, heavy
    subtree) feeds two consumers (next assignment + empty-cluster
    coalesce), so it is persisted with an eager fill."""
    if steps is None:
        steps = _PQ_LLOYD_STEPS
    cb = _pq_codebook(emb).select(
        "m", "code", F.transform("cwv", lambda x: x * _PQ_LLOYD_Q).alias("cwv")
    )
    # per-step EAGER lineage cut under the size-adaptive loop conf
    # (round 6, the _ivf_centroids_lloyd treatment): persist() per step
    # does not stop Catalyst re-analyzing the whole chained tree per
    # consumer, and the per-step shuffles are M*K*dim-bounded
    with _tiny_loop_conf(emb.sparkSession, emb.count()):
        for _ in range(steps):
            cb = cb.localCheckpoint(eager=True)
            assign = _pq_codes_df(emb, cb, scale=_PQ_LLOYD_Q).select(
                "vec_id", "m", "code"
            )
            members = _pq_subspace_explode(emb).join(assign, ["vec_id", "m"])
            sums = (
                members.select("m", "code", F.posexplode("sub").alias("d", "v"))
                .groupBy("m", "code", "d")
                .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            )
            refined = (
                sums.select(
                    "m",
                    "code",
                    "d",
                    F.expr(f"(s * {_PQ_LLOYD_Q}) DIV n").alias("cv"),
                )
                .groupBy("m", "code")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("d", "cv"))),
                        lambda s: s["cv"],
                    ).alias("cwv_r")
                )
            )
            prev = cb.withColumnRenamed("cwv", "cwv_0")
            cb = prev.join(refined, ["m", "code"], "left").select(
                "m", "code", F.coalesce("cwv_r", "cwv_0").alias("cwv")
            )
        # final lineage cut: later consumers analyze a LogicalRDD scan
        # instead of the full chained tree
        cb = cb.localCheckpoint(eager=True)
    return cb


def q_ann_pq_codes_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ compression under the one-step-Lloyd codebook: same output
    shape as ann_pq_codes, distances in _PQ_LLOYD_Q^2 units."""
    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", _quantize(F.col("embedding")).alias("qv")
    )
    emb = emb.persist()
    emb.count()
    return _pq_codes_df(emb, _pq_codebook_lloyd(emb), scale=_PQ_LLOYD_Q)


def q_ann_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ: route queries to their IVF list (nprobe=1, same coarse
    quantizer and hot-list guard as ann_ivf_search), then score the
    list's candidates by ASYMMETRIC distance — sum over subspaces of
    the precomputed (query, codeword) partial distances — never
    touching candidate raw vectors.  The ADC lookup table is
    |Q| x M x K rows, broadcast; candidate codes join it on
    (query_id, m, code); the final top-k window per query is bounded
    by nprobe x _MAX_IVF_LIST.  Exact integer math end to end."""
    return _ivfpq_search(spark, sf_dir, lloyd=False)


def q_ann_ivfpq_search_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with the one-step-Lloyd codebook: identical routing and
    ADC shape, centroids re-centered on their clusters — measurably
    higher recall than the untrained seed codebook (pinned by
    tests/test_pq.py)."""
    return _ivfpq_search(spark, sf_dir, lloyd=True)


def q_ann_ivfpq_search_lloyd_p2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ, Lloyd codebook, nprobe=2: queries probe their two
    nearest inverted lists (candidates stay uniquely listed at rn=1),
    recovering recall lost to near-Voronoi-boundary queries — the same
    recall/cost knob _ivf_search exposes for plain IVF, composed with
    ADC scoring.  Candidate volume and the per-query top-k window scale
    by nprobe (2 x _MAX_IVF_LIST bound)."""
    return _ivfpq_search(spark, sf_dir, lloyd=True, nprobe=2)


def q_ann_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ + exact re-rank (the full production ANN read path): Lloyd
    codebook, nprobe=2 routing, ADC keeps a top-_RERANK_R shortlist per
    query, then the shortlist's RAW quantized vectors are fetched and
    re-ranked by exact integer dot product.  Compression still does the
    heavy pruning (the exact scorer touches |Q| x R vectors, not the
    corpus); the refine recovers the rank resolution the 16x16 codes
    lack — recall strictly above the ADC-only tier is pinned by
    tests/test_pq.py."""
    return _ivfpq_search(spark, sf_dir, lloyd=True, nprobe=2, rerank=_RERANK_R)


def _ivfpq_search(
    spark: SparkSession,
    sf_dir: str,
    *,
    lloyd: bool,
    nprobe: int = 1,
    rerank: int = 0,
    ck: bool = False,
) -> DataFrame:
    emb = (
        _read(spark, sf_dir, "embeddings")
        .select("vec_id", _quantize(F.col("embedding")).alias("qv"))
        .persist()
    )
    emb.count()
    scale = _PQ_LLOYD_Q if lloyd else 1
    if lloyd:
        # the refined codebook's subtree contains the full seed
        # assignment pass and feeds TWO consumers (candidate codes +
        # query LUT) — persist the M*K-row result and fill it eagerly
        codebook = _pq_codebook_lloyd(emb).persist()
        codebook.count()
    else:
        codebook = _pq_codebook(emb)

    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    if ck:
        # trained coarse quantizer: Lloyd-refined centroids (Q units),
        # consistent L2 routing (k-means assignment IS min-L2) — the
        # in-list ceiling measured 0.20 -> 0.33 at sf0.1 / 0.44 -> 0.68
        # at sf0.001 vs the seed+dot router at nprobe=2
        centroids = _ivf_centroids_lloyd(emb).persist()
        centroids.count()
        sqv = F.transform("qv", lambda x: x * _PQ_LLOYD_Q)
        cd2 = F.aggregate(
            F.zip_with(sqv, F.col("cv"), lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        w = Window.partitionBy("vec_id").orderBy(
            F.asc("cd2"), F.asc("centroid_id")
        )
        routed = emb.crossJoin(F.broadcast(centroids)).select(
            "vec_id", "centroid_id", cd2.alias("cd2")
        )
    else:
        centroids = emb.where(F.col("vec_id") % _IVF_CENTROID_MOD == 1).select(
            F.col("vec_id").alias("centroid_id"), F.col("qv").alias("cv")
        )
        cdot = F.aggregate(
            F.zip_with("qv", "cv", lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        w = Window.partitionBy("vec_id").orderBy(
            F.desc("cdot"), F.asc("centroid_id")
        )
        routed = emb.crossJoin(F.broadcast(centroids)).select(
            "vec_id", "centroid_id", cdot.alias("cdot")
        )
    assigned = (
        routed.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= nprobe)
        .select("vec_id", "centroid_id", "rn")
        .persist()  # feeds the query and candidate branches
    )
    assigned.count()

    # queries probe their nprobe nearest lists; every candidate still
    # lives in exactly ONE list (rn = 1), so no (query, neighbor) pair
    # can be scored twice
    queries = assigned.where(
        (F.col("vec_id") % _QMOD == 0) & (F.col("rn") <= nprobe)
    ).select(F.col("vec_id").alias("query_id"), "centroid_id")
    cands = assigned.where(
        (F.col("vec_id") % _QMOD != 0) & (F.col("rn") == 1)
    ).select(F.col("vec_id").alias("neighbor_id"), "centroid_id")
    ok_lists = (
        cands.groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("_l_n"))
        .where(F.col("_l_n") <= _MAX_IVF_LIST)
        .select("centroid_id")
    )
    cands = cands.join(ok_lists, "centroid_id", "left_semi")

    codes = _pq_codes_df(
        emb.where(F.col("vec_id") % _QMOD != 0), codebook, scale=scale
    ).select(F.col("vec_id").alias("neighbor_id"), "m", "code")

    qsubs = _pq_subspace_explode(
        emb.where(F.col("vec_id") % _QMOD == 0)
    ).withColumnRenamed("vec_id", "query_id")
    qsub = (
        F.col("sub")
        if scale == 1
        else F.transform("sub", lambda x: x * scale)
    )
    qd2 = F.aggregate(
        F.zip_with(qsub, F.col("cwv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    lut = qsubs.join(F.broadcast(codebook), "m").select(
        "query_id", "m", "code", qd2.alias("qd2")
    )

    scored = (
        queries.join(cands, "centroid_id")
        .join(codes, "neighbor_id")
        .join(F.broadcast(lut), ["query_id", "m", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("qd2").alias("adc_q"))
    )
    if rerank:
        # FAISS IndexRefineFlat-style refine: keep the ADC top-``rerank``
        # shortlist per query, fetch ONLY those candidates' raw quantized
        # vectors, and re-rank by the family's true metric (exact integer
        # dot product, like ann_ivf_search / ann_topk).  The fetch join's
        # probe side is |Q| x rerank rows — tiny next to the corpus — so
        # at scale this is one bounded equi-join per side, never a second
        # scan-wide score.  The shortlist window is bounded by
        # nprobe x _MAX_IVF_LIST like the ADC window.
        wa = Window.partitionBy("query_id").orderBy(
            F.asc("adc_q"), F.asc("neighbor_id")
        )
        shortlist = (
            scored.withColumn("arn", F.row_number().over(wa))
            .where(F.col("arn") <= rerank)
            .select("query_id", "neighbor_id")
        )
        qvecs = emb.where(F.col("vec_id") % _QMOD == 0).select(
            F.col("vec_id").alias("query_id"), F.col("qv").alias("q_vec")
        )
        nvecs = emb.select(
            F.col("vec_id").alias("neighbor_id"), F.col("qv").alias("n_vec")
        )
        dot = F.aggregate(
            F.zip_with("q_vec", "n_vec", lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        exact = (
            shortlist.join(nvecs, "neighbor_id")
            .join(qvecs, "query_id")
            .select("query_id", "neighbor_id", dot.alias("dot_q"))
        )
        wx = Window.partitionBy("query_id").orderBy(
            F.desc("dot_q"), F.asc("neighbor_id")
        )
        return (
            exact.withColumn("rank", F.row_number().over(wx).cast("long"))
            .where(F.col("rank") <= _IVF_TOPK)
            .select("query_id", "rank", "neighbor_id", "dot_q")
        )
    wr = Window.partitionBy("query_id").orderBy(F.asc("adc_q"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(wr).cast("long"))
        .where(F.col("rank") <= _IVF_TOPK)
        .select("query_id", "rank", "neighbor_id", "adc_q")
    )


def _ivfpq_sql(
    *, lloyd: bool, nprobe: int = 1, rerank: int = 0, ck: bool = False
) -> str:
    """DuckDB oracle for _ivfpq_search at any (codebook, nprobe, rerank)
    — one template: the lloyd variant swaps in the refined-codebook CTE
    block and its cbq/subsq/codes_q names; nprobe widens the query-side
    probe exactly as in the plan (candidates stay uniquely listed at
    rn=1, so the per-list size window counts post-filter rows only);
    rerank swaps the final top-k for the ADC-shortlist -> exact-dot
    re-rank."""
    pq_cte = _PQ_LLOYD_SQL if lloyd else _PQ_CB_SQL
    cb = "cbq" if lloyd else "cb"
    subs = "subsq" if lloyd else "subs"
    codes = "codes_q" if lloyd else "codes"
    if ck:
        route = f"""{_ivf_lloyd_chain()}, assigned AS (
  SELECT vec_id, centroid_id, rn FROM (
    SELECT s.vec_id, ck.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id
                              ORDER BY CAST(list_dot_product(s.sq, s.sq)
                                            - 2 * list_dot_product(s.sq, ck.cv)
                                            + list_dot_product(ck.cv, ck.cv)
                                        AS BIGINT) ASC,
                                       ck.centroid_id ASC) AS rn
    FROM qs s CROSS JOIN ck
  ) WHERE rn <= {nprobe}
)"""
    else:
        route = f""" c AS (
  SELECT vec_id AS centroid_id, qv AS cv FROM q
  WHERE vec_id % {_IVF_CENTROID_MOD} = 1
), assigned AS (
  SELECT vec_id, centroid_id, rn FROM (
    SELECT q.vec_id, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY CAST(list_dot_product(q.qv, c.cv) AS BIGINT) DESC,
                                       c.centroid_id ASC) AS rn
    FROM q CROSS JOIN c
  ) WHERE rn <= {nprobe}
)"""
    if rerank:
        tail = f""", adc_top AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY adc_q ASC, neighbor_id ASC) AS arn
    FROM scored
  ) WHERE arn <= {rerank}
)
SELECT query_id, rank, neighbor_id, dot_q FROM (
  SELECT t.query_id, t.neighbor_id,
         CAST(list_dot_product(qq.qv, nq.qv) AS BIGINT) AS dot_q,
         ROW_NUMBER() OVER (PARTITION BY t.query_id
                            ORDER BY CAST(list_dot_product(qq.qv, nq.qv) AS BIGINT) DESC,
                                     t.neighbor_id ASC) AS rank
  FROM adc_top t
  JOIN q qq ON qq.vec_id = t.query_id
  JOIN q nq ON nq.vec_id = t.neighbor_id
) WHERE rank <= {_IVF_TOPK}
"""
    else:
        tail = f"""
SELECT query_id, rank, neighbor_id, adc_q FROM (
  SELECT query_id, neighbor_id, adc_q,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adc_q ASC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= {_IVF_TOPK}
"""
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(ROUND(x * 1000) AS BIGINT)) AS qv
  FROM embeddings
),{pq_cte},{route}, queries AS (
  SELECT vec_id AS query_id, centroid_id FROM assigned
  WHERE vec_id % {_QMOD} = 0 AND rn <= {nprobe}
), cands AS (
  SELECT neighbor_id, centroid_id FROM (
    SELECT vec_id AS neighbor_id, centroid_id,
           COUNT(*) OVER (PARTITION BY centroid_id) AS lsz
    FROM assigned WHERE vec_id % {_QMOD} != 0 AND rn = 1
  ) WHERE lsz <= {_MAX_IVF_LIST}
), lut AS (
  SELECT s.vec_id AS query_id, s.m, {cb}.code,
         CAST(list_dot_product(s.sub, s.sub)
              - 2 * list_dot_product(s.sub, {cb}.cwv)
              + list_dot_product({cb}.cwv, {cb}.cwv) AS BIGINT) AS qd2
  FROM {subs} s JOIN {cb} USING (m)
  WHERE s.vec_id % {_QMOD} = 0
), scored AS (
  SELECT p.query_id, cd.vec_id AS neighbor_id,
         CAST(SUM(l.qd2) AS BIGINT) AS adc_q
  FROM (SELECT query_id, neighbor_id FROM queries JOIN cands USING (centroid_id)) p
  JOIN {codes} cd ON p.neighbor_id = cd.vec_id
  JOIN lut l ON l.query_id = p.query_id AND l.m = cd.m AND l.code = cd.code
  GROUP BY p.query_id, cd.vec_id
){tail}"""


_IVFPQ_SQL = _ivfpq_sql(lloyd=False)
_IVFPQ_LLOYD_SQL = _ivfpq_sql(lloyd=True)


# --- trained coarse quantizer (full-vector exact-integer k-means) ---------------------
#
# BENCH/ann_recall_r05.json proved routing is the ONLY remaining recall
# loss in the IVF-PQ ladder (the exact rerank recovers everything the
# probed lists contain).  This section trains the routing itself: the
# same exact-integer Lloyd recipe as _pq_codebook_lloyd, applied to the
# FULL 64-dim vectors, with consistent min-L2 assignment on both the
# training and the search side (k-means assignment IS min-L2; the seed
# router's max-dot metric is NOT the k-means objective, so a trained
# router must switch metrics or the centroids it trains toward are not
# the ones it routes with).  Step count swept offline (numpy twin of
# the exact integer math) at both scales — nprobe=2 in-list ceiling:
#
#     steps       0     1     2     3     4     5
#     sf0.001   0.44  0.64  0.68  0.68  0.68  0.76
#     sf0.1     0.20  0.25  0.29  0.33  0.35  0.38
#
# Monotone through step 3 at both scales, oscillation after (the same
# quantized-mean flip-flop _pq_codebook_lloyd documents).  Three steps
# triple the sf0.001 nprobe-1 ceiling and are the chosen default.
#
# Scale note (same caveat as the seed router since r4): the mod-97 seed
# rule makes |C| proportional to the corpus, which keeps the oracle
# deterministic but is NOT what production would ship — there you cap
# the seed set at a fixed |C| (e.g. md5-threshold the vec_ids), and
# everything below (assignment crossJoin, |C|-bounded windows, the
# per-step recenter aggregate) is already written against an arbitrary
# centroid frame, so the cap is a one-line change at the seed scan.

_IVF_LLOYD_STEPS = 3


class _tiny_loop_conf:
    """Size-adaptive session conf for eagerly-executed iterative loops
    (the connected_components recipe, round 6): scale the per-step
    shuffle partition count to the loop's row volume instead of the
    session default, and disable AQE only when that leaves a SINGLE
    partition — with one partition there is nothing to coalesce and no
    skew to split, but every step still pays 3-4 adaptive stage
    re-optimizations.  At real scale ``n_rows`` keeps the session
    values; both settings are restored on exit."""

    def __init__(self, sess, n_rows: int):
        self.conf = sess.conf
        self.n_rows = n_rows

    def __enter__(self):
        self.old_parts = self.conf.get("spark.sql.shuffle.partitions")
        self.old_aqe = self.conf.get("spark.sql.adaptive.enabled")
        loop_parts = max(1, min(int(self.old_parts), self.n_rows // 50_000 + 1))
        self.conf.set("spark.sql.shuffle.partitions", str(loop_parts))
        if loop_parts == 1:
            self.conf.set("spark.sql.adaptive.enabled", "false")
        return self

    def __exit__(self, *exc):
        self.conf.set("spark.sql.shuffle.partitions", self.old_parts)
        self.conf.set("spark.sql.adaptive.enabled", self.old_aqe)
        return False


def _ivf_centroids_lloyd(emb: DataFrame, steps: int = None) -> DataFrame:
    """(centroid_id, cv): the seed coarse centroids refined by
    _IVF_LLOYD_STEPS exact-integer Lloyd steps over the FULL quantized
    vectors — per step, assign every vector to its nearest (min squared
    L2, centroid_id tie-break) current centroid and re-center each
    cluster on its members' elementwise mean in _PQ_LLOYD_Q fixed-point
    ((s * Q) DIV n, truncating division = DuckDB //).  Empty clusters
    keep the previous centroid.  Returned centroids are in Q units.

    Shape per step: one broadcast crossJoin assignment (|N| x |C| rows,
    window bounded by |C|), one posexplode -> (centroid_id, dim) map-
    side-combinable sum.  Each intermediate centroid table (|C| rows,
    heavy subtree, two consumers: next assignment + empty-cluster
    coalesce) is persisted with an eager fill."""
    if steps is None:
        steps = _IVF_LLOYD_STEPS
    q = _PQ_LLOYD_Q
    cents = emb.where(F.col("vec_id") % _IVF_CENTROID_MOD == 1).select(
        F.col("vec_id").alias("centroid_id"),
        F.transform("qv", lambda x: x * q).alias("cv"),
    )
    # emb is persisted (and usually already counted) by every caller, so
    # the row probe for the size-adaptive loop conf is a cached count
    with _tiny_loop_conf(emb.sparkSession, emb.count()):
        for _ in range(steps):
            # eager lineage cut, not just a persist: every step's plan embeds
            # the previous step's windows/aggregations, and Catalyst re-analyzes
            # the WHOLE tree per consumer even when cached — three chained steps
            # measured ~2 s/step of pure plan work per action (the
            # connected-components lesson).  The centroid table is |C| rows.
            cents = cents.localCheckpoint(eager=True)
            assign = _ivf_lloyd_assign(emb, cents).select("vec_id", "centroid_id")
            sums = (
                emb.join(assign, "vec_id")
                .select("centroid_id", F.posexplode("qv").alias("d", "v"))
                .groupBy("centroid_id", "d")
                .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            )
            refined = (
                sums.select(
                    "centroid_id", "d", F.expr(f"(s * {q}) DIV n").alias("cvd")
                )
                .groupBy("centroid_id")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("d", "cvd"))),
                        lambda s: s["cvd"],
                    ).alias("cv_r")
                )
            )
            prev = cents.withColumnRenamed("cv", "cv_0")
            cents = prev.join(refined, "centroid_id", "left").select(
                "centroid_id", F.coalesce("cv_r", "cv_0").alias("cv")
            )
        # the LAST step's checkpoint job still runs inside the loop conf:
        # cut the final lineage here so later consumers re-analyze a
        # LogicalRDD scan instead of the full 3-step tree
        cents = cents.localCheckpoint(eager=True)
    return cents


def _ivf_lloyd_assign(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, centroid_id, d2): every vector's nearest refined
    centroid by exact squared L2 in Q^2 units (Q-scaled vector vs
    Q-unit centroid), centroid_id ascending tie-break."""
    q = _PQ_LLOYD_Q
    sqv = F.transform("qv", lambda x: x * q)
    d2 = F.aggregate(
        F.zip_with(sqv, F.col("cv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("centroid_id"))
    return (
        emb.crossJoin(F.broadcast(cents))
        .select("vec_id", "centroid_id", d2.alias("d2"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "centroid_id", "d2")
    )


def _ivf_lloyd_chain(steps: int = None) -> str:
    """DuckDB CTE chain mirroring _ivf_centroids_lloyd, appended after a
    `q` CTE (vec_id, qv).  Defines `qs` (Q-scaled vectors) and ends with
    `ck` (the refined centroid table, Q units)."""
    if steps is None:
        steps = _IVF_LLOYD_STEPS
    q = _PQ_LLOYD_Q
    sql = f""" qs AS (
    SELECT vec_id, list_transform(qv, x -> x * {q}) AS sq FROM q
  ), ck0 AS (
    SELECT vec_id AS centroid_id, list_transform(qv, x -> x * {q}) AS cv
    FROM q WHERE vec_id % {_IVF_CENTROID_MOD} = 1
  )"""
    for t in range(1, steps + 1):
        sql += f"""
  , csc{t} AS (
    SELECT s.vec_id, c.centroid_id,
           CAST(list_dot_product(s.sq, s.sq)
                - 2 * list_dot_product(s.sq, c.cv)
                + list_dot_product(c.cv, c.cv) AS BIGINT) AS d2
    FROM qs s CROSS JOIN ck{t - 1} c
  ), casg{t} AS (
    SELECT vec_id, centroid_id FROM (
      SELECT vec_id, centroid_id,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY d2 ASC, centroid_id ASC) AS rn
      FROM csc{t}
    ) WHERE rn = 1
  ), cdims{t} AS (
    SELECT a.centroid_id, i AS d, q.qv[CAST(i + 1 AS BIGINT)] AS v
    FROM q JOIN casg{t} a ON q.vec_id = a.vec_id,
         unnest(range(0, len(q.qv))) AS r(i)
  ), csums{t} AS (
    SELECT centroid_id, d, CAST(SUM(v) AS BIGINT) AS s,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM cdims{t} GROUP BY centroid_id, d
  ), cref{t} AS (
    SELECT centroid_id, list((s * {q}) // n ORDER BY d) AS cv
    FROM csums{t} GROUP BY centroid_id
  ), ck{t} AS (
    SELECT c.centroid_id, COALESCE(r.cv, c.cv) AS cv
    FROM ck{t - 1} c LEFT JOIN cref{t} r USING (centroid_id)
  )"""
    sql += f"""
  , ck AS (SELECT centroid_id, cv FROM ck{steps})"""
    return sql


def q_ann_ivf_centroids_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained coarse quantizer itself, exploded to (centroid_id,
    d, cvq) rows (Q fixed-point units) — the index-build artifact a
    production deployment persists and every ck search variant routes
    against."""
    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", _quantize(F.col("embedding")).alias("qv")
    )
    emb = emb.persist()
    emb.count()
    return _ivf_centroids_lloyd(emb).select(
        F.col("centroid_id").cast("long").alias("centroid_id"),
        F.posexplode("cv").alias("d", "cvq"),
    ).select(
        "centroid_id", F.col("d").cast("long").alias("d"), F.col("cvq").cast("long").alias("cvq")
    )


_IVF_CENTROIDS_LLOYD_SQL = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(ROUND(x * 1000) AS BIGINT)) AS qv
  FROM embeddings
),{_ivf_lloyd_chain()}
SELECT centroid_id, CAST(i AS BIGINT) AS d,
       CAST(cv[CAST(i + 1 AS BIGINT)] AS BIGINT) AS cvq
FROM ck, unnest(range(0, len(cv))) AS r(i)
"""


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus k-means rollup (the classic embedding-space corpus
    analysis): every vector assigned to its Lloyd-refined centroid,
    then per cluster its size and integer inertia — sum and truncated
    mean of the squared L2 distances de-scaled from Q^2 back to raw
    quantization units per row BEFORE summing, so the totals stay in
    BIGINT range at any corpus size (d2 <= ~4e15 per vector; de-scaled
    ~4e9, 2e9 rows away from overflow)."""
    q2 = _PQ_LLOYD_Q * _PQ_LLOYD_Q
    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", _quantize(F.col("embedding")).alias("qv")
    )
    emb = emb.persist()
    emb.count()
    cents = _ivf_centroids_lloyd(emb).persist()
    cents.count()
    assign = _ivf_lloyd_assign(emb, cents)
    return (
        assign.groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum(F.expr(f"d2 DIV {q2}")).cast("long").alias("sum_d2q"),
        )
        .select(
            F.col("centroid_id").cast("long").alias("centroid_id"),
            "n_members",
            "sum_d2q",
            F.expr("sum_d2q DIV n_members").cast("long").alias("mean_d2q"),
        )
    )


_KMEANS_CLUSTERS_SQL = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(ROUND(x * 1000) AS BIGINT)) AS qv
  FROM embeddings
),{_ivf_lloyd_chain()}, kfin AS (
  SELECT vec_id, centroid_id, d2 FROM (
    SELECT s.vec_id, ck.centroid_id,
           CAST(list_dot_product(s.sq, s.sq)
                - 2 * list_dot_product(s.sq, ck.cv)
                + list_dot_product(ck.cv, ck.cv) AS BIGINT) AS d2,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id
                              ORDER BY CAST(list_dot_product(s.sq, s.sq)
                                            - 2 * list_dot_product(s.sq, ck.cv)
                                            + list_dot_product(ck.cv, ck.cv)
                                        AS BIGINT) ASC,
                                       ck.centroid_id ASC) AS rn
    FROM qs s CROSS JOIN ck
  ) WHERE rn = 1
)
SELECT centroid_id, CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(d2 // {_PQ_LLOYD_Q * _PQ_LLOYD_Q}) AS BIGINT) AS sum_d2q,
       CAST(SUM(d2 // {_PQ_LLOYD_Q * _PQ_LLOYD_Q}) // COUNT(*) AS BIGINT)
         AS mean_d2q
FROM kfin GROUP BY centroid_id
"""


# --- cluster-balanced quota sampling ---------------------------------------------------
#
# The embedding-space complement of source_quota_sample: cap every
# k-means cluster at K vectors so a topically-skewed corpus (half the
# crawl is one template family) cannot dominate a curated sample —
# DCLM-style topic-diversity sampling, composed from the trained
# quantizer above + the per-key quota recipe (md5 rank, in-plan
# mega-key guard) the registry already proves at source granularity.

_CL_QUOTA_K = 15
_CL_QUOTA_SAFETY = 16
_CL_QUOTA_CAP = _CL_QUOTA_SAFETY * _CL_QUOTA_K


def _cluster_quota_survivors(
    assign: DataFrame, counts: DataFrame, cap: int = _CL_QUOTA_CAP
) -> DataFrame:
    """Rows admitted to the per-cluster ranking window: everything from
    small clusters, an expected-``cap`` md5-prefix slice of mega
    clusters — the window never sorts more than ~16x the quota per key
    regardless of how degenerate the clustering is."""
    from ._hexing import _md5_prefix_val

    pref = assign.join(F.broadcast(counts), "centroid_id")
    p = _md5_prefix_val(F.col("vec_id"))
    return pref.where(
        (F.col("_cl_n") <= cap) | (p * F.col("_cl_n") < F.lit(cap * 65536))
    ).select("vec_id", "centroid_id")


def cluster_quota_sample(
    emb: DataFrame, quota: int = _CL_QUOTA_K
) -> DataFrame:
    """(vec_id, centroid_id, sample_rank) over a quantized (vec_id, qv)
    frame: at most ``quota`` vectors per trained-k-means cluster,
    ranked by the content-independent md5 of the vec_id (reproducible,
    no rand()); exact-result-preserving guard as in
    source_quota_sample (md5 rank order is prefix-major).  Caller
    persists+fills ``emb`` (three consumers: seeds, Lloyd, assign)."""
    cents = _ivf_centroids_lloyd(emb).persist()
    cents.count()
    assign = (
        _ivf_lloyd_assign(emb, cents)
        .select("vec_id", "centroid_id")
        .persist()  # two consumers: counts + the survivors join
    )
    assign.count()
    counts = assign.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("_cl_n")
    )
    survivors = _cluster_quota_survivors(
        assign, counts, cap=_CL_QUOTA_SAFETY * quota
    )
    w = Window.partitionBy("centroid_id").orderBy(
        F.md5(F.col("vec_id").cast("string")), F.col("vec_id")
    )
    return (
        survivors.select(
            "vec_id",
            F.col("centroid_id").cast("long").alias("centroid_id"),
            F.row_number().over(w).cast("long").alias("sample_rank"),
        )
        .where(F.col("sample_rank") <= quota)
    )


def q_cluster_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", _quantize(F.col("embedding")).alias("qv")
    )
    emb = emb.persist()
    emb.count()
    return cluster_quota_sample(emb)


def _cluster_quota_sql() -> str:
    from ._hexing import _md5_prefix_sql

    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(ROUND(x * 1000) AS BIGINT)) AS qv
  FROM embeddings
),{_ivf_lloyd_chain()}, kassign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT s.vec_id, ck.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id
                              ORDER BY CAST(list_dot_product(s.sq, s.sq)
                                            - 2 * list_dot_product(s.sq, ck.cv)
                                            + list_dot_product(ck.cv, ck.cv)
                                        AS BIGINT) ASC,
                                       ck.centroid_id ASC) AS rn
    FROM qs s CROSS JOIN ck
  ) WHERE rn = 1
), kcounts AS (
  SELECT centroid_id, COUNT(*) AS cl_n FROM kassign GROUP BY centroid_id
), hashed AS (
  SELECT a.vec_id, a.centroid_id, c.cl_n,
         md5(CAST(a.vec_id AS VARCHAR)) AS h
  FROM kassign a JOIN kcounts c USING (centroid_id)
), survivors AS (
  SELECT vec_id, centroid_id, h FROM hashed
  WHERE cl_n <= {_CL_QUOTA_CAP}
     OR {_md5_prefix_sql('h')} * cl_n < {_CL_QUOTA_CAP * 65536}
)
SELECT vec_id, centroid_id, sample_rank FROM (
  SELECT vec_id, CAST(centroid_id AS BIGINT) AS centroid_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY centroid_id
                                 ORDER BY h, vec_id) AS BIGINT)
           AS sample_rank
  FROM survivors
) WHERE sample_rank <= {_CL_QUOTA_K}
"""


def q_ann_ivfpq_rerank_ck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ + exact rerank under the TRAINED coarse quantizer: the
    ann_ivfpq_rerank read path with routing swapped from seed+max-dot
    to Lloyd-refined centroids + min-L2 — the recall win the rerank
    tier proved was routing-bound (in-list ceiling 0.20 -> 0.33 at
    sf0.1 nprobe=2; recall strictly above ann_ivfpq_rerank is pinned
    by tests/test_pq.py)."""
    return _ivfpq_search(
        spark, sf_dir, lloyd=True, nprobe=2, rerank=_RERANK_R, ck=True
    )


# --- per-label embedding statistics (drift / cluster monitoring) ---------------------------
#
# The embeddings table's `label` column (untouched until now) is the
# grouping key a production table would carry (model version, crawl
# snapshot, source cluster).  Per label: exact integer centroid
# (elementwise truncating mean of the quantized vectors — safe at any
# n, unlike a Q-scaled mean whose squared residuals overflow), mean
# squared norm, and mean squared distance to the centroid — the
# monitoring triple that catches embedding drift between snapshots
# (centroid moved) and collapse (dispersion shrank).
#
# Shape: one posexplode -> (label, dim) sum for the centroid (the Lloyd
# sums pattern), then one broadcast join back for the residuals —
# two passes over the table, all map-side-combinable aggregates.


def embedding_label_stats(emb_raw: DataFrame) -> DataFrame:
    """(label, n_vectors, mean_sq_norm, centroid_m, msd) over the
    quantized embeddings; centroid_m is the elementwise integer mean
    (milli units, same as the quantization), msd the mean squared
    distance to it (truncating integer division, mirrored)."""
    emb = emb_raw.select(
        "label", _quantize(F.col("embedding")).alias("qv")
    ).persist()
    emb.count()  # two passes below
    sums = (
        emb.select("label", F.posexplode("qv").alias("d", "v"))
        .groupBy("label", "d")
        .agg(F.sum("v").alias("s"))
    )
    n_per = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_vectors"))
    centroid = (
        sums.join(F.broadcast(n_per), "label")
        .select("label", "d", F.expr("s DIV n_vectors").alias("cv"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "cv"))),
                lambda s: s["cv"],
            ).alias("centroid_m")
        )
    )
    sq = F.aggregate(
        F.zip_with("qv", "centroid_m", lambda x, c: (x - c) * (x - c)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    norm = F.aggregate(
        F.transform("qv", lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    resid = (
        emb.join(F.broadcast(centroid), "label")
        .select("label", sq.alias("sq"), norm.alias("nrm"))
        .groupBy("label")
        .agg(F.sum("sq").alias("s_sq"), F.sum("nrm").alias("s_nrm"))
    )
    return (
        resid.join(F.broadcast(n_per), "label")
        .join(F.broadcast(centroid), "label")
        .select(
            F.col("label").cast("long").alias("label"),
            F.col("n_vectors").cast("long").alias("n_vectors"),
            F.expr("s_nrm DIV n_vectors").cast("long").alias("mean_sq_norm"),
            "centroid_m",
            F.expr("s_sq DIV n_vectors").cast("long").alias("msd"),
        )
    )


def q_embedding_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_label_stats(_read(spark, sf_dir, "embeddings"))


_EMB_LABEL_STATS_SQL = """
WITH q AS (
  SELECT CAST(label AS BIGINT) AS label,
         list_transform(embedding, x -> CAST(ROUND(x * 1000) AS BIGINT)) AS qv
  FROM embeddings
), n AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors FROM q GROUP BY label
), dims AS (
  SELECT label, i AS d, qv[CAST(i + 1 AS BIGINT)] AS v
  FROM q, unnest(range(0, len(qv))) AS r(i)
), sums AS (
  SELECT label, d, CAST(SUM(v) AS BIGINT) AS s FROM dims GROUP BY label, d
), centroid AS (
  SELECT s.label, list(s.s // n.n_vectors ORDER BY s.d) AS centroid_m
  FROM sums s JOIN n ON s.label = n.label
  GROUP BY s.label
), resid AS (
  SELECT q.label,
         CAST(SUM(CAST(list_dot_product(q.qv, q.qv) AS BIGINT)
                  - 2 * CAST(list_dot_product(q.qv, c.centroid_m) AS BIGINT)
                  + CAST(list_dot_product(c.centroid_m, c.centroid_m)
                         AS BIGINT)) AS BIGINT) AS s_sq,
         CAST(SUM(CAST(list_dot_product(q.qv, q.qv) AS BIGINT)) AS BIGINT)
           AS s_nrm
  FROM q JOIN centroid c ON q.label = c.label
  GROUP BY q.label
)
SELECT n.label, n.n_vectors,
       CAST(r.s_nrm // n.n_vectors AS BIGINT) AS mean_sq_norm,
       c.centroid_m,
       CAST(r.s_sq // n.n_vectors AS BIGINT) AS msd
FROM n JOIN resid r ON n.label = r.label JOIN centroid c ON n.label = c.label
"""


# --- BPE-ish regex pre-tokenizer stats ---------------------------------------------------

# GPT-2-style pretokenizer classes, restricted to the ASCII subset where
# Java regex (Spark), RE2 (DuckDB) and Python re agree exactly: letter
# runs, digit runs, non-alphanumeric-non-space runs.
_BPE_WORD = "[A-Za-z]+"
_BPE_NUM = "[0-9]+"
_BPE_PUNCT = r"[^A-Za-z0-9\s]+"


def q_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pre-tokenization counts (the token-budget estimator of a
    training-data pipeline): per-doc counts of letter runs, digit runs
    and punctuation runs, plus their total — all JVM-side regex, no
    UDF."""
    docs = _read(spark, sf_dir, "documents")
    counts = [
        F.size(F.regexp_extract_all("text", F.lit(p), 0)).cast("long")
        for p in (_BPE_WORD, _BPE_NUM, _BPE_PUNCT)
    ]
    return docs.select(
        "doc_id",
        counts[0].alias("n_word_runs"),
        counts[1].alias("n_digit_runs"),
        counts[2].alias("n_punct_runs"),
        (counts[0] + counts[1] + counts[2]).alias("n_pretokens"),
    )


_BPE_SQL = f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{_BPE_WORD}')) AS n_word_runs,
       len(regexp_extract_all(text, '{_BPE_NUM}')) AS n_digit_runs,
       len(regexp_extract_all(text, '{_BPE_PUNCT}')) AS n_punct_runs,
       len(regexp_extract_all(text, '{_BPE_WORD}'))
         + len(regexp_extract_all(text, '{_BPE_NUM}'))
         + len(regexp_extract_all(text, '{_BPE_PUNCT}')) AS n_pretokens
FROM documents
"""


# --- SimHash near-dup signature ----------------------------------------------------

_SIMHASH_BITS = 16


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash over whitespace tokens: bit i is the majority vote of
    the low bit of hex digit i of md5(token).  Near-duplicate docs differ
    in O(1) bits; exact duplicates agree exactly.

    Shape (round 4): tokens EXPLODE to rows and the 16 bit votes are 16
    sum() aggregates in ONE codegen'd hash aggregation with map-side
    combine — the shuffle carries 16 longs per doc, aggregation memory
    is constant per doc regardless of length, and the whole vote loop
    runs in generated JVM code (the previous form held an md5-per-token
    array per ROW and ran 16 interpreted fold scans over it: ~10 MB of
    transient array per 1 MB doc and 5x the CPU — the same hazard class
    the round-3 minhash rewrite removed).  Empty/whitespace-only docs
    keep an all-'0' signature via the left join."""
    docs = _read(spark, sf_dir, "documents")
    base = docs.select("doc_id")
    tokens = F.when(F.length(F.trim(F.col("text"))) == 0, F.array()).otherwise(
        F.split(F.trim(F.col("text")), r"\s+")
    )
    tok_rows = docs.select("doc_id", F.explode(tokens).alias("t")).select(
        "doc_id", F.md5("t").alias("h")
    )
    votes = tok_rows.groupBy("doc_id").agg(
        *[
            F.sum((_hex_val(F.substring("h", i + 1, 1)) % 2) * 2 - 1).alias(
                f"_v{i}"
            )
            for i in range(_SIMHASH_BITS)
        ]
    )
    bits = [
        F.when(F.col(f"_v{i}") > 0, F.lit("1")).otherwise(F.lit("0"))
        for i in range(_SIMHASH_BITS)
    ]
    return base.join(votes, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.concat(*bits), F.lit("0" * _SIMHASH_BITS)).alias("simhash"),
    )


def _simhash_sql() -> str:
    bit_exprs = []
    for i in range(_SIMHASH_BITS):
        bit_exprs.append(
            "CASE WHEN list_sum(list_transform(hs, h -> "
            f"((instr('{_HEX}', substring(h, {i + 1}, 1)) - 1) % 2) * 2 - 1"
            ")) > 0 THEN '1' ELSE '0' END"
        )
    bits = " || ".join(bit_exprs)
    return f"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN LENGTH(TRIM(text)) = 0 THEN []
              ELSE list_transform(regexp_split_to_array(TRIM(text), '\\s+'),
                                  t -> md5(t)) END AS hs
  FROM documents
)
SELECT doc_id, {bits} AS simhash FROM toks
"""


# --- language ID + quality gate ------------------------------------------------------

_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "as"],
    "de": ["der", "die", "und", "das", "nicht", "von", "mit", "ist", "den", "ein"],
    "fr": ["le", "la", "les", "et", "des", "un", "une", "est", "pour", "que"],
}


def language_quality(docs: DataFrame) -> DataFrame:
    """Stopword-vote language ID (en/de/fr/unknown) + integer-threshold
    quality gate — the standard first filters of a training-data pipeline,
    entirely JVM-side.  DataFrame-level form, shared by the driver query
    and jobs/curate.py."""
    tokens = F.when(F.length(F.trim(F.col("text"))) == 0, F.array()).otherwise(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    )
    docs = docs.select("doc_id", tokens.alias("toks"))
    hits = {}
    for lang, words in _STOPWORDS.items():
        bank = F.array(*[F.lit(w) for w in words])
        hits[lang] = F.size(F.filter(F.col("toks"), lambda t: F.array_contains(bank, t)))
    en, de, fr = hits["en"], hits["de"], hits["fr"]
    lang = (
        F.when((en > de) & (en > fr), F.lit("en"))
        .when((de > en) & (de > fr), F.lit("de"))
        .when((fr > en) & (fr > de), F.lit("fr"))
        .otherwise(F.lit("unknown"))
    )
    n_tokens = F.size("toks")
    max_len = F.coalesce(
        F.array_max(F.transform(F.col("toks"), lambda t: F.length(t))), F.lit(0)
    )
    quality = (
        (n_tokens >= 5)
        & (max_len < 50)
        & ((en + de + fr) * 20 >= n_tokens)  # >=5% stopwords, integer math
    )
    return docs.select(
        "doc_id",
        lang.alias("lang_guess"),
        en.cast("long").alias("sw_en"),
        de.cast("long").alias("sw_de"),
        fr.cast("long").alias("sw_fr"),
        n_tokens.cast("long").alias("n_tokens"),
        quality.cast("boolean").alias("is_quality"),
    )


def q_language_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return language_quality(_read(spark, sf_dir, "documents"))


# --- paragraph-level language segmentation ---------------------------------------------------
#
# Doc-level language ID mislabels MIXED documents (quoted sources,
# boilerplate in another language, code-switching forums) — the
# standard fix is to segment and vote per paragraph, then profile the
# mixture per document.  Same stopword banks as language_quality, all
# JVM-side; adjacency (switch counting) is a bounded self-join on
# (doc_id, pos+1) — per-doc paragraph counts are length-linear, and the
# join mirrors 1:1 into the oracle (no list-zip asymmetry between
# engines).


def paragraph_lang_profile(docs: DataFrame) -> DataFrame:
    """(doc_id, n_paragraphs, dominant_lang, n_lang_switches, is_mixed):
    per-doc language-mixture profile from per-paragraph stopword votes.
    is_mixed = more than one distinct DECIDED (non-unknown) language."""
    paras = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), r"\n{2,}")).alias("pos", "para"),
    ).where(F.length(F.trim(F.col("para"))) > 0)
    toks = F.split(F.lower(F.trim(F.col("para"))), r"\s+")
    hits = {}
    for lang_name, words in _STOPWORDS.items():
        bank = F.array(*[F.lit(w) for w in words])
        hits[lang_name] = F.size(
            F.filter(toks, lambda t: F.array_contains(bank, t))
        )
    en, de, fr = hits["en"], hits["de"], hits["fr"]
    lang = (
        F.when((en > de) & (en > fr), F.lit("en"))
        .when((de > en) & (de > fr), F.lit("de"))
        .when((fr > en) & (fr > de), F.lit("fr"))
        .otherwise(F.lit("unknown"))
    )
    voted = paras.select("doc_id", "pos", lang.alias("lang")).persist()
    voted.count()  # three consumers: counts, mode, adjacency join

    counts = voted.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_paragraphs"),
        F.count_distinct(
            F.when(F.col("lang") != "unknown", F.col("lang"))
        ).alias("n_langs"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("c"), F.asc("lang")
    )  # bounded: <= 4 rows per doc (the lang domain)
    dominant = (
        voted.groupBy("doc_id", "lang")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("lang").alias("dominant_lang"))
    )
    nxt = voted.select(
        "doc_id", (F.col("pos") - 1).alias("pos"), F.col("lang").alias("lang2")
    )
    switches = (
        voted.join(nxt, ["doc_id", "pos"])
        .groupBy("doc_id")
        .agg(
            F.sum((F.col("lang") != F.col("lang2")).cast("long")).alias(
                "n_lang_switches"
            )
        )
    )
    return (
        docs.select("doc_id")
        .join(counts, "doc_id", "left")
        .join(dominant, "doc_id", "left")
        .join(switches, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_paragraphs", F.lit(0)).cast("long").alias(
                "n_paragraphs"
            ),
            F.coalesce("dominant_lang", F.lit("unknown")).alias(
                "dominant_lang"
            ),
            F.coalesce("n_lang_switches", F.lit(0)).cast("long").alias(
                "n_lang_switches"
            ),
            (F.coalesce("n_langs", F.lit(0)) > 1).cast("long").alias(
                "is_mixed"
            ),
        )
    )


def q_paragraph_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return paragraph_lang_profile(_read(spark, sf_dir, "documents"))


def _paragraph_lang_sql() -> str:
    banks = {k: repr(v) for k, v in _STOPWORDS.items()}
    return f"""
WITH split0 AS (
  SELECT doc_id, regexp_split_to_array(text, '\\n{{2,}}') AS arr
  FROM documents
), paras0 AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos, arr[CAST(i + 1 AS BIGINT)] AS para
  FROM split0, unnest(range(0, len(arr))) AS r(i)
), paras AS (
  SELECT doc_id, pos, para FROM paras0
  WHERE LENGTH(TRIM(para)) > 0
), voted AS (
  SELECT doc_id, pos,
         CASE WHEN sw_en > sw_de AND sw_en > sw_fr THEN 'en'
              WHEN sw_de > sw_en AND sw_de > sw_fr THEN 'de'
              WHEN sw_fr > sw_en AND sw_fr > sw_de THEN 'fr'
              ELSE 'unknown' END AS lang
  FROM (
    SELECT doc_id, pos,
      len(list_filter(t, x -> list_contains({banks['en']}, x))) AS sw_en,
      len(list_filter(t, x -> list_contains({banks['de']}, x))) AS sw_de,
      len(list_filter(t, x -> list_contains({banks['fr']}, x))) AS sw_fr
    FROM (SELECT doc_id, pos,
                 regexp_split_to_array(lower(TRIM(para)), '\\s+') AS t
          FROM paras)
  )
), counts AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_paragraphs,
         CAST(COUNT(DISTINCT CASE WHEN lang != 'unknown' THEN lang END)
              AS BIGINT) AS n_langs
  FROM voted GROUP BY doc_id
), dominant AS (
  SELECT doc_id, lang AS dominant_lang FROM (
    SELECT doc_id, lang,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY COUNT(*) DESC, lang ASC) AS rn
    FROM voted GROUP BY doc_id, lang
  ) WHERE rn = 1
), switches AS (
  SELECT a.doc_id,
         CAST(SUM(CASE WHEN a.lang != b.lang THEN 1 ELSE 0 END) AS BIGINT)
           AS n_lang_switches
  FROM voted a JOIN voted b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  GROUP BY a.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(c.n_paragraphs, 0) AS BIGINT) AS n_paragraphs,
       COALESCE(m.dominant_lang, 'unknown') AS dominant_lang,
       CAST(COALESCE(s.n_lang_switches, 0) AS BIGINT) AS n_lang_switches,
       CAST(COALESCE(c.n_langs, 0) > 1 AS BIGINT) AS is_mixed
FROM documents d
LEFT JOIN counts c USING (doc_id)
LEFT JOIN dominant m USING (doc_id)
LEFT JOIN switches s USING (doc_id)
"""


# --- language SEGMENTATION (gaps-and-islands over the paragraph votes) ---------------
#
# paragraph_lang_profile tells you a document is mixed; segmentation is
# what a pipeline DOES about it (CCNet splits crawled docs by language
# before per-language LM filtering).  A segment is a maximal run of
# CONSECUTIVE decided-or-not paragraphs sharing a vote — adjacency is
# rank order among NON-EMPTY paragraphs (blank lines never split a
# segment).  Shape: one posexplode, lag + running sum over the same
# per-doc window (one shuffle; per-key width = paragraphs per doc,
# length-linear like every per-doc window in the registry), one hash
# aggregate.  The split variant re-joins each segment's paragraphs into
# a payload row — the curate-style rewrite at segment granularity.


def _voted_paras(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, para, lang): non-empty paragraphs with their
    stopword-vote language — the shared front half of the segmentation
    family (same banks and vote rule as paragraph_lang_profile)."""
    paras = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), r"\n{2,}")).alias("pos", "para"),
    ).where(F.length(F.trim(F.col("para"))) > 0)
    toks = F.split(F.lower(F.trim(F.col("para"))), r"\s+")
    hits = {}
    for lang_name, words in _STOPWORDS.items():
        bank = F.array(*[F.lit(w) for w in words])
        hits[lang_name] = F.size(
            F.filter(toks, lambda t: F.array_contains(bank, t))
        )
    en, de, fr = hits["en"], hits["de"], hits["fr"]
    lang = (
        F.when((en > de) & (en > fr), F.lit("en"))
        .when((de > en) & (de > fr), F.lit("de"))
        .when((fr > en) & (fr > de), F.lit("fr"))
        .otherwise(F.lit("unknown"))
    )
    return paras.select("doc_id", "pos", "para", lang.alias("lang"))


def _segmented_paras(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, para, lang, seg_id): every non-empty paragraph with
    its 0-based language-segment id (gaps-and-islands: a segment starts
    where the vote differs from the previous non-empty paragraph's)."""
    wo = Window.partitionBy("doc_id").orderBy("pos")
    prev = F.lag("lang").over(wo)
    is_start = (prev.isNull() | (F.col("lang") != prev)).cast("long")
    wrun = wo.rowsBetween(Window.unboundedPreceding, 0)
    return (
        _voted_paras(docs)
        .withColumn("is_start", is_start)
        .withColumn("seg_id", F.sum("is_start").over(wrun) - 1)
        .drop("is_start")
    )


def lang_segments(docs: DataFrame) -> DataFrame:
    """(doc_id, seg_id, lang, para_start, n_paras, n_chars): the
    language-segment table of the corpus — one row per maximal
    same-vote paragraph run."""
    return (
        _segmented_paras(docs)
        .groupBy("doc_id", "seg_id")
        .agg(
            F.min("lang").alias("lang"),  # constant within a segment
            F.min("pos").cast("long").alias("para_start"),
            F.count(F.lit(1)).cast("long").alias("n_paras"),
            F.sum(F.length("para").cast("long")).alias("n_chars"),
        )
        .select(
            "doc_id",
            F.col("seg_id").cast("long").alias("seg_id"),
            "lang",
            "para_start",
            "n_paras",
            "n_chars",
        )
    )


def q_lang_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_segments(_read(spark, sf_dir, "documents"))


def split_lang_segments(docs: DataFrame) -> DataFrame:
    """(doc_id, seg_id, lang, text, n_chars): the CCNet-style rewrite —
    each language segment becomes its own payload row, paragraphs
    re-joined with a normalized blank line.  Documents with no
    non-empty paragraph vanish (nothing to keep)."""
    return (
        _segmented_paras(docs)
        .groupBy("doc_id", "seg_id")
        .agg(
            F.min("lang").alias("lang"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "para"))),
                    lambda s: s["para"],
                ),
                "\n\n",
            ).alias("text"),
        )
        .select(
            "doc_id",
            F.col("seg_id").cast("long").alias("seg_id"),
            "lang",
            "text",
            F.length("text").cast("long").alias("n_chars"),
        )
    )


def q_lang_segment_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    return split_lang_segments(_read(spark, sf_dir, "documents"))


def _lang_seg_ctes() -> str:
    """Shared oracle CTE chain ending in `segd` (doc_id, pos, para,
    lang, seg_id) — mirrors _segmented_paras."""
    banks = {k: repr(v) for k, v in _STOPWORDS.items()}
    return f"""
WITH split0 AS (
  SELECT doc_id, regexp_split_to_array(text, '\\n{{2,}}') AS arr
  FROM documents
), paras0 AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos, arr[CAST(i + 1 AS BIGINT)] AS para
  FROM split0, unnest(range(0, len(arr))) AS r(i)
), paras AS (
  SELECT doc_id, pos, para FROM paras0
  WHERE LENGTH(TRIM(para)) > 0
), voted AS (
  SELECT doc_id, pos, para,
         CASE WHEN sw_en > sw_de AND sw_en > sw_fr THEN 'en'
              WHEN sw_de > sw_en AND sw_de > sw_fr THEN 'de'
              WHEN sw_fr > sw_en AND sw_fr > sw_de THEN 'fr'
              ELSE 'unknown' END AS lang
  FROM (
    SELECT doc_id, pos, para,
      len(list_filter(t, x -> list_contains({banks['en']}, x))) AS sw_en,
      len(list_filter(t, x -> list_contains({banks['de']}, x))) AS sw_de,
      len(list_filter(t, x -> list_contains({banks['fr']}, x))) AS sw_fr
    FROM (SELECT doc_id, pos, para,
                 regexp_split_to_array(lower(TRIM(para)), '\\s+') AS t
          FROM paras)
  )
), marked AS (
  SELECT doc_id, pos, para, lang,
         CASE WHEN LAG(lang) OVER (PARTITION BY doc_id ORDER BY pos)
                   IS DISTINCT FROM lang
              THEN 1 ELSE 0 END AS is_start
  FROM voted
), segd AS (
  SELECT doc_id, pos, para, lang,
         CAST(SUM(is_start) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) - 1
           AS seg_id
  FROM marked
)"""


_LANG_SEGMENTS_SQL = f"""{_lang_seg_ctes()}
SELECT doc_id, seg_id, MIN(lang) AS lang,
       CAST(MIN(pos) AS BIGINT) AS para_start,
       CAST(COUNT(*) AS BIGINT) AS n_paras,
       CAST(SUM(LENGTH(para)) AS BIGINT) AS n_chars
FROM segd GROUP BY doc_id, seg_id
"""

_LANG_SEGMENT_SPLIT_SQL = f"""{_lang_seg_ctes()}
SELECT doc_id, seg_id, lang, text,
       CAST(LENGTH(text) AS BIGINT) AS n_chars
FROM (
  SELECT doc_id, seg_id, MIN(lang) AS lang,
         string_agg(para, chr(10) || chr(10) ORDER BY pos) AS text
  FROM segd GROUP BY doc_id, seg_id
)
"""


def _language_quality_sql() -> str:
    banks = {k: repr(v) for k, v in _STOPWORDS.items()}
    return f"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN LENGTH(TRIM(text)) = 0 THEN []
              ELSE regexp_split_to_array(lower(TRIM(text)), '\\s+') END AS t
  FROM documents
), hits AS (
  SELECT doc_id, t,
         len(list_filter(t, x -> list_contains({banks['en']}, x))) AS sw_en,
         len(list_filter(t, x -> list_contains({banks['de']}, x))) AS sw_de,
         len(list_filter(t, x -> list_contains({banks['fr']}, x))) AS sw_fr
  FROM toks
)
SELECT doc_id,
  CASE WHEN sw_en > sw_de AND sw_en > sw_fr THEN 'en'
       WHEN sw_de > sw_en AND sw_de > sw_fr THEN 'de'
       WHEN sw_fr > sw_en AND sw_fr > sw_de THEN 'fr'
       ELSE 'unknown' END AS lang_guess,
  sw_en, sw_de, sw_fr,
  len(t) AS n_tokens,
  (len(t) >= 5 AND COALESCE(list_max(list_transform(t, x -> LENGTH(x))), 0) < 50
   AND (sw_en + sw_de + sw_fr) * 20 >= len(t)) AS is_quality
FROM hits
"""


# --- event sessionization (window/analytic coverage) -----------------------------------

_SESSION_GAP_MIN = 30
# mega-user guard: per-user time ordering is inherently one task per key,
# so a bot emitting 10^10 events would serialize a 10^12-event run onto
# one straggler.  Users above this count are EXCLUDED (a 100k-event user
# against a 30-min session gap is nonstop machine traffic, not a session
# stream); the cap is part of the query definition, mirrored in the
# oracle, like _MAX_BUCKET.  At the test SFs no user approaches it.
_MAX_USER_EVENTS = 100_000


def _bounded_users(events: DataFrame) -> DataFrame:
    """Events of users with <= _MAX_USER_EVENTS rows: one map-side-
    combined count per user, then a co-partitioned left-semi join (same
    user_id key the downstream window shuffles on — AQE picks broadcast
    only if the survivor set is small; user cardinality at corpus scale
    is billions, so no forced broadcast here, unlike the source-quota
    guard where sources are few)."""
    ok = (
        events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("_u_n"))
        .where(F.col("_u_n") <= _MAX_USER_EVENTS)
        .select("user_id")
    )
    return events.join(ok, "user_id", "left_semi")


# --- next-event transition counts (behavioral Markov surface) -------------------------------
#
# The sequence-analytics staple between sessionize (where do sessions
# break) and event_funnel (does a FIXED pattern complete): the full
# first-order transition matrix — for every ordered (event_type ->
# next event_type) pair, how often does it occur within a user's
# stream?  Feeds next-action models, funnel discovery, bot detection
# (humans have ragged transition rows; replayed bots have degenerate
# ones).  Shape: one lag window per user (bounded by the same
# _MAX_USER_EVENTS in-plan guard sessionize uses) and a
# map-side-combinable pair count — no self-joins, no per-pair state.


def event_transitions(events: DataFrame) -> DataFrame:
    """(event_a, event_b, n_transitions, n_users): counts of adjacent
    event-type pairs within a user's (ts, event_id)-ordered stream,
    plus how many distinct users exhibit each transition."""
    bounded = _bounded_users(events)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        bounded.select(
            "user_id",
            F.lag("event_type").over(w).alias("event_a"),
            F.col("event_type").alias("event_b"),
        )
        .where(F.col("event_a").isNotNull())
    )
    return pairs.groupBy("event_a", "event_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_transitions"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
    )


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return event_transitions(_read(spark, sf_dir, "events"))


_EVENT_TRANSITIONS_SQL = f"""
WITH bounded AS (
  SELECT * FROM events
  WHERE user_id IN (SELECT user_id FROM events
                    GROUP BY user_id HAVING COUNT(*) <= {_MAX_USER_EVENTS})
), pairs AS (
  SELECT user_id,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS event_a,
         event_type AS event_b
  FROM bounded
)
SELECT event_a, event_b,
       CAST(COUNT(*) AS BIGINT) AS n_transitions,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM pairs WHERE event_a IS NOT NULL
GROUP BY event_a, event_b
"""


# --- inter-event gap histogram (session-gap calibration) ------------------------------
#
# The committed data answer to "why a 30-minute session gap?" — the
# lsh_calibration move applied to sessionize: a floor-log2(seconds)
# histogram of every adjacent within-user gap, with a cumulative
# per-mille column, so the session threshold is read off the bucket
# where cum_mille plateaus instead of taken on faith.  Same bounded
# per-user lag window as sessionize/transitions; the follow-up windows
# run over the ~40 value-domain bucket rows (bounded at any scale).
# Only gap DIFFERENCES are used, so the ltz-cast epoch base cancels
# (the sessionize recipe; session tz additionally pinned UTC).


def event_gap_histogram(events: DataFrame) -> DataFrame:
    """(gap_bucket, n_gaps, n_users, min_gap_s, max_gap_s, cum_mille):
    adjacent within-user event gaps bucketed by floor(log2(gap_s + 1))
    — LENGTH(BIN(n))-1, exact for integers — plus the running share of
    gaps at-or-below each bucket in integer per-mille."""
    bounded = _bounded_users(events)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # events.ts carries sub-second parts: a per-event truncated-seconds
    # difference is off by ±1 vs the exact gap, so the canonical gap is
    # the EXACT microsecond difference floor-divided to seconds —
    # identical in Spark, DuckDB (epoch_us) and Python (timedelta).
    epoch_us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    gaps = (
        bounded.select(
            "user_id", (epoch_us - F.lag(epoch_us).over(w)).alias("gap_us")
        )
        .where(F.col("gap_us").isNotNull())
        .select("user_id", F.expr("CAST(gap_us DIV 1000000 AS BIGINT)").alias("gap_s"))
    )
    hist = gaps.groupBy(
        (F.length(F.bin(F.col("gap_s") + 1)) - 1).cast("int").alias("gap_bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
        F.min("gap_s").cast("long").alias("min_gap_s"),
        F.max("gap_s").cast("long").alias("max_gap_s"),
    )
    w_cum = Window.orderBy("gap_bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_tot = Window.partitionBy()
    return (
        hist.withColumn("_cum", F.sum("n_gaps").over(w_cum))
        .withColumn("_tot", F.sum("n_gaps").over(w_tot))
        .withColumn(
            "cum_mille", F.expr("CAST((_cum * 1000) DIV _tot AS BIGINT)")
        )
        .drop("_cum", "_tot")
    )


def q_event_gap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return event_gap_histogram(_read(spark, sf_dir, "events"))


_EVENT_GAP_HIST_SQL = f"""
WITH bounded AS (
  SELECT * FROM events
  WHERE user_id IN (SELECT user_id FROM events
                    GROUP BY user_id HAVING COUNT(*) <= {_MAX_USER_EVENTS})
), gaps_us AS (
  SELECT user_id,
         epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id)) AS gap_us
  FROM bounded
), gaps AS (
  SELECT user_id, CAST(gap_us // 1000000 AS BIGINT) AS gap_s
  FROM gaps_us WHERE gap_us IS NOT NULL
), hist AS (
  SELECT CAST(LENGTH(bin(gap_s + 1)) - 1 AS INT) AS gap_bucket,
         CAST(COUNT(*) AS BIGINT) AS n_gaps,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
         CAST(MIN(gap_s) AS BIGINT) AS min_gap_s,
         CAST(MAX(gap_s) AS BIGINT) AS max_gap_s
  FROM gaps WHERE gap_s IS NOT NULL
  GROUP BY 1
)
SELECT gap_bucket, n_gaps, n_users, min_gap_s, max_gap_s,
       CAST(CAST(SUM(n_gaps) OVER (ORDER BY gap_bucket
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) * 1000
            // CAST(SUM(n_gaps) OVER () AS BIGINT) AS BIGINT) AS cum_mille
FROM hist
"""



# --- point-in-interval (range) join, bucketized --------------------------------------
#
# The classic Spark scale trap: a naive `points JOIN intervals ON ts
# BETWEEN lo AND hi` has no equi-key, so Catalyst plans a
# BroadcastNestedLoopJoin — O(|points| x |intervals|) comparisons, and
# a driver OOM the moment the interval side outgrows the broadcast
# threshold.  The standard fix is to BIN THE TIME AXIS: pick a bucket
# width >= the widest interval, explode each interval into the (at
# most two) buckets it overlaps, bucket each point once, equi-join on
# the bucket, and re-check the exact BETWEEN as a cheap post-filter.
# The join becomes a shuffled/broadcast HASH join that scales linearly
# with points and intervals.  The demo instance: "incident windows" —
# +/-30 min around the corpus's top-8 events by value — scored by how
# many events (and how much value) fall inside each window.

_IVAL_HALF_US = 1_800_000_000  # 30 min in microseconds
_IVAL_BUCKET_US = 2 * _IVAL_HALF_US  # bucket width == interval width
_IVAL_TOP = 8


def _epoch_us_ntz(c: str):
    """Exact integer epoch microseconds from the NTZ wall clock via
    integer field extraction — NEVER cast('timestamp_ltz')+unix_micros,
    which shifts by spark.sql.session.timeZone (the event_funnel
    recipe; parity with DuckDB's tz-free epoch_us must not depend on a
    UTC-default JVM)."""
    col = F.col(c)
    frac_us = F.expr(f"extract(second from {c})") * 1000000
    return (
        F.datediff(col.cast("date"), F.lit("1970-01-01")).cast("long")
        * F.lit(86_400_000_000)
        + F.hour(col).cast("long") * F.lit(3_600_000_000)
        + F.minute(col).cast("long") * F.lit(60_000_000)
        + frac_us.cast("long")
    )


def interval_event_counts(events: DataFrame) -> DataFrame:
    """(anchor_id, n_events, sum_value_mille): for each of the top-8
    events by mille-quantized value (event_id tie-break), the count and
    integer value-sum of OTHER events within +/-30 min.  Anchors with
    an empty window still appear (zero row).  Ranking uses the
    quantized value in BOTH engines — ranking doubles and quantizing
    after would let sub-mille ties order differently."""
    ev = events.select(
        "event_id",
        _epoch_us_ntz("ts").alias("us"),
        F.round(F.col("value") * 1000).cast("long").alias("vm"),
    )
    ev = ev.persist()
    ev.count()  # anchor scan + point scan
    b = _IVAL_BUCKET_US
    anchors = (
        ev.orderBy(F.desc("vm"), F.asc("event_id"))
        .limit(_IVAL_TOP)  # TakeOrderedAndProject — no global window
        .select(
            F.col("event_id").alias("anchor_id"),
            (F.col("us") - _IVAL_HALF_US).alias("lo"),
            (F.col("us") + _IVAL_HALF_US).alias("hi"),
        )
        # an interval exactly one bucket wide overlaps exactly two
        # buckets (one when lo is bucket-aligned); sequence() keeps it
        # correct for ANY width <= the bucket size
        .select(
            "anchor_id",
            "lo",
            "hi",
            F.explode(
                F.sequence(F.expr(f"lo DIV {b}"), F.expr(f"hi DIV {b}"))
            ).alias("bkt"),
        )
    )
    points = ev.select(
        F.col("event_id").alias("point_id"),
        "us",
        "vm",
        F.expr(f"us DIV {b}").alias("bkt"),
    )
    hits = (
        F.broadcast(anchors)
        .join(points, "bkt")
        .where(
            F.col("us").between(F.col("lo"), F.col("hi"))
            & (F.col("point_id") != F.col("anchor_id"))
        )
        .groupBy("anchor_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("vm").cast("long").alias("sum_value_mille"),
        )
    )
    all_anchors = anchors.select("anchor_id").distinct()
    return all_anchors.join(hits, "anchor_id", "left").select(
        "anchor_id",
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        F.coalesce("sum_value_mille", F.lit(0)).cast("long").alias(
            "sum_value_mille"
        ),
    )


def q_interval_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return interval_event_counts(_read(spark, sf_dir, "events"))


# the oracle states the SEMANTICS (a naive BETWEEN join) — the whole
# point of the Spark side is that its bucketized plan computes the same
# values without ever planning a nested-loop join
_INTERVAL_EVENT_COUNTS_SQL = f"""
WITH ev AS (
  SELECT event_id, epoch_us(ts) AS us,
         CAST(ROUND(value * 1000) AS BIGINT) AS vm
  FROM events
), anchors AS (
  SELECT event_id AS anchor_id,
         us - {_IVAL_HALF_US} AS lo, us + {_IVAL_HALF_US} AS hi
  FROM ev ORDER BY vm DESC, event_id ASC LIMIT {_IVAL_TOP}
)
SELECT a.anchor_id,
       CAST(COUNT(e.event_id) AS BIGINT) AS n_events,
       CAST(COALESCE(SUM(e.vm), 0) AS BIGINT) AS sum_value_mille
FROM anchors a LEFT JOIN ev e
  ON e.us BETWEEN a.lo AND a.hi AND e.event_id != a.anchor_id
GROUP BY a.anchor_id
"""


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: a new session starts after a >30-min gap;
    classic lag + cumulative-sum window composition, then per-session
    rollup.  At scale this is one shuffle on user_id with in-partition
    ordering; the _MAX_USER_EVENTS guard (in the plan, oracle-mirrored)
    bounds the largest per-user partition."""
    events = _bounded_users(_read(spark, sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ; only gap *differences* matter, so any fixed
    # epoch base cancels out in the subtraction
    epoch = F.col("ts").cast("timestamp_ltz").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    new_session = F.when(
        gap.isNull() | (gap > _SESSION_GAP_MIN * 60), F.lit(1)
    ).otherwise(F.lit(0))
    sessions = (
        events.withColumn("new_s", new_session)
        .withColumn("session_seq", F.sum("new_s").over(w))
    )
    return sessions.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("event_id").alias("first_event_id"),
        F.max("event_id").alias("last_event_id"),
        F.sum(F.round(F.col("value") * 1000).cast("long")).alias("value_sum_m"),
    )


_SESSIONIZE_SQL = f"""
WITH bounded AS (
  SELECT * FROM events
  WHERE user_id IN (SELECT user_id FROM events
                    GROUP BY user_id HAVING COUNT(*) <= {_MAX_USER_EVENTS})
), flagged AS (
  SELECT user_id, event_id, value, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > {_SESSION_GAP_MIN * 60}
              THEN 1 ELSE 0 END AS new_s
  FROM bounded
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, event_id, value,
         CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM flagged
)
SELECT user_id, session_seq,
       COUNT(*) AS n_events,
       MIN(event_id) AS first_event_id,
       MAX(event_id) AS last_event_id,
       CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS BIGINT) AS value_sum_m
FROM numbered GROUP BY user_id, session_seq
"""


QUERIES_EXT = {
    "ann_lsh_bucketed": q_ann_lsh_bucketed,
    "ann_ivf_search": q_ann_ivf_search,
    "bpe_token_stats": q_bpe_token_stats,
    "dedup_simhash": q_dedup_simhash,
    "language_quality": q_language_quality,
    "sessionize_events": q_sessionize_events,
}

ORACLES_EXT = {
    "ann_lsh_bucketed": _lsh_sql(),
    "ann_ivf_search": _ivf_search_sql(1),
    "bpe_token_stats": _BPE_SQL,
    "dedup_simhash": _simhash_sql(),
    "language_quality": _language_quality_sql(),
    "sessionize_events": _SESSIONIZE_SQL,
}

# Demoted from the driver registry (round-3 verdict item 1: the driver's
# correctness gate enumerates at most 50 entries, so near-twin parameter
# variants yield their slots to distinct operator families).  Still part
# of the public API; scripts/check_oracles.py and tests/test_extra_oracles.py
# keep them oracle-green.
# --- ordered event funnel (sequential-pattern matching) ----------------------------------

_FUNNEL_STAGES = ("signup", "view", "purchase")


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel signup -> view -> purchase: a user
    reaches stage k only via events at STRICTLY increasing (ts,
    event_id) positions — the sequential-pattern staple (product
    funnels, curriculum ordering, abuse chains) the event family was
    missing.

    Shape: one filtered min-aggregate per stage, each joined to the
    previous stage's first-time and re-aggregated — three aggregations
    co-partitioned on user_id (AQE reuses the exchange), ZERO windows,
    map-side combinable, so no per-user bound is needed no matter how
    hot a user is.  The (ts, event_id) struct is the deterministic
    total order (plain ts ties across engines otherwise).  Output per
    signup user: (user_id, reached 1..3, t1_us/t2_us/t3_us epoch
    MICROseconds — a seconds cast truncates in Spark but rounds in
    DuckDB — NULL beyond the reached stage)."""
    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    k = F.struct(F.col("ts").alias("ts"), F.col("event_id").alias("eid"))

    # s1 and s2 each feed TWO consumers (the next stage's join and the
    # final assembly) — no cross-branch CSE, so without a persist the
    # events scan + aggregate re-executes per consumer.  The frames are
    # one row per user, tiny; eager fill per the house rule.
    s1 = (
        ev.where(F.col("event_type") == _FUNNEL_STAGES[0])
        .groupBy("user_id")
        .agg(F.min(k).alias("k1"))
        .persist()
    )
    s1.count()
    s2 = (
        ev.where(F.col("event_type") == _FUNNEL_STAGES[1])
        .join(s1, "user_id")
        .where(k > F.col("k1"))
        .groupBy("user_id")
        .agg(F.min(k).alias("k2"))
        .persist()
    )
    s2.count()
    s3 = (
        ev.where(F.col("event_type") == _FUNNEL_STAGES[2])
        .join(s2, "user_id")
        .where(k > F.col("k2"))
        .groupBy("user_id")
        .agg(F.min(k).alias("k3"))
    )
    out = s1.join(s2, "user_id", "left").join(s3, "user_id", "left")
    reached = (
        F.lit(1)
        + F.col("k2").isNotNull().cast("int")
        + F.col("k3").isNotNull().cast("int")
    )
    def _epoch_us(c):
        # exact integer microseconds (epoch_us), NOT seconds: ts has
        # sub-second precision and a seconds cast truncates in Spark but
        # ROUNDS in DuckDB's epoch() double — measured off-by-one on
        # ~half the rows.  Derived from the NTZ wall clock with integer
        # field extraction, NEVER via cast('timestamp_ltz')+unix_micros:
        # that pair shifts by spark.sql.session.timeZone, so parity with
        # the tz-free DuckDB oracle would hold only on a UTC-default JVM.
        col = F.col(c)
        frac_us = F.expr(f"extract(second from {c})") * 1000000
        return (
            F.datediff(col.cast("date"), F.lit("1970-01-01")).cast("long")
            * F.lit(86_400_000_000)
            + F.hour(col).cast("long") * F.lit(3_600_000_000)
            + F.minute(col).cast("long") * F.lit(60_000_000)
            + frac_us.cast("long")
        )

    return out.select(
        "user_id",
        reached.cast("long").alias("reached"),
        _epoch_us("k1.ts").alias("t1_us"),
        _epoch_us("k2.ts").alias("t2_us"),
        _epoch_us("k3.ts").alias("t3_us"),
    )


def _funnel_sql() -> str:
    a, b, c = _FUNNEL_STAGES
    return f"""
WITH ev AS (
  SELECT user_id, event_type, {{'ts': ts, 'eid': event_id}} AS k, ts
  FROM events
), s1 AS (
  SELECT user_id, MIN(k) AS k1 FROM ev WHERE event_type = '{a}'
  GROUP BY user_id
), s2 AS (
  SELECT e.user_id, MIN(e.k) AS k2
  FROM ev e JOIN s1 USING (user_id)
  WHERE e.event_type = '{b}' AND e.k > s1.k1
  GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, MIN(e.k) AS k3
  FROM ev e JOIN s2 USING (user_id)
  WHERE e.event_type = '{c}' AND e.k > s2.k2
  GROUP BY e.user_id
)
SELECT s1.user_id,
       CAST(1 + (s2.user_id IS NOT NULL)::int + (s3.user_id IS NOT NULL)::int
            AS BIGINT) AS reached,
       epoch_us((s1.k1).ts) AS t1_us,
       epoch_us((s2.k2).ts) AS t2_us,
       epoch_us((s3.k3).ts) AS t3_us
FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
"""


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: users cohorted by the Monday week of
    their FIRST signup; each later week they show any activity counts
    them active at that week offset.  (cohort_day, week_offset,
    n_users) — the onboarding-health staple next to the funnel.

    Shape: ONE events pass collapsing to a per-(user, week) frame (the
    deduplication happens in that aggregate), then a tiny cohort
    min-aggregate and a co-partitioned join — zero windows, map-side
    combinable, no per-user bound needed.  Weeks are Monday-truncated
    in BOTH engines (Spark date_trunc('week') == DuckDB
    date_trunc('week')); days-since-epoch integers avoid every
    timestamp-type cast pitfall."""
    ev = _read(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    wk_days = F.unix_date(F.to_date(F.date_trunc("week", F.col("ts"))))
    # ONE pass over events: collapse to (user, week, had_signup) first —
    # the cohort and activity branches then both read this per-user-week
    # frame (persisted + eagerly filled: two consumers, no cross-branch
    # CSE), instead of each re-scanning the raw events table.
    uw = (
        ev.select(
            "user_id",
            wk_days.alias("wk"),
            (F.col("event_type") == "signup").alias("is_signup"),
        )
        .groupBy("user_id", "wk")
        .agg(F.max("is_signup").alias("had_signup"))
        .persist()
    )
    uw.count()
    cohort = (
        uw.where(F.col("had_signup"))
        .groupBy("user_id")
        .agg(F.min("wk").alias("cohort_day"))
    )
    active = (
        uw.join(cohort, "user_id")
        .where(F.col("wk") >= F.col("cohort_day"))
        .select(
            "cohort_day",
            ((F.col("wk") - F.col("cohort_day")) / 7)
            .cast("long")
            .alias("week_offset"),
        )
    )
    return active.groupBy("cohort_day", "week_offset").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )


_RETENTION_SQL = """
WITH ev AS (
  SELECT user_id, event_type,
         CAST(CAST(date_trunc('week', ts) AS DATE) - DATE '1970-01-01'
              AS BIGINT) AS wk
  FROM events
), cohort AS (
  SELECT user_id, MIN(wk) AS cohort_day FROM ev
  WHERE event_type = 'signup' GROUP BY user_id
), active AS (
  SELECT DISTINCT e.user_id, c.cohort_day,
         CAST((e.wk - c.cohort_day) / 7 AS BIGINT) AS week_offset
  FROM ev e JOIN cohort c USING (user_id)
  WHERE e.wk >= c.cohort_day
)
SELECT cohort_day, week_offset, CAST(COUNT(*) AS BIGINT) AS n_users
FROM active GROUP BY cohort_day, week_offset
"""


EXTRA_QUERIES_EXT = {
    "event_funnel": q_event_funnel,  # sequential-pattern staple, zero windows
    "retention_cohorts": q_retention_cohorts,  # weekly retention triangle
    "ann_ivf_assign": q_ann_ivf_assign,  # subsumed: the search oracle embeds it
    "ann_ivf_search_p2": q_ann_ivf_search_p2,  # parameter variant of ann_ivf_search
    "ann_topk": q_ann_topk,  # brute-force exact-recall baseline (r4: yields its
    # slot to the wave-7 ops; the ANN family keeps lsh_bucketed + ivf_search)
    "ann_pq_codes": q_ann_pq_codes,  # PQ compression (the IVF-PQ write side)
    "ann_ivfpq_search": q_ann_ivfpq_search,  # IVF route + ADC lookup-table scoring
    "ann_pq_codes_lloyd": q_ann_pq_codes_lloyd,  # one-step-Lloyd codebook
    "ann_ivfpq_search_lloyd": q_ann_ivfpq_search_lloyd,  # refined-codebook ADC
    "ann_ivfpq_search_lloyd_p2": q_ann_ivfpq_search_lloyd_p2,  # + nprobe=2
    "ann_ivfpq_rerank": q_ann_ivfpq_rerank,  # + exact-dot refine of the ADC shortlist
    "embedding_label_stats": q_embedding_label_stats,  # drift-monitoring triple
    "paragraph_lang_profile": q_paragraph_lang_profile,  # mixed-language docs
    "event_transitions": q_event_transitions,  # behavioral Markov surface
    "event_gap_histogram": q_event_gap_histogram,  # session-gap calibration
    "ann_ivf_centroids_lloyd": q_ann_ivf_centroids_lloyd,  # trained router
    "kmeans_clusters": q_kmeans_clusters,  # corpus k-means rollup
    "ann_ivfpq_rerank_ck": q_ann_ivfpq_rerank_ck,  # trained-routing read path
    "lang_segments": q_lang_segments,  # language gaps-and-islands table
    "lang_segment_split": q_lang_segment_split,  # CCNet-style segment rewrite
    "interval_event_counts": q_interval_event_counts,  # bucketized range join
    "cluster_quota_sample": q_cluster_quota_sample,  # topic-diversity quota
}

EXTRA_ORACLES_EXT = {
    "event_funnel": _funnel_sql(),
    "retention_cohorts": _RETENTION_SQL,
    "ann_ivf_assign": _IVF_SQL,
    "ann_ivf_search_p2": _ivf_search_sql(2),
    "ann_topk": _ANN_TOPK_SQL,
    "ann_pq_codes": _PQ_CODES_SQL,
    "ann_ivfpq_search": _IVFPQ_SQL,
    "ann_pq_codes_lloyd": _PQ_CODES_LLOYD_SQL,
    "ann_ivfpq_search_lloyd": _IVFPQ_LLOYD_SQL,
    "ann_ivfpq_search_lloyd_p2": _ivfpq_sql(lloyd=True, nprobe=2),
    "ann_ivfpq_rerank": _ivfpq_sql(lloyd=True, nprobe=2, rerank=_RERANK_R),
    "embedding_label_stats": _EMB_LABEL_STATS_SQL,
    "paragraph_lang_profile": _paragraph_lang_sql(),
    "event_transitions": _EVENT_TRANSITIONS_SQL,
    "event_gap_histogram": _EVENT_GAP_HIST_SQL,
    "ann_ivf_centroids_lloyd": _IVF_CENTROIDS_LLOYD_SQL,
    "kmeans_clusters": _KMEANS_CLUSTERS_SQL,
    "ann_ivfpq_rerank_ck": _ivfpq_sql(
        lloyd=True, nprobe=2, rerank=_RERANK_R, ck=True
    ),
    "lang_segments": _LANG_SEGMENTS_SQL,
    "lang_segment_split": _LANG_SEGMENT_SPLIT_SQL,
    "interval_event_counts": _INTERVAL_EVENT_COUNTS_SQL,
    "cluster_quota_sample": _cluster_quota_sql(),
}
