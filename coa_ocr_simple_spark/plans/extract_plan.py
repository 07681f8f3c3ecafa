"""End-to-end extraction plan builder (SURVEY.md §3.1 Spark lifecycle).

    read documents ──> resume anti-join ──> split by span shape
      fast: one text/html span ──> [round-robin spread when the input
            is sub-split] ──> fused extractor UDF
      wide: every other doc ──> explode spans ──> media join
            (operators/assemble.join_media) ──> groupBy(doc_id) (the one
            wide shuffle) ──> fused extractor UDF
    ──> union ──> extracted rows (+ lineage columns)

Both branches run the same UDF body: decode, assemble, classify,
sections, entities, tables — the oracle's ``core.extract_document``.
Everything before the groupBy is narrow except the optional skew-spread
repartition of media spans; Catalyst prunes the parquet scan to
(doc_id, spans) and pushes the resume anti-join below the explode.  The
fast branch is spread over all cores only when the input is smaller than
one split per core (operators/spread.py).
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.config import EMPTY_CONFIG, ModelConfig
from ..functions.udfs import make_fused_extractor_udf
from ..operators.assemble import explode_spans, join_media
from ..operators.checkpoint import resume_filter, with_lineage
from ..operators.spread import spread_width


@dataclass
class ExtractOptions:
    config: ModelConfig = EMPTY_CONFIG
    spread_partitions: int | None = None  # skew spread of media-join input
    broadcast_media: bool | None = None  # None -> AQE decides
    include_full_text: bool = False  # full_text is big; opt-in (result
    # carries out_spans already, so text is reconstructible)
    run_id: str = "run-0"
    passthrough_columns: tuple[str, ...] = ()  # input columns re-emitted
    # verbatim on every result row (constant per doc_id, e.g. a tenant
    # id) — carried through the plan, never re-joined


def build_extract_plan(
    docs: DataFrame,
    media: DataFrame | None,
    *,
    options: ExtractOptions | None = None,
    done: DataFrame | None = None,
) -> DataFrame:
    """Return the extracted-results DataFrame (unwritten; caller sinks it)."""
    options = options or ExtractOptions()

    todo = resume_filter(docs, done)

    # text AND html qualify: neither needs the media join, and the fused
    # UDF does the HTML strip itself
    is_simple = (F.size("spans") == 1) & (
        F.col("spans")[0]["kind"].isin("text", "html")
    )
    simple = todo.where(is_simple)
    # a sub-split input would run the whole fast branch as one task;
    # decided from the scan itself (todo's inputFiles would also list the
    # resume table's files)
    width = spread_width(docs)
    if width:
        simple = simple.repartition(width)
    complex_docs = todo.where(~F.coalesce(is_simple, F.lit(False)))
    fast = _fastpath_plan(simple, options)
    wide = _wide_plan(
        explode_spans(complex_docs, options.passthrough_columns), media, options
    )
    return fast.unionByName(wide)


def build_multi_tenant_plan(
    docs: DataFrame,
    media: DataFrame | None,
    *,
    tenant_configs: dict[str, ModelConfig],
    options: ExtractOptions | None = None,
    done: DataFrame | None = None,
    tenant_column: str = "tenant_id",
) -> DataFrame:
    """Per-tenant extraction in ONE job invocation (reference
    app.py:261-301 ``get_tenant_processor``: each tenant gets its own
    trained model state; an unseen tenant gets a fresh default).

    Spark shape: one subplan per tenant, each with that tenant's frozen
    config baked into its UDF, unioned at the end — the tenant filter is
    a pushed-down predicate (partition pruning when the table is
    partitioned/bucketed by tenant), and no per-row config dispatch ever
    enters the Python hot path.  Docs whose tenant has no config run
    under ``options.config`` (the reference's fresh-default behavior).
    Every result row carries its tenant in ``_tenant_id``."""
    options = options or ExtractOptions()
    plans: list[DataFrame] = []
    known = sorted(tenant_configs)
    for tenant in known:
        sub = docs.where(F.col(tenant_column) == tenant).drop(tenant_column)
        topts = replace(options, config=tenant_configs[tenant])
        plans.append(
            build_extract_plan(sub, media, options=topts, done=done).withColumn(
                "_tenant_id", F.lit(tenant)
            )
        )
    rest = docs.where(
        ~F.coalesce(F.col(tenant_column).isin(*known), F.lit(False))
    ).withColumnRenamed(tenant_column, "_tenant_id")
    # the unknown-tenant id rides through the subplan as a passthrough
    # column (round-2 verdict item 7) — no join back, one fewer Exchange
    default_branch = build_extract_plan(
        rest,
        media,
        options=replace(options, passthrough_columns=("_tenant_id",)),
        done=done,
    )
    plans.append(default_branch)
    out = plans[0]
    for p in plans[1:]:
        out = out.unionByName(p)
    return out


def _fastpath_plan(simple_docs: DataFrame, options: ExtractOptions):
    """Narrow plan for single text/html-span documents: no explode, no media
    join, no groupBy — scan partitions (spread by the caller when the
    input is sub-split) flow straight into the fused UDF.
    The raw_spans column is built JVM-side in the same shape the UDF
    expects, so the Python body is byte-identical to the wide path."""
    raw_spans = F.transform(
        F.col("spans"),
        lambda s: F.struct(
            s["offset"].alias("offset"),
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            F.lit(None).cast("array<string>").alias("pages"),
            F.lit(None).cast("array<string>").alias("ocr_pages"),
        ),
    )
    fused = make_fused_extractor_udf(options.config.to_json())
    result = simple_docs.select(
        "doc_id",
        *options.passthrough_columns,
        fused(raw_spans.alias("raw_spans")).alias("r"),
    )
    return with_lineage(result.select(*_RESULT_COLUMNS(options)), options.run_id)


def _RESULT_COLUMNS(options: ExtractOptions):
    columns = [
        "doc_id",
        *options.passthrough_columns,
        F.col("r.out_spans").alias("out_spans"),
        F.col("r.doc_type").alias("doc_type"),
        F.col("r.confidence").alias("confidence"),
        F.col("r.entities").alias("entities"),
        F.col("r.hazard_codes").alias("hazard_codes"),
        F.col("r.cas_numbers").alias("cas_numbers"),
        F.col("r.test_results").alias("test_results"),
        F.col("r.sections").alias("sections"),
        F.col("r.fingerprint").alias("fingerprint"),
        F.col("r.n_spans").alias("n_spans"),
    ]
    if options.include_full_text:
        columns.append(F.col("r.full_text").alias("full_text"))
    return columns


def _wide_plan(spans: DataFrame, media: DataFrame | None, options: ExtractOptions):
    """groupBy raw spans (+ joined media pages), then decode + assemble +
    extract in ONE pandas UDF per document."""
    pt = options.passthrough_columns
    unioned = join_media(
        spans,
        media,
        spread_partitions=options.spread_partitions,
        broadcast_media=options.broadcast_media,
        passthrough=pt,
    )

    entry = F.when(
        F.col("kind").isNotNull(),
        F.struct("offset", "kind", "text", "media_ref", "pages", "ocr_pages"),
    )
    # passthrough columns are constant per doc_id: first() re-emits them
    # from the same wide shuffle — no join back to the source
    grouped = unioned.groupBy("doc_id").agg(
        F.collect_list(entry).alias("raw_spans"),
        *[F.first(c, ignorenulls=False).alias(c) for c in pt],
    )

    fused = make_fused_extractor_udf(options.config.to_json())
    result = grouped.select("doc_id", *pt, fused(F.col("raw_spans")).alias("r"))
    return with_lineage(result.select(*_RESULT_COLUMNS(options)), options.run_id)
