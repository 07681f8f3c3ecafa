"""End-to-end extraction plan builder (SURVEY.md §3.1 Spark lifecycle).

    read documents ──> resume anti-join ──> explode spans
        ──> skew spread (hash repartition on (doc_id, offset))
        ──> media join + vectorized decode (pdf/image/html UDFs, text JVM-side)
        ──> groupBy(doc_id) reassembly (the one wide shuffle)
        ──> extractor pandas UDF (classify/sections/entities/tables/discovery)
        ──> extracted rows (+ lineage columns)

Everything before the groupBy is narrow except the explicit skew-spread
repartition; Catalyst prunes the parquet scan to (doc_id, spans) and
pushes the resume anti-join below the explode.  Single-text-span docs
skip explode and groupBy (the fast branch); when the input is smaller
than one split per core, that branch alone is spread round-robin over
all cores before its UDF (operators/spread.py).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.config import EMPTY_CONFIG, ModelConfig
from ..functions.udfs import make_extractor_udf
from ..operators.assemble import decode_spans, explode_spans, reassemble_documents
from ..operators.checkpoint import resume_filter, with_lineage
from ..operators.spread import spread_width


@dataclass
class ExtractOptions:
    config: ModelConfig = EMPTY_CONFIG
    spread_partitions: int | None = None  # skew spread for exploded spans
    broadcast_media: bool | None = None  # None -> AQE decides
    include_full_text: bool = False  # full_text is big; opt-in (result
    # carries out_spans already, so text is reconstructible)
    run_id: str = "run-0"
    fused: bool = True  # one Python crossing (decode+assemble+extract in a
    # single UDF after the groupBy) vs the staged decode->group->extract
    # plan; fused halves Arrow traffic and is the default
    single_span_fastpath: bool = True  # docs whose spans array is exactly
    # one text span (the dominant web-corpus shape) skip explode + groupBy
    # entirely — their bytes never shuffle; only multi-span/media docs take
    # the wide path
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

    if options.fused and options.single_span_fastpath:
        # text AND html qualify: neither needs the media join, and the
        # fused UDF does the HTML strip itself
        is_simple = (F.size("spans") == 1) & (
            F.col("spans")[0]["kind"].isin("text", "html")
        )
        simple = todo.where(is_simple)
        # a sub-split input would run the whole fast branch as one task;
        # decided from the scan itself (todo's inputFiles would also list
        # the resume table's files)
        width = spread_width(docs)
        if width:
            simple = simple.repartition(width)
        complex_docs = todo.where(~F.coalesce(is_simple, F.lit(False)))
        fast = _fastpath_plan(simple, options)
        wide = _fused_plan(
            explode_spans(complex_docs, options.passthrough_columns), media, options
        )
        return fast.unionByName(wide)

    spans = explode_spans(todo, options.passthrough_columns)

    if options.fused:
        return _fused_plan(spans, media, options)

    decoded = decode_spans(
        spans,
        media,
        spread_partitions=options.spread_partitions,
        broadcast_media=options.broadcast_media,
        passthrough=options.passthrough_columns,
    )
    assembled = reassemble_documents(decoded, passthrough=options.passthrough_columns)

    extract = make_extractor_udf(options.config.to_json())
    extracted = assembled.withColumn("result", extract(F.col("text")))

    columns = [
        "doc_id",
        *options.passthrough_columns,
        "out_spans",
        F.col("result.doc_type").alias("doc_type"),
        F.col("result.confidence").alias("confidence"),
        F.col("result.entities").alias("entities"),
        F.col("result.hazard_codes").alias("hazard_codes"),
        F.col("result.cas_numbers").alias("cas_numbers"),
        F.col("result.test_results").alias("test_results"),
        F.col("result.sections").alias("sections"),
        F.col("result.fingerprint").alias("fingerprint"),
        "n_spans",
    ]
    if options.include_full_text:
        columns.append(F.col("text").alias("full_text"))

    return with_lineage(extracted.select(*columns), options.run_id)


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
    from dataclasses import replace

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
    """Narrow plan for single-text-span documents: no explode, no media
    join, no groupBy — scan partitions (spread by the caller when the
    input is sub-split) flow straight into the fused UDF.
    The raw_spans column is built JVM-side in the same shape the UDF
    expects, so the Python body is byte-identical to the wide path."""
    from ..functions.udfs import make_fused_extractor_udf

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


def _fused_plan(spans: DataFrame, media: DataFrame | None, options: ExtractOptions):
    """groupBy raw spans (+ joined media pages) first, then decode +
    assemble + extract in ONE pandas UDF per document — half the Arrow
    crossings of the staged plan, one fewer UDF stage."""
    from ..functions.udfs import make_fused_extractor_udf
    from ..operators.assemble import MEDIA_KINDS

    pt = options.passthrough_columns
    text_branch = spans.where(
        F.col("kind").isNull() | ~F.col("kind").isin(*MEDIA_KINDS)
    ).select(
        "doc_id",
        *pt,
        "kind",
        "text",
        "media_ref",
        "offset",
        F.lit(None).cast("array<string>").alias("pages"),
        F.lit(None).cast("array<string>").alias("ocr_pages"),
    )
    media_branch = spans.where(F.col("kind").isin(*MEDIA_KINDS)).drop("text")
    if options.spread_partitions:
        media_branch = media_branch.repartition(
            options.spread_partitions, "doc_id", "offset"
        )
    if media is not None:
        media_side = F.broadcast(media) if options.broadcast_media else media
        media_branch = media_branch.join(media_side, on="media_ref", how="left")
    else:
        media_branch = media_branch.withColumn(
            "pages", F.lit(None).cast("array<string>")
        ).withColumn("ocr_pages", F.lit(None).cast("array<string>"))
    media_branch = media_branch.select(
        "doc_id", *pt, "kind", F.lit(None).cast("string").alias("text"),
        "media_ref", "offset", "pages", "ocr_pages",
    )
    unioned = text_branch.unionByName(media_branch)

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
