"""Span assembly — the Spark-native replacement of the reference's
sequential per-page loop (/root/reference/app.py:798-803; SURVEY.md §2.7).

Shape of the wide branch of the extraction plan (plans/extract_plan.py);
text spans never shuffle before the one wide groupBy:

  documents(doc_id, spans)
    -> posexplode_outer(spans)                          [explode_spans; narrow]
    -> split by kind:                                   [join_media]
         text/html/null -> passed through with null pages   [narrow]
         pdf/image      -> optional (doc_id, offset) hash spread, then a
                           left join of the media store on media_ref
                           (broadcast when asked, else the planner / AQE
                           decides); null pages when there is no store
    -> union
    -> groupBy(doc_id).agg(collect_list(raw span))      [the one wide
                           shuffle; null-span rows (zero-span docs)
                           contribute no list entries but keep the group]
    -> fused extractor UDF: sort by offset, decode every span (html strip,
       pdf/image page-cap decode), assemble the text, extract

Decode runs inside the UDF after the groupBy, so a fat 200-span document's
spans all decode in ONE UDF call on one task.  ``spread_partitions``
spreads only the media-join input (pre-join span rows carry no page
payload, so that shuffle is near-free); it does not spread decode work.

Design notes for 100 TB:
- never consume a UDF-bearing branch twice (Spark has no cross-branch CSE:
  a second consumer re-executes the subtree — measured 2x wall);
- AQE size-based partition coalescing must stay OFF for these stages: the
  data is small in bytes but CPU-heavy per row (see jobs/extract.py);
- when the media store is pre-bucketed by media_ref, the join becomes
  shuffle-free on the media side (bucket join); the spans side still
  shuffles once, same as here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_KINDS = ("pdf", "image")


def explode_spans(docs: DataFrame, passthrough: tuple[str, ...] = ()) -> DataFrame:
    """documents -> one row per span (zero-span docs kept with null span).

    ``passthrough`` columns (e.g. a tenant id) ride along on every span
    row so downstream regrouping can re-emit them without a join back to
    the source."""
    return docs.select(
        "doc_id", *passthrough, F.posexplode_outer("spans").alias("pos", "span")
    ).select(
        "doc_id",
        *passthrough,
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def join_media(
    spans: DataFrame,
    media: DataFrame | None,
    *,
    spread_partitions: int | None = None,
    broadcast_media: bool | None = None,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Attach media pages to exploded spans; nothing is decoded here.

    Returns one row per span: (doc_id, *passthrough, kind, text,
    media_ref, offset, pages, ocr_pages).  Text/html/null spans keep their
    text and get null pages without a shuffle; pdf/image spans drop their
    text and take ``pages`` / ``ocr_pages`` from a left join of ``media``
    on media_ref (null pages when ``media`` is None).
    """
    text_branch = spans.where(
        F.col("kind").isNull() | ~F.col("kind").isin(*MEDIA_KINDS)
    ).select(
        "doc_id",
        *passthrough,
        "kind",
        "text",
        "media_ref",
        "offset",
        F.lit(None).cast("array<string>").alias("pages"),
        F.lit(None).cast("array<string>").alias("ocr_pages"),
    )
    media_branch = spans.where(F.col("kind").isin(*MEDIA_KINDS)).drop("text")
    # the only skew spread when the join broadcasts or there is no media
    # store; with a shuffle join the join's own hash on the unique
    # media_ref re-spreads anyway
    if spread_partitions:
        media_branch = media_branch.repartition(spread_partitions, "doc_id", "offset")
    if media is not None:
        media_side = F.broadcast(media) if broadcast_media else media
        media_branch = media_branch.join(media_side, on="media_ref", how="left")
    else:
        media_branch = media_branch.withColumn(
            "pages", F.lit(None).cast("array<string>")
        ).withColumn("ocr_pages", F.lit(None).cast("array<string>"))
    media_branch = media_branch.select(
        "doc_id", *passthrough, "kind", F.lit(None).cast("string").alias("text"),
        "media_ref", "offset", "pages", "ocr_pages",
    )
    return text_branch.unionByName(media_branch)
