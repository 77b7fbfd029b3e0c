"""Preview/read path: point queries over the extracted output table
(``job.py show``).

The reference's preview pane loads one result JSON and indexes
``content[page-1]`` (dashboard.py:832-1004, §3.3 of SURVEY.md). Over the
committed output table this is a predicate-pushdown point query: the doc_id
filter reaches the parquet scan (row-group pruning via min/max stats; at
Iceberg scale, partition pruning on part_id first), and ``element_at`` picks
the span without materializing the array on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .lineage import CommitLog
from .pipeline import assign_part_id


def doc_row(spark: SparkSession, log: CommitLog, doc_id: str, as_of: int | None = None) -> DataFrame:
    """ONE deterministic row of ``doc_id`` at snapshot ``as_of`` (None: the
    current table); empty if the document is not there.

    The lookup first computes the doc's part_id with the writer's n_parts
    (read back from the commit log, never supplied by the caller: a
    mismatched value would compute a different part_id and silently prune
    the doc away, ADVICE r01) and filters on it; part_id is the partition
    column, so this prunes to one partition before the doc_id filter
    touches row groups.

    The table may legitimately hold a doc twice (watch appends deliver a
    doc that is in two drop files twice; spark/export.py sorts defensively for the
    same reason). Without a canonical pick, which copy a point query
    answered from depended on partition arrival order: ``doc_spans``
    interleaved both copies' spans (every offset twice) and ``read_page``
    could answer None from a shorter copy while a longer one held the page.
    Canonical = most spans, ties broken by the spans' JSON serialization —
    a pure function of the data."""
    ext = log.read_extracted(spark, as_of=as_of)
    n_parts = log.n_parts()
    if n_parts is not None:
        part = (
            assign_part_id(spark.createDataFrame([(doc_id,)], "doc_id string"), n_parts)
            .collect()[0]["part_id"]
        )
        ext = ext.where(F.col("part_id") == part)
    return (
        ext.where(F.col("doc_id") == doc_id)
        .orderBy(F.desc(F.size("spans")), F.to_json("spans"))
        .limit(1)
    )


def doc_spans(spark: SparkSession, log: CommitLog, doc_id: str, as_of: int | None = None) -> DataFrame:
    """All extracted spans of one document, in offset order."""
    return (
        doc_row(spark, log, doc_id, as_of)
        .select("doc_id", F.explode("spans").alias("span"))
        .select(
            "doc_id",
            F.col("span.kind").alias("kind"),
            F.col("span.text").alias("text"),
            F.col("span.media_ref").alias("media_ref"),
            F.col("span.offset").alias("offset"),
        )
        .orderBy("offset")
    )


def read_page(
    spark: SparkSession, log: CommitLog, doc_id: str, page: int, as_of: int | None = None
) -> dict | None:
    """One page's entry — (text, scores) — the preview pane's
    ``content[page-1]`` lookup (dashboard.py:963-978). 1-based page index."""
    rows = (
        doc_row(spark, log, doc_id, as_of)
        .select(
            # try_element_at: out-of-range page -> NULL, not an ANSI error
            F.try_element_at("spans", F.lit(page)).alias("span"),
            "scores",
            "spans_emitted",
        )
        .collect()
    )
    if not rows or rows[0]["span"] is None:
        return None
    r = rows[0]
    return {
        "doc_id": doc_id,
        "page": page,
        "kind": r["span"]["kind"],
        "content": r["span"]["text"],
        "media_ref": r["span"]["media_ref"],
        "offset": r["span"]["offset"],
        "scores": dict(r["scores"]) if r["scores"] is not None else {},
        "total_spans": r["spans_emitted"],
    }
