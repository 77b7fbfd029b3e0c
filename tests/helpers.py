"""Shared test scaffolding: the documents.parquet fixture writer of the
derived-stage test modules, and the reference implementations (oracles)
that tests compare the package against. No job mode, registry query or
bench reaches these, so they live here rather than in the package."""

from __future__ import annotations

import functools
import math

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_extractor_spark.core.pdf_parse import PageOut, parse_pdf
from pdf_extractor_spark.core.textclean import clean_text, frame_region, frame_table
from pdf_extractor_spark.ops.advanced import _read
from pdf_extractor_spark.ops.dedup import MAX_CC_ITERS
from pdf_extractor_spark.spark.lineage import CommitLog
from pdf_extractor_spark.spark.pipeline import EXTRACTED_SCHEMA


def write_docs(dest, texts: dict[int, str]) -> str:
    """Write ``dest/documents.parquet`` with columns
    (doc_id, text, lang, source, n_chars) — the `/root/testdata/sf*`
    documents shape every stage reads — and return ``str(dest)``.
    ``dest`` is a pathlib dir, created if missing."""
    dest.mkdir(parents=True, exist_ok=True)
    pd.DataFrame(
        {
            "doc_id": list(texts),
            "text": [texts[k] for k in texts],
            "lang": ["en"] * len(texts),
            "source": ["s"] * len(texts),
            "n_chars": [len(texts[k]) for k in texts],
        }
    ).to_parquet(dest / "documents.parquet")
    return str(dest)


# --- per-part lineage: a read-back rollup of the committed data ------------

LINEAGE_COLS = [
    "part_id",
    "status",
    "docs_done",
    "pages_parsed",
    "spans_emitted",
    "parse_failures",
    "duration_ms",
    "committed_at",
]


def count_parse_tasks(spark: SparkSession, monkeypatch):
    """An accumulator of the parse stage's Python tasks: each task builds
    one extraction generator over its Arrow batches."""
    from pdf_extractor_spark.spark import pipeline

    tasks = spark.sparkContext.accumulator(0)
    make = pipeline._make_extract_batches_arrow

    def counting(*a, **k):
        gen = make(*a, **k)

        def _gen(batches):
            tasks.add(1)
            yield from gen(batches)

        return _gen

    monkeypatch.setattr(pipeline, "_make_extract_batches_arrow", counting)
    return tasks


def read_lineage(
    log: CommitLog,
    spark: SparkSession,
    as_of: int | None = None,
    markers: list[dict] | None = None,
) -> DataFrame:
    """Per-(chunk, part_id) metrics of the visible extracted rows, in
    ``LINEAGE_COLS``: sums of the per-doc metric columns, ``status``
    ``error`` when any doc failed, and ``committed_at`` from the
    chunk's marker. A column-pruned rollup of the data itself, so it
    follows the same snapshot visibility as ``log.read_extracted``.
    After a compaction each compacted part is ONE row stamped with the
    compaction's time; the replaced commits' record stays in markers."""
    markers = log.committed_chunks(as_of) if markers is None else markers
    whole, partial = log._visible_split(as_of, markers)
    stamps = spark.createDataFrame(
        [(c["chunk_id"], c["committed_at"]) for c in markers], "chunk int, ts double"
    )
    sums = ("pages_parsed", "spans_emitted", "parse_failures", "duration_ms")
    # one scan per visible chunk, tagged with its id (empty when none is)
    picks = [(c, [c], []) for c in whole] + [(c, [], [(c, owned)]) for c, owned in partial]
    scans = [
        log._scan_chunks(spark, EXTRACTED_SCHEMA, w, p).withColumn("chunk", F.lit(c))
        for c, w, p in picks
    ] or [log._scan_chunks(spark, EXTRACTED_SCHEMA, [], []).withColumn("chunk", F.lit(-1))]
    return (
        functools.reduce(DataFrame.unionByName, scans)
        .groupBy("chunk", "part_id")
        .agg(F.count("*").alias("docs_done"), *(F.sum(c).alias(c) for c in sums))
        .join(F.broadcast(stamps), "chunk")
        .withColumn("status", F.when(F.col("parse_failures") > 0, "error").otherwise("success"))
        .withColumn("committed_at", F.timestamp_seconds("ts"))
        .select(LINEAGE_COLS)
    )


# --- connected components: plain min-label propagation ---------------------

_CC_CHECKPOINT_EVERY = 5


def propagate_min_labels(edges: DataFrame, max_iters: int = MAX_CC_ITERS):
    """Iterative min-label propagation over an undirected edge list
    ``edges(u, v)`` (both directions present). Returns ``(labels, changed)``
    where ``labels(doc_id, comp)`` is persisted (caller owns release) and
    ``changed`` is the final round's changed-label count (0 at a fixpoint;
    caller decides whether non-convergence is fatal).

    Each round is one shuffle keyed on the vertex id. Every
    ``_CC_CHECKPOINT_EVERY`` rounds the labels are ``localCheckpoint``-ed
    (eager): persist alone caches the DATA but the logical plan still nests
    every previous round's joins, so analysis time — and, on a real cluster,
    the recovery lineage a lost executor would replay — grows per round;
    the checkpoint truncates the plan to a leaf. Deep-diameter graphs
    (long chains) are exactly the case that needs it; shallow near-dup
    clusters converge before the first checkpoint fires.
    """
    labels = (
        edges.select(F.col("u").alias("doc_id")).distinct()
        .withColumn("comp", F.col("doc_id"))
        .persist()
    )
    changed = 0
    for it in range(max_iters):
        neigh_min = (
            edges.join(labels, edges.v == labels.doc_id)
            .groupBy("u")
            .agg(F.min("comp").alias("nmin"))
        )
        new_labels = (
            labels.join(neigh_min, labels.doc_id == neigh_min.u, "left")
            .select(
                "doc_id",
                F.least(F.col("comp"), F.coalesce("nmin", "comp")).alias("comp"),
            )
            .persist()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .where(F.col("n.comp") != F.col("o.comp"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
        if (it + 1) % _CC_CHECKPOINT_EVERY == 0:
            # the count above already materialized the persisted cache, so
            # this is a cheap partition copy, never a recompute
            truncated = labels.localCheckpoint(eager=True)
            labels.unpersist()
            labels = truncated
    return labels, changed


# --- per-language deviation: the grouped applyInPandas form ----------------

_ZSCORE_SCHEMA = (
    "doc_id bigint, lang string, n_chars bigint, lang_mean_micros bigint, "
    "dev_micros bigint"
)


def _lang_stats(pdf: pd.DataFrame) -> pd.DataFrame:
    # exact integer sum -> one double division: bit-identical to the oracle's
    # CAST(sum AS DOUBLE)/count, immune to accumulation-order effects
    mean = float(pdf["n_chars"].sum()) / len(pdf)
    out = pdf[["doc_id", "lang", "n_chars"]].copy()
    out["lang_mean_micros"] = int(math.floor(mean * 1_000_000.0))
    out["dev_micros"] = [
        int(math.floor((c - mean) * 1_000_000.0)) for c in pdf["n_chars"]
    ]
    return out


def lang_deviation_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped ``applyInPandas`` form of ``advanced.q_lang_deviation`` —
    BOUNDED GROUPS ONLY: it materializes an entire language's rows in one
    pandas frame, so at corpus scale one language is most of the data ->
    straggler, then OOM (VERDICT r01). The shipped query is the two-phase
    agg + broadcast join; a pytest differential pins both forms equal."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return (
        docs.groupBy("lang")
        .applyInPandas(_lang_stats, schema=_ZSCORE_SCHEMA)
        .orderBy("doc_id")
    )


# --- PDF text: one cleaned content string per page -------------------------

def page_to_text(page: PageOut) -> str:
    """Assemble one page's content string with the reference's framing and
    cleaning (pymu_tesseract_processor.py:259-274): regions merged in reading
    order (sorted by top-y, then x), text regions framed ``\\n\\n{t}\\n\\n``,
    tables framed ``\\n\\n{label}:\\n\\n`` + list-repr rows, then clean_text."""
    regions: list[tuple[float, float, str]] = []
    n_tables = len(page.tables)
    for i, tbl in enumerate(page.tables, start=1):
        label = f"Table{i}" if n_tables > 1 else "Table"
        regions.append((tbl.y_top, tbl.x, frame_table(label, tbl.rows)))
    for box in page.boxes:
        regions.append((box.y_top, box.x, frame_region(box.text)))
    regions.sort(key=lambda r: (r[0], r[1]))
    return clean_text("".join(r[2] for r in regions))


def extract_pdf_text(data: bytes) -> list[str]:
    """Full pipeline: bytes -> ordered per-page cleaned content strings
    (text only — images do not contribute; see extract_pdf_spans)."""
    return [page_to_text(p) for p in parse_pdf(data)]
