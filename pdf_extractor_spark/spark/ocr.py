"""The OCR stage: recovered text for scanned pages, as a derived table.

Completes the reference's P6 loop (empty text -> force-OCR retry,
docling_processor.py:235-239) as a pipeline stage instead of an
in-process retry. Extraction flags pages that carry images but no text
(``pages_empty_with_images`` in the scores map); THIS stage selects those
documents' ``pdf://`` media refs from the committed extraction table, runs
the OCR engine over them, and commits one ``(doc_id, media_ref, ocr_text,
part_id)`` row per ref; ``merge_ocr_text`` folds the recovered text back
into the span sequence (``job.py export --with-ocr-text``).

It is one more instance of the derived-stage loop (spark/derived.py), so
it inherits that loop's contract whole: the cursor is the consumed source
snapshot recorded in each marker, a killed run leaves an invisible chunk
and the rerun recomputes the same window, a source ``refresh`` inside the
window needs ``rebuild=True``, and the table compacts like any other.
Every extraction writer (``extract``, ``refresh``, ``watch``) is routed
the same way, because routing reads the committed table rather than
riding on one writer's commit.

The OCR ENGINE is a deterministic declared STUB (the project bundles no OCR
runtime, and the north_star contract is digital parse — same precedent as
the multimodal codecs, ops/multimodal.py): the recovered text is a pure
function of the media ref. Everything around it — routing predicate,
per-ref explode, Arrow-batched ``mapInPandas`` engine call, exactly-once
commit — is the real contract, value-hash gated by the ``ocr_roundtrip``
oracle query.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from .derived import run_derived_stage
from .lineage import CommitLog, RunReport

# what the engine returns per routed ref
OCR_TEXT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("media_ref", StringType()),
        StructField("ocr_text", StringType()),
    ]
)

# the committed table's row shape: the engine's rows keep their source
# doc's part_id, like every derived stage
OCR_SCHEMA = StructType(
    OCR_TEXT_SCHEMA.fields + [StructField("part_id", IntegerType())]
)


def needs_ocr_pred() -> Column:
    """THE routing signal: does this extracted row have text-free pages
    that carry images? One definition shared by the stage and the
    ``ocr_roundtrip`` oracle query — a drift between the two would let the
    oracle silently keep testing stale routing behavior."""
    return (
        F.coalesce(
            F.element_at("scores", "pages_empty_with_images"), F.lit(0.0)
        )
        > 0
    )


def ocr_candidate_refs() -> Column:
    """THE ref projection routed to OCR: the row's pdf:// media refs
    (synthesized by the parser for embedded/inline images). Shared with
    the oracle query like ``needs_ocr_pred``."""
    return F.filter(
        F.transform("spans", lambda s: s["media_ref"]),
        lambda r: r.startswith("pdf://"),
    )


def stub_ocr(media_ref: str) -> str:
    """OCR engine STUB — deterministic recovered text from the ref alone.

    A real deployment swaps this for the OCR engine call (tesseract/
    paddleocr worker, initialized once per executor via the module-level
    lazy-init pattern in spark/pipeline.py); everything around it is the
    real contract: batch-vectorized input, one output row per ref."""
    h = hashlib.md5(media_ref.encode("utf-8")).hexdigest()[:12]
    return f"[ocr-stub {h}]"


def _ocr_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """``mapInPandas`` engine call: every input column passes through and
    ``ocr_text`` is added, so the stage (which carries ``part_id``) and
    the oracle query (which does not) share one kernel."""
    for pdf in it:
        if len(pdf) == 0:
            continue
        yield pdf.assign(
            ocr_text=[stub_ocr(r) for r in pdf["media_ref"].astype(str)]
        )


def compute_ocr(delta: DataFrame) -> DataFrame:
    """Routed refs of the extracted rows, through the engine: one row per
    pdf:// ref of every document with text-free-but-imaged pages."""
    refs = delta.where(needs_ocr_pred()).select(
        "doc_id", F.explode(ocr_candidate_refs()).alias("media_ref"), "part_id"
    )
    return refs.mapInPandas(_ocr_batches, schema=OCR_SCHEMA)


def run_ocr(
    spark: SparkSession,
    src_log: CommitLog,
    out_log: CommitLog,
    rebuild: bool = False,
) -> RunReport:
    """One incremental OCR pass over the source snapshots committed since
    the cursor, or (``rebuild=True``) over the whole table as one
    overwrite chunk. ``docs_processed`` counts committed refs."""
    return run_derived_stage(
        spark, src_log, out_log, "ocr", lambda delta, _horizon: compute_ocr(delta),
        rebuild=rebuild,
    )


def read_ocr_text(spark: SparkSession, out_log: CommitLog) -> DataFrame:
    return out_log.read_table(spark, OCR_SCHEMA)


def merge_ocr_text(extracted: DataFrame, ocr_text: DataFrame) -> DataFrame:
    """Fold recovered text back into the span sequence. Media spans whose
    ``media_ref`` has a row in the OCR table get their empty ``text``
    replaced by the recovered text; every other span — and every document
    with no OCR rows — passes through byte-identical, so the span-sequence
    contract (kinds, refs, offsets, reading order) is preserved exactly.
    Contract: duplicate recoveries for one (doc_id, media_ref) reduce
    deterministically (lexicographic max), so merged output is a pure
    function of the OCR table's CONTENTS, independent of row order or
    rerun history.

    Scale shape: the OCR results are rolled up to ONE map per document
    (``map_from_entries``) before joining, so the join key is doc_id — no
    explode/regroup of the 100 TB spans column, no shuffle keyed on
    media_ref (skewed: boilerplate images repeat), and the per-row merge is
    a single ``transform`` over the array. The join strategy is left to
    the optimizer deliberately: on digitally-born corpora the per-doc map
    side is tiny and AQE picks a broadcast join, but a scanned-heavy
    archive can route MOST docs to OCR, and a forced ``F.broadcast`` hint
    there would bypass autoBroadcastJoinThreshold and OOM the driver
    collecting the whole recovered-text corpus."""
    # Collapse to one row per (doc_id, media_ref) first: the same image
    # placed twice on a page yields two spans with one media_ref, and
    # duplicate map keys are an ANSI-mode error. Reduce with max(), NOT
    # dropDuplicates: when reruns of a real OCR engine append DIFFERENT
    # text for the same ref, dropDuplicates keeps an arbitrary row and the
    # merged corpus (and any export-zip bytes) becomes nondeterministic —
    # max() pins the contract to the lexicographically greatest recovery.
    per_doc = (
        ocr_text.groupBy("doc_id", "media_ref")
        .agg(F.max("ocr_text").alias("ocr_text"))
        .groupBy("doc_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("media_ref", "ocr_text"))
            ).alias("_ocr")
        )
    )
    merged = F.transform(
        "spans",
        lambda s: F.struct(
            s["kind"].alias("kind"),
            # ONE map probe per span: transform() runs interpreted outside
            # codegen with no guaranteed CSE, so the
            # probe-in-condition + probe-in-value form would pay two map
            # lookups per span of the whole corpus
            F.coalesce(
                F.when(
                    s["kind"] == "media",
                    F.element_at("_ocr", s["media_ref"]),
                ),
                s["text"],
            ).alias("text"),
            s["media_ref"].alias("media_ref"),
            s["offset"].alias("offset"),
        ),
    )
    cols = [c for c in extracted.columns if c != "spans"]
    return (
        extracted.join(per_doc, "doc_id", "left")
        .withColumn("spans", merged)
        .select("doc_id", "spans", *[c for c in cols if c != "doc_id"])
    )
