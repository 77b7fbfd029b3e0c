"""Materialized training contexts: the packed BYTES, not just placements.

The fifth derived stage completes the extract -> signals -> curate ->
neardup -> pack chain with the artifact a trainer actually reads: for
every 512-token context the pack stage placed, the assembled context
text (space-joined tokens drawn across its contributing documents in
stream order). ``spark/pack.py`` commits each document's PLACEMENT; this
stage runs the per-context GATHER join (a doc_id-keyed text join + the
``ops/training.pack_slices`` explode + ONE ctx-keyed exchange) and commits
(pack_epoch, ctx, n_docs, n_tokens, text) rows through the same
commit-marker protocol — snapshot-visible, crash-resumable, exactly-once.

This is the first DERIVED-ON-DERIVED stage: its source CommitLog is the
PACK table, consumed through the shared incremental cursor
(``run_derived_stage(src_schema=PACKED_SCHEMA)``), so each pack window's
placements materialize exactly once and a pack REBUILD (an overwrite
chunk) trips the generic append-window guard — rerun with
``job.py materialize --rebuild``.

**Document text is read AS OF each window's pack_epoch.** A placement's
token offsets were computed against the extraction snapshot its pack
marker recorded (``pack_epoch`` = the pack run's ``src_snapshot``);
reading "latest" text instead would silently assemble shifted slices if
an extraction partition-overwrite landed between the pack run and this
one. Time travel pins the exact bytes the placement arithmetic saw, so
``sum(slice lengths) == n_tokens`` holds PROVIDED a doc_id is unique in
the extraction table as of the epoch: a doc_id held twice joins both
copies to both of its placements, gathering its slices twice. The distinct
epochs of a window are a bounded driver-side collect (one per consumed
pack chunk — the per-chunk lineage-rollup precedent).

Output ``part_id`` is ``ctx % n_parts`` (contexts belong to no source
document part); like every derived rebuild, a materialize rebuild's
overwrite owns every part (spark/derived.py).

Scale shape: placements are window-bounded; the text join is one
doc_id-keyed shuffle against a snapshot-pinned pruned scan (doc_id +
spans only); the slice explode is map-only; the gather is one
(pack_epoch, ctx)-keyed exchange whose per-group state is bounded by
CTX_TOKENS regardless of corpus size. No global ordering stage, no
driver-side assembly, no per-row Python.

Reference parity: the reference's analogous end product writes actual
per-document content (app/processor/pymu_tesseract_processor.py:104-117
saves extracted markdown per doc); contexts-for-training is the SURVEY
§2.4 "beyond reference" sibling — a pipeline ultimately ships bytes, not
placements.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..ops.portable import tokens
from ..ops.training import pack_gather, pack_slices
from .derived import run_derived_stage
from .lineage import CommitLog, RunReport
from .pack import PACKED_SCHEMA
from .signals import signal_text

# bump whenever compute_materialize's semantics change
MATERIALIZE_COMPUTE_VERSION = 1

MATERIALIZED_SCHEMA = StructType(
    [
        StructField("pack_epoch", LongType(), False),
        StructField("ctx", LongType(), False),
        StructField("n_docs", LongType(), False),
        StructField("n_tokens", LongType(), False),
        StructField("text", StringType(), False),
        StructField("part_id", IntegerType()),
    ]
)


def _epoch_texts(
    spark: SparkSession,
    extract_log: CommitLog,
    epochs: list[int],
    cost: str,
    rules: list[str] | None,
) -> DataFrame:
    """(pack_epoch, doc_id, _tok) cost-unit arrays, each epoch's text
    read AS OF that extraction snapshot (see module docstring).
    ``cost='ws'``: whitespace-token arrays (JVM split). ``cost='bpe'``:
    the ordered tokenizer-PIECE stream under the pack table's recorded
    merge rules (map-only Arrow kernel) — placements of a piece-costed
    table index exactly this stream, so the gather slices it."""
    out = None
    for e in sorted(epochs):
        t = (
            extract_log.read_extracted(spark, as_of=e)
            .select("doc_id", signal_text().alias("_text"))
            .select(
                F.lit(e).cast("bigint").alias("pack_epoch"),
                "doc_id",
                F.col("_text"),
            )
        )
        out = t if out is None else out.unionByName(t)
    if cost == "bpe":
        from ..ops.textstats import bpe_pieces_batches

        return out.select(
            "pack_epoch", "doc_id", F.col("_text").alias("text")
        ).mapInArrow(
            bpe_pieces_batches(rules),
            schema="pack_epoch bigint, doc_id string, _tok array<string>",
        )
    return out.select(
        "pack_epoch", "doc_id", tokens(F.col("_text")).alias("_tok")
    )


def compute_materialize(
    spark: SparkSession,
    extract_log: CommitLog,
    placements: DataFrame,
    n_parts: int,
    cost: str,
    rules: list[str] | None,
) -> DataFrame:
    """Gather join over a set of placement rows: join each placement to
    its doc's cost-unit array, cut it into per-context slices
    (``training.pack_slices``) and assemble each (pack_epoch, ctx) in
    off_in_ctx order (``training.pack_gather``)."""
    epochs = [
        r["pack_epoch"]
        for r in placements.select("pack_epoch").distinct().collect()
    ]
    if not epochs:
        return spark.createDataFrame([], MATERIALIZED_SCHEMA)
    toks = _epoch_texts(spark, extract_log, epochs, cost, rules)
    sl = pack_slices(
        placements.select("pack_epoch", "doc_id", "n_tokens", "start_off")
        .join(toks, ["pack_epoch", "doc_id"]),
        tokens_col="_tok",
    )
    return (
        pack_gather(sl, ["pack_epoch", "ctx"])
        .select(
            "pack_epoch",
            "ctx",
            "n_docs",
            "n_tokens",
            "text",
            F.expr(f"int(ctx % {n_parts})").alias("part_id"),
        )
    )


def run_materialize(
    spark: SparkSession,
    extract_log: CommitLog,
    pack_log: CommitLog,
    out_log: CommitLog,
    rebuild: bool = False,
) -> RunReport:
    n_parts = pack_log.n_parts()
    if n_parts is None:
        return RunReport(0, 0, 0, 0)
    from .pack import table_cost

    pack_cost, pack_rules = table_cost(pack_log)
    if pack_cost not in ("ws", "bpe"):
        raise ValueError(
            f"unknown pack-table cost model {pack_cost!r}; this "
            "materializer gathers 'ws' word streams or 'bpe' piece "
            "streams"
        )
    if pack_cost == "bpe" and not pack_rules:
        raise ValueError(
            "pack table is bpe-costed but records no merge rules; "
            "cannot reconstruct the piece stream its offsets index"
        )

    def _compute(placements: DataFrame, _horizon: int) -> DataFrame:
        # the gather slices the SAME stream the placements were costed
        # against: word arrays for 'ws', the recorded-rules piece stream
        # for 'bpe' — a mismatched gather would assemble wrong slices
        return compute_materialize(
            spark, extract_log, placements, n_parts, pack_cost, pack_rules
        )

    return run_derived_stage(
        spark,
        pack_log,
        out_log,
        "materialize",
        _compute,
        rebuild=rebuild,
        src_schema=PACKED_SCHEMA,
        extra_metrics={"materialize_version": MATERIALIZE_COMPUTE_VERSION,
                       "cost": pack_cost},
    )


def read_materialized(spark: SparkSession, out_log: CommitLog) -> DataFrame:
    return out_log.read_table(spark, MATERIALIZED_SCHEMA)
