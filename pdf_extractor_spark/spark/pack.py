"""Incremental context-packing stage: the training-shard end product.

The last materialization a pre-training data pipeline runs: the curated
corpus concatenated (in deterministic shuffled order) and chunked into
fixed 512-token contexts. This stage commits each document's PLACEMENT —
its token offset and the context range it spans — as a derived table
through the same commit-marker protocol as signals/curate/neardup, so the
packing is snapshot-visible, crash-resumable, and exactly-once. The
actual byte materialization (gathering each context's token slices) is a
map-side join against this placement table; the placement is the hard,
order-dependent part and the thing worth committing.

**Packing is WINDOW-LOCAL.** Each incremental run packs exactly the docs
of its source window into its own context stream starting at offset 0;
contexts never span windows. That is the production shape: when 1 GB
arrives on a 100 TB corpus you pack the arrivals into new shards — a
global repack that renumbers every existing context would rewrite the
world per micro-batch (and retroactively change training data already
consumed). Rows carry ``pack_epoch`` = the source snapshot the window
consumed up to (the marker's ``src_snapshot``, threaded in by
``run_derived_stage`` so a concurrent source commit can never make the
column disagree with the marker); ``(pack_epoch, ctx)`` is globally
unique because the cursor consumes each snapshot exactly once. A global
repack IS available as ``rebuild=True`` — one overwrite chunk, ids
restart from 0.

``kept_from`` (rebuild-only, like neardup's kept scope) packs the
curate-KEPT corpus — optionally minus near-dup flags via
``neardup_from`` — i.e. exactly the docs ``read_kept`` would ship: you
pack the training corpus, not the raw crawl. Kept scope is rebuild-only
for the same reason the kept near-dup rerun is: the kept set is decided
by ANOTHER table whose verdicts lag and change under gate rebuilds, so
"the kept docs of this window" is not a stable incremental notion; the
composed rebuild is.

Empty documents (no text tokens after span join) are NOT placed — a
zero-length doc occupies no tokens and would only manufacture degenerate
context ranges. Dropped rows are deterministic on both engines (the
``trim = ''`` guard, shared with extraction_queries.q_pack_interleaved).

Scale shape: token counting is a map-only projection; placement is the
two-phase distributed prefix scan from ops/training.exclusive_prefix_sum
(4096 order-respecting hash shards -> tiny per-shard totals -> broadcast
offsets -> per-shard window) — never a single-partition global window.
The only other exchange is the writer's ``partitionBy(part_id)`` layout.

Reference parity: the reference exports per-document markdown
(dashboard.py ZIP export); contexts-for-training is the SURVEY §2.4
"beyond reference" sibling driven by the north_star's training-pipeline
framing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StringType, StructField, StructType

from ..ops.portable import h64, tokens
from ..ops.textstats import bpe_cost_batches, bpe_merge_rules
from ..ops.training import pack_ctx_range, pack_place
from .derived import check_kept_scope, latest_metric, run_derived_stage
from .lineage import CommitLog, RunReport
from .signals import signal_text

# bump whenever compute_pack's semantics change (fixture caches key on it)
PACK_COMPUTE_VERSION = 1

PACKED_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("pack_epoch", LongType(), False),
        StructField("n_tokens", LongType(), False),
        StructField("start_off", LongType(), False),
        StructField("first_chunk", LongType(), False),
        StructField("last_chunk", LongType(), False),
        StructField("n_chunks", LongType(), False),
        StructField("part_id", IntegerType()),
    ]
)


def compute_pack(
    extracted: DataFrame, horizon: int, cost: str, rules: list[str] | None
) -> DataFrame:
    """Window-local placement of ``extracted`` rows into the context
    stream: deterministic md5 shuffle order, exclusive prefix sum of the
    per-doc COST, context range by integer division. ``horizon`` becomes
    every row's ``pack_epoch``.

    ``cost="ws"`` counts whitespace tokens (JVM-side, map-only);
    ``cost="bpe"`` counts TOKENIZER pieces under the given merge-rule
    table via the map-only Arrow kernel ``textstats.bpe_cost_batches``
    (per-task word memo, no join or shuffle on the vocabulary; only the
    counts cross the boundary). In both modes the committed column is
    named ``n_tokens``: it is the stage's cost unit, and the marker
    records which model produced it (``cost`` + ``bpe_rules`` metrics;
    see run_pack)."""
    if cost == "bpe":
        d = (
            extracted.select(
                "doc_id", "part_id", signal_text().alias("text")
            )
            .mapInArrow(
                bpe_cost_batches(rules),
                schema="doc_id string, part_id int, n_pieces bigint",
            )
            .select(
                "doc_id",
                "part_id",
                F.col("n_pieces").cast("bigint").alias("n_tokens"),
                h64(F.col("doc_id")).alias("h"),
            )
        )
    else:
        d = extracted.select(
            "doc_id", "part_id", signal_text().alias("_text")
        ).select(
            "doc_id",
            "part_id",
            F.when(F.trim(F.col("_text")) == "", F.lit(0))
            .otherwise(F.size(tokens(F.col("_text"))))
            .cast("bigint")
            .alias("n_tokens"),
            h64(F.col("doc_id")).alias("h"),
        )
    first, last, n_chunks = pack_ctx_range()
    return pack_place(d.where(F.col("n_tokens") > 0), "n_tokens").select(
        "doc_id",
        F.lit(horizon).cast("bigint").alias("pack_epoch"),
        "n_tokens",
        "start_off",
        first.alias("first_chunk"),
        last.alias("last_chunk"),
        n_chunks.alias("n_chunks"),
        "part_id",
    )


def table_cost(out_log: CommitLog) -> tuple[str, list[str] | None]:
    """(cost model, recorded BPE rules) of this pack table — the last
    committed chunk's record; a table that records no cost (empty, or
    written before the cost feature) reads as 'ws', the only model that
    existed then."""
    chunks = out_log.committed_chunks()
    cost = latest_metric(chunks, "cost") or "ws"
    # rules only belong to the CURRENT model: after a ws rebuild an older
    # bpe epoch's recorded rules must not leak back out (every bpe commit
    # records its rules, so under cost='bpe' the latest record is current)
    rules = latest_metric(chunks, "bpe_rules") if cost == "bpe" else None
    return cost, rules


def run_pack(
    spark: SparkSession,
    src_log: CommitLog,
    out_log: CommitLog,
    rebuild: bool = False,
    kept_from: CommitLog | None = None,
    neardup_from: CommitLog | None = None,
    cost: str = "ws",
) -> RunReport:
    """One pack pass. ``cost``: 'ws' (whitespace tokens) or 'bpe'
    (tokenizer pieces). The cost model is FROZEN at table creation: the
    first committed chunk derives the BPE merge rules from ITS window's
    corpus and records them in the marker (``bpe_rules``); every later
    incremental window REUSES the recorded rules — a tokenizer is a
    fixed artifact, and re-deriving per window would make identical text
    cost different amounts in different windows. ``cost`` and ``scope``
    are table properties (spark/derived.py): mixing them in one table is
    refused; rebuild re-derives.
    """
    if cost not in ("ws", "bpe"):
        raise ValueError(f"unknown pack cost model {cost!r}")
    check_kept_scope(rebuild, kept_from, neardup_from)
    _, stored_rules = table_cost(out_log)

    # mutated by the closures below BEFORE the marker is built (the
    # commit spreads this dict after compute returns): the first bpe
    # window records the rules it derived, freezing the cost model
    extra = {"pack_version": PACK_COMPUTE_VERSION,
             "scope": "full" if kept_from is None else "kept", "cost": cost}
    rules: list[str] | None = (
        None if (rebuild or stored_rules is None) else list(stored_rules)
    )

    def _cost_compute(frame: DataFrame, horizon: int) -> DataFrame:
        nonlocal rules
        if cost == "bpe":
            if rules is None:  # first window of the table, or a rebuild
                rules = bpe_merge_rules(frame, signal_text())
            extra["bpe_rules"] = rules
        return compute_pack(frame, horizon, cost=cost, rules=rules)

    def _rebuild(full: DataFrame, horizon: int) -> DataFrame:
        if kept_from is not None:
            from .curate import apply_kept_filters

            full = apply_kept_filters(
                spark, full, kept_from, neardup_log=neardup_from
            )
        # kept scope: rules derive from the corpus actually packed
        return _cost_compute(full, horizon)

    return run_derived_stage(
        spark,
        src_log,
        out_log,
        "pack",
        _cost_compute,
        rebuild=rebuild,
        rebuild_compute=_rebuild,
        extra_metrics=extra,
    )


def read_packed(spark: SparkSession, out_log: CommitLog) -> DataFrame:
    return out_log.read_table(spark, PACKED_SCHEMA)
