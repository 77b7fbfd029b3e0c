"""Incremental derived quality-signals table over a committed extraction.

The second pass a curation pipeline runs after extraction: per-document
quality signals (token counts, marker-language prediction, stopword ratio,
Simpson lexical diversity, span-mix counters) computed from the COMMITTED
span table and written as a derived table through the same commit-marker
protocol — so the signals table is itself snapshot-visible, resumable, and
exactly-once.

Incrementality is the Iceberg-style consumer loop: each signals chunk's
marker records the SOURCE snapshot it consumed (``metrics.src_snapshot``);
the next run reads ``read_incremental(after=cursor, until=latest)`` — only
documents committed since the last run are recomputed. A killed run leaves
an unmarked (invisible, gc-able) chunk directory and the rerun reprocesses
the same delta under a fresh chunk id; the cursor only advances when the
marker flips.

Scope: APPEND-ONLY sources incrementally. A source partition-overwrite
(``reextract_parts``) changes history in place, and folding that into an
append-shaped delta would strand the untouched docs of the overwritten
parts — ``run_signals`` detects overwrite markers in the window and
refuses, directing the operator to ``rebuild=True`` (one full recompute
committed as an overwrite chunk owning every part, which shadows all prior
signals atomically).

Scale shape: the signal expressions are all JVM built-ins (zero Python),
map-only over the source scan — the only exchange is the writer's
``partitionBy(part_id)`` file layout. 100 TB is a chain of these runs, each
bounded by its delta size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..ops.portable import tokens
from ..ops.textstats import STOPWORDS, lang_argmax, lang_marker_counts, simpson_pairs
from .derived import run_derived_stage
from .lineage import CommitLog, RunReport

# bump whenever compute_signals' semantics change: fixture caches (e.g. the
# signals_table oracle fixture) key on it so stale committed signals can
# never satisfy a check against new definitions
SIGNALS_COMPUTE_VERSION = 2

SIGNALS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("n_text_spans", IntegerType()),
        StructField("n_media_spans", IntegerType()),
        StructField("n_tokens", LongType()),
        StructField("pred_lang", StringType()),
        StructField("stopword_micros", LongType()),
        StructField("simpson_micros", LongType()),
        StructField("part_id", IntegerType()),
    ]
)


def signal_text() -> Column:
    """The per-document text the signal/verdict stages score: the
    space-joined text spans. SPACE-joined, not newline: trim() strips only
    spaces (both engines), so a trailing empty span joined with "\\n" would
    leave a separator that split('\\s+') turns into a phantom empty token."""
    return F.array_join(
        F.transform(
            F.filter("spans", lambda s: s["kind"] == "text"), lambda s: s["text"]
        ),
        " ",
    )


def compute_signals(
    extracted: DataFrame, extra: dict[str, Column | object] | None = None
) -> DataFrame:
    """Per-document signal columns over extracted rows (doc_id, spans,
    part_id, ...). Pure projection — no shuffle, no Python. ``extra``
    columns ride along the same pass and come out after ``part_id``; an
    entry may be a plain Column (evaluated from the SOURCE row) or a
    callable receiving the staged ``(_text, _tok)`` columns.

    The span-join and the token split are STAGED through their own selects
    so each is evaluated once per row: they are interpreted higher-order
    expressions (no codegen subexpression elimination), and inlining them
    into every consumer — n_tokens, stopwords, Simpson, the language
    argmax, curate's digest and classifier fold — re-runs the full
    transform/split chain per consumer (the lang_marker_counts precedent:
    measured ~2x). CollapseProject leaves non-cheap aliases staged."""
    from ..ops.textstats import _count_in

    extra = extra or {}
    _text, _tok = F.col("_text"), F.col("_tok")
    d = extracted.select(
        "doc_id",
        "part_id",
        "spans",
        signal_text().alias("_text"),
    )
    d = d.select(
        "doc_id",
        "part_id",
        "spans",  # still visible to plain-Column extras below
        F.size(F.filter("spans", lambda s: s["kind"] == "text"))
        .cast("int")
        .alias("n_text_spans"),
        F.size(F.filter("spans", lambda s: s["kind"] == "media"))
        .cast("int")
        .alias("n_media_spans"),
        "_text",
        tokens(_text).alias("_tok"),
    )
    d = d.select(
        "doc_id",
        "part_id",
        *(
            (expr(_text, _tok) if callable(expr) else expr).alias(name)
            for name, expr in extra.items()
        ),
        "n_text_spans",
        "n_media_spans",
        # split('') is [''] — an empty doc must count 0 tokens, not 1
        F.when(F.length(F.trim(_text)) == 0, F.lit(0))
        .otherwise(F.size(_tok))
        .cast("bigint")
        .alias("n_tokens"),
        _count_in(_tok, STOPWORDS).alias("_n_stop"),
        simpson_pairs(_tok).alias("_pairs"),
        *lang_marker_counts(_tok),
    )
    return d.select(
        "doc_id",
        "n_text_spans",
        "n_media_spans",
        "n_tokens",
        F.when(F.col("n_tokens") > 0, lang_argmax())
        .otherwise(F.lit("unknown"))
        .alias("pred_lang"),
        F.when(
            F.col("n_tokens") > 0,
            F.expr("_n_stop * 1000000 DIV n_tokens"),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("stopword_micros"),
        F.when(
            F.col("n_tokens") >= 2,
            F.expr("_pairs * 1000000 DIV (n_tokens * (n_tokens - 1))"),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("simpson_micros"),
        "part_id",
        *extra,
    )


def run_signals(
    spark: SparkSession,
    src_log: CommitLog,
    out_log: CommitLog,
    rebuild: bool = False,
) -> RunReport:
    """One incremental signals pass: consume the source snapshots committed
    since the cursor, or (``rebuild=True``) recompute everything as one
    overwrite chunk. The consumer loop itself lives in spark/derived.py —
    signals is its simplest instance (stateless map-only compute)."""
    return run_derived_stage(
        spark,
        src_log,
        out_log,
        "signals",
        lambda delta, _horizon: compute_signals(delta),
        rebuild=rebuild,
    )


def read_signals(spark: SparkSession, out_log: CommitLog) -> DataFrame:
    return out_log.read_table(spark, SIGNALS_SCHEMA)
