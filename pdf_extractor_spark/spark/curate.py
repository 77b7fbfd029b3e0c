"""Incremental curation-verdict stage: gates + cross-run exact dedup.

The third pass of the pipeline (extraction -> signals -> curate): every
committed document gets ONE verdict row — ``keep`` or ``reject`` with a
reason — derived from the same single map-only scan the signals stage
makes, plus one digest-keyed exchange for exact deduplication. Reference
parity: the reference's curation loop (quality gate, then content-hash
dedup against the already-accepted set) re-expressed as a Spark plan over
the commit log; here the "already-accepted set" is the stage's OWN
committed output (the kept-digest index), so dedup is consistent across
any number of incremental runs without a separate state store.

Verdict semantics (deterministic, oracle-checkable):

- gates, in priority order (first hit wins):
  ``too_short``   n_tokens < MIN_TOKENS
  ``language``    pred_lang == 'unknown'
  ``quality``     stopword_micros < MIN_STOPWORD_MICROS
  ``classifier``  (opt-in: ``min_logit_micros`` set) hashed-linear model
                  logit (ops/textstats.cls_weight, the same frozen model as
                  the ``quality_classifier`` op) <= the threshold
- among gate-passing docs only, exact dedup on ``digest`` = md5 of the
  NORMALIZED extracted text — lowercased, whitespace collapsed to single
  spaces (the token stream re-joined) — so span-boundary artifacts (an
  empty trailing span, a tab vs a space) never split a duplicate group
  (gate-rejected docs never claim a digest slot):
  within the batch the LEXICOGRAPHICALLY-SMALLEST doc_id per digest wins;
  a digest already kept by a PRIOR committed run beats the whole batch.
  Losers get ``reason='duplicate'`` and ``dup_of`` = the winner's doc_id.

Incrementality and crash-safety come from spark/derived.py (cursor in the
marker, append-only windows, rebuild-as-overwrite). One curate-specific
wrinkle: ``rebuild`` recomputes dedup GLOBALLY over the full table with an
EMPTY index — the overwrite chunk shadows all prior verdicts, so consulting
them would resurrect winners the rebuild is meant to re-decide.

Scale shape: md5 + gates are JVM codegen over the delta scan; dedup is one
shuffle keyed on (digest, gate-pass) — skew-free by construction (a digest
group is a set of byte-identical documents) — plus a broadcast-or-shuffle
left join of the delta against the kept index, which Spark sizes at
runtime (AQE). At 100 TB the index side is big but (digest, dup_of)-narrow;
the join key is the same digest the window just shuffled on.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .derived import run_derived_stage
from .lineage import CommitLog, RunReport
from .signals import compute_signals

# bump whenever verdict semantics change: fixture caches key on it so stale
# committed verdicts can never satisfy a check against new definitions
CURATE_COMPUTE_VERSION = 1

MIN_TOKENS = 20
MIN_STOPWORD_MICROS = 30_000


@dataclass(frozen=True)
class GateConfig:
    """Corpus-dependent gate thresholds. The marker-language heuristic and
    stopword list are English-centric (ops/textstats.py), so a corpus of
    code, tables, or another language family needs different settings —
    but verdicts must stay CONSISTENT across incremental runs, so the
    config is recorded in every committed chunk's marker and a run whose
    config differs from the table's refuses (rerun with rebuild=True to
    re-verdict everything under the new gates).

    ``accept_langs=None`` rejects only ``unknown``; a tuple rejects
    anything not in it (include ``"unknown"`` in the tuple to accept
    marker-less documents — the CLI's ``--accept-langs any``).

    ``min_logit_micros=None`` (default) disables the model-based
    classifier gate entirely — the logit isn't even computed; setting it
    rejects docs whose hashed-linear-model logit is <= the threshold. The
    key enters ``as_metrics`` only when set, so existing tables curated
    before the gate existed stay config-compatible."""

    min_tokens: int = MIN_TOKENS
    min_stopword_micros: int = MIN_STOPWORD_MICROS
    accept_langs: tuple[str, ...] | None = None
    min_logit_micros: int | None = None

    def as_metrics(self) -> dict:
        m = {
            "min_tokens": self.min_tokens,
            "min_stopword_micros": self.min_stopword_micros,
            "accept_langs": (
                None if self.accept_langs is None else sorted(self.accept_langs)
            ),
        }
        if self.min_logit_micros is not None:
            m["min_logit_micros"] = self.min_logit_micros
        return m

    @staticmethod
    def any_language() -> tuple[str, ...]:
        from ..ops.textstats import _PRIORITY

        return (*_PRIORITY, "unknown")

CURATED_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("digest", StringType()),
        StructField("n_tokens", LongType()),
        StructField("pred_lang", StringType()),
        StructField("verdict", StringType(), False),
        StructField("reason", StringType()),  # null iff verdict='keep'
        StructField("dup_of", StringType()),  # null unless reason='duplicate'
        StructField("part_id", IntegerType()),
    ]
)


def kept_digest_index(spark: SparkSession, out_log: CommitLog) -> DataFrame:
    """(digest, dup_of) for every digest a prior committed run KEPT.

    Unique per digest by construction: an incremental run keeps a digest
    only if no prior run did, and a rebuild shadows everything."""
    kept = read_curated(spark, out_log).where(F.col("verdict") == "keep")
    return kept.select("digest", F.col("doc_id").alias("_idx_dup_of"))


def compute_verdicts(
    extracted: DataFrame,
    kept_index: DataFrame | None,
    gates: GateConfig | None = None,
) -> DataFrame:
    """Verdict rows for one batch of extracted docs, deduped against
    ``kept_index`` (None = empty, the rebuild path)."""
    g = gates or GateConfig()
    # callables: computed from compute_signals' staged (_text, _tok)
    # columns, so the interpreted span-join/token-split chain runs once per
    # row instead of once per consumer (see compute_signals' docstring)
    extra = {
        "digest": lambda _text, tok: F.md5(
            F.encode(F.array_join(tok, " "), "UTF-8")
        )
    }
    if g.min_logit_micros is not None:
        # single map-only fold (the accepted simhash-style F.aggregate
        # shape — interpreted, but one pass per doc, no shuffle); shares
        # the frozen model with the quality_classifier op
        from ..ops.textstats import cls_weight

        def _logit(_text, tok):
            return F.floor(
                F.aggregate(
                    tok,
                    F.lit(0).cast("bigint"),
                    lambda acc, t: acc + cls_weight(t),
                ).cast("double")
                / F.size(tok)
            ).cast("bigint")

        extra["logit_micros"] = _logit
    sig = compute_signals(extracted, extra=extra)
    lang_bad = (
        F.col("pred_lang") == "unknown"
        if g.accept_langs is None
        else ~F.col("pred_lang").isin(list(g.accept_langs))
    )
    gate = (
        F.when(F.col("n_tokens") < g.min_tokens, F.lit("too_short"))
        .when(lang_bad, F.lit("language"))
        .when(F.col("stopword_micros") < g.min_stopword_micros, F.lit("quality"))
    )
    if g.min_logit_micros is not None:
        gate = gate.when(
            F.col("logit_micros") <= g.min_logit_micros, F.lit("classifier")
        )
    gated = sig.select(
        "doc_id",
        "digest",
        "n_tokens",
        "pred_lang",
        "part_id",
        gate.alias("_gate"),
    )
    # one window pass ranks EVERY row, but partitioning includes the gate
    # verdict, so gate-rejected docs rank only among themselves and never
    # displace a passing doc's claim on the digest (their rank is unused)
    w = Window.partitionBy("digest", F.col("_gate").isNull()).orderBy("doc_id")
    ranked = gated.select(
        "*",
        F.row_number().over(w).alias("_rn"),
        F.first("doc_id").over(w).alias("_batch_winner"),
    )
    if kept_index is not None:
        # NOT hinted broadcast: the index grows with every run and is only
        # small early — AQE picks broadcast while it fits and falls back to
        # a digest-keyed shuffle join (same key the window just used) after
        ranked = ranked.join(kept_index, "digest", "left")
    else:
        ranked = ranked.withColumn("_idx_dup_of", F.lit(None).cast("string"))
    dup_of = F.when(
        F.col("_gate").isNull(),
        F.coalesce(
            "_idx_dup_of",
            F.when(F.col("_rn") > 1, F.col("_batch_winner")),
        ),
    )
    reason = F.coalesce("_gate", F.when(dup_of.isNotNull(), F.lit("duplicate")))
    return ranked.select(
        "doc_id",
        "digest",
        "n_tokens",
        "pred_lang",
        F.when(reason.isNull(), F.lit("keep")).otherwise(F.lit("reject")).alias(
            "verdict"
        ),
        reason.alias("reason"),
        dup_of.alias("dup_of"),
        "part_id",
    )


def run_curate(
    spark: SparkSession,
    src_log: CommitLog,
    out_log: CommitLog,
    rebuild: bool = False,
    gates: GateConfig | None = None,
) -> RunReport:
    """One incremental curation pass (or a global-dedup rebuild)."""
    g = gates or GateConfig()

    def _incremental(delta: DataFrame, _horizon: int) -> DataFrame:
        return compute_verdicts(delta, kept_digest_index(spark, out_log), g)

    def _rebuild(full: DataFrame, _horizon: int) -> DataFrame:
        return compute_verdicts(full, None, g)

    return run_derived_stage(
        spark,
        src_log,
        out_log,
        "curate",
        _incremental,
        rebuild=rebuild,
        rebuild_compute=_rebuild,
        extra_metrics={"gates": g.as_metrics()},
    )


def read_curated(spark: SparkSession, out_log: CommitLog) -> DataFrame:
    return out_log.read_table(spark, CURATED_SCHEMA)


def read_kept(
    spark: SparkSession,
    src_log: CommitLog,
    curate_log: CommitLog,
    neardup_log: CommitLog | None = None,
) -> DataFrame:
    """The training-ready corpus VIEW: extraction rows whose curation
    verdict is ``keep``. Publish-as-view, not rewrite — at 100 TB the kept
    corpus is most of the table and rewriting its bytes to drop the losers
    costs a full write pass; a LEFT SEMI join against the doc_id-narrow
    keep set costs one shuffled column (or a broadcast, AQE's call).

    ``neardup_log`` (optional) additionally excludes docs the near-dup
    stage flagged — but a flag only counts when its ``dup_of`` partner is
    itself in the curate-keep set: neardup runs over ALL extracted docs
    independent of curation, so a flagged-but-kept doc whose partner was
    curate-REJECTED must survive as its cluster's earliest kept
    representative (an unconditional anti join would delete the whole
    cluster's content from the view). Along a flag chain (dup_of names the
    verified PARTNER, see spark/neardup.py — B->A, C->B) the rule promotes
    the next member automatically: if A is rejected, B survives and C
    (whose partner B is kept) stays excluded. Residual near-dups among
    survivors that shared a rejected partner are KEPT — collapsing those is
    the kept-scoped rerun (``run_neardup(kept_from=...)``, CLI
    ``neardup --over-kept <curate-root> --rebuild``): its flags name only
    kept partners, so passing THAT table here drops every residual. Both exclusion
    inputs are doc_id-narrow: one semi join (flag validity) plus one anti
    join (the exclusion)."""
    return apply_kept_filters(
        spark, src_log.read_extracted(spark), curate_log, neardup_log
    )


def apply_kept_filters(
    spark: SparkSession,
    docs: DataFrame,
    curate_log: CommitLog | None = None,
    neardup_log: CommitLog | None = None,
) -> DataFrame:
    """The kept-view filter over an ARBITRARY docs DataFrame (the
    read_kept semantics — semi join on curate-keeps, anti join on
    validly-flagged near-dups), the one rule every kept consumer composes:
    read_kept, pack's and neardup's kept rebuilds (which must pin their
    source read to a captured marker set) and the export's filters.
    Without ``curate_log`` every near-dup partner counts as kept, so the
    ``neardup_log`` exclusion is a plain anti join on the flagged docs."""
    out = docs
    kept = None
    if curate_log is not None:
        kept = (
            read_curated(spark, curate_log)
            .where(F.col("verdict") == "keep")
            .select("doc_id")
        )
        out = out.join(kept, "doc_id", "left_semi")
    if neardup_log is not None:
        from .neardup import read_neardup

        flagged = read_neardup(spark, neardup_log).where(
            F.col("dup_of").isNotNull()
        )
        if kept is not None:
            flagged = flagged.join(
                kept.select(F.col("doc_id").alias("dup_of")),
                "dup_of",
                "left_semi",
            )
        out = out.join(flagged.select("doc_id"), "doc_id", "left_anti")
    return out
