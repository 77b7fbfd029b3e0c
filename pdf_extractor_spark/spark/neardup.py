"""Incremental near-duplicate stage: banded MinHash + exact-Jaccard verify.

The fourth derived pass (extraction -> signals -> curate -> neardup): every
committed document gets one row carrying its LSH band fingerprints and a
near-dup verdict — ``dup_of`` names a VERIFIED near-duplicate partner
(exact 3-gram Jaccard >= 0.5, ops/dedup.DUP_JACCARD_PPB) or is null. This
is the q_dedup_verified_pairs DAG (candidates by banded MinHash bucket
join, never all-pairs; the expensive exact measure only on candidates)
re-expressed as a CRASH-SAFE INCREMENTAL stage over the commit log: a new
batch's documents are checked against each other AND against every
previously committed document — without recomputing anything for the prior
corpus, because the stage's own committed output IS the prior band index.

Verdict semantics (deterministic):

- docs shorter than SHINGLE_K tokens have no shingles, hence no signature:
  their band columns are null and they never match anything (``dup_of``
  null by construction).
- candidate partners: any PRIOR committed doc sharing a band hash, plus any
  SAME-BATCH doc with a smaller doc_id sharing a band hash. Prior partners
  outrank batch partners; ties break on the lexicographically smallest
  partner id. ``dup_of`` names the winning verified partner — the PARTNER,
  not necessarily a canonical representative: a batch where A~B and B~C
  but A!~C records dup_of(B)=A and dup_of(C)=B (near-duplication is not
  transitive; canonicalization is ops/dedup.q_dedup_keep_best /
  star-contraction components, batch ops over the verified pairs).
- ``jaccard_ppb`` is the exact score against ``dup_of`` (null with it).

Incrementality/crash-safety come from spark/derived.py (cursor in the
marker, append-only windows, rebuild-as-overwrite). ``rebuild`` re-decides
the whole table with an EMPTY prior index (within-"batch" matching over the
full corpus — the overwrite chunk shadows every prior verdict).

``kept_from`` (rebuild-only) scopes the run to the CURATE-KEPT corpus: the
residual-cluster collapse pass spark/curate.read_kept documents. Near-dup
over the full table flags every cluster member against its verified
partner, but read_kept's flag-validity rule revives a member whose partner
was curate-rejected — two kept survivors of one cluster can remain. A
kept-scoped rerun re-decides matching among exactly the docs the composed
view can ship, so its flags collapse those residuals. Scope is recorded in
every chunk's marker and mixing is refused: the accumulated band index of
one scope does not describe the other's corpus.

Scale shape: signatures are the explode->md5->groupBy partial-agg pass
(ops/dedup docstrings — measured faster than every "map-only" higher-order
form); the candidate join is keyed on (band_id, band_hash) — O(colliding
docs), never O(n^2); prior-side SHINGLES are recomputed only for the
candidate PARTNERS (a semi-joined sliver of the source table), so the
prior corpus is never re-scanned in full; the verification join is two
doc_id-keyed hash joins + one pair agg, exactly q_dedup_verified_pairs'
pinned shape. At 10^12 docs the band index is 4 rows of (16-byte hash) per
doc — the only state the stage carries forward.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..ops.dedup import (
    DUP_JACCARD_PPB,
    MINHASH_BANDS,
    _persisted,
    _signatures_from,
    band_hash_expr,
    jaccard_ppb_for_pairs,
    shingles,
)
from .derived import check_kept_scope, derived_cursor, run_derived_stage
from .lineage import CommitLog, RunReport
from .signals import signal_text

NEARDUP_COMPUTE_VERSION = 1

_BAND_COLS = [f"bh{b}" for b in range(MINHASH_BANDS)]

NEARDUP_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        *[StructField(c, StringType()) for c in _BAND_COLS],
        StructField("dup_of", StringType()),
        StructField("jaccard_ppb", LongType()),  # null iff dup_of is null
        StructField("part_id", IntegerType()),
    ]
)


def _band_table(wide: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_hash) from a row with bh0..bh3 columns (null
    band hashes — shingle-less docs — drop out: they can't match)."""
    bands = F.array(
        *[
            F.struct(F.lit(b).alias("band_id"), F.col(c).alias("band_hash"))
            for b, c in enumerate(_BAND_COLS)
        ]
    )
    return (
        wide.select("doc_id", F.explode(bands).alias("b"))
        .select("doc_id", "b.band_id", "b.band_hash")
        .where(F.col("band_hash").isNotNull())
    )


def prior_band_index(spark: SparkSession, out_log: CommitLog) -> DataFrame:
    """(doc_id, band_id, band_hash) over every previously committed doc."""
    return _band_table(read_neardup(spark, out_log))


def compute_neardup(
    spark: SparkSession,
    delta: DataFrame,
    prior_bands: DataFrame | None,
    src_log: CommitLog | None,
    src_as_of: int | None = None,
) -> DataFrame:
    """Near-dup verdict rows for one batch. ``prior_bands``/``src_log``
    None = rebuild path (no prior index; batch-internal matching only).

    ``src_as_of`` pins the partner-text read to the stage's CURSOR
    snapshot — the source state the prior band index actually describes.
    Every indexed doc was committed at-or-before the cursor, and no
    overwrite sits between any indexed doc and the cursor (an overwrite in
    a consumed window forces rebuild, which re-decides index and verdicts
    together) — so ``as_of=cursor`` reads exactly the bytes the index's
    bands were computed from. An unpinned read-at-now would race a
    concurrent partition overwrite committing mid-run: the verification
    join would score new batch docs against REWRITTEN partner text while
    the bands that nominated the candidates describe the old text, and the
    mixed-state verdicts would stay visible until the overwrite finally
    directs the next run to rebuild."""
    d = _persisted(
        delta.select("doc_id", signal_text().alias("text"), "part_id")
    )
    sh = _persisted(shingles(d))
    sig = _signatures_from(sh)
    wide = _persisted(
        sig.select(
            "doc_id", *[band_hash_expr(b).alias(c) for b, c in enumerate(_BAND_COLS)]
        )
    )
    wide.count()  # one pass fills d + sh + wide (no cross-branch CSE)
    new_bands = _band_table(wide)

    nb = new_bands.alias("nb")
    ob = new_bands.alias("ob")
    cand_batch = (
        nb.join(
            ob,
            (F.col("nb.band_id") == F.col("ob.band_id"))
            & (F.col("nb.band_hash") == F.col("ob.band_hash"))
            & (F.col("ob.doc_id") < F.col("nb.doc_id")),
        )
        .select(
            F.col("nb.doc_id").alias("doc_id"),
            F.col("ob.doc_id").alias("partner_id"),
        )
        .distinct()
        .withColumn("src_rank", F.lit(1))  # batch partners rank after prior
    )
    verified = [
        jaccard_ppb_for_pairs(
            _persisted(cand_batch), sh, sh, "doc_id", "partner_id"
        ).drop("common")
    ]
    if prior_bands is not None:
        pb = prior_bands.alias("pb")
        cand_prior = _persisted(
            nb.join(
                pb,
                (F.col("nb.band_id") == F.col("pb.band_id"))
                & (F.col("nb.band_hash") == F.col("pb.band_hash")),
            )
            .select(
                F.col("nb.doc_id").alias("doc_id"),
                F.col("pb.doc_id").alias("partner_id"),
            )
            .distinct()
            .withColumn("src_rank", F.lit(0))
        )
        cand_prior.count()  # materialize before shingling ONLY the partners
        partner_ids = cand_prior.select(
            F.col("partner_id").alias("doc_id")
        ).distinct()
        prior_docs = (
            src_log.read_extracted(spark, as_of=src_as_of)
            .join(partner_ids, "doc_id", "left_semi")
            .select("doc_id", signal_text().alias("text"))
        )
        sh_prior = shingles(prior_docs)
        verified.append(
            jaccard_ppb_for_pairs(
                cand_prior, sh, sh_prior, "doc_id", "partner_id"
            ).drop("common")
        )

    allv = verified[0]
    for v in verified[1:]:
        allv = allv.unionAll(v)
    dups = allv.where(F.col("jaccard_ppb") >= DUP_JACCARD_PPB)
    w = Window.partitionBy("doc_id").orderBy("src_rank", "partner_id")
    best = (
        dups.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("doc_id", F.col("partner_id").alias("dup_of"), "jaccard_ppb")
    )
    return (
        d.select("doc_id", "part_id")
        .join(wide, "doc_id", "left")
        .join(best, "doc_id", "left")
        .select("doc_id", *_BAND_COLS, "dup_of", "jaccard_ppb", "part_id")
    )


def run_neardup(
    spark: SparkSession,
    src_log: CommitLog,
    out_log: CommitLog,
    rebuild: bool = False,
    kept_from: CommitLog | None = None,
) -> RunReport:
    check_kept_scope(rebuild, kept_from)

    def _incremental(delta: DataFrame, _horizon: int) -> DataFrame:
        # cursor re-read here can only differ from the stage's own if a
        # rival run committed in between — whose publish-time validate
        # hook (CommitConflict) then aborts ours anyway
        return compute_neardup(
            spark,
            delta,
            prior_band_index(spark, out_log),
            src_log,
            src_as_of=derived_cursor(out_log),
        )

    def _rebuild(full: DataFrame, _horizon: int) -> DataFrame:
        if kept_from is not None:
            from .curate import apply_kept_filters

            full = apply_kept_filters(spark, full, kept_from)
        return compute_neardup(spark, full, None, None)

    return run_derived_stage(
        spark,
        src_log,
        out_log,
        "neardup",
        _incremental,
        rebuild=rebuild,
        rebuild_compute=_rebuild,
        extra_metrics={
            "neardup_version": NEARDUP_COMPUTE_VERSION,
            "scope": "full" if kept_from is None else "kept",
        },
    )


def read_neardup(spark: SparkSession, out_log: CommitLog) -> DataFrame:
    return out_log.read_table(spark, NEARDUP_SCHEMA)
