"""Advanced relational operators.

Spark capabilities the reference never had but a complete engine exposes
"for free" once the data is a DataFrame (SURVEY.md §2.4 note): rollup
grouping sets, gap-based sessionization windows, corpus word counts and a
scale-safe per-group deviation. Each has an exact DuckDB oracle; all
money/ratio outputs use the integer-exact conventions from analytics.py (cents / floor-micros, never raw double sums).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .portable import epoch_s, h64, h64_sql, tokens, tokens_sql


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- rollup / grouping sets ------------------------------------------------

def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue rollup over (mktsegment, orderpriority) incl. grand total."""
    orders = _read(spark, sf_dir, "orders")
    customer = _read(spark, sf_dir, "customer")
    joined = orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
    return (
        joined.rollup("c_mktsegment", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint")).alias("revenue_cents"),
        )
        .select(
            F.coalesce("c_mktsegment", F.lit("<all>")).alias("mktsegment"),
            F.coalesce("o_orderpriority", F.lit("<all>")).alias("orderpriority"),
            "n_orders",
            "revenue_cents",
        )
        .orderBy("mktsegment", "orderpriority")
    )


ROLLUP_REVENUE_SQL = """
SELECT coalesce(c_mktsegment, '<all>') AS mktsegment,
       coalesce(o_orderpriority, '<all>') AS orderpriority,
       count(*) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY ROLLUP (c_mktsegment, o_orderpriority)
ORDER BY mktsegment, orderpriority
"""


# --- gap-based sessionization ----------------------------------------------

SESSION_GAP_MIN = 30


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessions: a new session starts after a >30-minute gap.

    lag + running sum over (user, ts, event_id) — the classic event-stream
    sessionization; at scale this is one shuffle on user_id and each
    window is evaluated within its partition.
    """
    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # wall-clock-field epoch: correct in ANY session timezone (the driver's
    # session config is not ours to control), matches floor(epoch(ts))
    epoch = epoch_s("ts")
    gap_s = epoch - F.lag(epoch).over(w)
    new_session = F.when(
        gap_s.isNull() | (gap_s > SESSION_GAP_MIN * 60), F.lit(1)
    ).otherwise(F.lit(0))
    sessions = ev.withColumn(
        "session_id",
        F.sum(new_session).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events")
    )
    return (
        per_session.groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
            F.sum("n_events").alias("total_events"),
        )
        .orderBy("user_id")
    )


SESSIONIZE_SQL = f"""
WITH flagged AS (
  -- floor(epoch()) matches Spark's timestamp->long cast (whole seconds);
  -- DuckDB's epoch() alone keeps fractional seconds and would split
  -- boundary gaps differently
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR CAST(floor(epoch(ts)) AS BIGINT)
                      - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT)
                      > {SESSION_GAP_MIN * 60}
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
numbered AS (
  SELECT user_id,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged),
per_session AS (
  SELECT user_id, session_id, count(*) AS n_events
  FROM numbered GROUP BY 1, 2)
SELECT user_id,
       count(*) AS n_sessions,
       max(n_events) AS max_session_events,
       CAST(sum(n_events) AS BIGINT) AS total_events
FROM per_session GROUP BY user_id ORDER BY user_id
"""


# --- corpus word count top-k ----------------------------------------------

def q_wordcount_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 corpus tokens (partial-agg combine before the shuffle)."""
    docs = _read(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(50)
    )


WORDCOUNT_TOPK_SQL = f"""
SELECT token, count(*) AS n
FROM (SELECT unnest({tokens_sql('text')}) AS token FROM documents)
GROUP BY token ORDER BY n DESC, token LIMIT 50
"""


# --- two-phase salted aggregation (explicit skew mitigation) ---------------

N_SALTS = 16


def q_salted_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 heaviest users via explicit two-phase salted aggregation.

    Key salting as a standalone relational op (the extraction pipeline
    needs none: it has no key, so hash(doc_id) already scatters, see
    pipeline.balance_partitions): phase 1 aggregates on (user_id, salt) so a
    hot key's rows split across N_SALTS reducers; phase 2 merges the ≤N_SALTS
    partials per key — its shuffle carries at most keys*salts rows, never raw
    events. Results are identical to a direct groupBy (the oracle is the
    unsalted form); the plan differs: no single reducer ever sees a hot key's
    full row set. This is the hand-rolled fallback for when AQE skew
    handling can't apply (it only rewrites *joins*, not aggregations).
    """
    ev = _read(spark, sf_dir, "events")
    salted = ev.withColumn(
        "_salt", F.pmod(F.xxhash64("event_id"), F.lit(N_SALTS)).cast("int")
    )
    partial = salted.groupBy("user_id", "_salt").agg(
        F.count("*").alias("pn"),
        F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias("pv"),
    )
    final = partial.groupBy("user_id").agg(
        F.sum("pn").alias("n_events"), F.sum("pv").alias("value_cents")
    )
    return final.orderBy(F.desc("n_events"), "user_id").limit(10)


SALTED_TOPK_USERS_SQL = """
SELECT user_id, count(*) AS n_events,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events GROUP BY user_id
ORDER BY n_events DESC, user_id LIMIT 10
"""


# --- as-of join (time-series point-in-time lookup) -------------------------

def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's most recent signup.

    Spark has no ASOF JOIN operator; the scalable composition is the
    union + carry-forward pattern: tag both sides, sort within user by
    (ts, side, event_id) — signup sorts before purchase at equal ts, giving
    `<=` as-of semantics — and carry the last signup time forward with
    last(..., ignorenulls) over an unbounded-preceding frame. ONE shuffle on
    user_id total, versus a per-row range probe; no join node at all. This is
    the standard distributed as-of plan (the alternative, a range join,
    explodes on wide time gaps).
    """
    ev = _read(spark, sf_dir, "events")
    epoch = epoch_s("ts")
    tagged = ev.where(F.col("event_type").isin("signup", "purchase")).select(
        "event_id",
        "user_id",
        epoch.alias("ts_s"),
        F.when(F.col("event_type") == "signup", 0).otherwise(1).alias("side"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_s", "side", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = tagged.withColumn(
        "last_signup_s",
        F.last(F.when(F.col("side") == 0, F.col("ts_s")), ignorenulls=True).over(w),
    )
    return (
        carried.where(F.col("side") == 1)
        .select(
            "event_id",
            "user_id",
            F.col("ts_s").alias("purchase_ts_s"),
            "last_signup_s",
            (F.col("ts_s") - F.col("last_signup_s")).alias("gap_s"),
        )
        .orderBy("event_id")
    )


ASOF_JOIN_SQL = """
-- whole-second comparison on BOTH sides: Spark's window orders by floored
-- epoch seconds (unix_timestamp), so the as-of cutoff is the second, not the
-- raw timestamp; signup-at-equal-second counts as matched (<=)
WITH es AS (
  SELECT event_id, user_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
  FROM events WHERE event_type IN ('signup', 'purchase'))
SELECT e.event_id, e.user_id,
       e.ts_s AS purchase_ts_s,
       (SELECT max(s.ts_s) FROM es s
        WHERE s.user_id = e.user_id AND s.event_type = 'signup'
          AND s.ts_s <= e.ts_s) AS last_signup_s,
       e.ts_s - (SELECT max(s.ts_s) FROM es s
                 WHERE s.user_id = e.user_id AND s.event_type = 'signup'
                   AND s.ts_s <= e.ts_s) AS gap_s
FROM es e
WHERE e.event_type = 'purchase'
ORDER BY e.event_id
"""


# --- per-language deviation: two-phase agg + broadcast join ----------------

def q_lang_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language doc-length deviation, scale-safe plan.

    Two-phase aggregation (map-side partial sum/count per lang -> a
    languages-sized stats table) + broadcast join back to the docs — no
    executor ever holds a whole language, the big side never shuffles.
    Integer sum -> one double division keeps the mean bit-identical to the
    DuckDB oracle regardless of row order (and to the grouped
    ``applyInPandas`` form in tests/helpers.py).
    """
    docs = _read(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    stats = docs.groupBy("lang").agg(
        (F.sum("n_chars").cast("double") / F.count("*")).alias("mean")
    )
    return (
        docs.join(F.broadcast(stats), "lang")
        .select(
            "doc_id",
            "lang",
            "n_chars",
            F.floor(F.col("mean") * 1_000_000.0).cast("bigint").alias("lang_mean_micros"),
            F.floor((F.col("n_chars") - F.col("mean")) * 1_000_000.0)
            .cast("bigint")
            .alias("dev_micros"),
        )
        .orderBy("doc_id")
    )


LANG_DEVIATION_SQL = """
WITH stats AS (
  SELECT lang,
         CAST(sum(n_chars) AS DOUBLE) / count(*) AS mean
  FROM documents GROUP BY lang)
SELECT doc_id, d.lang, n_chars,
       CAST(floor(mean * 1000000.0) AS BIGINT) AS lang_mean_micros,
       CAST(floor((n_chars - mean) * 1000000.0) AS BIGINT) AS dev_micros
FROM documents d JOIN stats USING (lang)
ORDER BY doc_id
"""


# --- exact interpolated quantiles (distributed, no driver materialization) --

_QUANTILES = (0.5, 0.95, 0.99)


def q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source doc-length quantiles (p50/p95/p99), exact linear
    interpolation, computed distributively: ONE window shuffle on the group
    key (rank assignment) + conditional aggregation picking the two
    bracketing ranks per quantile — never a per-group value collect. This is
    the exact-quantile plan that scales when ``percentile()`` (which
    materializes each group) cannot; at 100 TB the same shape runs per
    partition-pruned source. approx_percentile remains the cheap alternative
    when exactness isn't required.
    """
    docs = _read(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    counts = docs.groupBy("source").agg(F.count("*").alias("n"))
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = docs.withColumn("rn", F.row_number().over(w) - 1)
    j = ranked.join(F.broadcast(counts), "source")
    aggs = []
    for q in _QUANTILES:
        pos = (F.col("n") - 1).cast("double") * F.lit(q)
        lo = F.floor(pos)
        hi = F.ceil(pos)
        frac = pos - lo
        v_lo = F.max(F.when(F.col("rn") == lo, F.col("n_chars").cast("double")))
        v_hi = F.max(F.when(F.col("rn") == hi, F.col("n_chars").cast("double")))
        # frac is constant within the group; carry it through max()
        fr = F.max(F.when(F.col("rn") == lo, frac))
        val = v_lo + (v_hi - v_lo) * fr
        aggs.append(
            F.floor(val * 1_000_000.0)
            .cast("bigint")
            .alias(f"p{int(q * 100):02d}_micros")
        )
    return j.groupBy("source").agg(*aggs).orderBy("source")


def _length_quantiles_sql() -> str:
    # the SAME manual bracketing-rank formula (not quantile_cont) so both
    # engines execute identical IEEE operations in identical order
    cols = []
    for q in _QUANTILES:
        cols.append(
            f"CAST(floor((vlo_{int(q*100)} + (vhi_{int(q*100)} - vlo_{int(q*100)}) "
            f"* fr_{int(q*100)}) * 1000000.0) AS BIGINT) AS p{int(q*100):02d}_micros"
        )
    picks = []
    for q in _QUANTILES:
        qq = int(q * 100)
        picks.append(
            f"max(CASE WHEN rn = floor(pos_{qq}) THEN CAST(n_chars AS DOUBLE) END) AS vlo_{qq},\n"
            f"  max(CASE WHEN rn = ceil(pos_{qq}) THEN CAST(n_chars AS DOUBLE) END) AS vhi_{qq},\n"
            f"  max(CASE WHEN rn = floor(pos_{qq}) THEN pos_{qq} - floor(pos_{qq}) END) AS fr_{qq}"
        )
    pos_defs = ", ".join(
        f"CAST(n - 1 AS DOUBLE) * {q} AS pos_{int(q*100)}" for q in _QUANTILES
    )
    return f"""
WITH counts AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
ranked AS (
  SELECT source, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) - 1 AS rn
  FROM documents),
j AS (SELECT r.source, r.n_chars, r.rn, {pos_defs}
      FROM ranked r JOIN counts USING (source)),
agg AS (
  SELECT source,
  {", ".join(picks)}
  FROM j GROUP BY source)
SELECT source, {", ".join(cols)}
FROM agg ORDER BY source
"""


LENGTH_QUANTILES_SQL = _length_quantiles_sql()


# --- deterministic stratified sampling --------------------------------------

# per-stratum keep rates in parts-per-million; downsample the dominant
# language, keep the tail — the standard corpus-rebalancing move
SAMPLE_RATE_PPM = {"en": 300_000}
SAMPLE_DEFAULT_PPM = 700_000
_SAMPLE_SALT = ":sample:42"


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language stratified sample via deterministic hash thresholding.

    keep iff h(doc_id || salt) mod 1e6 < rate_ppm(lang). Map-only (zero
    shuffle), reproducible across runs and cluster sizes (no RNG state), and
    cheap to re-draw with a different salt. This is how you rebalance a
    10^12-doc corpus: the filter pipelines into the scan, no sampling
    operator state, exact expected rates per stratum.
    """
    docs = _read(spark, sf_dir, "documents").select("doc_id", "lang")
    rate = F.when(
        F.col("lang") == "en", F.lit(SAMPLE_RATE_PPM["en"])
    ).otherwise(F.lit(SAMPLE_DEFAULT_PPM))
    bucket = F.pmod(
        h64(F.concat(F.col("doc_id").cast("string"), F.lit(_SAMPLE_SALT))),
        F.lit(1_000_000),
    )
    return (
        docs.where(bucket < rate)
        .select("doc_id", "lang", bucket.cast("bigint").alias("sample_bucket"))
        .orderBy("doc_id")
    )


STRATIFIED_SAMPLE_SQL = f"""
SELECT doc_id, lang,
       {h64_sql(f"CAST(doc_id AS VARCHAR) || '{_SAMPLE_SALT}'")} % 1000000
         AS sample_bucket
FROM documents
WHERE {h64_sql(f"CAST(doc_id AS VARCHAR) || '{_SAMPLE_SALT}'")} % 1000000
      < (CASE WHEN lang = 'en' THEN {SAMPLE_RATE_PPM['en']}
              ELSE {SAMPLE_DEFAULT_PPM} END)
ORDER BY doc_id
"""


# --- corpus mixing: resample to a TARGET language distribution ---------------

# target language shares in ppm (sum = 1.0): the mixing recipe a training
# run specifies, independent of what the crawl actually contains
MIX_TARGET_PPM = {"en": 400_000, "de": 150_000, "fr": 150_000, "es": 150_000,
                  "zh": 150_000}
_MIX_SALT = ":mix:7"


def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixing: derive per-language sampling rates FROM the data so
    the selected subset matches a target language distribution (capped at
    rate 1.0 — you cannot upsample without duplication), then select docs by
    deterministic hash thresholding. This is the distribution-matching stage
    of a training-data pipeline (stratified_sample applies FIXED rates; this
    computes the rates from target shares x observed counts).

    Scale shape: per-language counts are one partial-agg groupBy (a handful
    of rows), the rate table broadcasts back, and selection is a map-only
    hash threshold that pipelines into the scan — rerunnable with a new salt,
    reproducible across cluster sizes. Exactness: rate = floor of one double
    division of exact bigints; both engines evaluate the identical IEEE op.
    """
    docs = _read(spark, sf_dir, "documents").select("doc_id", "lang")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    total = counts.agg(F.sum("n_docs").alias("n_total"))
    expr = None
    for lang, ppm in MIX_TARGET_PPM.items():
        cond = F.when(F.col("lang") == lang, F.lit(ppm).cast("bigint"))
        expr = cond if expr is None else expr.when(
            F.col("lang") == lang, F.lit(ppm).cast("bigint")
        )
    share = expr.otherwise(F.lit(0).cast("bigint"))
    rates = (
        counts.crossJoin(F.broadcast(total))
        .withColumn(
            "rate_ppm",
            F.least(
                F.lit(1_000_000).cast("bigint"),
                F.floor((share * F.col("n_total")).cast("double") / F.col("n_docs"))
                .cast("bigint"),
            ),
        )
        .select("lang", "n_docs", "rate_ppm")
    )
    bucket = F.pmod(
        h64(F.concat(F.col("doc_id").cast("string"), F.lit(_MIX_SALT))),
        F.lit(1_000_000),
    )
    selected = (
        docs.join(F.broadcast(rates.select("lang", "rate_ppm")), "lang")
        .where(bucket < F.col("rate_ppm"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_selected"))
    )
    return (
        rates.join(F.broadcast(selected), "lang", "left")
        .select(
            "lang",
            "n_docs",
            "rate_ppm",
            F.coalesce("n_selected", F.lit(0)).cast("bigint").alias("n_selected"),
        )
        .orderBy("lang")
    )


def _corpus_mix_sql() -> str:
    share = "CASE lang " + " ".join(
        f"WHEN '{lang}' THEN {ppm}" for lang, ppm in MIX_TARGET_PPM.items()
    ) + " ELSE 0 END"
    bucket = h64_sql(f"CAST(doc_id AS VARCHAR) || '{_MIX_SALT}'") + " % 1000000"
    return f"""
WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
r AS (SELECT lang, n_docs,
             least(1000000,
                   CAST(floor(CAST(({share}) * (SELECT sum(n_docs) FROM c)
                                   AS DOUBLE) / n_docs) AS BIGINT)) AS rate_ppm
      FROM c),
sel AS (SELECT d.lang, count(*) AS n_selected
        FROM documents d JOIN r ON d.lang = r.lang
        WHERE {bucket} < r.rate_ppm
        GROUP BY d.lang)
SELECT r.lang, r.n_docs, r.rate_ppm,
       CAST(coalesce(sel.n_selected, 0) AS BIGINT) AS n_selected
FROM r LEFT JOIN sel ON r.lang = sel.lang
ORDER BY r.lang
"""


_MIX_EPOCH_SALT = ":epochs:11"


def q_mix_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the UPSAMPLED mixture :func:`q_corpus_mix` can't
    (its rates cap at 1.0): per-language epoch repeat factors — the
    Pile/LLaMA "epochs per source" assembly where an under-represented
    language is repeated rate times, fractional part resolved per-doc by a
    deterministic hash bucket (a doc repeats ceil(rate) with probability
    frac(rate), floor(rate) otherwise — expected counts match the target
    shares exactly). One row per (doc, epoch) — the materialized training
    mix.

    Scale shape: per-language counts are one tiny partial-agg groupBy, the
    uncapped rate table broadcasts back, and the repeat emission is a
    map-only 1-to-many sequence explode fused into the scan pipeline — the
    corpus stream never shuffles, output size is exactly the token budget
    the mix calls for, and the hash salt makes reruns/backfills
    bit-reproducible at any cluster size. Rate exactness: same single
    IEEE double division as corpus_mix, floored to ppm on both engines."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "lang")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    expr = None
    for lang, ppm in MIX_TARGET_PPM.items():
        cond = F.when(F.col("lang") == lang, F.lit(ppm).cast("bigint"))
        expr = cond if expr is None else expr.when(
            F.col("lang") == lang, F.lit(ppm).cast("bigint")
        )
    share = expr.otherwise(F.lit(0).cast("bigint"))
    # grand total as a window over the language COUNTS (bounded, one row
    # per language) — a second agg branch from `docs` would re-scan the
    # table (no cross-branch CSE in Catalyst)
    rates = (
        counts.withColumn(
            "n_total", F.sum("n_docs").over(Window.partitionBy(F.lit(1)))
        )
        .withColumn(
            "rate_ppm",
            F.floor((share * F.col("n_total")).cast("double") / F.col("n_docs"))
            .cast("bigint"),
        )
        .select("lang", "rate_ppm")
    )
    bucket = F.pmod(
        h64(F.concat(F.col("doc_id").cast("string"), F.lit(_MIX_EPOCH_SALT))),
        F.lit(1_000_000),
    )
    rep = (
        F.expr("rate_ppm DIV 1000000")
        + F.when(bucket < F.expr("rate_ppm % 1000000"), 1).otherwise(0)
    ).cast("bigint")
    return (
        docs.join(F.broadcast(rates), "lang")
        .withColumn("n_repeats", rep)
        .where(F.col("n_repeats") > 0)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.sequence(F.lit(1).cast("bigint"), F.col("n_repeats"))
            ).alias("epoch"),
        )
        .orderBy("doc_id", "epoch")
    )


def _mix_epochs_sql() -> str:
    share = "CASE lang " + " ".join(
        f"WHEN '{lang}' THEN {ppm}" for lang, ppm in MIX_TARGET_PPM.items()
    ) + " ELSE 0 END"
    bucket = h64_sql(f"CAST(doc_id AS VARCHAR) || '{_MIX_EPOCH_SALT}'") + " % 1000000"
    return f"""
WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
r AS (SELECT lang,
             CAST(floor(CAST(({share}) * (SELECT sum(n_docs) FROM c)
                             AS DOUBLE) / n_docs) AS BIGINT) AS rate_ppm
      FROM c),
rep AS (SELECT d.doc_id, d.lang,
               r.rate_ppm // 1000000
                 + CASE WHEN {bucket} < r.rate_ppm % 1000000
                        THEN 1 ELSE 0 END AS n_repeats
        FROM documents d JOIN r ON d.lang = r.lang)
SELECT doc_id, lang, CAST(unnest(range(1, n_repeats + 1)) AS BIGINT) AS epoch
FROM rep WHERE n_repeats > 0 ORDER BY doc_id, epoch
"""


# --- full cube -----------------------------------------------------------

def q_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue over the FULL cube of (mktsegment, orderpriority): every
    grouping-set combination incl. per-priority totals that ROLLUP omits.

    `grouping_id` disambiguates a rolled-up NULL from a data NULL (the
    bitmask contract is identical in Spark's grouping_id() and DuckDB's
    GROUPING(a, b): first column = most significant bit). Same scale
    shape as any groupBy — Spark expands the grouping sets BEFORE the
    exchange, so the cube is one shuffle with map-side partial aggs,
    not four separate jobs.
    """
    orders = _read(spark, sf_dir, "orders")
    customer = _read(spark, sf_dir, "customer")
    joined = orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
    return (
        joined.cube("c_mktsegment", "o_orderpriority")
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint")).alias("revenue_cents"),
        )
        .select(
            "gid",
            F.coalesce("c_mktsegment", F.lit("<all>")).alias("mktsegment"),
            F.coalesce("o_orderpriority", F.lit("<all>")).alias("orderpriority"),
            "n_orders",
            "revenue_cents",
        )
        .orderBy("gid", "mktsegment", "orderpriority")
    )


CUBE_REVENUE_SQL = """
SELECT CAST(GROUPING(c_mktsegment, o_orderpriority) AS BIGINT) AS gid,
       coalesce(c_mktsegment, '<all>') AS mktsegment,
       coalesce(o_orderpriority, '<all>') AS orderpriority,
       count(*) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY CUBE (c_mktsegment, o_orderpriority)
ORDER BY gid, mktsegment, orderpriority
"""


# --- value-based (RANGE) sliding window --------------------------------------

def q_moving_window_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day event count / revenue per event type, per active day.

    A RANGE frame over the integer day number — unlike a ROWS frame this
    is gap-correct: a day with no events contributes nothing AND days
    more than 6 back fall out of the frame even when the intervening
    rows are missing. Pre-aggregating to daily grain first means the
    window sees <=365 rows per type per year regardless of raw event
    volume — the shuffle carries daily partials, never events. The
    trailing average is floor-micros integer division (n_7d >= 1 by
    construction: the current day always has events).
    """
    ev = _read(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias("cents"),
    ).withColumn("day_num", F.datediff("day", F.lit("2024-01-01").cast("date")))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_num")
        .rangeBetween(-6, 0)
    )
    return (
        daily.select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "event_type",
            F.sum("n").over(w).alias("n_7d"),
            F.sum("cents").over(w).alias("cents_7d"),
        )
        .withColumn("avg_cents_micros", F.expr("(cents_7d * 1000000) DIV n_7d"))
        .orderBy("day", "event_type")
    )


MOVING_WINDOW_7D_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, event_type,
         count(*) AS n,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents,
         datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day_num
  FROM events GROUP BY 1, 2, 5)
SELECT strftime(day, '%Y-%m-%d') AS day, event_type,
       CAST(sum(n) OVER w AS BIGINT) AS n_7d,
       CAST(sum(cents) OVER w AS BIGINT) AS cents_7d,
       (CAST(sum(cents) OVER w AS BIGINT) * 1000000) // CAST(sum(n) OVER w AS BIGINT)
         AS avg_cents_micros
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY day_num
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
ORDER BY day, event_type
"""


# --- NTILE length tiers --------------------------------------------------------

N_TIERS = 10


def q_length_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length deciles via NTILE: tier boundaries +
    populations, the bucketing a curation pipeline uses to cap or
    resample by length within each source.

    NTILE sorts within its window partition, so the partition key must
    be a real grouping (source), never the whole corpus — a global NTILE
    funnels 100 TB through one partition (for global tiers use the
    bracketing-rank `length_quantiles` instead). Per-source windows
    parallelize across sources and the sort is bounded by the largest
    source. Ties break on doc_id so both engines assign identically.
    """
    docs = _read(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    tiers = docs.select(
        "source", "n_chars", F.ntile(N_TIERS).over(w).cast("bigint").alias("tier")
    )
    return (
        tiers.groupBy("source", "tier")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("source", "tier")
    )


LENGTH_TIERS_SQL = f"""
WITH tiers AS (
  SELECT source, n_chars,
         ntile({N_TIERS}) OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS tier
  FROM documents)
SELECT source, tier, count(*) AS n_docs,
       min(n_chars) AS min_chars, max(n_chars) AS max_chars
FROM tiers GROUP BY source, tier ORDER BY source, tier
"""


# --- cohort retention matrix ----------------------------------------------

def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention: users grouped by first-seen date, counted per
    week-offset they remain active.

    The classic formulation self-joins events against a per-user first-seen
    table — two shuffles of the full fact table. This plan does ONE shuffle
    of (user_id) with map-side partial collect_set(date): the per-user state
    is bounded by the corpus's day span (not event count), then the
    exploded (cohort, offset) pairs aggregate in a second, cohort-sized
    shuffle. countDistinct dedups users active on several days of the same
    week.
    """
    ev = _read(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort"),
        F.collect_set(F.to_date("ts")).alias("days"),
    )
    exploded = per_user.select(
        "user_id", "cohort", F.explode("days").alias("d")
    )
    return (
        exploded.groupBy(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_date"),
            F.floor(F.datediff("d", "cohort") / 7).cast("bigint").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort_date", "week_offset")
    )


RETENTION_COHORTS_SQL = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
coh AS (
  SELECT user_id, min(d) AS cohort FROM days GROUP BY user_id)
SELECT strftime(cohort, '%Y-%m-%d') AS cohort_date,
       CAST(floor((d - cohort) / 7) AS BIGINT) AS week_offset,
       count(DISTINCT days.user_id) AS n_users
FROM days JOIN coh USING (user_id)
GROUP BY 1, 2 ORDER BY cohort_date, week_offset
"""


# --- ordered funnel conversion ---------------------------------------------

def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict ordered funnel signup → view → purchase, one shuffle total.

    Step k counts a user only if an event of step k's type occurs at-or-
    after the first *qualified* step k-1 event — the sequential dependency
    that a flat conditional aggregation cannot express. Instead of per-step
    self-joins (k shuffles of the fact table), one window pass carries the
    first-signup and first-qualified-view marks forward over (user, ts,
    event_id) order; the per-user flags then reduce in the same partitioning.
    Equal-timestamp events tie-break on event_id identically in both
    engines, so the boundary semantics are deterministic.
    """
    ev = _read(spark, sf_dir, "events")
    es = epoch_s("ts")
    base = ev.where(
        F.col("event_type").isin("signup", "view", "purchase")
    ).select("user_id", "event_id", "event_type", es.alias("es"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("es", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_s = base.withColumn(
        "s_seen",
        F.min(F.when(F.col("event_type") == "signup", F.col("es"))).over(w),
    )
    with_v = with_s.withColumn(
        "v_seen",
        F.min(
            F.when(
                (F.col("event_type") == "view") & F.col("s_seen").isNotNull(),
                F.col("es"),
            )
        ).over(w),
    )
    flags = with_v.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "signup", 1).otherwise(0)).alias("r1"),
        F.max(
            F.when(
                (F.col("event_type") == "view") & F.col("s_seen").isNotNull(), 1
            ).otherwise(0)
        ).alias("r2"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & F.col("v_seen").isNotNull(), 1
            ).otherwise(0)
        ).alias("r3"),
    )
    return flags.agg(
        F.count("*").alias("n_users"),
        F.sum("r1").alias("n_signup"),
        F.sum("r2").alias("n_signup_view"),
        F.sum("r3").alias("n_full_funnel"),
    )


FUNNEL_CONVERSION_SQL = """
WITH base AS (
  SELECT user_id, event_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS es
  FROM events WHERE event_type IN ('signup', 'view', 'purchase')),
with_s AS (
  SELECT *, min(CASE WHEN event_type = 'signup' THEN es END)
              OVER w AS s_seen
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id
               ROWS UNBOUNDED PRECEDING)),
with_v AS (
  SELECT *, min(CASE WHEN event_type = 'view' AND s_seen IS NOT NULL
                     THEN es END) OVER w AS v_seen
  FROM with_s
  WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id
               ROWS UNBOUNDED PRECEDING)),
flags AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS r1,
         max(CASE WHEN event_type = 'view' AND s_seen IS NOT NULL
                  THEN 1 ELSE 0 END) AS r2,
         max(CASE WHEN event_type = 'purchase' AND v_seen IS NOT NULL
                  THEN 1 ELSE 0 END) AS r3
  FROM with_v GROUP BY user_id)
SELECT count(*) AS n_users,
       CAST(sum(r1) AS BIGINT) AS n_signup,
       CAST(sum(r2) AS BIGINT) AS n_signup_view,
       CAST(sum(r3) AS BIGINT) AS n_full_funnel
FROM flags
"""


# --- data-quality expectation checks -----------------------------------------

def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation suite — the validation gate a pipeline runs
    before training consumes a snapshot: referential integrity (anti-join
    violation counts), primary-key uniqueness, null checks, and range
    checks, one row per rule. All rules evaluate in the same job; a real
    deployment alerts when any n_violations > 0 (the synthetic corpus is
    clean, so every row here value-hashes to zero — the point is the
    rule evaluation itself is gated).

    Scale shape: each FK rule is one anti join on its key (AQE picks
    broadcast while the dimension fits); uniqueness is count - distinct
    inside one aggregate; null/range checks ride a single map-side
    conditional sum per table — no rule ever materializes violating ROWS,
    only counts cross the final single-row union.
    """
    orders = _read(spark, sf_dir, "orders")
    customer = _read(spark, sf_dir, "customer")
    li = _read(spark, sf_dir, "lineitem")
    docs = _read(spark, sf_dir, "documents")
    events = _read(spark, sf_dir, "events")

    def one(rule: str, df: DataFrame) -> DataFrame:
        return df.select(F.lit(rule).alias("rule"), F.col("n_violations"))

    fk_oc = orders.join(
        customer, orders.o_custkey == customer.c_custkey, "left_anti"
    ).agg(F.count("*").alias("n_violations"))
    fk_lo = li.join(
        orders.select("o_orderkey"),
        li.l_orderkey == F.col("o_orderkey"),
        "left_anti",
    ).agg(F.count("*").alias("n_violations"))
    pk_docs = docs.agg(
        (F.count("doc_id") - F.count_distinct(F.col("doc_id"))).alias(
            "n_violations"
        )
    )
    null_ts = events.agg(
        F.sum(F.when(F.col("ts").isNull(), 1).otherwise(0)).alias("n_violations")
    )
    neg_qty = li.agg(
        F.sum(F.when(F.col("l_quantity") <= 0, 1).otherwise(0)).alias(
            "n_violations"
        )
    )
    date_range = li.agg(
        F.sum(
            F.when(
                (F.col("l_shipdate") < F.lit("1992-01-01"))
                | (F.col("l_shipdate") >= F.lit("1999-01-01")),
                1,
            ).otherwise(0)
        ).alias("n_violations")
    )
    out = (
        one("fk_orders_customer", fk_oc)
        .unionAll(one("fk_lineitem_orders", fk_lo))
        .unionAll(one("pk_documents_unique", pk_docs))
        .unionAll(one("null_events_ts", null_ts))
        .unionAll(one("range_lineitem_quantity_positive", neg_qty))
        .unionAll(one("range_lineitem_shipdate", date_range))
    )
    return out.select(
        "rule", F.coalesce("n_violations", F.lit(0)).cast("bigint").alias("n_violations")
    ).orderBy("rule")


DQ_CHECKS_SQL = """
SELECT rule, CAST(n_violations AS BIGINT) AS n_violations FROM (
  SELECT 'fk_orders_customer' AS rule,
         (SELECT count(*) FROM orders o
          WHERE NOT EXISTS (SELECT 1 FROM customer c
                            WHERE c.c_custkey = o.o_custkey)) AS n_violations
  UNION ALL
  SELECT 'fk_lineitem_orders',
         (SELECT count(*) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_orderkey = l.l_orderkey))
  UNION ALL
  SELECT 'pk_documents_unique',
         (SELECT count(doc_id) - count(DISTINCT doc_id) FROM documents)
  UNION ALL
  SELECT 'null_events_ts',
         (SELECT coalesce(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END), 0)
          FROM events)
  UNION ALL
  SELECT 'range_lineitem_quantity_positive',
         (SELECT coalesce(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END), 0)
          FROM lineitem)
  UNION ALL
  SELECT 'range_lineitem_shipdate',
         (SELECT coalesce(sum(CASE WHEN l_shipdate < TIMESTAMP '1992-01-01'
                                     OR l_shipdate >= TIMESTAMP '1999-01-01'
                                   THEN 1 ELSE 0 END), 0)
          FROM lineitem)
) ORDER BY rule
"""


QUERIES: dict[str, tuple] = {
    "dq_checks": (q_dq_checks, DQ_CHECKS_SQL),
    "rollup_revenue": (q_rollup_revenue, ROLLUP_REVENUE_SQL),
    "retention_cohorts": (q_retention_cohorts, RETENTION_COHORTS_SQL),
    "funnel_conversion": (q_funnel_conversion, FUNNEL_CONVERSION_SQL),
    "cube_revenue": (q_cube_revenue, CUBE_REVENUE_SQL),
    "moving_window_7d": (q_moving_window_7d, MOVING_WINDOW_7D_SQL),
    "length_tiers": (q_length_tiers, LENGTH_TIERS_SQL),
    "length_quantiles": (q_length_quantiles, LENGTH_QUANTILES_SQL),
    "stratified_sample": (q_stratified_sample, STRATIFIED_SAMPLE_SQL),
    "corpus_mix": (q_corpus_mix, _corpus_mix_sql()),
    "mix_epochs": (q_mix_epochs, _mix_epochs_sql()),
    "sessionize": (q_sessionize, SESSIONIZE_SQL),
    "wordcount_topk": (q_wordcount_topk, WORDCOUNT_TOPK_SQL),
    "salted_topk_users": (q_salted_topk_users, SALTED_TOPK_USERS_SQL),
    "asof_join": (q_asof_join, ASOF_JOIN_SQL),
    "lang_deviation": (q_lang_deviation, LANG_DEVIATION_SQL),
}
