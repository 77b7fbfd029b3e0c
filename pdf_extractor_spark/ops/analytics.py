"""Relational analytics operators (SURVEY.md §2.2-2.6) over the test tables.

Each entry implements one operator family from the reference, Spark-first
(DataFrame API, broadcast joins, window functions), with an exact ANSI-SQL
oracle. Float-summing queries aggregate integer cents (``floor(x*100)``)
instead of raw doubles: per-row IEEE products are identical across engines,
so the integer sums compare exactly, while a double sum's last bits depend on
reduction order (Spark partial aggs vs DuckDB's scan order).

Scale notes: every query here is a scan -> partial agg -> final agg or a
broadcast join; no shuffle carries more than (groups x columns). The
groupBys hash-partition on their keys and benefit from map-side combine
automatically; the one dimension join broadcasts the 1.5k-row customer side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .portable import epoch_s


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- A5: status rollup (reference success/skip/fail counters,
#     dashboard.py:574-770 -> groupBy status count) -------------------------

def q_status_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias("value_cents"),
        )
        .orderBy("event_type")
    )


STATUS_ROLLUP_SQL = """
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events GROUP BY event_type ORDER BY event_type
"""


# --- A8: ordered bucket concat (whisper 60-min transcript buckets,
#     whisper_processor.py:177-196 -> groupBy hour + ordered string agg) ----

def q_bucket_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    # formatted string, not TimestampType: value-hash comparison across
    # engines must not depend on timestamp rendering/timezone conventions
    hour = F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias(
        "bucket_hour"
    )
    # collect_list gives no order guarantee -> collect structs, array_sort on
    # the unique key, then join: deterministic under any partitioning.
    return (
        ev.where(F.col("event_type") == "signup")
        .groupBy(hour)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("event_id"))),
                    lambda s: s["event_id"].cast("string"),
                ),
                " ",
            ).alias("event_ids"),
            F.count("*").alias("n_events"),
        )
        .orderBy("bucket_hour")
    )


BUCKET_CONCAT_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket_hour,
       string_agg(CAST(event_id AS VARCHAR), ' ' ORDER BY event_id) AS event_ids,
       count(*) AS n_events
FROM events WHERE event_type = 'signup'
GROUP BY 1 ORDER BY 1
"""


# --- A8/J2 with full-containment semantics: transcript buckets -------------

def q_transcript_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed 60-min transcript buckets with the reference's straddle-drop
    rule pinned: a segment [start, start+duration] joins a bucket only if it
    fits ENTIRELY inside it (whisper_processor.py:183 requires
    seg_start >= start AND seg_end <= end — segments straddling a boundary
    are silently dropped, and that drop is part of the output contract).
    Events model segments: ts = start, value = duration seconds.
    """
    ev = _read(spark, sf_dir, "events")
    start_s = epoch_s("ts")  # session-tz-independent (see portable.epoch_s)
    seg = ev.select(
        "event_id",
        start_s.alias("start_s"),
        (start_s + F.col("value")).alias("end_s"),  # long + double -> double
    )
    bucket = (F.floor(F.col("start_s") / 3600) * 3600).cast("bigint")
    contained = seg.withColumn("bucket_start_s", bucket).where(
        F.col("end_s") <= F.col("bucket_start_s") + 3600
    )
    return (
        contained.groupBy("bucket_start_s")
        .agg(
            F.count("*").alias("n_segments"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("start_s", "event_id"))),
                    lambda s: s["event_id"].cast("string"),
                ),
                " ",
            ).alias("segment_ids"),
        )
        .orderBy("bucket_start_s")
    )


TRANSCRIPT_BUCKETS_SQL = """
WITH seg AS (
  SELECT event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS start_s,
         CAST(floor(epoch(ts)) AS BIGINT) + value AS end_s
  FROM events),
contained AS (
  SELECT *, CAST(floor(start_s / 3600) * 3600 AS BIGINT) AS bucket_start_s
  FROM seg
  WHERE end_s <= CAST(floor(start_s / 3600) * 3600 AS BIGINT) + 3600)
SELECT bucket_start_s,
       count(*) AS n_segments,
       string_agg(CAST(event_id AS VARCHAR), ' ' ORDER BY start_s, event_id)
         AS segment_ids
FROM contained GROUP BY bucket_start_s ORDER BY bucket_start_s
"""


# --- P8: distinct count (nunique progress total, dashboard.py:421) ---------

def q_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("event_type")
    )


DISTINCT_USERS_SQL = """
SELECT event_type, count(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type ORDER BY event_type
"""


# --- P3: resume anti-join (skip-if-done, helper.py:51-70) ------------------

def q_resume_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join of the input against a committed-partition set.

    The committed set here is the deterministic stand-in ``doc_id % 7 == 0``
    (in production it comes from the commit markers,
    spark/lineage.py:resume_filter). The done-side is tiny -> broadcast, so
    the anti-join never shuffles the big side.
    """
    docs = _read(spark, sf_dir, "documents")
    done = docs.where(F.col("doc_id") % 7 == 0).select("doc_id")
    remaining = docs.join(F.broadcast(done), "doc_id", "left_anti")
    return (
        remaining.groupBy("source")
        .agg(F.count("*").alias("n_remaining"), F.sum("n_chars").alias("chars_remaining"))
        .orderBy("source")
    )


RESUME_ANTIJOIN_SQL = """
SELECT source, count(*) AS n_remaining, CAST(sum(n_chars) AS BIGINT) AS chars_remaining
FROM documents WHERE doc_id % 7 <> 0
GROUP BY source ORDER BY source
"""


# --- §3.3: point lookup over the output table ------------------------------

def q_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return docs.where(F.col("doc_id") == 123).select("doc_id", "lang", "source", "n_chars")


POINT_LOOKUP_SQL = """
SELECT doc_id, lang, source, n_chars FROM documents WHERE doc_id = 123
"""


# --- W4: enumeration window (segment row_number,
#     whisper_processor.py:186-189) ----------------------------------------

def q_enumerate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("lang", "doc_id", "rn")
        .orderBy("lang", "rn")
    )


ENUMERATE_DOCS_SQL = """
SELECT lang, doc_id, rn FROM (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
  FROM documents) t
WHERE rn <= 5 ORDER BY lang, rn
"""


# --- W2: latest-per-key argmax (the pick-newest-artifact-by-mtime pattern,
#     helper.py:51-70 latest JSON selection, lifted to a relational op) -----

def q_latest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each user's most recent event — row_number over (ts desc, event_id
    desc) = 1. One shuffle on the key; at scale this is the dedup-to-latest
    move for any mutable-entity feed (the reference applies it to artifact
    files by mtime). event_id breaks ts ties deterministically."""
    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "event_id",
            "event_type",
            epoch_s("ts").alias("ts_s"),
        )
        .orderBy("user_id")
    )


LATEST_EVENTS_SQL = """
SELECT user_id, event_id, event_type,
       CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events) t
WHERE rn = 1 ORDER BY user_id
"""


# --- J1: broadcast equi-join (failure retry rematch, dashboard.py:453-465) -

def q_revenue_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _read(spark, sf_dir, "orders")
    customer = _read(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint")).alias("revenue_cents"),
        )
        .orderBy("c_mktsegment")
    )


REVENUE_BY_SEGMENT_SQL = """
SELECT c_mktsegment,
       count(*) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


# --- A1-A4 flavor: pricing summary (TPC-H Q1 shape, pure scan+agg) ---------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem")
    disc_price_cents = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100
    ).cast("bigint")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.floor(F.col("l_quantity")).cast("bigint")).alias("sum_qty"),
            F.sum(disc_price_cents).alias("sum_disc_price_cents"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


PRICING_SUMMARY_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT))
         AS BIGINT) AS sum_disc_price_cents,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus
"""


# --- three-way join: shipping priority (TPC-H Q3 shape) --------------------

def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⨝ orders ⨝ lineitem with selective filters on all three.

    The canonical big-join plan: the filtered customer dim broadcasts (no
    shuffle of the fact side for it); orders⨝lineitem is the one real
    shuffle, hash-partitioned on orderkey, and AQE coalesces its output. At
    100 TB both fact tables would be bucketed on orderkey, making this join
    shuffle-free; the filters reach the parquet scans as PushedFilters
    (asserted by tools/plan_audit.py).
    """
    cust = (
        _read(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = _read(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1995-03-15")
    )
    li = _read(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1995-03-15")
    )
    revenue_cents = F.sum(
        F.floor(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100).cast(
            "bigint"
        )
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(revenue_cents.alias("revenue_cents"))
        .orderBy(F.desc("revenue_cents"), "l_orderkey")
        .limit(10)
    )


SHIPPING_PRIORITY_SQL = """
SELECT l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       o_orderpriority,
       CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT))
         AS BIGINT) AS revenue_cents
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY 1, 2, 3
ORDER BY revenue_cents DESC, l_orderkey LIMIT 10
"""


# --- tumbling event-time window (batch analogue of a streaming window) -----

def q_hourly_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.countDistinct("user_id").alias("n_users"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "n_users",
        )
        .where(F.col("n_events") >= 3)
        .orderBy("window_start", "event_type")
    )


HOURLY_WINDOWS_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
       count(*) AS n_events, count(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2 HAVING count(*) >= 3
ORDER BY 1, 2
"""


# --- semi-structured: JSON property extraction ------------------------------

def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extract a typed field from the JSON `props` column and roll it up
    per event type — the semi-structured path every event pipeline needs
    (Spark: get_json_object, JVM-side Jackson; never a Python UDF). JSON
    parsing happens in the map stage, so only (event_type, k) reaches the
    aggregate; integer payloads keep the rollup exact across engines."""
    ev = _read(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.countDistinct("k").alias("distinct_k"),
        )
        .orderBy("event_type")
    )


JSON_PROPS_SQL = """
SELECT event_type,
       count(*) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
       count(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT)) AS distinct_k
FROM events GROUP BY event_type ORDER BY event_type
"""


# --- pivot: per-user event-type matrix --------------------------------------

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type count matrix via pivot (explicit value list —
    an implicit pivot would need an extra distinct-values job AND make the
    output schema data-dependent, which breaks both the oracle contract
    and any downstream consumer; at scale the value list is always
    declared). One shuffle on user_id; the pivot itself is a conditional
    aggregation, map-side combined like any groupBy."""
    ev = _read(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .count()
        .na.fill(0, EVENT_TYPES)
        .orderBy("user_id")
    )


EVENT_PIVOT_SQL = f"""
SELECT user_id,
       {", ".join(f"count(*) FILTER (WHERE event_type = '{t}') AS {t}" for t in EVENT_TYPES)}
FROM events GROUP BY user_id ORDER BY user_id
"""


# --- gap-filled daily resample ----------------------------------------------

def q_resample_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense daily time series per event type, zero-filled for days with
    no events — the gap-filling resample a monitoring/trend query needs
    (a plain groupBy silently drops empty days and the downstream chart
    or anomaly detector never knows). The day grid is generated from the
    observed min/max (sequence + explode on a 1-row aggregate — tiny by
    construction), cross-joined with the distinct types, and the real
    counts left-join onto it; event values aggregate as integer cents."""
    ev = _read(spark, sf_dir, "events")
    bounds = ev.agg(
        F.to_date(F.min("ts")).alias("d0"), F.to_date(F.max("ts")).alias("d1")
    )
    days = bounds.select(
        F.explode(F.sequence("d0", "d1")).alias("day")
    )
    types = ev.select("event_type").distinct()
    grid = days.crossJoin(types)
    counts = (
        ev.groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias("value_cents"),
        )
    )
    return (
        grid.join(counts, ["day", "event_type"], "left")
        .na.fill({"n_events": 0, "value_cents": 0})
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "event_type",
            "n_events",
            "value_cents",
        )
        .orderBy("day", "event_type")
    )


RESAMPLE_DAILY_SQL = """
WITH bounds AS (
  SELECT CAST(date_trunc('day', min(ts)) AS DATE) AS d0,
         CAST(date_trunc('day', max(ts)) AS DATE) AS d1
  FROM events),
days AS (
  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds),
types AS (SELECT DISTINCT event_type FROM events),
grid AS (SELECT day, event_type FROM days CROSS JOIN types),
counts AS (
  SELECT CAST(ts AS DATE) AS day, event_type,
         count(*) AS n_events,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
  FROM events GROUP BY 1, 2)
SELECT strftime(g.day, '%Y-%m-%d') AS day, g.event_type,
       coalesce(c.n_events, 0) AS n_events,
       coalesce(c.value_cents, 0) AS value_cents
FROM grid g LEFT JOIN counts c ON g.day = c.day AND g.event_type = c.event_type
ORDER BY 1, 2
"""


# --- set operations: audience segmentation ------------------------------------

SEGMENT_VALUE_MIN = 150.0


def q_user_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience segmentation via relational set ops: high-value purchasers
    vs high-value viewers, split into EXCEPT / INTERSECT segments.

    Spark lowers subtract()/intersect() to broadcast/shuffled LeftAnti and
    LeftSemi hash joins over the DISTINCT key sets — never a sort or a
    cross product — so each set op is one hash join on user_id after the
    filters push to the scan. Output is the segment size triple.
    """
    ev = _read(spark, sf_dir, "events")
    hv = F.col("value") >= SEGMENT_VALUE_MIN
    buyers = (
        ev.filter((F.col("event_type") == "purchase") & hv)
        .select("user_id")
        .distinct()
    )
    viewers = (
        ev.filter((F.col("event_type") == "view") & hv)
        .select("user_id")
        .distinct()
    )

    def sized(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count("*").alias("n_users")).select(
            F.lit(name).alias("segment"), "n_users"
        )

    return (
        sized("buyer_only", buyers.subtract(viewers))
        .unionByName(sized("viewer_only", viewers.subtract(buyers)))
        .unionByName(sized("both", buyers.intersect(viewers)))
        .orderBy("segment")
    )


USER_SEGMENTS_SQL = f"""
WITH buyers AS (
  SELECT DISTINCT user_id FROM events
  WHERE event_type = 'purchase' AND value >= {SEGMENT_VALUE_MIN}),
viewers AS (
  SELECT DISTINCT user_id FROM events
  WHERE event_type = 'view' AND value >= {SEGMENT_VALUE_MIN}),
sized AS (
  SELECT 'buyer_only' AS segment, count(*) AS n_users
  FROM (SELECT * FROM buyers EXCEPT SELECT * FROM viewers)
  UNION ALL
  SELECT 'viewer_only', count(*)
  FROM (SELECT * FROM viewers EXCEPT SELECT * FROM buyers)
  UNION ALL
  SELECT 'both', count(*)
  FROM (SELECT * FROM buyers INTERSECT SELECT * FROM viewers))
SELECT segment, n_users FROM sized ORDER BY segment
"""


# --- semi-join existence filter (TPC-H Q4 shape) ---------------------------

def q_priority_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders with ≥1 returned lineitem, counted by priority (EXISTS shape).

    The existence probe is a LeftSemi hash join: the fact side projects to
    l_orderkey only before the shuffle (column pruning does the heavy
    lifting — the semi join's build side carries one bigint per returned
    lineitem, never the row), and the semi join emits each order at most
    once, so no post-join distinct is needed. At 100 TB both sides bucket
    on orderkey and the exchange disappears.
    """
    orders = _read(spark, sf_dir, "orders")
    returned = (
        _read(spark, sf_dir, "lineitem")
        .where(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        orders.join(returned, orders.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
        .orderBy("o_orderpriority")
    )


PRIORITY_WAITING_SQL = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# --- argmax over an aggregate (TPC-H Q15 shape) ----------------------------

TOP_SUPPLIER_FROM = "1995-01-01"
TOP_SUPPLIER_TO = "1996-01-01"


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier(s) with the maximum revenue in a shipdate year (Q15 shape).

    The global max is computed by aggregating the already-aggregated
    per-supplier revenue table (|suppliers| rows) and broadcast back as a
    one-row cross join — never a single-partition window over the fact
    table, which would serialize the whole agg output through one task.
    Ties all surface (= on the max), matching the SQL HAVING = (SELECT
    max(..)) semantics.
    """
    li = _read(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit(TOP_SUPPLIER_FROM))
        & (F.col("l_shipdate") < F.lit(TOP_SUPPLIER_TO))
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            F.floor(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100)
            .cast("bigint")
        ).alias("total_rev_cents")
    )
    mx = rev.agg(F.max("total_rev_cents").alias("_mx"))
    supplier = _read(spark, sf_dir, "supplier")
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("total_rev_cents") == F.col("_mx"))
        .join(F.broadcast(supplier), rev.l_suppkey == supplier.s_suppkey)
        .select("s_suppkey", "s_name", "total_rev_cents")
        .orderBy("s_suppkey")
    )


TOP_SUPPLIER_SQL = f"""
WITH rev AS (
  SELECT l_suppkey,
         CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT))
           AS BIGINT) AS total_rev_cents
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{TOP_SUPPLIER_FROM}'
    AND l_shipdate < TIMESTAMP '{TOP_SUPPLIER_TO}'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_rev_cents
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_rev_cents = (SELECT max(total_rev_cents) FROM rev)
ORDER BY s_suppkey
"""


# --- returned-items customer ranking (TPC-H Q10 shape) ---------------------

def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 customers by revenue lost to returns (Q10 shape).

    One real shuffle (lineitem⨝orders on orderkey); customer and nation are
    broadcast dims. The returnflag filter pushes to the lineitem scan, so
    the shuffle carries only returned rows. Top-k via orderBy+limit —
    Spark's TakeOrderedAndProject keeps k rows per partition, never a
    global sort.
    """
    li = _read(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    orders = _read(spark, sf_dir, "orders")
    customer = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    rev = F.sum(
        F.floor(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100)
        .cast("bigint")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(rev.alias("lost_rev_cents"), F.count("*").alias("n_returned"))
        .orderBy(F.desc("lost_rev_cents"), "c_custkey")
        .limit(20)
    )


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation revenue where customer and supplier share the nation,
    region- and year-scoped (TPC-H Q5 shape) — the deepest join chain in
    the suite: lineitem ⨝ orders ⨝ supplier ⨝ customer ⨝ (nation ⨝ region).

    Scale shape: the entire dimension chain — region filter, nations of
    the region, supplier, customer — is BROADCAST, so the only real
    shuffle is lineitem⨝orders on orderkey; the date predicate pushes to
    the orders parquet scan (pinned) so the shuffle carries one year of
    orders, and the same-nation constraint rides the customer broadcast
    join as a second join condition rather than a post-join filter. At
    100 TB: facts shuffle once, dims never do."""
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    customer = _read(spark, sf_dir, "customer")
    supplier = _read(spark, sf_dir, "supplier")
    nation = _read(spark, sf_dir, "nation")
    region = _read(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    local_nations = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    rev = F.sum(
        F.floor(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100)
        .cast("bigint")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(
            F.broadcast(customer),
            (orders.o_custkey == customer.c_custkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(
            F.broadcast(local_nations),
            supplier.s_nationkey == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(rev.alias("revenue_cents"), F.count("*").alias("n_lineitems"))
        .orderBy(F.desc("revenue_cents"), "n_name")
    )


LOCAL_SUPPLIER_VOLUME_SQL = """
SELECT n_name,
       CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT))
         AS BIGINT) AS revenue_cents,
       count(*) AS n_lineitems
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue_cents DESC, n_name
"""


RETURNED_ITEMS_SQL = """
SELECT c_custkey, c_name, n_name,
       CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT))
         AS BIGINT) AS lost_rev_cents,
       count(*) AS n_returned
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY 1, 2, 3
ORDER BY lost_rev_cents DESC, c_custkey LIMIT 20
"""


# --- ingestion volume anomaly detection --------------------------------------

ANOMALY_K = 2  # flag days beyond 2 sigma


def q_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type daily ingestion-volume anomaly flags — the monitoring gate a
    pipeline runs on its own commit metrics (a day whose event count sits
    more than K sigma from that type's mean means a broken producer or a
    flood upstream).

    Cross-engine exactness trick: the z-score needs sqrt(variance) — libm
    sqrt is engine-dependent in the last ulp — so the comparison is
    cross-multiplied into pure integers:

        |n - mu| > K*sigma  <=>  (n*D - S)^2 > K^2 * (D*Q - S^2)

    with D = #days, S = sum(n), Q = sum(n^2) per type (population variance
    over the type's observed days). Daily counts are bigints, so every
    intermediate stays < 2^63 for corpora up to ~10^8 events/day/type —
    far past any per-day partition this engine would see at 100 TB.

    Scale shape: one (type, day) partial agg over the pruned (ts, type)
    scan; per-type stats are a second agg over the (tiny) daily table,
    broadcast back; the flag is a map-side comparison. No windows, no
    sorts except the final output ordering.
    """
    ev = _read(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type"), F.to_date("ts").alias("day")
    ).agg(F.count("*").alias("n_events"))
    stats = daily.groupBy("event_type").agg(
        F.count("*").alias("d_days"),
        F.sum("n_events").alias("s_sum"),
        F.sum(F.col("n_events") * F.col("n_events")).alias("q_sumsq"),
    )
    lhs = (
        F.col("n_events") * F.col("d_days") - F.col("s_sum")
    )
    rhs = F.lit(ANOMALY_K * ANOMALY_K) * (
        F.col("d_days") * F.col("q_sumsq") - F.col("s_sum") * F.col("s_sum")
    )
    return (
        daily.join(F.broadcast(stats), "event_type")
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_events",
            (lhs * lhs > rhs).cast("int").alias("is_outlier"),
        )
        .orderBy("event_type", "day")
    )


VOLUME_ANOMALY_SQL = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n_events
  FROM events GROUP BY event_type, CAST(ts AS DATE)),
stats AS (
  SELECT event_type, count(*) AS d_days,
         CAST(sum(n_events) AS BIGINT) AS s_sum,
         CAST(sum(n_events * n_events) AS BIGINT) AS q_sumsq
  FROM daily GROUP BY event_type)
SELECT d.event_type, strftime(d.day, '%Y-%m-%d') AS day, d.n_events,
       CASE WHEN (d.n_events * s.d_days - s.s_sum)
                 * (d.n_events * s.d_days - s.s_sum)
               > {ANOMALY_K * ANOMALY_K} * (s.d_days * s.q_sumsq - s.s_sum * s.s_sum)
            THEN 1 ELSE 0 END AS is_outlier
FROM daily d JOIN stats s USING (event_type)
ORDER BY d.event_type, d.day
"""


# --- small-quantity revenue (Q17 shape: correlated scalar subquery) ----------

SQR_BRAND = "Brand#13"
SQR_MAX_SIZE = 20


def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average yearly revenue lost to small orders (TPC-H Q17 shape): the
    correlated scalar subquery `l_quantity < 0.2 * (SELECT avg(l_quantity)
    ... WHERE l_partkey = outer.l_partkey)` DECORRELATED into a per-part
    aggregate joined back — the optimizer shape that turns an
    O(rows x subquery) nested loop into two passes.

    Plan shape: the brand/size part filter broadcasts into the fact scan
    FIRST, so the per-part average aggregates only the surviving parts'
    lineitems (filtering by part key drops no lineitem of a surviving
    part — the avg is identical to the full-corpus per-part avg); the
    per-part stats join back onto the same filtered stream. Money in
    integer cents before any sum; the 0.2*avg comparison is cleared of
    division (5*qty*n < s) so both engines compare identical doubles.
    """
    part = _read(spark, sf_dir, "part").where(
        (F.col("p_brand") == SQR_BRAND) & (F.col("p_size") < SQR_MAX_SIZE)
    )
    li = _read(spark, sf_dir, "lineitem").join(
        F.broadcast(part.select("p_partkey")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    pavg = li.groupBy("l_partkey").agg(
        F.sum("l_quantity").alias("s_qty"), F.count("*").alias("n_li")
    )
    return (
        li.join(F.broadcast(pavg), "l_partkey")
        .where(F.lit(5.0) * F.col("l_quantity") * F.col("n_li") < F.col("s_qty"))
        .agg(
            F.count("*").alias("n_small"),
            F.sum(F.floor(F.col("l_extendedprice") * 100).cast("bigint")).alias(
                "_cents"
            ),
        )
        .select(
            "n_small",
            F.expr("_cents DIV 7").cast("bigint").alias("avg_yearly_cents"),
        )
    )


SMALL_QUANTITY_REVENUE_SQL = f"""
WITH partf AS (
  SELECT p_partkey FROM part
  WHERE p_brand = '{SQR_BRAND}' AND p_size < {SQR_MAX_SIZE}),
lif AS (
  SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
  FROM lineitem l JOIN partf p ON l.l_partkey = p.p_partkey),
pavg AS (
  SELECT l_partkey, sum(l_quantity) AS s_qty, count(*) AS n_li
  FROM lif GROUP BY l_partkey)
SELECT count(*) AS n_small,
       CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) // 7 AS BIGINT)
         AS avg_yearly_cents
FROM lif JOIN pavg USING (l_partkey)
WHERE 5.0 * l_quantity * n_li < s_qty
"""


QUERIES: dict[str, tuple] = {
    "small_quantity_revenue": (q_small_quantity_revenue, SMALL_QUANTITY_REVENUE_SQL),
    "volume_anomaly": (q_volume_anomaly, VOLUME_ANOMALY_SQL),
    "status_rollup": (q_status_rollup, STATUS_ROLLUP_SQL),
    "user_segments": (q_user_segments, USER_SEGMENTS_SQL),
    "bucket_concat": (q_bucket_concat, BUCKET_CONCAT_SQL),
    "transcript_buckets": (q_transcript_buckets, TRANSCRIPT_BUCKETS_SQL),
    "distinct_users": (q_distinct_users, DISTINCT_USERS_SQL),
    "resume_antijoin": (q_resume_antijoin, RESUME_ANTIJOIN_SQL),
    "point_lookup": (q_point_lookup, POINT_LOOKUP_SQL),
    "enumerate_docs": (q_enumerate_docs, ENUMERATE_DOCS_SQL),
    "latest_events": (q_latest_events, LATEST_EVENTS_SQL),
    "revenue_by_segment": (q_revenue_by_segment, REVENUE_BY_SEGMENT_SQL),
    "shipping_priority": (q_shipping_priority, SHIPPING_PRIORITY_SQL),
    "pricing_summary": (q_pricing_summary, PRICING_SUMMARY_SQL),
    "hourly_windows": (q_hourly_windows, HOURLY_WINDOWS_SQL),
    "json_props": (q_json_props, JSON_PROPS_SQL),
    "event_pivot": (q_event_pivot, EVENT_PIVOT_SQL),
    "resample_daily": (q_resample_daily, RESAMPLE_DAILY_SQL),
    "priority_waiting": (q_priority_waiting, PRIORITY_WAITING_SQL),
    "top_supplier": (q_top_supplier, TOP_SUPPLIER_SQL),
    "returned_items": (q_returned_items, RETURNED_ITEMS_SQL),
    "local_supplier_volume": (q_local_supplier_volume, LOCAL_SUPPLIER_VOLUME_SQL),
}
