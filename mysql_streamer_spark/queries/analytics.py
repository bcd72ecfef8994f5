"""Analytics layer over the TPC-H-ish fixtures and the events stream —
the full-relational surface the reference lacks natively (SURVEY.md §2.8:
joins, aggregations, windows, semi/anti joins, sessionization) exposed as
oracle-checked queries.

Plan-shape notes per query are in the docstrings; the common rules:

- Money columns are double in the fixtures; every SUM first quantizes to
  exact integer cents (floor(x*100+0.5) — IEEE-identical in both engines),
  because a float sum's rounding depends on reduction order, which is
  engine-private. Averages divide exact sums at the end.
- Date filters are plain column predicates -> parquet pushdown.
- Small dimensions (nation, customer at this SF) broadcast; the big fact
  tables shuffle on their join keys only.
"""

from __future__ import annotations

import pandas

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mysql_streamer_spark.queries.registry import QuerySpec
from mysql_streamer_spark.tables import load_table, spread

#: exact integer cents from a double money column (same expr both engines)
def _cents(col: str) -> F.Column:
    return F.floor(F.col(col) * 100 + F.lit(0.5)).cast("long")


def _cents_expr(col: F.Column) -> F.Column:
    return F.floor(col * 100 + F.lit(0.5)).cast("long")


def _cents_sql(expr: str) -> str:
    return f"CAST(floor(({expr}) * 100 + 0.5) AS BIGINT)"


PRICING_CUTOFF = "1998-09-02 00:00:00"
SESSION_GAP_MIN = 30
TOP_N_CUSTOMERS = 10


# ---------------------------------------------------------------------------
# TPC-H Q1-style pricing summary (scan + filter + hash aggregate)
# ---------------------------------------------------------------------------

def q_analytics_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One pass over lineitem: the filter pushes into the parquet scan, the
    aggregate partial-combines map-side; no join, one shuffle on the tiny
    (returnflag, linestatus) key."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit(PRICING_CUTOFF).cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = F.col("l_extendedprice") * (1 - F.col("l_discount")) * (
        1 + F.col("l_tax")
    )
    cents = lambda c: F.floor(c * 100 + F.lit(0.5)).cast("long")  # noqa: E731
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_cents("l_quantity")).alias("sum_qty_c"),
            F.sum(_cents("l_extendedprice")).alias("sum_base_c"),
            F.sum(cents(disc_price)).alias("sum_disc_c"),
            F.sum(cents(charge)).alias("sum_charge_c"),
            F.count("*").alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            (F.col("sum_qty_c") / 100.0).alias("sum_qty"),
            (F.col("sum_base_c") / 100.0).alias("sum_base_price"),
            (F.col("sum_disc_c") / 100.0).alias("sum_disc_price"),
            (F.col("sum_charge_c") / 100.0).alias("sum_charge"),
            (
                F.col("sum_qty_c").cast("double")
                / F.col("count_order").cast("double")
                / 100.0
            ).alias("avg_qty"),
            "count_order",
        )
    )


_PRICING_ORACLE = f"""
WITH agg AS (
  SELECT l_returnflag, l_linestatus,
    CAST(sum({_cents_sql("l_quantity")}) AS BIGINT) AS sum_qty_c,
    CAST(sum({_cents_sql("l_extendedprice")}) AS BIGINT) AS sum_base_c,
    CAST(sum({_cents_sql("l_extendedprice * (1 - l_discount)")}) AS BIGINT) AS sum_disc_c,
    CAST(sum({_cents_sql("l_extendedprice * (1 - l_discount) * (1 + l_tax)")}) AS BIGINT) AS sum_charge_c,
    count(*) AS count_order
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '{PRICING_CUTOFF}'
  GROUP BY 1, 2
)
SELECT l_returnflag, l_linestatus,
  sum_qty_c / 100.0 AS sum_qty,
  sum_base_c / 100.0 AS sum_base_price,
  sum_disc_c / 100.0 AS sum_disc_price,
  sum_charge_c / 100.0 AS sum_charge,
  CAST(sum_qty_c AS DOUBLE) / CAST(count_order AS DOUBLE) / 100.0 AS avg_qty,
  count_order
FROM agg
"""


# ---------------------------------------------------------------------------
# revenue by nation (3-way join: fact shuffles, dims broadcast)
# ---------------------------------------------------------------------------

def q_analytics_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ orders on orderkey (the one real shuffle), then customer
    and nation join broadcast — the canonical star-join shape; at 100 TB the
    orderkey shuffle is AQE-skew-splittable and everything else is map-side."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    revenue = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    ).cast("long")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.sum(revenue).alias("revenue_c"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
        .select(
            "n_name",
            (F.col("revenue_c") / 100.0).alias("revenue"),
            "n_orders",
        )
    )


_REVENUE_ORACLE = f"""
SELECT n_name,
  sum({_cents_sql("l_extendedprice * (1 - l_discount)")}) / 100.0 AS revenue,
  count(DISTINCT o_orderkey) AS n_orders
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# top-k customers (aggregate + global top-k, no full sort)
# ---------------------------------------------------------------------------

def q_analytics_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orderBy+limit compiles to TakeOrderedAndProject — per-partition
    top-k then a k-row merge on the driver, never a global sort."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    totals = orders.groupBy("o_custkey").agg(
        F.sum(_cents("o_totalprice")).alias("total_c"),
        F.count("*").alias("n_orders"),
    )
    return (
        totals.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            (F.col("total_c") / 100.0).alias("total_spent"),
            "n_orders",
        )
        .orderBy(F.col("total_spent").desc(), F.col("c_custkey").asc())
        .limit(TOP_N_CUSTOMERS)
    )


_TOP_CUSTOMERS_ORACLE = f"""
SELECT c_custkey, c_name,
  sum({_cents_sql("o_totalprice")}) / 100.0 AS total_spent,
  count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY total_spent DESC, c_custkey ASC
LIMIT {TOP_N_CUSTOMERS}
"""


# ---------------------------------------------------------------------------
# tumbling-window aggregation over events
# ---------------------------------------------------------------------------

def q_analytics_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("hour", F.date_trunc("hour", "ts"))
        .groupBy("hour", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            (F.sum(_cents("value")) / 100.0).alias("sum_value"),
        )
    )


_EVENTS_HOURLY_ORACLE = f"""
SELECT date_trunc('hour', ts) AS hour, event_type,
  count(*) AS n_events,
  count(DISTINCT user_id) AS n_users,
  sum({_cents_sql("value")}) / 100.0 AS sum_value
FROM events
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# sessionization (gap > 30 min) via lag + running sum
# ---------------------------------------------------------------------------

def q_analytics_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window partitioned by user_id — the shuffle key IS the session key,
    so one exchange serves both window passes (lag marker, running sum)."""
    ev = load_table(spark, sf_dir, "events")
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_marker = (
        F.when(
            F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(by_user)
            > SESSION_GAP_MIN * 60,
            1,
        )
        .otherwise(0)
    )
    sess = ev.withColumn("new_sess", gap_marker).withColumn(
        "session_id", F.sum("new_sess").over(by_user)
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


def q_analytics_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BUILT-IN gap-based sessionizer: ``F.session_window`` compiles to
    Spark's native UpdatingSessionsExec + merging aggregate — one shuffle
    on the user key, sessions merged inside the aggregate operator with no
    window-function pass at all (the idiomatic form of q_analytics_sessions;
    also the exact construct the streaming plane would use with a
    watermark). Semantics note: session_window starts a NEW session when
    the gap is >= the timeout (the window end bound is exclusive), so the
    oracle uses >= where the lag-marker form uses >."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", f"{SESSION_GAP_MIN} minutes"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


_SESSION_WINDOW_ORACLE = f"""
WITH marked AS (
  SELECT user_id, ts,
    CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) >= {SESSION_GAP_MIN * 60}
         THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT user_id, ts,
    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
  FROM marked
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL {SESSION_GAP_MIN} MINUTE AS session_end,
       count(*) AS n_events
FROM sess
GROUP BY user_id, sid
"""


_SESSIONS_ORACLE = f"""
WITH marked AS (
  SELECT user_id, ts, event_id,
    CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > {SESSION_GAP_MIN * 60}
         THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts,
    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM marked
)
SELECT user_id, session_id,
  count(*) AS n_events,
  min(ts) AS session_start,
  max(ts) AS session_end
FROM sess
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# anti join: parts never ordered
# ---------------------------------------------------------------------------

STALE_CUTOFF = "2001-01-01 00:00:00"


def q_analytics_parts_never_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: parts with no shipment since the cutoff. The probe
    side is pre-filtered (predicate pushes to the scan) before the anti
    join, so only the recent slice of the fact table is hashed."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit(STALE_CUTOFF).cast("timestamp")
    )
    unordered = part.join(
        li, F.col("p_partkey") == F.col("l_partkey"), "left_anti"
    )
    return unordered.groupBy("p_brand").agg(
        F.count("*").alias("n_parts"),
        (F.sum(_cents("p_retailprice")) / 100.0).alias("idle_retail_value"),
    )


_PARTS_ANTI_ORACLE = f"""
SELECT p_brand, count(*) AS n_parts,
  sum({_cents_sql("p_retailprice")}) / 100.0 AS idle_retail_value
FROM part
WHERE NOT EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_partkey = p_partkey AND l_shipdate >= TIMESTAMP '{STALE_CUTOFF}'
)
GROUP BY p_brand
"""


# ---------------------------------------------------------------------------
# rollup (grouping sets) over the corpus profile
# ---------------------------------------------------------------------------

def q_analytics_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (lang, source): per-source, per-lang subtotals and the grand
    total in one pass — Catalyst expands grouping sets into a single
    aggregate, no self-unions."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.rollup("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.grouping_id().alias("gid"),
        )
    )


_ROLLUP_ORACLE = """
SELECT lang, source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
       grouping(lang) * 2 + grouping(source) AS gid
FROM documents
GROUP BY ROLLUP (lang, source)
"""


# ---------------------------------------------------------------------------
# set operations: retained / churned users between period halves
# ---------------------------------------------------------------------------

EVENTS_MIDPOINT = "2024-01-30 18:00:00"


def q_analytics_user_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT/EXCEPT over per-half user sets, then one union of labeled
    groups — each leg is a distinct-aggregate on user_id (narrow shuffles).
    The EXCEPT legs are LEFT ANTI joins (identical on distinct inputs):
    exceptAll plans a Generate(ReplicateRows) that a downstream count()'s
    column pruning breaks in this Spark build
    (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND, see tests/test_connectors.py),
    and the anti join is the cheaper plan anyway — no replicate stage."""
    ev = load_table(spark, sf_dir, "events")
    mid = F.lit(EVENTS_MIDPOINT).cast("timestamp")
    first = ev.filter(F.col("ts") < mid).select("user_id").distinct()
    second = ev.filter(F.col("ts") >= mid).select("user_id").distinct()
    retained = first.intersect(second).withColumn("cohort", F.lit("retained"))
    churned = first.join(second, "user_id", "left_anti").withColumn(
        "cohort", F.lit("churned")
    )
    new = second.join(first, "user_id", "left_anti").withColumn(
        "cohort", F.lit("new")
    )
    return (
        retained.unionAll(churned)
        .unionAll(new)
        .groupBy("cohort")
        .agg(F.count("*").alias("n_users"))
    )


_RETENTION_ORACLE = f"""
WITH first_half AS (
  SELECT DISTINCT user_id FROM events WHERE ts < TIMESTAMP '{EVENTS_MIDPOINT}'
), second_half AS (
  SELECT DISTINCT user_id FROM events WHERE ts >= TIMESTAMP '{EVENTS_MIDPOINT}'
), labeled AS (
  SELECT 'retained' AS cohort, user_id
  FROM (SELECT user_id FROM first_half INTERSECT SELECT user_id FROM second_half)
  UNION ALL
  SELECT 'churned', user_id
  FROM (SELECT user_id FROM first_half EXCEPT SELECT user_id FROM second_half)
  UNION ALL
  SELECT 'new', user_id
  FROM (SELECT user_id FROM second_half EXCEPT SELECT user_id FROM first_half)
)
SELECT cohort, count(*) AS n_users FROM labeled GROUP BY cohort
"""


# ---------------------------------------------------------------------------
# cube over events (grouping sets, both dimensions independently totaled)
# ---------------------------------------------------------------------------

def q_analytics_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spark dayofweek: Sunday=1..Saturday=7; DuckDB dayofweek: Sunday=0..6.
    # The oracle adds 1 so both engines agree on the dimension values.
    ev = load_table(spark, sf_dir, "events").withColumn(
        "dow", F.dayofweek("ts")
    )
    return ev.cube("event_type", "dow").agg(
        F.count("*").alias("n_events"),
        F.grouping_id().alias("gid"),
    )


_CUBE_ORACLE = """
SELECT event_type, dayofweek(ts) + 1 AS dow, count(*) AS n_events,
       grouping(event_type) * 2 + grouping(dayofweek(ts) + 1) AS gid
FROM events
GROUP BY CUBE (event_type, (dayofweek(ts) + 1))
"""


# ---------------------------------------------------------------------------
# sliding windows (2h length, 1h slide): each event lands in two windows
# ---------------------------------------------------------------------------

def q_analytics_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F.window with slide < length duplicates each row into its member
    windows inside the scan stage (a generate, not a join)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "2 hours", "1 hour").alias("win"), "event_type"
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


_SLIDING_ORACLE = """
WITH member AS (
  SELECT event_type,
    unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
            date_trunc('hour', ts)]) AS window_start
  FROM events
)
SELECT window_start, event_type, count(*) AS n_events
FROM member
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# exact percentiles (linear interpolation on exact integer cents)
# ---------------------------------------------------------------------------

def q_analytics_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn(
        "cents", _cents("value")
    )
    return ev.groupBy("event_type").agg(
        F.expr("percentile(cents, 0.5)").alias("p50_cents"),
        F.expr("percentile(cents, 0.95)").alias("p95_cents"),
        F.max("cents").alias("max_cents"),
    )


_PERCENTILES_ORACLE = f"""
SELECT event_type,
  quantile_cont({_cents_sql("value")}, 0.5) AS p50_cents,
  quantile_cont({_cents_sql("value")}, 0.95) AS p95_cents,
  max({_cents_sql("value")}) AS max_cents
FROM events
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# as-of join: last-touch click attribution for purchases
# ---------------------------------------------------------------------------

def q_analytics_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase matched to the user's most recent click at-or-before
    the purchase time — the set form of the reference's heartbeat position
    lookup, via the union+running-last as-of operator (``asof.asof_join``:
    one shuffle on user_id, no range join). Clicks are pre-deduplicated to
    one per (user_id, ts) so equal-timestamp ties are deterministic in both
    engines."""
    from mysql_streamer_spark.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    return asof_join(
        purchases, clicks, keys=["user_id"], ts="ts", right_ts_alias="click_ts"
    ).select(
        "purchase_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "click_id",
        "click_ts",
    )


_ASOF_ORACLE = """
WITH clicks AS (
  SELECT user_id, ts, max(event_id) AS click_id
  FROM events WHERE event_type = 'click'
  GROUP BY 1, 2
), p AS (
  SELECT event_id AS purchase_id, user_id, ts
  FROM events WHERE event_type = 'purchase'
)
SELECT p.purchase_id, p.user_id, p.ts AS purchase_ts,
       c.click_id, c.ts AS click_ts
FROM p ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


#: cogroup task granularity: buckets, not raw user keys (see docstring)
COGROUP_BUCKETS = 64


def q_analytics_cogroup_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME as-of attribution computed through the CO-GROUPED Arrow
    path — ``groupBy(k).cogroup(other.groupBy(k)).applyInPandas`` with a
    per-user ``pandas.merge_asof`` — sharing analytics_asof_attribution's
    oracle, so the declarative (union + running-last window) plan and the
    Arrow cogroup kernel are proven bit-identical (the sim_topk_vectorized
    discipline applied to the remaining ungoverned API surface).

    Scale shape: cogrouping on the RAW user key would hand one tiny
    pandas frame per user to Python (measured 15 s at sf0.1 — per-call
    overhead dominates), so the cogroup key is a hash BUCKET of the user:
    both sides shuffle once on pmod(user_id, COGROUP_BUCKETS), each Arrow
    batch carries every user of one bucket, and ``merge_asof(by=
    'user_id')`` vectorizes the per-user alignment inside the batch —
    bounded task count, O(n log n) per bucket, the same salting
    discipline as the rest of the engine. The declarative twin stays the
    default (JVM codegen, no Python workers)."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
        .withColumn("bucket", F.pmod("user_id", F.lit(COGROUP_BUCKETS)))
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("purchase_id"), "user_id", "ts")
        .withColumn("bucket", F.pmod("user_id", F.lit(COGROUP_BUCKETS)))
    )

    def align(p_pdf: "pd.DataFrame", c_pdf: "pd.DataFrame") -> "pd.DataFrame":
        if p_pdf.empty:
            return pd.DataFrame(
                columns=[
                    "purchase_id",
                    "user_id",
                    "purchase_ts",
                    "click_id",
                    "click_ts",
                ]
            )
        p = p_pdf.sort_values("ts").rename(columns={"ts": "purchase_ts"})
        if c_pdf.empty:
            out = p.assign(click_id=pd.array([None] * len(p), dtype="Int64"))
            out["click_ts"] = pd.NaT
        else:
            c = (
                c_pdf.sort_values("ts")
                .assign(click_ts=lambda d: d["ts"])
                .drop(columns=["bucket"])
            )
            out = pd.merge_asof(
                p,
                c,
                left_on="purchase_ts",
                right_on="ts",
                by="user_id",
                direction="backward",
            ).drop(columns=["ts"])
            out["click_id"] = out["click_id"].astype("Int64")
        return out[
            ["purchase_id", "user_id", "purchase_ts", "click_id", "click_ts"]
        ]

    return (
        purchases.groupBy("bucket")
        .cogroup(clicks.groupBy("bucket"))
        .applyInPandas(
            align,
            "purchase_id long, user_id long, purchase_ts timestamp, "
            "click_id long, click_ts timestamp",
        )
    )


# ---------------------------------------------------------------------------
# range join: activity inside 5-minute error-burst windows
# ---------------------------------------------------------------------------

ERROR_WINDOW_MIN = 5


def q_analytics_error_burst_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every error event opens a 5-minute window; count the events and
    distinct users inside each window. The containment predicate runs
    through ``rangejoin.bucketed_range_join`` (interval→bucket explode +
    equi-join on bucket), never a BroadcastNestedLoop over all pairs."""
    from mysql_streamer_spark.rangejoin import bucketed_range_join

    ev = load_table(spark, sf_dir, "events")
    bursts = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("burst_id"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr(f"INTERVAL {ERROR_WINDOW_MIN} MINUTES")).alias(
            "end_ts"
        ),
    )
    hits = bucketed_range_join(
        ev.select("event_id", "ts", "user_id"),
        bursts,
        bucket_seconds=ERROR_WINDOW_MIN * 60,
    )
    return hits.groupBy("burst_id").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


_RANGE_JOIN_ORACLE = f"""
WITH bursts AS (
  SELECT event_id AS burst_id, ts AS start_ts,
         ts + INTERVAL {ERROR_WINDOW_MIN} MINUTE AS end_ts
  FROM events WHERE event_type = 'error'
)
SELECT b.burst_id, count(*) AS n_events,
       count(DISTINCT e.user_id) AS n_users
FROM bursts b JOIN events e
  ON e.ts >= b.start_ts AND e.ts < b.end_ts
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# TPC-H Q3-style shipping priority (3-way join -> hash agg -> top-k)
# ---------------------------------------------------------------------------

Q3_SEGMENT = "BUILDING"
Q3_CUTOFF = "1998-03-15 00:00:00"
Q3_TOP_N = 10


def q_analytics_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unshipped-order revenue for one market segment: both date filters
    push into the parquet scans, the filtered customer dimension broadcasts
    into the orders join, lineitem shuffles once on l_orderkey, and the
    final top-10 compiles to TakeOrderedAndProject (per-partition heaps +
    driver merge — no global sort at any scale)."""
    cutoff = F.lit(Q3_CUTOFF).cast("timestamp")
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == Q3_SEGMENT)
        .select("c_custkey")
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < cutoff
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    revenue_c = F.sum(
        _cents_expr(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    ).alias("revenue_c")
    return (
        li.join(
            F.broadcast(
                orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            ),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue_c)
        .orderBy(
            F.col("revenue_c").desc(), F.col("o_orderdate").asc(),
            F.col("l_orderkey").asc(),
        )
        .limit(Q3_TOP_N)
    )


_Q3_ORACLE = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       CAST(sum({_cents_sql("l_extendedprice * (1 - l_discount)")}) AS BIGINT) AS revenue_c
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = '{Q3_SEGMENT}'
  AND o_orderdate < TIMESTAMP '{Q3_CUTOFF}'
  AND l_shipdate > TIMESTAMP '{Q3_CUTOFF}'
GROUP BY 1, 2, 3
ORDER BY revenue_c DESC, o_orderdate ASC, l_orderkey ASC
LIMIT {Q3_TOP_N}
"""


# ---------------------------------------------------------------------------
# TPC-H Q17-style small-quantity revenue (fact joined to its own aggregate)
# ---------------------------------------------------------------------------

def q_analytics_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue from lineitems whose quantity is below 20% of their part's
    average — the correlated-subquery pattern decorrelated into one
    per-part aggregate broadcast back onto the fact. All comparison math
    is integer (qty*5*n < sum_qty ⟺ qty < 0.2*avg), so both engines
    agree bit-for-bit. One shuffle for the per-part aggregate; the fact
    side re-scans and joins against the (small) aggregate broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    qty_c = _cents_expr(F.col("l_quantity"))
    per_part = li.groupBy(F.col("l_partkey").alias("p_key")).agg(
        F.sum(qty_c).alias("sum_qty_c"), F.count("*").alias("n_li")
    )
    return (
        li.join(F.broadcast(per_part), li.l_partkey == F.col("p_key"))
        .filter(qty_c * 5 * F.col("n_li") < F.col("sum_qty_c"))
        .agg(
            F.sum(_cents_expr(F.col("l_extendedprice"))).alias("revenue_c"),
            F.count("*").alias("n_small"),
        )
    )


_Q17_ORACLE = f"""
WITH per_part AS (
  SELECT l_partkey AS p_key,
         CAST(sum({_cents_sql("l_quantity")}) AS BIGINT) AS sum_qty_c,
         count(*) AS n_li
  FROM lineitem GROUP BY 1
)
SELECT CAST(sum({_cents_sql("l_extendedprice")}) AS BIGINT) AS revenue_c,
       count(*) AS n_small
FROM lineitem JOIN per_part ON l_partkey = p_key
WHERE {_cents_sql("l_quantity")} * 5 * n_li < sum_qty_c
"""


# ---------------------------------------------------------------------------
# hierarchical rollup (hypertable-style continuous aggregate chain)
# ---------------------------------------------------------------------------

def q_analytics_hierarchical_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour -> day -> week aggregate chain where every coarser level
    re-aggregates the FINER level's partials (sum-of-sums), never the raw
    events — the hypertable/continuous-aggregate pattern: at 100 TB the
    raw table is scanned once, and each rollup level costs only its
    parent's (much smaller) cardinality. Integer cents make partial
    re-aggregation exact."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("bucket_ts"),
        "event_type",
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(_cents_expr(F.col("value"))).alias("value_c"),
    )
    daily = hourly.groupBy(
        F.date_trunc("day", "bucket_ts").alias("bucket_ts"), "event_type"
    ).agg(F.sum("n_events").alias("n_events"), F.sum("value_c").alias("value_c"))
    weekly = daily.groupBy(
        F.date_trunc("week", "bucket_ts").alias("bucket_ts"), "event_type"
    ).agg(F.sum("n_events").alias("n_events"), F.sum("value_c").alias("value_c"))
    return (
        hourly.withColumn("granularity", F.lit("hour"))
        .unionByName(daily.withColumn("granularity", F.lit("day")))
        .unionByName(weekly.withColumn("granularity", F.lit("week")))
        .select("granularity", "bucket_ts", "event_type", "n_events", "value_c")
    )


_HIER_ROLLUP_ORACLE = f"""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS bucket_ts, event_type,
         count(*) AS n_events, CAST(sum({_cents_sql("value")}) AS BIGINT) AS value_c
  FROM events GROUP BY 1, 2
), daily AS (
  SELECT date_trunc('day', bucket_ts) AS bucket_ts, event_type,
         CAST(sum(n_events) AS BIGINT) AS n_events,
         CAST(sum(value_c) AS BIGINT) AS value_c
  FROM hourly GROUP BY 1, 2
), weekly AS (
  SELECT date_trunc('week', bucket_ts) AS bucket_ts, event_type,
         CAST(sum(n_events) AS BIGINT) AS n_events,
         CAST(sum(value_c) AS BIGINT) AS value_c
  FROM daily GROUP BY 1, 2
)
SELECT 'hour' AS granularity, * FROM hourly
UNION ALL SELECT 'day', * FROM daily
UNION ALL SELECT 'week', * FROM weekly
"""


# ---------------------------------------------------------------------------
# salted collect_list (hot-key-safe list aggregation)
# ---------------------------------------------------------------------------

def q_analytics_user_purchase_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user list of purchase event ids via skew.salted_collect_list:
    collect_list is not algebraic, so a hot user would otherwise funnel its
    whole history into ONE reducer; salting splits each key across 16
    partial collectors and flattens. The list is sorted afterward because
    collect order is undefined (and the oracle sorts too)."""
    from mysql_streamer_spark.skew import salted_collect_list

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    lists = salted_collect_list(ev, ["user_id"], "event_id", n_salts=16)
    # joined string, not array<long>: the driver's pandas canonicalizer
    # cannot sort/hash list cells
    return lists.select(
        "user_id",
        F.array_join(
            F.transform(F.array_sort("event_id_list"), lambda x: x.cast("string")),
            ",",
        ).alias("purchase_ids"),
        F.size("event_id_list").alias("n_purchases"),
    )


_SALTED_COLLECT_ORACLE = """
SELECT user_id,
       string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY event_id) AS purchase_ids,
       count(*) AS n_purchases
FROM events WHERE event_type = 'purchase'
GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# semi-structured JSON extraction (events.props)
# ---------------------------------------------------------------------------

def q_analytics_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed extraction from the JSON props column via ``from_json`` with an
    explicit schema — parsed once into a struct inside codegen (no per-row
    Python, no schema inference pass), then ordinary integer aggregation."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "p", F.from_json("props", "k BIGINT")
    )
    return ev.groupBy("event_type").agg(
        F.sum("p.k").alias("sum_k"),
        F.min("p.k").alias("min_k"),
        F.max("p.k").alias("max_k"),
        F.countDistinct("p.k").alias("n_distinct_k"),
    )


_PROPS_JSON_ORACLE = """
SELECT event_type,
       CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
       min(CAST(props->>'$.k' AS BIGINT)) AS min_k,
       max(CAST(props->>'$.k' AS BIGINT)) AS max_k,
       count(DISTINCT CAST(props->>'$.k' AS BIGINT)) AS n_distinct_k
FROM events
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# per-group top-N (partitioned window, the scalable top-k-per-key shape)
# ---------------------------------------------------------------------------

TOP_SUPPLIERS_PER_NATION = 3


def q_analytics_top_suppliers_per_nation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top 3 suppliers by revenue within each nation. The window is
    PARTITIONED by nation (contrast: an unpartitioned/global window funnels
    everything into one task — the r1 heartbeat-lag bug); each nation's
    rank sorts only that nation's ~dozens of suppliers, after the heavy
    lifting happened in a map-side-combinable per-supplier aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    per_supp = li.groupBy("l_suppkey").agg(
        F.sum(_cents_expr(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
            "revenue_c"
        )
    )
    ranked = (
        per_supp.join(F.broadcast(supp), per_supp.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select("n_name", "s_suppkey", "s_name", "revenue_c")
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("n_name").orderBy(
                    F.col("revenue_c").desc(), F.col("s_suppkey").asc()
                )
            ),
        )
    )
    return ranked.filter(F.col("rank") <= TOP_SUPPLIERS_PER_NATION)


_TOP_SUPPLIERS_ORACLE = f"""
WITH per_supp AS (
  SELECT l_suppkey,
         CAST(sum({_cents_sql("l_extendedprice * (1 - l_discount)")}) AS BIGINT) AS revenue_c
  FROM lineitem GROUP BY 1
), ranked AS (
  SELECT n_name, s_suppkey, s_name, revenue_c,
         row_number() OVER (PARTITION BY n_name
                            ORDER BY revenue_c DESC, s_suppkey ASC) AS rank
  FROM per_supp
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
)
SELECT * FROM ranked WHERE rank <= {TOP_SUPPLIERS_PER_NATION}
"""


# ---------------------------------------------------------------------------
# TPC-H Q4-style EXISTS: orders with at least one returned line (semi join)
# ---------------------------------------------------------------------------

Q4_START = "1997-01-01 00:00:00"
Q4_END = "1997-07-01 00:00:00"


def q_analytics_priority_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXISTS-subquery shape decorrelated to a LEFT SEMI join. The
    probe side (orders) carries only its date-windowed rows; the build
    side is pre-filtered to returned lines and projected to the BARE join
    key before the semi join, so the shuffle moves single-column
    orderkeys — a semi join never widens rows and never duplicates probe
    rows, which is why it beats an inner-join + distinct at any scale."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(Q4_START).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(Q4_END).cast("timestamp"))
    )
    returned = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        orders.join(returned, orders.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


_Q4_ORACLE = f"""
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '{Q4_START}'
  AND o_orderdate < TIMESTAMP '{Q4_END}'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
  )
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# TPC-H Q13-style outer-join distribution (customers by order count)
# ---------------------------------------------------------------------------

Q13_EXCLUDED_PRIORITY = "4-NOT SPECIFIED"


def q_analytics_customer_order_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Histogram of customers by how many qualifying orders they placed,
    INCLUDING zero-order customers (the part an inner join silently
    drops). Aggregate-before-join: orders collapse to per-customer counts
    first (one shuffle on o_custkey), and the LEFT join then moves one
    row per customer instead of one per order — at 100 TB the join input
    shrinks by the average orders-per-customer factor before it ever
    shuffles. The final histogram key (c_count) is tiny."""
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != Q13_EXCLUDED_PRIORITY)
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    return (
        cust.join(per_cust, cust.c_custkey == per_cust.o_custkey, "left")
        .select(F.coalesce(F.col("n_orders"), F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


_Q13_ORACLE = f"""
WITH per_cust AS (
  SELECT o_custkey, count(*) AS n_orders
  FROM orders
  WHERE o_orderpriority != '{Q13_EXCLUDED_PRIORITY}'
  GROUP BY 1
)
SELECT COALESCE(n_orders, 0) AS c_count, count(*) AS custdist
FROM customer LEFT JOIN per_cust ON c_custkey = o_custkey
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# TPC-H Q14-style conditional aggregate (promo revenue share per month)
# ---------------------------------------------------------------------------

PROMO_TYPE = "PROMO"


def q_analytics_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly share of revenue from promo parts: ONE pass, the branch is
    a conditional aggregate (never two scans or a self-join), the part
    dimension broadcasts, and both sums quantize to integer cents so the
    final percentage is one double division on identical integers in both
    engines."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    disc_c = _cents_expr(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(
            F.sum(F.when(F.col("p_type") == PROMO_TYPE, disc_c).otherwise(F.lit(0))).alias(
                "promo_revenue_c"
            ),
            F.sum(disc_c).alias("total_revenue_c"),
        )
        .withColumn(
            "promo_pct",
            F.col("promo_revenue_c").cast("double")
            * 100.0
            / F.col("total_revenue_c").cast("double"),
        )
    )


_Q14_ORACLE = f"""
SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
       CAST(sum(CASE WHEN p_type = '{PROMO_TYPE}'
                THEN {_cents_sql("l_extendedprice * (1 - l_discount)")}
                ELSE 0 END) AS BIGINT) AS promo_revenue_c,
       CAST(sum({_cents_sql("l_extendedprice * (1 - l_discount)")}) AS BIGINT) AS total_revenue_c,
       CAST(sum(CASE WHEN p_type = '{PROMO_TYPE}'
                THEN {_cents_sql("l_extendedprice * (1 - l_discount)")}
                ELSE 0 END) AS DOUBLE) * 100.0
         / CAST(sum({_cents_sql("l_extendedprice * (1 - l_discount)")}) AS DOUBLE)
         AS promo_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# TPC-H Q19-style disjunctive predicate (OR-of-ANDs over a joined dimension)
# ---------------------------------------------------------------------------

#: (brand, size_lo, size_hi, qty_lo, qty_hi) — the Spark predicate and the
#: oracle SQL are generated from this one list so the disjunction can't
#: drift between engines.
Q19_CLAUSES: list[tuple[str, int, int, int, int]] = [
    ("Brand#1", 1, 5, 1, 11),
    ("Brand#2", 1, 10, 10, 20),
    ("Brand#3", 1, 15, 20, 30),
]


def _q19_pred_col() -> F.Column:
    pred = None
    for brand, slo, shi, qlo, qhi in Q19_CLAUSES:
        clause = (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(slo, shi)
            & F.col("l_quantity").between(qlo, qhi)
        )
        pred = clause if pred is None else pred | clause
    return pred


def _q19_pred_sql() -> str:
    return " OR ".join(
        f"(p_brand = '{b}' AND p_size BETWEEN {slo} AND {shi}"
        f" AND l_quantity BETWEEN {qlo} AND {qhi})"
        for b, slo, shi, qlo, qhi in Q19_CLAUSES
    )


def q_analytics_brand_disjunction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-of-ANDs across fact and dimension columns. The part-only half of
    the disjunction (brand ∈ {...}) is derivable and pushes into the
    dimension scan; the remaining mixed clauses evaluate post-join. The dimension
    broadcasts, so the disjunction never forces a shuffle or a
    nested-loop join — the classic Q19 trap."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(_q19_pred_col())
        .agg(
            F.sum(
                _cents_expr(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue_c"),
            F.count("*").alias("n_lines"),
        )
    )


_Q19_ORACLE = f"""
SELECT CAST(sum({_cents_sql("l_extendedprice * (1 - l_discount)")}) AS BIGINT) AS revenue_c,
       count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE {_q19_pred_sql()}
"""


# ---------------------------------------------------------------------------
# TPC-H Q21-style sole-failing-supplier (EXISTS + NOT EXISTS as one aggregate)
# ---------------------------------------------------------------------------

def q_analytics_sole_return_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who were the ONLY supplier with returned lines on
    multi-supplier orders. The reference Q21 shape is EXISTS(another
    supplier on the order) AND NOT EXISTS(another supplier with returns);
    both quantifiers collapse into per-order aggregation instead of two
    correlated joins against the fact table. The distinct counts are
    computed as a TWO-LEVEL aggregate — first (orderkey, suppkey) with a
    has-returns flag, then per order — because multiple countDistinct in
    one aggregate compiles to an Expand that multiplies the pre-shuffle
    row count by the number of distinct aggregates; the two-level form
    partial-aggregates map-side at every step (measured ~1.5x at sf0.1,
    and the Expand factor only hurts more at scale)."""
    li = load_table(spark, sf_dir, "lineitem")
    per_order_supp = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max((F.col("l_returnflag") == "R").cast("int")).alias("has_ret")
    )
    per_order = (
        per_order_supp.groupBy("l_orderkey")
        .agg(
            F.count("*").alias("n_supp"),
            F.sum("has_ret").alias("n_ret_supp"),
            F.min(F.when(F.col("has_ret") == 1, F.col("l_suppkey"))).alias(
                "ret_supp"
            ),
        )
        .filter((F.col("n_supp") >= 2) & (F.col("n_ret_supp") == 1))
    )
    supplier = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_order.groupBy("ret_supp")
        .agg(F.count("*").alias("num_sole_return_orders"))
        .join(F.broadcast(supplier), F.col("ret_supp") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "num_sole_return_orders")
    )


_Q21_ORACLE = """
WITH per_order AS (
  SELECT l_orderkey,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS n_ret_supp,
         min(CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS ret_supp
  FROM lineitem
  GROUP BY 1
)
SELECT s_suppkey, s_name, count(*) AS num_sole_return_orders
FROM per_order JOIN supplier ON ret_supp = s_suppkey
WHERE n_supp >= 2 AND n_ret_supp = 1
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# best supplier per part (derived link table + per-group argmax)
# ---------------------------------------------------------------------------

def q_analytics_best_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2's shape without a partsupp table: the part-supplier link
    is DERIVED by a distinct over the fact's (partkey, suppkey) pairs —
    one aggregate that collapses lineitem's duplication before any join —
    then the richest supplier per part is a max_by argmax (map-side
    combinable; the row_number-window equivalent would single-thread hot
    parts). The supplier dimension broadcasts into the slim link table."""
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal"
    )
    links = li.select("l_partkey", "l_suppkey").distinct()
    return (
        links.join(F.broadcast(supplier), links.l_suppkey == supplier.s_suppkey)
        .groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(
            F.max_by(
                F.struct("s_suppkey", "s_name"),
                # deterministic argmax: acctbal, then suppkey as tiebreaker
                F.struct(F.col("s_acctbal"), F.col("s_suppkey")),
            ).alias("s"),
            F.count("*").alias("n_suppliers"),
            F.max("s_acctbal").alias("best_acctbal"),
        )
        .select(
            "p_partkey",
            F.col("s.s_suppkey").alias("best_suppkey"),
            F.col("s.s_name").alias("best_supplier"),
            "n_suppliers",
            "best_acctbal",
        )
    )


_BEST_SUPPLIER_ORACLE = """
WITH links AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
), ranked AS (
  SELECT l_partkey AS p_partkey, s_suppkey, s_name, s_acctbal,
         count(*) OVER (PARTITION BY l_partkey) AS n_suppliers,
         max(s_acctbal) OVER (PARTITION BY l_partkey) AS best_acctbal,
         row_number() OVER (PARTITION BY l_partkey
                            ORDER BY s_acctbal DESC, s_suppkey DESC) AS rn
  FROM links JOIN supplier ON l_suppkey = s_suppkey
)
SELECT p_partkey, s_suppkey AS best_suppkey, s_name AS best_supplier,
       n_suppliers, best_acctbal
FROM ranked WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# TPC-H Q10-style returned-revenue ranking and Q8-style market share
# ---------------------------------------------------------------------------

RETURNED_TOP_N = 20


def q_analytics_returned_revenue_customers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Customers ranked by revenue on RETURNED items (the who-is-sending-
    things-back report): returnflag filter pushes into the lineitem scan,
    the orders join shuffles on orderkey, customer + nation broadcast,
    and the top-20 compiles to TakeOrderedAndProject."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = _cents_expr(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(rev).alias("returned_revenue_c"))
        .orderBy(F.col("returned_revenue_c").desc(), F.col("c_custkey").asc())
        .limit(RETURNED_TOP_N)
    )


_Q10_ORACLE = f"""
SELECT c_custkey, c_name, n_name,
       CAST(sum({_cents_sql("l_extendedprice * (1 - l_discount)")}) AS BIGINT) AS returned_revenue_c
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY 1, 2, 3
ORDER BY returned_revenue_c DESC, c_custkey ASC
LIMIT {RETURNED_TOP_N}
"""


MARKET_SHARE_NATION = "NATION_0"


def q_analytics_nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One nation's share of yearly supplier revenue: supplier + nation
    broadcast into the fact, then ONE conditional aggregate per year
    (numerator and denominator in the same pass — never two scans), both
    integer cents, one final double division."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = _cents_expr(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(
            F.sum(
                F.when(F.col("n_name") == MARKET_SHARE_NATION, rev).otherwise(
                    F.lit(0)
                )
            ).alias("nation_revenue_c"),
            F.sum(rev).alias("total_revenue_c"),
        )
        .withColumn(
            "market_share",
            F.col("nation_revenue_c").cast("double")
            / F.col("total_revenue_c").cast("double"),
        )
    )


_Q8_ORACLE = f"""
SELECT CAST(year(o_orderdate) AS INT) AS order_year,
       CAST(sum(CASE WHEN n_name = '{MARKET_SHARE_NATION}'
                THEN {_cents_sql("l_extendedprice * (1 - l_discount)")}
                ELSE 0 END) AS BIGINT) AS nation_revenue_c,
       CAST(sum({_cents_sql("l_extendedprice * (1 - l_discount)")}) AS BIGINT) AS total_revenue_c,
       CAST(sum(CASE WHEN n_name = '{MARKET_SHARE_NATION}'
                THEN {_cents_sql("l_extendedprice * (1 - l_discount)")}
                ELSE 0 END) AS DOUBLE)
         / CAST(sum({_cents_sql("l_extendedprice * (1 - l_discount)")}) AS DOUBLE)
         AS market_share
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# inter-event intervals (lag window + integer-exact gap statistics)
# ---------------------------------------------------------------------------

def q_analytics_purchase_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user purchase cadence: consecutive-purchase gaps via a lag
    window over the (user) partition, aggregated to per-user count /
    min / max / mean gap. Gaps are integer microseconds (unix_micros in
    Spark == epoch_us in DuckDB), summed exactly; the mean is one final
    double division. Window parallelism is per-user — no global sort."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.withColumn("prev_us", F.lag(F.unix_micros("ts")).over(w))
        .filter(F.col("prev_us").isNotNull())
        .select(
            "user_id",
            (F.unix_micros("ts") - F.col("prev_us")).alias("gap_us"),
        )
    )
    return gaps.groupBy("user_id").agg(
        F.count("*").alias("n_gaps"),
        F.min("gap_us").alias("min_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
        F.sum("gap_us").alias("sum_gap_us"),
        (F.sum("gap_us").cast("double") / F.count("*").cast("double")).alias(
            "mean_gap_us"
        ),
    )


_PURCHASE_INTERVALS_ORACLE = """
WITH p AS (
  SELECT user_id, ts, event_id,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_us
  FROM events WHERE event_type = 'purchase'
), gaps AS (
  SELECT user_id, epoch_us(ts) - prev_us AS gap_us
  FROM p WHERE prev_us IS NOT NULL
)
SELECT user_id, count(*) AS n_gaps,
       min(gap_us) AS min_gap_us,
       max(gap_us) AS max_gap_us,
       CAST(sum(gap_us) AS BIGINT) AS sum_gap_us,
       CAST(sum(gap_us) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_gap_us
FROM gaps
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# compaction planner (small-files ops surface)
# ---------------------------------------------------------------------------

#: small target so the fixture produces a non-trivial plan; production
#: uses storage.TARGET_ROWS_PER_FILE
PLAN_ROWS_PER_FILE = 2_000


def q_analytics_partition_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The compaction planner (storage.partition_plan) over the events
    table partitioned by day: per output partition, its row count and the
    file count a writer should coalesce to — the decision table that
    prevents the small-files problem on a partitioned 100 TB sink."""
    from mysql_streamer_spark.storage import partition_plan

    # day as an ISO string — it is a partition DIRECTORY name for the
    # writer, and a DATE-typed column cannot hash-match the oracle (Spark
    # dates surface as python date objects, DuckDB dates as midnight
    # datetime64 in pandas)
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    return partition_plan(ev, ["day"], PLAN_ROWS_PER_FILE)


_PARTITION_PLAN_ORACLE = f"""
SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n_rows,
       CAST(ceil(CAST(count(*) AS DOUBLE) / {PLAN_ROWS_PER_FILE}) AS BIGINT)
         AS target_files
FROM events
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Z-order (Morton) layout planner — multi-dimensional clustering for
# scan pruning (the Delta/Iceberg OPTIMIZE ZORDER BY equivalent)
# ---------------------------------------------------------------------------

#: bits per dimension (8+8 -> 16-bit Morton code) and the Morton-range
#: width mapped to one output file (1024 codes/file -> 64 files).
ZORDER_BITS = 8
ZORDER_CODES_PER_FILE = 1024


def _morton_sql(x: str, y: str, intdiv: str) -> str:
    """Bit-interleave via pure div/% integer arithmetic — no engine
    shift/bit builtins, so Spark (`div`) and DuckDB (`//`) evaluate the
    identical formula."""
    terms = []
    for i in range(ZORDER_BITS):
        terms.append(f"((({x} {intdiv} {2 ** i}) % 2) * {2 ** (2 * i)})")
        terms.append(f"((({y} {intdiv} {2 ** i}) % 2) * {2 ** (2 * i + 1)})")
    return "(" + " + ".join(terms) + ")"


def q_analytics_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout planner over events on (user_id, event-day): map
    both dimensions onto a 2^ZORDER_BITS grid, bit-interleave into a
    Morton code, and assign Morton ranges to output files. The report is
    each planned file's row count and its min/max box in BOTH dimensions
    — tight boxes are the whole point: a reader filtering on user_id OR
    day (or both) can prune most files from footer stats alone, which
    one-dimensional sorting only delivers for the leading column.

    Scale shape: one 1-row stats aggregate broadcast back (domain
    bounds), then a map-side integer projection and ONE aggregate on the
    file key. The real writer repartitions by zfile and writes; this
    planner is the decision table, same as the compaction planner."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_timestamp("ts").alias("dsec")
    )
    # integer-division day index everywhere: float `/` would round vs
    # truncate differently across engines at the cast
    stats = ev.agg(
        F.max("user_id").alias("max_user"),
        F.expr("min(dsec div 86400)").alias("min_day"),
        F.expr("max(dsec div 86400)").alias("max_day"),
    )
    grid = 2 ** ZORDER_BITS
    scaled = ev.crossJoin(F.broadcast(stats)).select(
        F.expr(f"user_id * {grid} div (max_user + 1)").alias("x"),
        F.expr(
            f"((dsec div 86400) - min_day) * {grid} div (max_day - min_day + 1)"
        ).alias("y"),
    )
    morton = _morton_sql("x", "y", "div")
    return (
        scaled.select(
            F.expr(f"{morton} div {ZORDER_CODES_PER_FILE}").alias("zfile"),
            "x",
            "y",
        )
        .groupBy("zfile")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
            (
                (F.max("x") - F.min("x") + 1) * (F.max("y") - F.min("y") + 1)
            ).alias("bbox_area"),
        )
    )


#: file-skipping probe predicate: a rectangular band on the z-ordered
#: grid (a user-id range AND a day range — the common dashboard slice)
#: deliberately NOT aligned to Morton quadrant boundaries, so surviving
#: files contain non-matching rows and the read-amplification figure is a
#: real measurement, not 1.0 by construction
ZSKIP_X_LO, ZSKIP_X_HI = 50, 140
ZSKIP_Y_LO, ZSKIP_Y_HI = 20, 90


def q_analytics_file_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The payoff measurement for the Z-order layout: against the planned
    per-file bounding boxes, how many files does a (user-band AND
    day-band) predicate PRUNE from footer stats alone, and what read
    amplification remains (rows scanned in surviving files / rows that
    actually match)? This is the number that justifies the OPTIMIZE
    ZORDER rewrite — without it the layout table is just geometry.

    Plan shape: the same map-side Morton projection, one aggregate to
    per-file boxes + in-band row counts, one summary row. The probe adds
    zero passes over the data beyond the planner's own aggregate."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_timestamp("ts").alias("dsec")
    )
    stats = ev.agg(
        F.max("user_id").alias("max_user"),
        F.expr("min(dsec div 86400)").alias("min_day"),
        F.expr("max(dsec div 86400)").alias("max_day"),
    )
    grid = 2 ** ZORDER_BITS
    scaled = ev.crossJoin(F.broadcast(stats)).select(
        F.expr(f"user_id * {grid} div (max_user + 1)").alias("x"),
        F.expr(
            f"((dsec div 86400) - min_day) * {grid} div (max_day - min_day + 1)"
        ).alias("y"),
    )
    in_band = (
        (F.col("x") >= ZSKIP_X_LO)
        & (F.col("x") <= ZSKIP_X_HI)
        & (F.col("y") >= ZSKIP_Y_LO)
        & (F.col("y") <= ZSKIP_Y_HI)
    )
    morton = _morton_sql("x", "y", "div")
    per_file = (
        scaled.select(
            F.expr(f"{morton} div {ZORDER_CODES_PER_FILE}").alias("zfile"),
            "x",
            "y",
            in_band.cast("long").alias("match"),
        )
        .groupBy("zfile")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("match").alias("n_match"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
        )
        .withColumn(
            "kept",
            ~(
                (F.col("max_x") < ZSKIP_X_LO)
                | (F.col("min_x") > ZSKIP_X_HI)
                | (F.col("max_y") < ZSKIP_Y_LO)
                | (F.col("min_y") > ZSKIP_Y_HI)
            ),
        )
    )
    return per_file.agg(
        F.count("*").cast("long").alias("n_files"),
        F.sum((~F.col("kept")).cast("long")).alias("n_files_skipped"),
        (
            F.sum((~F.col("kept")).cast("long")).cast("double")
            / F.count("*").cast("double")
        ).alias("skip_ratio"),
        F.sum(F.when(F.col("kept"), F.col("n_rows")).otherwise(0)).alias(
            "n_rows_scanned"
        ),
        F.sum("n_match").cast("long").alias("n_rows_matching"),
        (
            F.sum(F.when(F.col("kept"), F.col("n_rows")).otherwise(0)).cast(
                "double"
            )
            / F.sum("n_match").cast("double")
        ).alias("read_amplification"),
    )


_FILE_SKIPPING_ORACLE = f"""
WITH ev AS (
  SELECT user_id, epoch_us(ts) // 1000000 AS dsec FROM events
), stats AS (
  SELECT max(user_id) AS max_user,
         min(dsec // 86400) AS min_day,
         max(dsec // 86400) AS max_day
  FROM ev
), scaled AS (
  SELECT user_id * {2 ** ZORDER_BITS} // (max_user + 1) AS x,
         ((dsec // 86400) - min_day) * {2 ** ZORDER_BITS}
           // (max_day - min_day + 1) AS y
  FROM ev CROSS JOIN stats
), per_file AS (
  SELECT {_morton_sql("x", "y", "//")} // {ZORDER_CODES_PER_FILE} AS zfile,
         count(*) AS n_rows,
         sum(CASE WHEN x BETWEEN {ZSKIP_X_LO} AND {ZSKIP_X_HI}
                   AND y BETWEEN {ZSKIP_Y_LO} AND {ZSKIP_Y_HI}
                  THEN 1 ELSE 0 END) AS n_match,
         min(x) AS min_x, max(x) AS max_x,
         min(y) AS min_y, max(y) AS max_y
  FROM scaled
  GROUP BY 1
), flagged AS (
  SELECT *,
         NOT (max_x < {ZSKIP_X_LO} OR min_x > {ZSKIP_X_HI}
              OR max_y < {ZSKIP_Y_LO} OR min_y > {ZSKIP_Y_HI}) AS kept
  FROM per_file
)
SELECT CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(CASE WHEN NOT kept THEN 1 ELSE 0 END) AS BIGINT)
         AS n_files_skipped,
       CAST(sum(CASE WHEN NOT kept THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS skip_ratio,
       CAST(sum(CASE WHEN kept THEN n_rows ELSE 0 END) AS BIGINT)
         AS n_rows_scanned,
       CAST(sum(n_match) AS BIGINT) AS n_rows_matching,
       CAST(sum(CASE WHEN kept THEN n_rows ELSE 0 END) AS DOUBLE)
         / CAST(sum(n_match) AS DOUBLE) AS read_amplification
FROM flagged
"""


#: files per layout in the comparison (same budget for both layouts)
LAYOUT_N_FILES = 64


def q_analytics_layout_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-to-head: the SAME (user-band AND day-band) predicate probed
    against (a) a 1-D layout sorted by user_id and (b) the Z-order
    layout, both with LAYOUT_N_FILES files. The 1-D sort prunes
    perfectly on its leading column but every surviving file spans the
    FULL day range, so the day predicate prunes nothing; Morton
    interleaving bounds both dimensions per file. This two-row table is
    the quantified argument for the OPTIMIZE ZORDER rewrite.

    Plan shape: one scaled projection feeds both layouts (two file-key
    expressions over the same map output), one aggregate per layout, a
    two-row summary."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_timestamp("ts").alias("dsec")
    )
    stats = ev.agg(
        F.max("user_id").alias("max_user"),
        F.expr("min(dsec div 86400)").alias("min_day"),
        F.expr("max(dsec div 86400)").alias("max_day"),
    )
    grid = 2 ** ZORDER_BITS
    scaled = ev.crossJoin(F.broadcast(stats)).select(
        F.expr(f"user_id * {grid} div (max_user + 1)").alias("x"),
        F.expr(
            f"((dsec div 86400) - min_day) * {grid} div (max_day - min_day + 1)"
        ).alias("y"),
    )
    in_band = (
        (F.col("x") >= ZSKIP_X_LO)
        & (F.col("x") <= ZSKIP_X_HI)
        & (F.col("y") >= ZSKIP_Y_LO)
        & (F.col("y") <= ZSKIP_Y_HI)
    )
    morton = _morton_sql("x", "y", "div")
    keyed = scaled.select(
        "x",
        "y",
        in_band.cast("long").alias("match"),
        F.expr(f"x * {LAYOUT_N_FILES} div {grid}").alias("file_1d"),
        F.expr(f"({morton}) div {ZORDER_CODES_PER_FILE}").alias("file_z"),
    )

    def layout(name: str, key: str) -> DataFrame:
        per_file = keyed.groupBy(F.col(key).alias("f")).agg(
            F.count("*").alias("n_rows"),
            F.sum("match").alias("n_match"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
        )
        kept = ~(
            (F.col("max_x") < ZSKIP_X_LO)
            | (F.col("min_x") > ZSKIP_X_HI)
            | (F.col("max_y") < ZSKIP_Y_LO)
            | (F.col("min_y") > ZSKIP_Y_HI)
        )
        return per_file.withColumn("kept", kept).agg(
            F.count("*").cast("long").alias("n_files"),
            F.sum((~F.col("kept")).cast("long")).alias("n_files_skipped"),
            F.sum(F.when(F.col("kept"), F.col("n_rows")).otherwise(0)).alias(
                "n_rows_scanned"
            ),
            (
                F.sum(F.when(F.col("kept"), F.col("n_rows")).otherwise(0)).cast(
                    "double"
                )
                / F.sum("n_match").cast("double")
            ).alias("read_amplification"),
        ).withColumn("layout", F.lit(name))

    return layout("sort_1d_user", "file_1d").unionByName(
        layout("zorder", "file_z")
    )


def _layout_compare_oracle() -> str:
    grid = 2 ** ZORDER_BITS
    out = []
    for name, key in (
        ("sort_1d_user", f"x * {LAYOUT_N_FILES} // {grid}"),
        ("zorder", f"({_morton_sql('x', 'y', '//')}) // {ZORDER_CODES_PER_FILE}"),
    ):
        out.append(f"""
SELECT '{name}' AS layout,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(CASE WHEN NOT kept THEN 1 ELSE 0 END) AS BIGINT)
         AS n_files_skipped,
       CAST(sum(CASE WHEN kept THEN n_rows ELSE 0 END) AS BIGINT)
         AS n_rows_scanned,
       CAST(sum(CASE WHEN kept THEN n_rows ELSE 0 END) AS DOUBLE)
         / CAST(sum(n_match) AS DOUBLE) AS read_amplification
FROM (
  SELECT *,
         NOT (max_x < {ZSKIP_X_LO} OR min_x > {ZSKIP_X_HI}
              OR max_y < {ZSKIP_Y_LO} OR min_y > {ZSKIP_Y_HI}) AS kept
  FROM (
    SELECT {key} AS f,
           count(*) AS n_rows,
           sum(CASE WHEN x BETWEEN {ZSKIP_X_LO} AND {ZSKIP_X_HI}
                     AND y BETWEEN {ZSKIP_Y_LO} AND {ZSKIP_Y_HI}
                    THEN 1 ELSE 0 END) AS n_match,
           min(x) AS min_x, max(x) AS max_x,
           min(y) AS min_y, max(y) AS max_y
    FROM scaled
    GROUP BY 1
  )
)""")
    return f"""
WITH ev AS (
  SELECT user_id, epoch_us(ts) // 1000000 AS dsec FROM events
), stats AS (
  SELECT max(user_id) AS max_user,
         min(dsec // 86400) AS min_day,
         max(dsec // 86400) AS max_day
  FROM ev
), scaled AS (
  SELECT user_id * {grid} // (max_user + 1) AS x,
         ((dsec // 86400) - min_day) * {grid}
           // (max_day - min_day + 1) AS y
  FROM ev CROSS JOIN stats
)
{" UNION ALL ".join(out)}
"""


_ZORDER_ORACLE = f"""
WITH ev AS (
  -- epoch_us // 1e6 floors like Spark's unix_timestamp; epoch() returns a
  -- DOUBLE whose BIGINT cast ROUNDS in DuckDB, which would disagree on
  -- fractional-second timestamps
  SELECT user_id, epoch_us(ts) // 1000000 AS dsec FROM events
), stats AS (
  SELECT max(user_id) AS max_user,
         min(dsec // 86400) AS min_day,
         max(dsec // 86400) AS max_day
  FROM ev
), scaled AS (
  SELECT user_id * {2 ** ZORDER_BITS} // (max_user + 1) AS x,
         ((dsec // 86400) - min_day) * {2 ** ZORDER_BITS}
           // (max_day - min_day + 1) AS y
  FROM ev CROSS JOIN stats
)
SELECT {_morton_sql("x", "y", "//")} // {ZORDER_CODES_PER_FILE} AS zfile,
       CAST(count(*) AS BIGINT) AS n_rows,
       min(x) AS min_x, max(x) AS max_x,
       min(y) AS min_y, max(y) AS max_y,
       (max(x) - min(x) + 1) * (max(y) - min(y) + 1) AS bbox_area
FROM scaled
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# hourly anomaly z-scores (exact-integer moments, deterministic sqrt)
# ---------------------------------------------------------------------------

def q_analytics_hourly_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hours whose event count deviates ≥ 2σ from that event type's
    overall hourly mean. Two aggregates: hourly counts, then per-type
    moments (n, Σx, Σx²) — all exact integers — broadcast back for the
    z-score. The float path is mean/variance/one sqrt from identical
    integers; sqrt is IEEE-correctly-rounded in both engines, so the
    check stays deterministic (ln/exp would not be — that is why the
    commonness score avoids log too)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.withColumn("hour", F.date_trunc("hour", "ts"))
        .groupBy("hour", "event_type")
        .agg(F.count("*").alias("n"))
    )
    moments = hourly.groupBy("event_type").agg(
        F.count("*").alias("n_hours"),
        F.sum("n").alias("sum_n"),
        F.sum(F.col("n") * F.col("n")).alias("sum_n2"),
    )
    mean = F.col("sum_n").cast("double") / F.col("n_hours").cast("double")
    var = (
        F.col("sum_n2").cast("double") / F.col("n_hours").cast("double")
        - mean * mean
    )
    z = (F.col("n").cast("double") - mean) / F.sqrt(var)
    return (
        hourly.join(F.broadcast(moments), "event_type")
        .withColumn("z", z)
        .filter((F.col("z") >= 2.0) | (F.col("z") <= -2.0))
        .select("event_type", "hour", "n", "z")
    )


_ANOMALY_ORACLE = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n
  FROM events GROUP BY 1, 2
), moments AS (
  SELECT event_type, count(*) AS n_hours, sum(n) AS sum_n, sum(n * n) AS sum_n2
  FROM hourly GROUP BY 1
), scored AS (
  SELECT event_type, hour, n,
         (CAST(n AS DOUBLE)
           - CAST(sum_n AS DOUBLE) / CAST(n_hours AS DOUBLE))
         / sqrt(CAST(sum_n2 AS DOUBLE) / CAST(n_hours AS DOUBLE)
                - (CAST(sum_n AS DOUBLE) / CAST(n_hours AS DOUBLE))
                  * (CAST(sum_n AS DOUBLE) / CAST(n_hours AS DOUBLE))) AS z
  FROM hourly JOIN moments USING (event_type)
)
SELECT event_type, hour, n, z FROM scored
WHERE z >= 2.0 OR z <= -2.0
"""


# ---------------------------------------------------------------------------
# pivot (long -> wide crosstab)
# ---------------------------------------------------------------------------

#: Explicit pivot domain: passing the values up front skips Spark's extra
#: distinct-collection pass AND makes the output schema static — both
#: engines emit identical column names in identical order.
PIVOT_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def q_analytics_event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-type crosstab via pivot. With the value list pinned,
    this compiles to ONE hash aggregate whose map-side partials carry a
    fixed 5-counter vector per day — same cost as a plain groupBy, no
    second job to discover the pivot domain, no wide shuffle."""
    ev = load_table(spark, sf_dir, "events")
    return (
        # ISO-string day: DATE-typed outputs cannot hash-match the oracle
        # (python date vs datetime64 in pandas)
        ev.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
        .groupBy("day")
        .pivot("event_type", list(PIVOT_EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .na.fill(0, list(PIVOT_EVENT_TYPES))
    )


_PIVOT_ORACLE = "SELECT strftime(ts, '%Y-%m-%d') AS day, " + ", ".join(
    f"count(*) FILTER (WHERE event_type = '{t}') AS {t}"
    for t in PIVOT_EVENT_TYPES
) + " FROM events GROUP BY 1"


def q_analytics_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props via the VARIANT type (Spark 4's open-format
    binary JSON): ``parse_json`` once into a variant column, typed paths
    out with ``variant_get`` — the schema-on-read path for payloads whose
    shape is NOT known at write time (where ``from_json`` with a pinned
    schema, analytics_props_json, stops working). Variant keeps the
    shredded binary in the scan stage, so repeated path extraction costs
    no re-parse — at 100 TB that is the difference between one JSON parse
    per row and one per (row x path).

    Output: per (event_type, k-parity) — a predicate ON the extracted
    path — row counts and k stats; pure codegen aggregate after the one
    parse."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "v", F.parse_json("props")
    )
    k = F.expr("variant_get(v, '$.k', 'bigint')")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type", F.expr("pmod(k, 2)").alias("k_parity"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.countDistinct("k").alias("n_distinct_k"),
        )
    )


_VARIANT_PROPS_ORACLE = """
SELECT event_type,
       -- ((x % 2) + 2) % 2 == Spark's pmod for negative x too (the fixture
       -- only generates k >= 0, but the oracle must not rely on that)
       CAST(((CAST(props->>'$.k' AS BIGINT) % 2) + 2) % 2 AS BIGINT)
         AS k_parity,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(count(DISTINCT CAST(props->>'$.k' AS BIGINT)) AS BIGINT)
         AS n_distinct_k
FROM events
GROUP BY 1, 2
"""


def q_analytics_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pivot→unpivot round trip (``DataFrame.unpivot`` / SQL UNPIVOT —
    the melt half of the reshaping API): the daily crosstab goes wide
    then back to long (day, event_type, n_events), dropping the zero
    cells the widening manufactured so the long form equals the direct
    group-by. Unpivot is a per-row columnar expansion (a generate, no
    shuffle) — the only shuffle in the plan is the crosstab's own
    aggregate."""
    wide = q_analytics_event_type_pivot(spark, sf_dir)
    return wide.unpivot(
        ids=["day"],
        values=list(PIVOT_EVENT_TYPES),
        variableColumnName="event_type",
        valueColumnName="n_events",
    ).filter(F.col("n_events") > 0)


_UNPIVOT_ORACLE = """
SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
       CAST(count(*) AS BIGINT) AS n_events
FROM events
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# within-group quartiles (partitioned ntile)
# ---------------------------------------------------------------------------

def q_analytics_balance_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Account-balance quartiles WITHIN each nation: ntile over the
    (nation) partition — ranking parallelism is per-group, so no global
    sort ever happens (a global ntile would move the table to one task;
    for whole-table quantiles use the exact-percentile aggregate in
    analytics_value_percentiles instead). min/max ride through untouched
    (exact doubles); the sum quantizes to cents."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc()
    )
    return (
        cust.withColumn("quartile", F.ntile(4).over(w))
        .groupBy("c_nationkey", "quartile")
        .agg(
            F.count("*").alias("n_customers"),
            F.min("c_acctbal").alias("min_bal"),
            F.max("c_acctbal").alias("max_bal"),
            F.sum(_cents("c_acctbal")).alias("sum_bal_c"),
        )
    )


_QUARTILES_ORACLE = f"""
SELECT c_nationkey, quartile,
       count(*) AS n_customers,
       min(c_acctbal) AS min_bal,
       max(c_acctbal) AS max_bal,
       CAST(sum({_cents_sql("c_acctbal")}) AS BIGINT) AS sum_bal_c
FROM (
  SELECT c_nationkey, c_acctbal,
         ntile(4) OVER (PARTITION BY c_nationkey
                        ORDER BY c_acctbal ASC, c_custkey ASC) AS quartile
  FROM customer
)
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# ordered conversion funnel (view -> click -> purchase)
# ---------------------------------------------------------------------------

FUNNEL_STAGES = ("view", "click", "purchase")


def q_analytics_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users who viewed, then clicked at-or-after their
    first view, then purchased at-or-after that click — the
    sequence-pattern query (MATCH_RECOGNIZE class) decomposed into per-
    stage min-timestamp aggregates chained through broadcast joins.

    Each stage is one filtered aggregate producing ONE ROW PER USER, so
    the events table is scanned per stage but never self-joined
    row-to-row and nothing wider than (user_id, ts) ever shuffles. The
    stage tables scale with the user population, so the joins are left
    to AQE (broadcast when a stage is small, shuffle-hash on user_id
    when it is not) rather than forced broadcast. Ties (same timestamp)
    count as sequential — both engines evaluate the identical >= chain,
    so the gate is deterministic."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    t1 = (
        ev.filter(F.col("event_type") == FUNNEL_STAGES[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    t2 = (
        ev.filter(F.col("event_type") == FUNNEL_STAGES[1])
        .join(t1, "user_id")
        .filter(F.col("ts") >= F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    t3 = (
        ev.filter(F.col("event_type") == FUNNEL_STAGES[2])
        .join(t2, "user_id")
        .filter(F.col("ts") >= F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    counts = (
        t1.agg(F.count("*").alias("n_stage1"))
        .crossJoin(t2.agg(F.count("*").alias("n_stage2")))
        .crossJoin(t3.agg(F.count("*").alias("n_stage3")))
    )
    return counts.select(
        "n_stage1",
        "n_stage2",
        "n_stage3",
        (F.col("n_stage2").cast("double") / F.col("n_stage1").cast("double")).alias(
            "view_to_click"
        ),
        (F.col("n_stage3").cast("double") / F.col("n_stage2").cast("double")).alias(
            "click_to_purchase"
        ),
    )


_FUNNEL_ORACLE = f"""
WITH t1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = '{FUNNEL_STAGES[0]}' GROUP BY 1
), t2 AS (
  SELECT e.user_id, min(ts) AS t2 FROM events e JOIN t1 ON e.user_id = t1.user_id
  WHERE e.event_type = '{FUNNEL_STAGES[1]}' AND e.ts >= t1.t1 GROUP BY 1
), t3 AS (
  SELECT e.user_id, min(ts) AS t3 FROM events e JOIN t2 ON e.user_id = t2.user_id
  WHERE e.event_type = '{FUNNEL_STAGES[2]}' AND e.ts >= t2.t2 GROUP BY 1
)
SELECT
  (SELECT count(*) FROM t1) AS n_stage1,
  (SELECT count(*) FROM t2) AS n_stage2,
  (SELECT count(*) FROM t3) AS n_stage3,
  CAST((SELECT count(*) FROM t2) AS DOUBLE)
    / CAST((SELECT count(*) FROM t1) AS DOUBLE) AS view_to_click,
  CAST((SELECT count(*) FROM t3) AS DOUBLE)
    / CAST((SELECT count(*) FROM t2) AS DOUBLE) AS click_to_purchase
"""


# ---------------------------------------------------------------------------
# ranking-function sampler (the full window ranking surface in one pass)
# ---------------------------------------------------------------------------

def q_analytics_customer_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every ranking window function over one partition spec — rank,
    dense_rank, percent_rank, cume_dist and ntile computed in a SINGLE
    window pass (same partition + ordering => one shuffle, one sort, all
    five functions evaluated together by WindowExec). percent_rank and
    cume_dist are exact single divisions of window-local integer counts,
    so they hash-match across engines. Partitioned by nation: ranking
    parallelism is per-group, never a global sort."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return cust.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.rank().over(w).alias("bal_rank"),
        F.dense_rank().over(w).alias("bal_dense_rank"),
        F.percent_rank().over(w).alias("bal_percent_rank"),
        F.cume_dist().over(w).alias("bal_cume_dist"),
        F.ntile(10).over(w).alias("bal_decile"),
    )


_CUSTOMER_RANKS_ORACLE = """
SELECT c_custkey, c_nationkey, c_acctbal,
       rank() OVER w AS bal_rank,
       dense_rank() OVER w AS bal_dense_rank,
       percent_rank() OVER w AS bal_percent_rank,
       cume_dist() OVER w AS bal_cume_dist,
       ntile(10) OVER w AS bal_decile
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC)
"""


# ---------------------------------------------------------------------------
# explicit GROUPING SETS (the third grouping shape next to ROLLUP and CUBE)
# ---------------------------------------------------------------------------

def q_analytics_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY GROUPING SETS ((lang), (source), (lang, source)) — the
    hand-picked-granularity shape (unlike ROLLUP's prefix chain or CUBE's
    powerset). Compiles to one Expand + one hash aggregate: each input row
    fans out to exactly the 3 requested groupings with map-side partials,
    so cost is 3x a plain groupBy, never the 4x a CUBE would pay here."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupingSets([["lang"], ["source"], ["lang", "source"]], "lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.grouping_id().alias("gid"),
        )
    )


_GROUPING_SETS_ORACLE = """
SELECT lang, source, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       grouping(lang) * 2 + grouping(source) AS gid
FROM documents
GROUP BY GROUPING SETS ((lang), (source), (lang, source))
"""


# ---------------------------------------------------------------------------
# pandas grouped-aggregate UDAF (Arrow-batched custom aggregate surface)
# ---------------------------------------------------------------------------

def q_analytics_pandas_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UDAF surface: a pandas grouped-aggregate UDF (Arrow-batched,
    whole group per call) computing each language's document count, total
    chars, and largest doc. All integer math — numpy int64 sums are exact
    in any accumulation order, so the Python path hash-matches the SQL
    oracle (a float mean here would be order-dependent and flake).

    Scale note: grouped-agg pandas UDFs hold ONE GROUP in memory per call
    — fine on bounded per-language volumes; for unbounded groups prefer
    algebraic built-ins (which is why every other aggregate in this repo
    is one). The operator exists to pin the custom-UDAF surface."""
    from pyspark.sql.functions import pandas_udf

    # annotations must resolve from module globals (PEP 563 is active in
    # this file), hence the module-level pandas import below
    @pandas_udf("long")
    def n_docs(v: pandas.Series) -> int:
        # count as a pandas aggregate too: Spark refuses to mix grouped-agg
        # pandas UDFs with JVM aggregates in one agg()
        return int(len(v))

    @pandas_udf("long")
    def total_chars(v: pandas.Series) -> int:
        return int(v.sum())

    @pandas_udf("long")
    def max_chars(v: pandas.Series) -> int:
        return int(v.max())

    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        n_docs("n_chars").alias("n_docs"),
        total_chars("n_chars").alias("total_chars"),
        max_chars("n_chars").alias("max_chars"),
    )


_PANDAS_UDAF_ORACLE = """
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       max(n_chars) AS max_chars
FROM documents
GROUP BY lang
"""


# ---------------------------------------------------------------------------
# cohort retention matrix (first-seen week x activity-week offset)
# ---------------------------------------------------------------------------

def q_analytics_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: users grouped by first-active week, each
    later week's surviving count at its offset. Plan: collapse events to
    DISTINCT (user, week) FIRST (the fact shrinks by ~events-per-user-week
    before anything wide happens), derive the cohort week with a window
    over the collapsed set (both steps hash-partition by user_id — AQE
    reuses the exchange), then ONE aggregate to the tiny matrix."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    user_weeks = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("week")
    ).distinct()
    w = Window.partitionBy("user_id")
    return (
        user_weeks.withColumn("cohort_week", F.min("week").over(w))
        .groupBy(
            "cohort_week",
            (
                F.datediff(F.col("week"), F.col("cohort_week"))
                / F.lit(7)
            ).cast("int").alias("week_offset"),
        )
        .agg(F.count("*").alias("n_users"))
    )


_RETENTION_COHORTS_ORACLE = """
WITH user_weeks AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
), cohorts AS (
  SELECT user_id, week,
         min(week) OVER (PARTITION BY user_id) AS cohort_week
  FROM user_weeks
)
SELECT cohort_week,
       CAST(date_diff('day', cohort_week, week) / 7 AS INT) AS week_offset,
       count(*) AS n_users
FROM cohorts
GROUP BY cohort_week, week_offset
"""


# ---------------------------------------------------------------------------
# event-transition matrix (first-order Markov counts per user journey)
# ---------------------------------------------------------------------------

def q_analytics_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order transition counts over each user's event sequence —
    the journey matrix behind funnel/attribution models. One window
    (lag over the per-user timeline, tie-broken by event_id so the
    sequence is total) and one tiny aggregate; the shuffle keys on
    user_id exactly once."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(
            F.count("*").alias("n_transitions"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


_EVENT_TRANSITIONS_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
)
SELECT prev_type, event_type AS next_type,
       count(*) AS n_transitions,
       count(DISTINCT user_id) AS n_users
FROM seq WHERE prev_type IS NOT NULL
GROUP BY prev_type, next_type
"""


# ---------------------------------------------------------------------------
# rolling 7-day average revenue (sliding frame over the daily aggregate)
# ---------------------------------------------------------------------------

def q_analytics_repeat_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase structure of the event stream: purchasing users
    bucketed by purchase count, with each bucket's share of purchasers —
    two stacked aggregates (events -> per-user counts -> bucket counts),
    both map-side combinable, plus a 1-row purchaser total joined back
    broadcast. The second aggregate's keyspace is tiny (distinct purchase
    counts), so the heavy lifting is all in the first user-keyed pass."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    per_user = ev.groupBy("user_id").agg(F.count("*").alias("n_purchases"))
    buckets = per_user.groupBy("n_purchases").agg(
        F.count("*").alias("n_users")
    )
    total = per_user.agg(F.count("*").alias("n_purchasers"))
    return buckets.crossJoin(F.broadcast(total)).select(
        "n_purchases",
        "n_users",
        "n_purchasers",
        (F.col("n_users").cast("double") / F.col("n_purchasers").cast("double")).alias(
            "share_of_purchasers"
        ),
    )


_REPEAT_PURCHASE_ORACLE = """
WITH per_user AS (
  SELECT user_id, count(*) AS n_purchases
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
), buckets AS (
  SELECT n_purchases, count(*) AS n_users FROM per_user GROUP BY n_purchases
), total AS (SELECT count(*) AS n_purchasers FROM per_user)
SELECT n_purchases, n_users, n_purchasers,
       CAST(n_users AS DOUBLE) / CAST(n_purchasers AS DOUBLE)
         AS share_of_purchasers
FROM buckets, total
"""


def q_analytics_rolling_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day trailing mean of daily order revenue: the corpus-sized work
    is ONE day-keyed aggregate; the rolling frame slides over the tiny
    daily dimension (one row per day), so the unpartitioned window is a
    dimension-sized singleton like the other *_OK entries — never a
    corpus shuffle. Revenue is integer cents; the mean divides once."""
    from pyspark.sql import Window

    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("day", "o_orderdate").alias("day"))
        .agg(F.sum(_cents_expr(F.col("o_totalprice"))).alias("day_revenue_c"))
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    return daily.select(
        "day",
        "day_revenue_c",
        F.count("*").over(w).alias("n_days_in_frame"),
        (
            F.sum("day_revenue_c").over(w).cast("double")
            / F.count("*").over(w).cast("double")
        ).alias("rolling_avg_revenue_c"),
    )


_ROLLING_REVENUE_ORACLE = f"""
WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS day,
         CAST(sum({_cents_sql("o_totalprice")}) AS BIGINT) AS day_revenue_c
  FROM orders GROUP BY 1
)
SELECT day, day_revenue_c,
  count(*) OVER w AS n_days_in_frame,
  CAST(sum(day_revenue_c) OVER w AS DOUBLE) / CAST(count(*) OVER w AS DOUBLE)
    AS rolling_avg_revenue_c
FROM daily
WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


# ---------------------------------------------------------------------------
# year-over-year growth (lag over the yearly aggregate)
# ---------------------------------------------------------------------------

def q_analytics_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per order priority: corpus work is
    one (priority, year) aggregate; lag() walks the handful of yearly
    rows inside each priority partition. Growth is an exact integer
    difference; the ratio divides once."""
    from pyspark.sql import Window

    yearly = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            "o_orderpriority", F.year("o_orderdate").alias("year")
        )
        .agg(F.sum(_cents_expr(F.col("o_totalprice"))).alias("revenue_c"))
    )
    w = Window.partitionBy("o_orderpriority").orderBy("year")
    prev = F.lag("revenue_c").over(w)
    return yearly.select(
        F.col("o_orderpriority").alias("priority"),
        "year",
        "revenue_c",
        (F.col("revenue_c") - prev).alias("delta_c"),
        (
            (F.col("revenue_c") - prev).cast("double") / prev.cast("double")
        ).alias("growth_rate"),
    )


_YOY_ORACLE = f"""
WITH yearly AS (
  SELECT o_orderpriority AS priority, year(o_orderdate) AS year,
         CAST(sum({_cents_sql("o_totalprice")}) AS BIGINT) AS revenue_c
  FROM orders GROUP BY 1, 2
)
SELECT priority, year, revenue_c,
  revenue_c - lag(revenue_c) OVER w AS delta_c,
  CAST(revenue_c - lag(revenue_c) OVER w AS DOUBLE)
    / CAST(lag(revenue_c) OVER w AS DOUBLE) AS growth_rate
FROM yearly
WINDOW w AS (PARTITION BY priority ORDER BY year)
"""


# ---------------------------------------------------------------------------
# time-constrained funnel (the ClickHouse windowFunnel / Flink CEP shape)
# ---------------------------------------------------------------------------

#: each funnel step must land within this much of the PREVIOUS step
FUNNEL_WINDOW = "INTERVAL 1 DAY"


def q_analytics_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed funnel — ``analytics_conversion_funnel`` with the time
    constraint that makes it the ClickHouse ``windowFunnel`` / Flink CEP
    shape: every step must occur within FUNNEL_WINDOW of the PREVIOUS
    step's chosen timestamp (first-match semantics: each stage anchors
    at the user's earliest qualifying event). Timeout is what separates
    'eventually purchased' from 'converted by the campaign', so the two
    funnels report genuinely different numbers.

    Scale shape: same as the unconstrained funnel — one filtered
    min-aggregate per stage chained through user_id equi-joins (AQE
    picks broadcast vs shuffle-hash), nothing wider than (user_id, ts)
    moves, and the summary is three 1-row scalar counts crossed
    together. The time predicate rides the join filter; no windows, no
    self-join row-to-row."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    gap = F.expr(FUNNEL_WINDOW)
    t1 = (
        ev.filter(F.col("event_type") == FUNNEL_STAGES[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    t2 = (
        ev.filter(F.col("event_type") == FUNNEL_STAGES[1])
        .join(t1, "user_id")
        .filter((F.col("ts") >= F.col("t1")) & (F.col("ts") <= F.col("t1") + gap))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    t3 = (
        ev.filter(F.col("event_type") == FUNNEL_STAGES[2])
        .join(t2, "user_id")
        .filter((F.col("ts") >= F.col("t2")) & (F.col("ts") <= F.col("t2") + gap))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    counts = (
        ev.agg(F.countDistinct("user_id").alias("n_users"))
        .crossJoin(t1.agg(F.count("*").alias("n_step1")))
        .crossJoin(t2.agg(F.count("*").alias("n_step2")))
        .crossJoin(t3.agg(F.count("*").alias("n_step3")))
    )
    return counts.select(
        "n_users",
        "n_step1",
        "n_step2",
        "n_step3",
        (F.col("n_step2").cast("double") / F.col("n_step1").cast("double")).alias(
            "windowed_click_rate"
        ),
        (F.col("n_step3").cast("double") / F.col("n_step2").cast("double")).alias(
            "windowed_purchase_rate"
        ),
    )


_WINDOW_FUNNEL_ORACLE = f"""
WITH t1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = '{FUNNEL_STAGES[0]}' GROUP BY 1
), t2 AS (
  SELECT e.user_id, min(ts) AS t2 FROM events e JOIN t1 USING (user_id)
  WHERE event_type = '{FUNNEL_STAGES[1]}'
    AND ts >= t1 AND ts <= t1 + {FUNNEL_WINDOW}
  GROUP BY 1
), t3 AS (
  SELECT e.user_id, min(ts) AS t3 FROM events e JOIN t2 USING (user_id)
  WHERE event_type = '{FUNNEL_STAGES[2]}'
    AND ts >= t2 AND ts <= t2 + {FUNNEL_WINDOW}
  GROUP BY 1
)
SELECT (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events) AS n_users,
       (SELECT count(*) FROM t1) AS n_step1,
       (SELECT count(*) FROM t2) AS n_step2,
       (SELECT count(*) FROM t3) AS n_step3,
       CAST((SELECT count(*) FROM t2) AS DOUBLE)
         / CAST((SELECT count(*) FROM t1) AS DOUBLE) AS windowed_click_rate,
       CAST((SELECT count(*) FROM t3) AS DOUBLE)
         / CAST((SELECT count(*) FROM t2) AS DOUBLE) AS windowed_purchase_rate
"""


# ---------------------------------------------------------------------------
# market-basket co-occurrence with lift (frequent-itemset pairs)
# ---------------------------------------------------------------------------

#: pairs reported by the basket analysis (deterministic tiebreak on ids)
BASKET_TOP_K = 100


def q_analytics_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part-pair co-occurrence with support and lift — the frequent-
    itemset/association-rule primitive (the pair level of Apriori) over
    lineitem baskets: which parts are ordered together more often than
    their independent popularity predicts. ``lift`` follows the
    integer-exact PMI trick from ``text_bigram_pmi``: one division of
    exact integer cross-products (pair_n * n_orders) / (item_a * item_b),
    so both engines emit the identical double with no float accumulation.

    Scale shape: the per-order self-join shuffles BOTH sides on
    l_orderkey once (co-partitioned equi-join) and its fanout is bounded
    by basket size squared (TPC-H baskets are <= 7 items — at 100 TB the
    pair stream is ~20x lineitem, still linear in rows); pair counts
    hash-aggregate with map-side partials; the per-part popularity dim is
    part-cardinality (AQE broadcasts it); the 1-row order count is a
    broadcast cross; top-K is TakeOrderedAndProject, never a global
    sort."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a")
    )
    b = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b")
    )
    pair_counts = (
        a.join(b, "ok")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("pair_n"))
    )
    item_counts = li.groupBy("l_partkey").agg(F.count("*").alias("item_n"))
    n_orders = li.select("l_orderkey").distinct().agg(
        F.count("*").alias("n_orders")
    )
    scored = (
        pair_counts.join(
            item_counts.select(
                F.col("l_partkey").alias("part_a"),
                F.col("item_n").alias("n_orders_a"),
            ),
            "part_a",
        )
        .join(
            item_counts.select(
                F.col("l_partkey").alias("part_b"),
                F.col("item_n").alias("n_orders_b"),
            ),
            "part_b",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "pair_n",
            "n_orders_a",
            "n_orders_b",
            (
                F.col("pair_n").cast("double") / F.col("n_orders")
            ).alias("support"),
            (
                (F.col("pair_n") * F.col("n_orders")).cast("double")
                / (F.col("n_orders_a") * F.col("n_orders_b"))
            ).alias("lift"),
        )
    )
    return scored.orderBy(
        F.col("pair_n").desc(),
        F.col("lift").desc(),
        F.col("part_a").asc(),
        F.col("part_b").asc(),
    ).limit(BASKET_TOP_K)


_MARKET_BASKET_ORACLE = f"""
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pair_counts AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(count(*) AS BIGINT) AS pair_n
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
), item_counts AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS item_n FROM li GROUP BY 1
), n AS (
  SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM li
)
SELECT part_a, part_b, pair_n,
       ia.item_n AS n_orders_a, ib.item_n AS n_orders_b,
       CAST(pair_n AS DOUBLE) / n_orders AS support,
       CAST(pair_n * n_orders AS DOUBLE) / (ia.item_n * ib.item_n) AS lift
FROM pair_counts
JOIN item_counts ia ON part_a = ia.l_partkey
JOIN item_counts ib ON part_b = ib.l_partkey
CROSS JOIN n
ORDER BY pair_n DESC, lift DESC, part_a ASC, part_b ASC
LIMIT {BASKET_TOP_K}
"""


# ---------------------------------------------------------------------------
# iterative PageRank over the co-purchase graph (integer-exact)
# ---------------------------------------------------------------------------

#: fixed power-iteration count (data-independent, so both engines unroll
#: the identical computation)
PR_ITERS = 5
#: micro-units per unit of rank mass — every rank is an exact BIGINT
PR_SCALE = 10**12
PR_TOP_K = 50


#: one persisted edge frame per (app, sf_dir, orientation) — three graph
#: operators (PageRank, triangles, k-core) consume the same build, and
#: persisting a FRESH frame on every call stacked orphaned cache entries
#: in long-lived sessions, relying on LRU eviction alone (ADVICE r7). An
#: entry evicted externally (bench/gates run catalog.clearCache() per
#: query) is transparently re-persisted on next access.
_EDGE_CACHE: dict[tuple[str, str, bool], DataFrame] = {}


def release_copurchase_edges() -> None:
    """Unpersist and forget every memoized edge frame (session teardown)."""
    for df in _EDGE_CACHE.values():
        try:
            df.unpersist()
        except Exception:  # noqa: BLE001 - session may already be stopped
            pass
    _EDGE_CACHE.clear()


#: node-cardinality dimension frames (label/live/size vectors — two longs a
#: row) broadcast at or below this many graph nodes and switch to
#: dim-as-build SHUFFLE_HASH above it (~16 B/row -> tens of MB at the cap,
#: comfortably inside any task heap; the dedup family's
#: DIM_BROADCAST_MAX_DOCS discipline). The decision comes from the `part`
#: parquet FOOTER row count (nodes ⊆ parts, exact, metadata-only) — never
#: from Catalyst's estimates: a localCheckpoint()ed frame has UNKNOWN stats,
#: and with the dim side unknowable the static planner mis-ranked the round
#: joins and broadcast the persisted EDGE LIST (2.4M rows collected to the
#: driver and re-shipped every round at sf0.1; at cluster scale the same
#: plan degrades to a full edge shuffle per round). Both branches are
#: explicit hints, so the chosen build side is the node dim either way and
#: the plan is deterministic at any scale.
NODE_DIM_BROADCAST_MAX = 1_000_000


def _node_dim_hint(sf_dir: str) -> str:
    """'broadcast' when the graph's node dimension provably fits every
    task; 'shuffle_hash' beyond — or whenever the size is unknowable
    (the scale-safe default). Node count is bounded by the part table's
    footer row count (co-purchase nodes are part keys)."""
    try:
        import pyarrow.parquet as pq

        from mysql_streamer_spark.connectors.python_source import _parquet_files
        from mysql_streamer_spark.tables import table_path

        n = sum(
            pq.ParquetFile(f).metadata.num_rows
            for f in _parquet_files(table_path(sf_dir, "part"))
        )
    except Exception:  # noqa: BLE001 - unknown layout -> scale-safe
        return "shuffle_hash"
    return "broadcast" if n <= NODE_DIM_BROADCAST_MAX else "shuffle_hash"


def _hinted_node_dim(dim: DataFrame, hint: str) -> DataFrame:
    """Pin the node-cardinality dim as the BUILD side of its equi-join."""
    return F.broadcast(dim) if hint == "broadcast" else dim.hint("shuffle_hash")


def _copurchase_edges(
    spark: SparkSession, sf_dir: str, directed: bool
) -> DataFrame:
    """The part co-purchase edge list, persisted once per session —
    shared by every graph operator (PageRank, triangle census, k-core).
    Orderkey-co-partitioned self-join with basket-size-bounded fanout; no
    pre-join distinct (the raw duplicate rate is ~1e-4 and the final edge
    distinct dedups anyway — removing the extra shuffle measured 2x
    faster cold at sf0.1). ``directed`` emits both orientations
    (src, dst); otherwise canonical undirected (u < v)."""
    key = (spark.sparkContext.applicationId, sf_dir, directed)
    cached = _EDGE_CACHE.get(key)
    if cached is not None:
        sl = cached.storageLevel
        if not (sl.useMemory or sl.useDisk or sl.useOffHeap):
            cached.persist()
        return cached
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    # spread the PROBE side (r11, guide §2.5): the fixture is one parquet
    # split, so the broadcast-join pair expansion and the partial distinct
    # aggregate all ran in a single task; the guarded repartition unlocks
    # every core locally and is a structural no-op at cluster scale. The
    # broadcast build side stays as scanned.
    a = spread(li, "l_orderkey").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u")
    )
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    joined = a.join(b, "ok")
    if directed:
        out = (
            joined.filter(F.col("u") != F.col("v"))
            .select(F.col("u").alias("src"), F.col("v").alias("dst"))
        )
    else:
        out = joined.filter(F.col("u") < F.col("v")).select("u", "v")
    _EDGE_CACHE[key] = out.distinct().persist()
    return _EDGE_CACHE[key]


def q_analytics_copurchase_pagerank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PageRank over the part co-purchase graph — the iterative-algorithm
    shape (power iteration) the rest of the registry lacks: a fixed
    PR_ITERS-step loop where each step is one equi-join + one
    hash-aggregate over the edge list. Ranks live in exact BIGINT
    micro-units (PR_SCALE) with integer division at every step, so the
    computation is bit-identical in both engines — no float accumulation,
    no order sensitivity — while remaining a faithful damped PageRank
    (quantization error <= 1 micro-unit per node per step).

    Scale shape: the edge list builds once from an orderkey-co-partitioned
    self-join (basket-size-bounded fanout) and persists; each iteration
    shuffles only (node, contribution) pairs on dst — the canonical
    Pregel-on-DataFrames plan (GraphX/GraphFrames compile to exactly
    this). The rank vector is node-cardinality, never wider; top-K is
    TakeOrdered. 5 iterations = 5 shuffles, independent of corpus size."""
    edges = _copurchase_edges(spark, sf_dir, directed=True)
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    nodes = deg.select(F.col("src").alias("part"), "deg").persist()
    # greatest(.., 1) only guards the empty-graph edge case (ANSI div by
    # zero); on any non-empty graph it is exactly count(*)
    base = nodes.agg(
        F.expr(f"{PR_SCALE} div greatest(count(*), 1)").alias("base")
    )
    # the rank frame carries deg alongside r: contributions derive map-side
    # from the frame itself, and neither the per-iteration deg lookup nor
    # the final re-join against nodes exists (one fewer join per power
    # step — measured ~25% of the wall at sf0.1 pre-r7)
    r = (
        nodes.crossJoin(F.broadcast(base))
        .select("part", "deg", F.col("base").alias("r"))
    )
    # contrib and sums are node-cardinality (the PART dimension, not the
    # fact table) — dim-as-build keeps the cached edge list un-shuffled
    # and leaves ONE shuffle per power step (the map-side partially-
    # aggregated groupBy dst). The hint comes from the part-footer row
    # count (_node_dim_hint): unconditional F.broadcast was an unbounded
    # node-vector broadcast past NODE_DIM_BROADCAST_MAX, and Catalyst
    # can't be left to choose — the checkpointed rank vector has UNKNOWN
    # stats (the LPA/kcore lesson, 880f0df).
    # (measured, r10: adding a per-step localCheckpoint here is a LOSS —
    # min-of-6 10.2s vs 6.8s without it. Unlike LPA/kcore, whose round
    # frames are read twice per round, the rank chain is linear: each
    # subtree is evaluated once, so the 5 eager checkpoint actions buy no
    # reuse and forfeit cross-step exchange pipelining.)
    hint = _node_dim_hint(sf_dir)
    for _ in range(PR_ITERS):
        contrib = r.select(
            F.col("part").alias("src"), F.expr("r div deg").alias("c")
        )
        sums = (
            edges.join(_hinted_node_dim(contrib, hint), "src")
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        r = (
            nodes.crossJoin(F.broadcast(base))
            .join(
                _hinted_node_dim(sums, hint),
                F.col("part") == F.col("dst"),
                "left",
            )
            .select(
                "part",
                "deg",
                (
                    F.expr("(15 * base) div 100")
                    + F.expr("(85 * coalesce(s, 0L)) div 100")
                ).alias("r"),
            )
        )
    ranked = r.select(
        "part",
        "deg",
        F.col("r").alias("rank_micros"),
        (F.col("r").cast("double") / PR_SCALE).alias("rank_frac"),
    )
    return ranked.orderBy(
        F.col("rank_micros").desc(), F.col("part").asc()
    ).limit(PR_TOP_K)


def _pagerank_oracle() -> str:
    # MATERIALIZED throughout (the kcore-oracle lesson): each r{i} is read
    # by r{i+1} and edges/deg/base by every round — inlined, DuckDB
    # re-evaluates the whole chain per reference (fine at sf0.01,
    # 77+ GB of spill at the k=10 fold before it was killed).
    iters = []
    prev = "r0"
    for i in range(1, PR_ITERS + 1):
        iters.append(
            f"""r{i} AS MATERIALIZED (
  SELECT nodes.part,
         (15 * base) // 100
           + (85 * COALESCE(s, 0)) // 100 AS r
  FROM nodes CROSS JOIN base
  LEFT JOIN (
    SELECT dst AS part, CAST(sum({prev}.r // deg.deg) AS BIGINT) AS s
    FROM edges
    JOIN {prev} ON edges.src = {prev}.part
    JOIN deg ON edges.src = deg.src
    GROUP BY 1
  ) sums ON nodes.part = sums.part
)"""
        )
        prev = f"r{i}"
    chain = ",\n".join(iters)
    return f"""
WITH li AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), edges AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey != b.l_partkey
), deg AS MATERIALIZED (
  SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY 1
), nodes AS MATERIALIZED (
  SELECT src AS part, deg FROM deg
), base AS MATERIALIZED (
  SELECT {PR_SCALE} // count(*) AS base FROM nodes
), r0 AS MATERIALIZED (
  SELECT part, base AS r FROM nodes CROSS JOIN base
),
{chain}
SELECT {prev}.part AS part, nodes.deg AS deg,
       {prev}.r AS rank_micros,
       CAST({prev}.r AS DOUBLE) / {PR_SCALE} AS rank_frac
FROM {prev} JOIN nodes USING (part)
ORDER BY rank_micros DESC, part ASC
LIMIT {PR_TOP_K}
"""


def q_analytics_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the part co-purchase graph — the second classic
    distributed-graph shape next to PageRank: global triangle count, wedge
    (open-triple) count, and the global clustering coefficient
    3*triangles/wedges.

    Plan shape: DEGREE-ORDERED orientation (Schank-Wagner) + the
    EDGE-ITERATOR closure: every undirected edge points from its
    lower-(degree, id) endpoint to the higher one, bounding out-degrees
    by O(sqrt(m)); per-node out-lists attach to both endpoints of every
    oriented edge and triangles count as |out(lo) ∩ out(hi)| per edge —
    no wedge table ever materializes (the wedge-join form shuffled ~30M
    candidate pairs at sf0.1 and measured 2x slower). Moving rows are
    edges x two bounded adjacency lists; degrees broadcast (node
    dimension); counts are exact integers with ONE final IEEE division
    for the coefficient."""
    und = _copurchase_edges(spark, sf_dir, directed=False)
    deg = (
        und.select(F.col("u").alias("n"))
        .unionAll(und.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    # orientation: lo -> hi by (degree, id); degrees are the node dimension,
    # broadcast on both attach sites
    attached = (
        und.join(F.broadcast(deg).withColumnsRenamed({"n": "u", "d": "du"}), "u")
        .join(F.broadcast(deg).withColumnsRenamed({"n": "v", "d": "dv"}), "v")
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = attached.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("lo"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("hi"),
    ).persist()
    adj = oriented.groupBy("lo").agg(F.collect_set("hi").alias("outs")).persist()
    # adj is node-cardinality in ROWS but its out-lists total the EDGE
    # count in bytes — never broadcastable at scale. Dim-as-build
    # SHUFFLE_HASH replaces the unhinted SortMergeJoins: both attach
    # joins skip the sort of `oriented` AND of the array-payload dim
    # (per-partition build side = one adj slice, bounded by the
    # O(sqrt(m)) orientation cap times the partition's node share)
    tri = (
        oriented.join(
            adj.withColumnsRenamed({"outs": "out_lo"}).hint("shuffle_hash"),
            "lo",
        )
        .join(
            adj.withColumnsRenamed({"lo": "hi", "outs": "out_hi"}).hint(
                "shuffle_hash"
            ),
            "hi",
        )
        .select(F.size(F.array_intersect("out_lo", "out_hi")).alias("t"))
        .agg(F.sum("t").cast("long").alias("n_triangles"))
    )
    totals = (
        deg.agg(
            F.count("*").alias("n_nodes"),
            F.sum(F.expr("d * (d - 1) div 2")).alias("n_wedges"),
        )
        .crossJoin(F.broadcast(und.agg(F.count("*").alias("n_edges"))))
        .crossJoin(F.broadcast(tri))
    )
    return totals.select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        (
            F.lit(3.0) * F.col("n_triangles").cast("double")
            / F.col("n_wedges").cast("double")
        ).alias("clustering_coefficient"),
    )


# MATERIALIZED: `oriented` is read three times (both wedge legs + the
# closing probe) and `und`/`deg` feed several consumers — inlined, DuckDB
# re-evaluates the basket self-join per reference (the kcore/pagerank
# oracle lesson; explosive at the k=10 fold).
_TRIANGLE_ORACLE = """
WITH li AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), und AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
), deg AS MATERIALIZED (
  SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT u AS n FROM und UNION ALL SELECT v AS n FROM und
  ) GROUP BY 1
), oriented AS MATERIALIZED (
  SELECT CASE WHEN (du, u) < (dv, v) THEN u ELSE v END AS lo,
         CASE WHEN (du, u) < (dv, v) THEN v ELSE u END AS hi,
         CASE WHEN (du, u) < (dv, v) THEN dv ELSE du END AS dhi
  FROM und
  JOIN deg d1 ON und.u = d1.n
  JOIN deg d2 ON und.v = d2.n
  -- positional aliases for readability
  , LATERAL (SELECT d1.d AS du, d2.d AS dv) x
), wedges AS (
  SELECT e1.hi AS b, e2.hi AS c
  FROM oriented e1 JOIN oriented e2 ON e1.lo = e2.lo
  WHERE (e1.dhi, e1.hi) < (e2.dhi, e2.hi)
), tri AS (
  SELECT CAST(count(*) AS BIGINT) AS n_triangles
  FROM wedges w JOIN oriented o ON w.b = o.lo AND w.c = o.hi
), totals AS (
  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges
  FROM deg
), edges AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM und)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
       3.0 * CAST(n_triangles AS DOUBLE) / CAST(n_wedges AS DOUBLE)
         AS clustering_coefficient
FROM totals, edges, tri
"""


def q_analytics_data_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style declarative data-quality audit — the constraint suite a
    production pipeline gates ingestion on (completeness, uniqueness,
    referential integrity, accepted values, ranges), one row per check
    with measured violations. Five checks pass on the fixture; the sixth
    (documents.text minimum length — the Gopher-style admission floor
    stated as a constraint) FAILS on the fixture's short-document tail,
    so both verdict branches are live.

    Scale shape: every check is one scan with a map-side aggregate; the
    referential check is an anti-join against the key dimension (AQE
    broadcasts it while it fits). Checks over the same table could share
    one scan via conditional aggregates — kept separate here so each row
    names its own cost, the way Deequ analyzers do."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    docs = load_table(spark, sf_dir, "documents")

    def report(name: str, df: DataFrame, viol: F.Column) -> DataFrame:
        return df.agg(
            F.lit(name).alias("check"),
            F.count("*").alias("n_rows"),
            F.sum(viol.cast("long")).cast("long").alias("n_violations"),
        )

    not_null = report(
        "not_null(lineitem.l_orderkey)", li, F.col("l_orderkey").isNull()
    )
    unique_ok = orders.agg(
        F.lit("unique(orders.o_orderkey)").alias("check"),
        F.count("*").alias("n_rows"),
        (F.count("*") - F.countDistinct("o_orderkey")).alias("n_violations"),
    )
    ref = orders.join(
        customer.select(F.col("c_custkey").alias("o_custkey")),
        "o_custkey",
        "left_anti",
    ).agg(
        F.lit("ref(orders.o_custkey -> customer)").alias("check"),
        F.lit(None).cast("long").alias("n_rows"),
        F.count("*").cast("long").alias("n_violations"),
    )
    accepted = report(
        "accepted_values(orders.o_orderstatus)",
        orders,
        ~F.col("o_orderstatus").isin("O", "F", "P"),
    )
    in_range = report(
        "range(lineitem.l_quantity in [1,50])",
        li,
        (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50),
    )
    min_len = report(
        "min_length(documents.text >= 100)",
        docs,
        F.length("text") < 100,
    )
    out = (
        not_null.unionByName(unique_ok)
        .unionByName(ref)
        .unionByName(accepted)
        .unionByName(in_range)
        .unionByName(min_len)
    )
    return out.withColumn("passed", F.col("n_violations") == 0)


_DATA_QUALITY_ORACLE = """
SELECT 'not_null(lineitem.l_orderkey)' AS check,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) FILTER (WHERE l_orderkey IS NULL) AS BIGINT)
         AS n_violations
FROM lineitem
UNION ALL
SELECT 'unique(orders.o_orderkey)', CAST(count(*) AS BIGINT),
       CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
FROM orders
UNION ALL
SELECT 'ref(orders.o_custkey -> customer)', NULL,
       CAST(count(*) FILTER (
         WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
       ) AS BIGINT)
FROM orders
UNION ALL
SELECT 'accepted_values(orders.o_orderstatus)', CAST(count(*) AS BIGINT),
       CAST(count(*) FILTER (WHERE o_orderstatus NOT IN ('O','F','P'))
         AS BIGINT)
FROM orders
UNION ALL
SELECT 'range(lineitem.l_quantity in [1,50])', CAST(count(*) AS BIGINT),
       CAST(count(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50)
         AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'min_length(documents.text >= 100)', CAST(count(*) AS BIGINT),
       CAST(count(*) FILTER (WHERE length(text) < 100) AS BIGINT)
FROM documents
"""

_DATA_QUALITY_SELECT = f"""
SELECT t.*, n_violations = 0 AS passed FROM ({_DATA_QUALITY_ORACLE}) t
"""


#: k-core threshold. K=80 keeps the fixture core non-degenerate (both
#: kept and peeled nodes exist at sf>=0.01).
KCORE_K = 80
#: the ORACLE's fixed CTE unroll: measured convergence is <=5 rounds at
#: every tested SF, so 6 = fixpoint plus one proving round (test-asserted
#: on the fixture). Peeling past the fixpoint is idempotent, so the
#: 6-round oracle equals the true k-core wherever the peel converges
#: within 6 rounds; the Spark side below is exact on ANY input.
KCORE_ROUNDS = 6
#: safety bound for the adaptive Spark peel: a k-core peel on a graph
#: with n nodes converges in <= n rounds, but every real co-purchase
#: graph converges in a handful; hitting this bound means something is
#: structurally wrong and the operator raises instead of silently
#: returning a superset of the core (ADVICE r7).
KCORE_MAX_ROUNDS = 64


def q_analytics_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core decomposition of the part co-purchase graph — the density
    filter that completes the graph family (PageRank=centrality,
    components=reachability, triangles=cohesion, k-core=engagement):
    repeatedly peel nodes with degree < K until stable; survivors with
    their within-core degree.

    Plan shape: synchronous peeling rounds (the Pregel/BSP k-core), each
    = two semi-join-shaped equi-joins restricting the cached edge list to
    live endpoints + one map-side degree aggregate; only (node) and
    (node, degree) longs move. The peel runs TO THE FIXPOINT — each
    round's live set is eagerly checkpointed anyway, so its count is a
    free convergence signal (live sets shrink monotonically; an unchanged
    count IS the fixpoint) — and raises past KCORE_MAX_ROUNDS rather than
    ever returning an unconverged superset. The DuckDB oracle unrolls
    KCORE_ROUNDS CTE rounds; running past the fixpoint is idempotent, so
    both sides agree wherever the oracle's unroll covers convergence
    (test-asserted on the fixture with a round to spare)."""
    und = _copurchase_edges(spark, sf_dir, directed=False)
    deg = (
        und.select(F.explode(F.array("u", "v")).alias("n"))
        .groupBy("n")
        .agg(F.count("*").alias("core_degree"))
    )
    # live sets are node-cardinality dims with UNKNOWN post-checkpoint
    # stats; unhinted, Catalyst built the restriction joins on the
    # persisted edge list (see _node_dim_hint) — dim-as-build keeps the
    # edges un-moved every round at any scale
    hint = _node_dim_hint(sf_dir)
    live_n_prev = None
    for _ in range(KCORE_MAX_ROUNDS):
        # each round reads `live` twice (both endpoints) — localCheckpoint
        # cuts the lineage so the peel chain stays linear, not 2^rounds
        # (the connected_components discipline). LAZY (r11): the count()
        # below materializes the checkpoint anyway, so an eager cut paid
        # a duplicate job per round (A/B min-of-4: 6.34s vs 5.90s).
        live = (
            deg.filter(F.col("core_degree") >= KCORE_K)
            .select("n")
            .localCheckpoint(eager=False)
        )
        live_n = live.count()
        if live_n == live_n_prev or live_n == 0:
            # live_r ⊆ live_{r-1} (degrees only fall), so an equal count
            # means an equal SET: deg was computed over exactly this live
            # set and everything in it already clears K — converged.
            break
        live_n_prev = live_n
        e = und.join(
            _hinted_node_dim(live.withColumnRenamed("n", "u"), hint), "u"
        ).join(_hinted_node_dim(live.withColumnRenamed("n", "v"), hint), "v")
        deg = (
            e.select(F.explode(F.array("u", "v")).alias("n"))
            .groupBy("n")
            .agg(F.count("*").alias("core_degree"))
        )
    else:
        raise RuntimeError(
            f"k-core peel did not converge within {KCORE_MAX_ROUNDS} rounds"
        )
    return deg.filter(F.col("core_degree") >= KCORE_K).select(
        F.col("n").alias("part"), "core_degree"
    )


def _kcore_oracle() -> str:
    # MATERIALIZED: every live{r} is read twice (both endpoints) and every
    # deg{r} feeds the next round — inlining would re-evaluate the whole
    # peel chain exponentially (2^rounds), exactly the blowup the Spark
    # side avoids with per-round localCheckpoint.
    ctes = ["""deg0 AS MATERIALIZED (
  SELECT n, CAST(count(*) AS BIGINT) AS core_degree FROM (
    SELECT unnest([u, v]) AS n FROM und
  ) GROUP BY 1
)"""]
    prev = "deg0"
    for r in range(1, KCORE_ROUNDS + 1):
        ctes.append(f"""live{r} AS MATERIALIZED (
  SELECT n FROM {prev} WHERE core_degree >= {KCORE_K}
), deg{r} AS MATERIALIZED (
  SELECT n, CAST(count(*) AS BIGINT) AS core_degree FROM (
    SELECT unnest([u, v]) AS n
    FROM und
    JOIN live{r} lu ON und.u = lu.n
    JOIN live{r} lv ON und.v = lv.n
  ) GROUP BY 1
)""")
        prev = f"deg{r}"
    chain = ",\n".join(ctes)
    return f"""
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), und AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
),
{chain}
SELECT n AS part, core_degree FROM {prev}
WHERE core_degree >= {KCORE_K}
"""


# ---------------------------------------------------------------------------
# degree distribution of the co-purchase graph
# ---------------------------------------------------------------------------

def q_analytics_degree_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Degree distribution of the part co-purchase graph, log2-bucketed —
    the sizing report every OTHER graph operator's partitioning strategy
    depends on: a heavy tail (hub parts) is what makes raw-key edge
    shuffles skew, justifies the triangle census's degree-ordering, and
    decides whether PageRank's contribution join needs salting. Per
    degree bucket [2^(b-1), 2^b): node count, degree-mass (sum of
    degrees = edge endpoints), exact min/max degree, each bucket's share
    of nodes and of mass, and the node CDF.

    Exactness and shape: degrees are one map-side aggregate over the
    shared cached edge list; buckets come from the integer bit-length
    log2 (length(bin(d)) — the sketch_log_histogram discipline, no float
    log); shares are ONE division each against a 1-row totals broadcast;
    the CDF is a cumulative window over the <=64-row bucket dimension
    only (never over nodes). Output cardinality is fixed (<=64 rows) at
    ANY graph size — the defining property of a scale-safe report.
    Reference scope note: no analytics surface in the CDC reference —
    SURVEY.md §7 phase-4/5 graph extension."""
    und = _copurchase_edges(spark, sf_dir, directed=False)
    deg = (
        und.select(F.explode(F.array("u", "v")).alias("n"))
        .groupBy("n")
        .agg(F.count("*").cast("long").alias("d"))
    )
    buckets = (
        deg.withColumn("bucket", F.expr("length(bin(d))").cast("long"))
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.sum("d").cast("long").alias("degree_mass"),
            F.min("d").cast("long").alias("min_degree"),
            F.max("d").cast("long").alias("max_degree"),
        )
    )
    totals = buckets.agg(
        F.sum("n_nodes").cast("long").alias("t_nodes"),
        F.sum("degree_mass").cast("long").alias("t_mass"),
    )
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        buckets.crossJoin(F.broadcast(totals))
        .withColumn("cum_nodes", F.sum("n_nodes").over(w).cast("long"))
        .select(
            "bucket",
            F.expr("CAST(1 AS BIGINT) << CAST(bucket - 1 AS INT)").alias(
                "lo_degree"
            ),
            "n_nodes",
            "degree_mass",
            "min_degree",
            "max_degree",
            (
                F.col("n_nodes").cast("double") / F.col("t_nodes").cast("double")
            ).alias("node_share"),
            (
                F.col("degree_mass").cast("double")
                / F.col("t_mass").cast("double")
            ).alias("mass_share"),
            "cum_nodes",
            (
                F.col("cum_nodes").cast("double") / F.col("t_nodes").cast("double")
            ).alias("node_cdf"),
        )
    )


_DEGREE_DIST_ORACLE = """
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), und AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
), deg AS (
  SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT unnest([u, v]) AS n FROM und
  ) GROUP BY 1
), buckets AS (
  SELECT CAST(length(bin(d)) AS BIGINT) AS bucket,
         CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(sum(d) AS BIGINT) AS degree_mass,
         CAST(min(d) AS BIGINT) AS min_degree,
         CAST(max(d) AS BIGINT) AS max_degree
  FROM deg GROUP BY 1
), t AS (
  SELECT CAST(sum(n_nodes) AS BIGINT) AS t_nodes,
         CAST(sum(degree_mass) AS BIGINT) AS t_mass
  FROM buckets
)
SELECT bucket,
       CAST(1 AS BIGINT) << (bucket - 1) AS lo_degree,
       n_nodes, degree_mass, min_degree, max_degree,
       CAST(n_nodes AS DOUBLE) / CAST(t_nodes AS DOUBLE) AS node_share,
       CAST(degree_mass AS DOUBLE) / CAST(t_mass AS DOUBLE) AS mass_share,
       CAST(sum(n_nodes) OVER (ORDER BY bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_nodes,
       CAST(sum(n_nodes) OVER (ORDER BY bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         / CAST(t_nodes AS DOUBLE) AS node_cdf
FROM buckets CROSS JOIN t
"""


# ---------------------------------------------------------------------------
# degree assortativity (Newman 2002)
# ---------------------------------------------------------------------------

#: |r| below which the graph counts as degree-neutral
ASSORT_NEUTRAL = 0.05


def q_analytics_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity coefficient r (Newman 2002) of the
    co-purchase graph — the one-number answer to "do hubs connect to
    hubs?" that decides which skew mitigations matter: a disassortative
    graph (hubs fan out to leaves, r < 0) concentrates join traffic on
    hub keys and wants salting; an assortative one spreads it. r is the
    Pearson correlation of endpoint degrees over edges, computed from
    FOUR exact BIGINT edge sums (M, sum jk, sum j+k, sum j^2+k^2) via
    the closed form r = (4M S_jk - S_sum^2) / (2M S_sq - S_sum^2); the
    division (and the >2^63-safe cross products) run in double from the
    exact sums — a fixed IEEE sequence identical in both engines, with
    the exact integers emitted alongside for the audit trail.

    Shape: one equi-join of the cached edge list against the degree
    dimension per endpoint (broadcast while it fits, AQE otherwise),
    then ONE scalar map-side aggregate. Output is one row at any size.
    Reference scope note: no analytics surface in the CDC reference —
    SURVEY.md §7 phase-4/5 graph extension."""
    und = _copurchase_edges(spark, sf_dir, directed=False)
    deg = (
        und.select(F.explode(F.array("u", "v")).alias("n"))
        .groupBy("n")
        .agg(F.count("*").cast("long").alias("d"))
    )
    e = und.join(
        deg.select(F.col("n").alias("u"), F.col("d").alias("du")), "u"
    ).join(deg.select(F.col("n").alias("v"), F.col("d").alias("dv")), "v")
    agg = e.agg(
        F.count("*").cast("long").alias("m_edges"),
        F.sum(F.col("du") * F.col("dv")).cast("long").alias("s_jk"),
        F.sum(F.col("du") + F.col("dv")).cast("long").alias("s_sum"),
        F.sum(F.col("du") * F.col("du") + F.col("dv") * F.col("dv"))
        .cast("long")
        .alias("s_sq"),
    )
    m = F.col("m_edges").cast("double")
    sjk = F.col("s_jk").cast("double")
    ssum = F.col("s_sum").cast("double")
    ssq = F.col("s_sq").cast("double")
    # a degree-regular graph zeroes the denominator: r is then NULL and
    # the band neutral, which is what the DuckDB oracle's division gives
    r = F.try_divide(
        F.lit(4.0) * m * sjk - ssum * ssum, F.lit(2.0) * m * ssq - ssum * ssum
    )
    return agg.select(
        "m_edges",
        "s_jk",
        "s_sum",
        "s_sq",
        r.alias("assortativity"),
        F.when(r > ASSORT_NEUTRAL, "assortative")
        .when(r < -ASSORT_NEUTRAL, "disassortative")
        .otherwise("neutral")
        .alias("band"),
    )


_ASSORTATIVITY_ORACLE = f"""
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), und AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
), deg AS MATERIALIZED (
  SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT unnest([u, v]) AS n FROM und
  ) GROUP BY 1
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS m_edges,
         CAST(sum(a.d * b.d) AS BIGINT) AS s_jk,
         CAST(sum(a.d + b.d) AS BIGINT) AS s_sum,
         CAST(sum(a.d * a.d + b.d * b.d) AS BIGINT) AS s_sq
  FROM und JOIN deg a ON und.u = a.n JOIN deg b ON und.v = b.n
)
SELECT m_edges, s_jk, s_sum, s_sq,
       (4.0 * CAST(m_edges AS DOUBLE) * CAST(s_jk AS DOUBLE)
          - CAST(s_sum AS DOUBLE) * CAST(s_sum AS DOUBLE))
       / (2.0 * CAST(m_edges AS DOUBLE) * CAST(s_sq AS DOUBLE)
          - CAST(s_sum AS DOUBLE) * CAST(s_sum AS DOUBLE))
         AS assortativity,
       CASE WHEN (4.0 * CAST(m_edges AS DOUBLE) * CAST(s_jk AS DOUBLE)
                    - CAST(s_sum AS DOUBLE) * CAST(s_sum AS DOUBLE))
                 / (2.0 * CAST(m_edges AS DOUBLE) * CAST(s_sq AS DOUBLE)
                    - CAST(s_sum AS DOUBLE) * CAST(s_sum AS DOUBLE))
                 > {ASSORT_NEUTRAL} THEN 'assortative'
            WHEN (4.0 * CAST(m_edges AS DOUBLE) * CAST(s_jk AS DOUBLE)
                    - CAST(s_sum AS DOUBLE) * CAST(s_sum AS DOUBLE))
                 / (2.0 * CAST(m_edges AS DOUBLE) * CAST(s_sq AS DOUBLE)
                    - CAST(s_sum AS DOUBLE) * CAST(s_sum AS DOUBLE))
                 < -{ASSORT_NEUTRAL} THEN 'disassortative'
            ELSE 'neutral' END AS band
FROM agg
"""


# ---------------------------------------------------------------------------
# label-propagation communities (synchronous, fixed rounds)
# ---------------------------------------------------------------------------

#: Synchronous LPA rounds. The output is DEFINED as the label state after
#: exactly this many rounds (synchronous LPA has no guaranteed fixpoint —
#: bipartite-ish regions can oscillate — so a fixed unroll, not a
#: convergence loop, is the honest deterministic spec; the self-vote damps
#: but does not eliminate oscillation). The DuckDB oracle unrolls the same
#: rounds, so both engines replay the identical trajectory.
LPA_ROUNDS = 4


def q_analytics_community_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the part co-purchase graph via synchronous
    label propagation (Raghavan et al. 2007): every node starts as its
    own label; each round it adopts the most frequent label among its
    neighbors plus itself (ties -> smallest label, the deterministic
    min-label discipline of ``connected_components``); after
    ``LPA_ROUNDS`` rounds the surviving labels are the communities —
    the assortment signal (substitute/complement part clusters)
    PageRank's global centrality cannot give.

    Plan shape: per round, ONE equi-join propagates labels across the
    cached directed edge list and ONE (node, label) hash-aggregate +
    ONE (node) argmax aggregate elect the new label — only long triples
    move; per-round ``localCheckpoint`` keeps lineage linear (the k-core
    discipline, analytics.py:3081). The argmax is max(struct(cnt,
    -label)) — a map-side-combinable aggregate, no window over nodes.
    Community rollup at the end is one more map-side aggregate.
    Reference scope note: no analytics surface in the CDC reference —
    SURVEY.md §7 phase-4/5 graph extension."""
    # the PERSISTED directed frame (both orientations) — shared with
    # PageRank, so in a bench session the edge build is already warm and
    # each LPA round scans cache instead of re-deriving the union
    edges = _copurchase_edges(spark, sf_dir, directed=True).select(
        "src", "dst"
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    # the label vector is the node-cardinality DIM of every round join, but
    # localCheckpoint leaves its stats unknown — unhinted, Catalyst built
    # the round join on the persisted EDGE list (2.4M rows collected and
    # re-broadcast per round at sf0.1; a per-round edge SHUFFLE at cluster
    # scale). Explicit dim-as-build keeps edges in place at any scale.
    hint = _node_dim_hint(sf_dir)
    for _ in range(LPA_ROUNDS):
        # read twice per round (messages + self-vote): cut lineage first.
        # LAZY checkpoint (r11): both reads happen inside the round's one
        # aggregation job, so materializing there instead of in a separate
        # eager job saves a full job per round — same data, same cut.
        labels = labels.localCheckpoint(eager=False)
        msgs = edges.join(
            _hinted_node_dim(labels.withColumnRenamed("node", "src"), hint),
            "src",
        ).select(F.col("dst").alias("node"), "label")
        votes = msgs.union(labels.select("node", "label"))
        # ONE exchange per round (r11): hash-partitioning the vote stream
        # by node satisfies the clustered distribution of BOTH downstream
        # aggregates (count by (node, label), then the per-node argmax), so
        # the planner inserts no further exchange — 2 exchanges + 2 stage
        # barriers per round become 1. Trade-off stated: the single
        # exchange carries the raw (node, label) votes (two longs/row)
        # without the counts partial aggregation, which only reduces
        # volume once labels converge; measured fused-vs-plain at sf0.1
        # (alternating in-session reps) 7.63s vs 8.79s with identical
        # assignments.
        votes = votes.repartition("node")
        counts = votes.groupBy("node", "label").agg(
            F.count("*").cast("long").alias("cnt")
        )
        sel = counts.groupBy("node").agg(
            F.max(
                F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))
            ).alias("m")
        )
        labels = sel.select(
            "node", (-F.col("m.neg")).cast("long").alias("label")
        )
    sizes = labels.groupBy("label").agg(
        F.count("*").cast("long").alias("n_members")
    )
    # per-node assignments ARE the result (the full trajectory endpoint —
    # a far stronger cross-engine check than the handful of surviving
    # community rows on a dense graph); sizes ride along via one
    # small-key equi-join (label-cardinality ≤ node dim -> same hint)
    return labels.join(_hinted_node_dim(sizes, hint), "label").select(
        F.col("node").cast("long").alias("part"),
        F.col("label").cast("long").alias("community"),
        "n_members",
    )


def _lpa_oracle() -> str:
    # MATERIALIZED: every l{r} is read twice (messages + self-vote) and
    # feeds the next round — inlining would replay the whole propagation
    # chain exponentially (the k-core/PageRank oracle lesson).
    ctes = [
        """l0 AS MATERIALIZED (
  SELECT DISTINCT n AS node, n AS label FROM (
    SELECT unnest([u, v]) AS n FROM und
  )
)"""
    ]
    prev = "l0"
    for r in range(1, LPA_ROUNDS + 1):
        ctes.append(f"""v{r} AS MATERIALIZED (
  SELECT node, label, CAST(count(*) AS BIGINT) AS cnt FROM (
    SELECT e.dst AS node, l.label FROM edges e JOIN {prev} l ON e.src = l.node
    UNION ALL
    SELECT node, label FROM {prev}
  ) GROUP BY 1, 2
), l{r} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node
                              ORDER BY cnt DESC, label ASC) AS rn
    FROM v{r}
  ) WHERE rn = 1
)""")
        prev = f"l{r}"
    chain = ",\n".join(ctes)
    return f"""
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), und AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
), edges AS MATERIALIZED (
  SELECT u AS src, v AS dst FROM und
  UNION ALL
  SELECT v AS src, u AS dst FROM und
),
{chain}
SELECT CAST(node AS BIGINT) AS part, CAST(label AS BIGINT) AS community,
       CAST(count(*) OVER (PARTITION BY label) AS BIGINT) AS n_members
FROM {prev}
"""


_LPA_ORACLE = _lpa_oracle()


# ---------------------------------------------------------------------------
# join-key skew diagnostics — the report that justifies salting decisions
# ---------------------------------------------------------------------------

#: a key column is flagged as a skew-join candidate when its hottest key
#: holds more than this many x its fair share of rows (AQE's skewed-
#: partition factor is 5x the median; share_x_keys is the key-level analog)
SKEW_FACTOR = 5.0


def q_analytics_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-distribution skew profile for the join keys every big shuffle
    in this engine hashes on: rows, distinct keys, hottest-key frequency
    and share, Herfindahl concentration, and the effective key count
    n_rows^2 / sum(freq^2) (the inverse-HHI 'how many keys does the
    shuffle REALLY spread over'). share_x_keys = max_share * n_keys is
    the hot key's multiple of its fair share — the number to compare
    against AQE's skew factor when deciding between AQE skew-split and
    explicit salting (``skew.py``).

    Scale shape: one hash-aggregate per key column (map-side partials),
    then a second aggregate over the freq dimension — freq tables never
    leave the executors, and the report is one row per audited column.
    All concentration math is exact-integer sums with one final IEEE
    division (sum(freq^2) fits BIGINT while n_rows < 3e9)."""
    audited = [
        ("orders", "o_custkey"),
        ("lineitem", "l_partkey"),
        ("lineitem", "l_suppkey"),
        ("events", "user_id"),
    ]
    outs = []
    for table, col in audited:
        freq = (
            load_table(spark, sf_dir, table)
            .groupBy(F.col(col).cast("long").alias("k"))
            .agg(F.count("*").alias("cnt"))
        )
        outs.append(
            freq.agg(
                F.sum("cnt").alias("n_rows"),
                F.count("*").alias("n_keys"),
                F.max("cnt").alias("max_freq"),
                F.sum(F.col("cnt") * F.col("cnt")).alias("sum_sq"),
            ).select(F.lit(f"{table}.{col}").alias("entity"), "*")
        )
    report = outs[0]
    for o in outs[1:]:
        report = report.unionByName(o)
    return report.select(
        "entity",
        "n_rows",
        "n_keys",
        "max_freq",
        (
            F.col("max_freq").cast("double") / F.col("n_rows").cast("double")
        ).alias("max_share"),
        (
            F.col("sum_sq").cast("double")
            / (F.col("n_rows") * F.col("n_rows")).cast("double")
        ).alias("hhi"),
        (
            (F.col("n_rows") * F.col("n_rows")).cast("double")
            / F.col("sum_sq").cast("double")
        ).alias("effective_keys"),
        (
            F.col("max_freq").cast("double")
            * F.col("n_keys").cast("double")
            / F.col("n_rows").cast("double")
        ).alias("share_x_keys"),
        (
            F.col("max_freq").cast("double") * F.col("n_keys").cast("double")
            > F.lit(SKEW_FACTOR) * F.col("n_rows").cast("double")
        ).alias("skew_join_candidate"),
    )


_SKEW_PROFILE_ORACLE = f"""
WITH freqs AS (
  SELECT 'orders.o_custkey' AS entity, CAST(o_custkey AS BIGINT) AS k,
         count(*) AS cnt FROM orders GROUP BY 2
  UNION ALL
  SELECT 'lineitem.l_partkey', CAST(l_partkey AS BIGINT), count(*)
  FROM lineitem GROUP BY 2
  UNION ALL
  SELECT 'lineitem.l_suppkey', CAST(l_suppkey AS BIGINT), count(*)
  FROM lineitem GROUP BY 2
  UNION ALL
  SELECT 'events.user_id', CAST(user_id AS BIGINT), count(*)
  FROM events GROUP BY 2
), agg AS (
  SELECT entity,
         CAST(sum(cnt) AS BIGINT) AS n_rows,
         CAST(count(*) AS BIGINT) AS n_keys,
         CAST(max(cnt) AS BIGINT) AS max_freq,
         CAST(sum(cnt * cnt) AS BIGINT) AS sum_sq
  FROM freqs GROUP BY 1
)
SELECT entity, n_rows, n_keys, max_freq,
       CAST(max_freq AS DOUBLE) / CAST(n_rows AS DOUBLE) AS max_share,
       CAST(sum_sq AS DOUBLE) / CAST(n_rows * n_rows AS DOUBLE) AS hhi,
       CAST(n_rows * n_rows AS DOUBLE) / CAST(sum_sq AS DOUBLE)
         AS effective_keys,
       CAST(max_freq AS DOUBLE) * CAST(n_keys AS DOUBLE)
         / CAST(n_rows AS DOUBLE) AS share_x_keys,
       CAST(max_freq AS DOUBLE) * CAST(n_keys AS DOUBLE)
         > {SKEW_FACTOR} * CAST(n_rows AS DOUBLE) AS skew_join_candidate
FROM agg
"""


# ---------------------------------------------------------------------------
# CBO column statistics (the ANALYZE TABLE ... COMPUTE STATISTICS surface)
# ---------------------------------------------------------------------------

#: lineitem columns with their numeric-ness — ONE shared list drives both
#: engines so the stats tables cannot drift
_COLUMN_STATS_COLS: tuple[tuple[str, bool], ...] = (
    ("l_orderkey", True),
    ("l_partkey", True),
    ("l_suppkey", True),
    ("l_linenumber", True),
    ("l_quantity", True),
    ("l_extendedprice", True),
    ("l_discount", True),
    ("l_tax", True),
    ("l_returnflag", False),
    ("l_linestatus", False),
)


def q_analytics_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column table statistics over lineitem — row count, null count,
    exact NDV, and numeric min/max — the ANALYZE TABLE … COMPUTE
    STATISTICS FOR COLUMNS output a cost-based optimizer feeds on (and
    the first report a data platform publishes about a new table). One
    row per column; ``analytics_skew_profile`` is the frequency-shape
    companion.

    Scale shape: one scalar aggregate per column, each column-pruned to
    exactly that column's pages — the union totals ONE full-table scan
    worth of bytes regardless of column count, and every aggregate
    (count / null-sum / exact NDV / min / max) partial-combines
    map-side. Output rows = column count."""
    li = load_table(spark, sf_dir, "lineitem")
    legs = []
    for col, is_num in _COLUMN_STATS_COLS:
        agg = li.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col(col).isNull().cast("long")).alias("n_nulls"),
            F.countDistinct(col).alias("n_distinct"),
            F.min(col).alias("mn"),
            F.max(col).alias("mx"),
        )
        legs.append(
            agg.select(
                F.lit(col).alias("column_name"),
                "n_rows",
                "n_nulls",
                "n_distinct",
                (
                    F.col("mn").cast("double")
                    if is_num
                    else F.lit(None).cast("double")
                ).alias("min_num"),
                (
                    F.col("mx").cast("double")
                    if is_num
                    else F.lit(None).cast("double")
                ).alias("max_num"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


def _column_stats_oracle() -> str:
    legs = []
    for col, is_num in _COLUMN_STATS_COLS:
        mn = f"CAST(min({col}) AS DOUBLE)" if is_num else "CAST(NULL AS DOUBLE)"
        mx = f"CAST(max({col}) AS DOUBLE)" if is_num else "CAST(NULL AS DOUBLE)"
        legs.append(f"""
SELECT '{col}' AS column_name,
  count(*) AS n_rows,
  CAST(sum(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
  count(DISTINCT {col}) AS n_distinct,
  {mn} AS min_num,
  {mx} AS max_num
FROM lineitem""")
    return "\nUNION ALL\n".join(legs)


SPECS = [
    QuerySpec(
        "analytics_column_stats",
        q_analytics_column_stats,
        _column_stats_oracle(),
    ),
    QuerySpec(
        "analytics_market_basket",
        q_analytics_market_basket,
        _MARKET_BASKET_ORACLE,
    ),
    QuerySpec(
        "analytics_copurchase_pagerank",
        q_analytics_copurchase_pagerank,
        _pagerank_oracle(),
    ),
    QuerySpec(
        "analytics_skew_profile", q_analytics_skew_profile, _SKEW_PROFILE_ORACLE
    ),
    QuerySpec("analytics_pricing_summary", q_analytics_pricing_summary, _PRICING_ORACLE),
    QuerySpec(
        "analytics_window_funnel", q_analytics_window_funnel, _WINDOW_FUNNEL_ORACLE
    ),
    QuerySpec(
        "analytics_event_transitions",
        q_analytics_event_transitions,
        _EVENT_TRANSITIONS_ORACLE,
    ),
    QuerySpec(
        "analytics_rolling_revenue",
        q_analytics_rolling_revenue,
        _ROLLING_REVENUE_ORACLE,
    ),
    QuerySpec("analytics_yoy_growth", q_analytics_yoy_growth, _YOY_ORACLE),
    QuerySpec(
        "analytics_repeat_purchase",
        q_analytics_repeat_purchase,
        _REPEAT_PURCHASE_ORACLE,
    ),
    QuerySpec(
        "analytics_retention_cohorts",
        q_analytics_retention_cohorts,
        _RETENTION_COHORTS_ORACLE,
    ),
    QuerySpec(
        "analytics_conversion_funnel", q_analytics_conversion_funnel, _FUNNEL_ORACLE
    ),
    QuerySpec(
        "analytics_best_supplier_per_part",
        q_analytics_best_supplier_per_part,
        _BEST_SUPPLIER_ORACLE,
    ),
    QuerySpec(
        "analytics_event_type_pivot", q_analytics_event_type_pivot, _PIVOT_ORACLE
    ),
    QuerySpec(
        "analytics_hourly_anomaly", q_analytics_hourly_anomaly, _ANOMALY_ORACLE
    ),
    QuerySpec(
        "analytics_partition_plan", q_analytics_partition_plan, _PARTITION_PLAN_ORACLE
    ),
    QuerySpec("analytics_zorder_layout", q_analytics_zorder_layout, _ZORDER_ORACLE),
    QuerySpec(
        "analytics_file_skipping", q_analytics_file_skipping, _FILE_SKIPPING_ORACLE
    ),
    QuerySpec(
        "analytics_layout_compare",
        q_analytics_layout_compare,
        _layout_compare_oracle(),
    ),
    QuerySpec(
        "analytics_purchase_intervals",
        q_analytics_purchase_intervals,
        _PURCHASE_INTERVALS_ORACLE,
    ),
    QuerySpec(
        "analytics_returned_revenue_customers",
        q_analytics_returned_revenue_customers,
        _Q10_ORACLE,
    ),
    QuerySpec(
        "analytics_nation_market_share",
        q_analytics_nation_market_share,
        _Q8_ORACLE,
    ),
    QuerySpec(
        "analytics_balance_quartiles", q_analytics_balance_quartiles, _QUARTILES_ORACLE
    ),
    QuerySpec(
        "analytics_revenue_by_nation", q_analytics_revenue_by_nation, _REVENUE_ORACLE
    ),
    QuerySpec("analytics_top_customers", q_analytics_top_customers, _TOP_CUSTOMERS_ORACLE),
    QuerySpec("analytics_events_hourly", q_analytics_events_hourly, _EVENTS_HOURLY_ORACLE),
    QuerySpec("analytics_sessions", q_analytics_sessions, _SESSIONS_ORACLE),
    QuerySpec(
        "analytics_session_window", q_analytics_session_window, _SESSION_WINDOW_ORACLE
    ),
    QuerySpec(
        "analytics_parts_never_ordered",
        q_analytics_parts_never_ordered,
        _PARTS_ANTI_ORACLE,
    ),
    QuerySpec("analytics_rollup", q_analytics_rollup, _ROLLUP_ORACLE),
    QuerySpec(
        "analytics_grouping_sets", q_analytics_grouping_sets, _GROUPING_SETS_ORACLE
    ),
    QuerySpec("analytics_pandas_udaf", q_analytics_pandas_udaf, _PANDAS_UDAF_ORACLE),
    QuerySpec(
        "analytics_customer_ranks", q_analytics_customer_ranks, _CUSTOMER_RANKS_ORACLE
    ),
    QuerySpec("analytics_user_retention", q_analytics_user_retention, _RETENTION_ORACLE),
    QuerySpec("analytics_cube", q_analytics_cube, _CUBE_ORACLE),
    QuerySpec("analytics_events_sliding", q_analytics_events_sliding, _SLIDING_ORACLE),
    QuerySpec(
        "analytics_value_percentiles",
        q_analytics_value_percentiles,
        _PERCENTILES_ORACLE,
    ),
    QuerySpec(
        "analytics_asof_attribution", q_analytics_asof_attribution, _ASOF_ORACLE
    ),
    QuerySpec(
        "analytics_error_burst_join", q_analytics_error_burst_join, _RANGE_JOIN_ORACLE
    ),
    QuerySpec(
        "analytics_shipping_priority", q_analytics_shipping_priority, _Q3_ORACLE
    ),
    QuerySpec(
        "analytics_small_qty_revenue", q_analytics_small_qty_revenue, _Q17_ORACLE
    ),
    QuerySpec(
        "analytics_hierarchical_rollup",
        q_analytics_hierarchical_rollup,
        _HIER_ROLLUP_ORACLE,
    ),
    QuerySpec(
        "analytics_user_purchase_ids",
        q_analytics_user_purchase_ids,
        _SALTED_COLLECT_ORACLE,
    ),
    QuerySpec("analytics_props_json", q_analytics_props_json, _PROPS_JSON_ORACLE),
    QuerySpec(
        "analytics_top_suppliers_per_nation",
        q_analytics_top_suppliers_per_nation,
        _TOP_SUPPLIERS_ORACLE,
    ),
    QuerySpec(
        "analytics_priority_returns", q_analytics_priority_returns, _Q4_ORACLE
    ),
    QuerySpec(
        "analytics_customer_order_distribution",
        q_analytics_customer_order_distribution,
        _Q13_ORACLE,
    ),
    QuerySpec("analytics_promo_revenue", q_analytics_promo_revenue, _Q14_ORACLE),
    QuerySpec(
        "analytics_brand_disjunction", q_analytics_brand_disjunction, _Q19_ORACLE
    ),
    QuerySpec(
        "analytics_sole_return_supplier",
        q_analytics_sole_return_supplier,
        _Q21_ORACLE,
    ),
    QuerySpec(
        "analytics_triangle_count", q_analytics_triangle_count, _TRIANGLE_ORACLE
    ),
    QuerySpec("analytics_unpivot", q_analytics_unpivot, _UNPIVOT_ORACLE),
    QuerySpec(
        "analytics_variant_props",
        q_analytics_variant_props,
        _VARIANT_PROPS_ORACLE,
    ),
    QuerySpec("analytics_kcore", q_analytics_kcore, _kcore_oracle()),
    QuerySpec(
        "analytics_community_lpa", q_analytics_community_lpa, _LPA_ORACLE
    ),
    QuerySpec(
        "analytics_degree_distribution",
        q_analytics_degree_distribution,
        _DEGREE_DIST_ORACLE,
    ),
    QuerySpec(
        "analytics_assortativity",
        q_analytics_assortativity,
        _ASSORTATIVITY_ORACLE,
    ),
    # shares the declarative as-of's oracle: the Arrow cogroup kernel and
    # the union+running-last plan must agree bit-for-bit
    QuerySpec("analytics_cogroup_asof", q_analytics_cogroup_asof, _ASOF_ORACLE),
    QuerySpec(
        "analytics_data_quality", q_analytics_data_quality, _DATA_QUALITY_SELECT
    ),
]
