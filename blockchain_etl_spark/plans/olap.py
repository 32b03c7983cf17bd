"""OLAP-surface plans: hierarchy rollups (GROUPING SETS), pivot, exact
percentiles, and date-spine gap-fill with last-observation-carried-forward.

The reference's query surface never needed these (Postgres served them to
the API tier ad hoc), but an analytics engine replacing it must have them;
each is expressed as the Spark-native operator with a DuckDB oracle.

Determinism: money sums ride DECIMAL accumulators; percentiles are
*discrete* (actual row values, no interpolation ambiguity); LOCF ties break
on event_id.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast, col

from ..functions.localframe import local_df
from ..functions.numeric import DEC, dsum, dsum_expr
from ..sources.testdata import load_table
from .registry import register

# portable-HLL spec constants + expressions (functions/hll.py) — ONE
# implementation shared by the batch queries here and the incremental
# operators/hll_state.py, so stream ≡ batch can be asserted bit-for-bit
from ..functions.hll import A_E3 as _HLL_A_E3
from ..functions.hll import LC_TABLE as _HLL_LC
from ..functions.hll import M as _HLL_M
from ..functions.hll import SUM_PRESENT_SQL as _HLL_SUM_PRESENT
from ..functions.hll import estimate_expr as _hll_estimate_expr
from ..functions.hll import partial as _hll_partial

_HLL_LC_LIST = ", ".join(str(x) for x in _HLL_LC)

_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


# --------------------------------------------------------------------------
# ROLLUP hierarchy aggregation: region → nation → (all). Spark's rollup()
# emits the same grouping sets as SQL GROUP BY ROLLUP.
# --------------------------------------------------------------------------
@register(
    "region_customer_rollup",
    sql="""
    SELECT r_name, n_name,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(25,6))) AS DOUBLE) AS total_balance
    FROM customer
    JOIN nation ON n_nationkey = c_nationkey
    JOIN region ON r_regionkey = n_regionkey
    GROUP BY ROLLUP(r_name, n_name)
    """,
    survey_ops=("A2",),
    doc="Hierarchy rollup region → nation → grand total in ONE aggregate "
    "(GROUP BY ROLLUP): Spark expands the grouping sets inside a single "
    "hash aggregate — one shuffle, not three queries. Dimension joins are "
    "broadcast.",
)
def region_customer_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_nationkey", "c_acctbal")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    region = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    joined = cust.join(broadcast(nation), col("n_nationkey") == col("c_nationkey")).join(
        broadcast(region), col("r_regionkey") == col("n_regionkey")
    )
    return joined.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(col("c_acctbal").cast("decimal(25,6)")).cast("double").alias("total_balance"),
    )


# --------------------------------------------------------------------------
# Pivot: event types to columns. Spark pivot() with an explicit value list
# (never inferred — inference costs an extra distinct scan and makes the
# output schema data-dependent).
# --------------------------------------------------------------------------
@register(
    "user_event_type_pivot",
    sql=f"""
    SELECT user_id,
           {', '.join(f"COUNT(CASE WHEN event_type = '{t}' THEN 1 END) AS n_{t}"
                      for t in _EVENT_TYPES)},
           COUNT(*) AS n_total
    FROM events
    GROUP BY user_id
    """,
    survey_ops=("A2",),
    doc="Pivot event_type into per-user count columns with an EXPLICIT "
    "pivot value list — schema is static, the plan is one hash aggregate "
    "with conditional counts (exactly what pivot() compiles to, minus the "
    "distinct-value inference scan, which at 100 TB is a full pass before "
    "the real query even starts). n_total is a true COUNT(*) computed in "
    "the SAME aggregate — same shuffle — so rows whose event_type falls "
    "outside the pivot list still count toward the total instead of "
    "silently diverging from the oracle.",
)
def user_event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return pivot_event_counts(events)


def pivot_event_counts(events: DataFrame) -> DataFrame:
    """One hash aggregate: per-type conditional counts + an unconditional
    COUNT(*). Types outside ``_EVENT_TYPES`` contribute to n_total only
    (matching the oracle's COUNT(*)) — they never vanish."""
    return events.groupBy("user_id").agg(
        *[
            F.count(F.when(col("event_type") == t, F.lit(1))).alias(f"n_{t}")
            for t in _EVENT_TYPES
        ],
        F.count(F.lit(1)).alias("n_total"),
    )


# --------------------------------------------------------------------------
# Exact discrete percentiles per group (order-statistic, no interpolation).
# --------------------------------------------------------------------------
@register(
    "order_price_percentiles",
    sql="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           quantile_disc(CAST(ROUND(o_totalprice * 100) AS BIGINT), 0.5) AS p50_cents,
           quantile_disc(CAST(ROUND(o_totalprice * 100) AS BIGINT), 0.9) AS p90_cents,
           quantile_disc(CAST(ROUND(o_totalprice * 100) AS BIGINT), 0.99) AS p99_cents
    FROM orders
    GROUP BY o_orderpriority
    """,
    survey_ops=(),
    doc="Exact discrete percentiles (p50/p90/p99) of order value per "
    "priority class: percentile_disc picks actual row values — "
    "cross-engine-exact on fixed-point cents, no interpolation. At larger "
    "group cardinalities swap in approx_percentile (t-digest sketch, "
    "map-side combinable) — the exact form is for the oracle contract.",
)
def order_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.round(col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    orders.createOrReplaceTempView("_opp_orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               percentile_disc(0.5) WITHIN GROUP (ORDER BY cents) AS p50_cents,
               percentile_disc(0.9) WITHIN GROUP (ORDER BY cents) AS p90_cents,
               percentile_disc(0.99) WITHIN GROUP (ORDER BY cents) AS p99_cents
        FROM _opp_orders
        GROUP BY o_orderpriority
        """
    ).select(
        "o_orderpriority",
        "n_orders",
        col("p50_cents").cast("long").alias("p50_cents"),
        col("p90_cents").cast("long").alias("p90_cents"),
        col("p99_cents").cast("long").alias("p99_cents"),
    )


# --------------------------------------------------------------------------
# Date-spine gap-fill + LOCF: every (user, day) in the observed range gets
# the most recent daily-close value at or before that day. The batch form
# of a time-series "fill forward" — and a second expression of the as-of
# join (J7): the oracle literally uses DuckDB's native ASOF JOIN.
# --------------------------------------------------------------------------
@register(
    "events_daily_locf",
    sql="""
    WITH daily AS (
      SELECT user_id, day, close_fp FROM (
        SELECT user_id, CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
               CAST(ROUND(value * 10000) AS BIGINT) AS close_fp,
               ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                  ORDER BY CAST(ts AS TIMESTAMP) DESC,
                                           event_id DESC) AS rn
        FROM events) t WHERE rn = 1),
    bounds AS (SELECT MIN(CAST(ts AS DATE)) AS lo, MAX(CAST(ts AS DATE)) AS hi FROM events),
    spine AS (
      SELECT u.user_id, d.day
      FROM (SELECT DISTINCT user_id FROM events) u
      CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
                  FROM bounds) d)
    SELECT s.user_id, s.day, daily.close_fp AS value_fp,
           (daily.day = s.day) AS observed
    FROM spine s
    ASOF LEFT JOIN daily ON s.user_id = daily.user_id AND s.day >= daily.day
    """,
    survey_ops=("J7",),
    doc="Date-spine gap-fill with last-observation-carried-forward: daily "
    "close per user (arg_max by (ts, id)), complete user×day spine via "
    "sequence(), then LOCF as last(value, ignoreNulls) over the per-user "
    "day order — one window pass, equivalent to a per-row as-of join "
    "(DuckDB's native ASOF JOIN is the oracle). Spine generation is "
    "compute-only (no scan); the window shuffles once on user_id.",
)
def events_daily_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.groupBy("user_id", col("ts").cast("date").alias("day"))
        .agg(F.max(F.struct("ts", "event_id", "value")).alias("l"))
        .select(
            "user_id",
            "day",
            F.round(col("l.value") * 10000).cast("long").alias("close_fp"),
        )
    )
    bounds = events.agg(
        F.min(col("ts").cast("date")).alias("lo"), F.max(col("ts").cast("date")).alias("hi")
    )
    days = bounds.select(F.explode(F.sequence("lo", "hi")).alias("day"))
    users = events.select("user_id").distinct()
    spine = users.crossJoin(broadcast(days))
    joined = spine.join(daily, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "user_id",
        col("day").cast("timestamp").alias("day"),
        F.last("close_fp", ignorenulls=True).over(w).alias("value_fp"),
        col("close_fp").isNotNull().alias("observed"),
    ).withColumn("observed", F.when(col("value_fp").isNull(), F.lit(None).cast("boolean")).otherwise(col("observed")))


# --------------------------------------------------------------------------
# lead/lag inter-arrival analysis: days between consecutive orders per
# customer. The remaining window-function shape (offset functions) not
# exercised elsewhere.
# --------------------------------------------------------------------------
@register(
    "customer_order_gaps",
    sql="""
    SELECT o_custkey, o_orderkey,
           datediff('day', prev_date, o_orderdate) AS days_since_prev,
           datediff('day', o_orderdate, next_date) AS days_until_next
    FROM (
      SELECT o_custkey, o_orderkey, o_orderdate,
             LAG(o_orderdate) OVER w AS prev_date,
             LEAD(o_orderdate) OVER w AS next_date
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)) t
    """,
    survey_ops=(),
    doc="Offset window functions: lag/lead over the per-customer order "
    "timeline → inter-arrival gaps in days. One shuffle on o_custkey, one "
    "per-partition sort serving both offsets; no global ordering anywhere.",
)
def customer_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.datediff("o_orderdate", F.lag("o_orderdate").over(w)).cast("long").alias("days_since_prev"),
        F.datediff(F.lead("o_orderdate").over(w), "o_orderdate").cast("long").alias("days_until_next"),
    )


# --------------------------------------------------------------------------
# Funnel analysis: ordered signup → click → purchase conversion per user.
# The sequence constraint ("click after signup, purchase after that
# click") is what separates this from a plain pivot of firsts.
# --------------------------------------------------------------------------
@register(
    "events_funnel",
    sql="""
    WITH w AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
             MIN(CASE WHEN event_type = 'signup' THEN CAST(ts AS TIMESTAMP) END)
               OVER (PARTITION BY user_id) AS signup_ts
      FROM events),
    w2 AS (
      SELECT *, MIN(CASE WHEN event_type = 'click' AND ts >= signup_ts THEN ts END)
               OVER (PARTITION BY user_id) AS click_ts
      FROM w),
    w3 AS (
      SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts >= click_ts THEN ts END)
               OVER (PARTITION BY user_id) AS purchase_ts
      FROM w2)
    SELECT user_id, signup_ts, click_ts, purchase_ts,
           (CASE WHEN signup_ts IS NOT NULL THEN 1 ELSE 0 END
            + CASE WHEN click_ts IS NOT NULL THEN 1 ELSE 0 END
            + CASE WHEN purchase_ts IS NOT NULL THEN 1 ELSE 0 END) AS funnel_depth
    FROM w3
    GROUP BY user_id, signup_ts, click_ts, purchase_ts
    """,
    survey_ops=(),
    doc="Ordered conversion funnel per user: first signup, first click at "
    "or after it, first purchase at or after that click. Three chained "
    "unordered window MINs over the SAME user_id partitioning — one "
    "exchange, no per-partition sort (unbounded frames need none) — then "
    "one dedup aggregate. The window-chain trick avoids the naive 3-way "
    "self-join of the events table (three scans, two shuffles each).",
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    base = events.select("user_id", "event_type", col("ts"))
    step1 = base.withColumn(
        "signup_ts", F.min(F.when(col("event_type") == "signup", col("ts"))).over(w)
    )
    step2 = step1.withColumn(
        "click_ts",
        F.min(
            F.when(
                (col("event_type") == "click") & (col("ts") >= col("signup_ts")),
                col("ts"),
            )
        ).over(w),
    )
    step3 = step2.withColumn(
        "purchase_ts",
        F.min(
            F.when(
                (col("event_type") == "purchase") & (col("ts") >= col("click_ts")),
                col("ts"),
            )
        ).over(w),
    )
    depth = (
        col("signup_ts").isNotNull().cast("int")
        + col("click_ts").isNotNull().cast("int")
        + col("purchase_ts").isNotNull().cast("int")
    )
    return (
        step3.groupBy("user_id", "signup_ts", "click_ts", "purchase_ts")
        .agg(F.first(F.lit(1)))
        .select(
            "user_id",
            "signup_ts",
            "click_ts",
            "purchase_ts",
            depth.cast("long").alias("funnel_depth"),
        )
    )


# --------------------------------------------------------------------------
# CUBE: all 4 grouping sets of (event_type, day) in one aggregate.
# --------------------------------------------------------------------------
@register(
    "event_type_day_cube",
    sql="""
    SELECT event_type,
           CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS BIGINT) AS value_fp
    FROM events
    GROUP BY CUBE(event_type, CAST(CAST(ts AS DATE) AS TIMESTAMP))
    """,
    survey_ops=("A2",),
    doc="CUBE aggregation: every combination of (event_type, day) "
    "subtotals — per-cell, per-type, per-day, grand total — expanded "
    "inside ONE hash aggregate (one shuffle), not four queries. Values "
    "ride the 1e4 fixed-point contract so subtotal sums are exact across "
    "engines. Complements region_customer_rollup (ROLLUP) for full "
    "grouping-sets coverage.",
)
def event_type_day_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.select(
            "event_type",
            col("ts").cast("date").cast("timestamp").alias("day"),
            F.round(col("value") * 10000).cast("long").alias("v_fp"),
        )
        .cube("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("v_fp").alias("value_fp"),
        )
    )


# --------------------------------------------------------------------------
# Cohort retention: users cohorted by first-activity week; per (cohort,
# week-offset) distinct active users — the standard retention matrix.
# --------------------------------------------------------------------------
@register(
    "events_retention_cohorts",
    sql="""
    WITH f AS (
      SELECT user_id,
             CAST(DATE_TRUNC('week', MIN(CAST(ts AS TIMESTAMP))) AS DATE) AS cohort
      FROM events GROUP BY user_id),
    a AS (
      SELECT DISTINCT user_id,
             CAST(DATE_TRUNC('week', CAST(ts AS TIMESTAMP)) AS DATE) AS wk
      FROM events)
    SELECT CAST(cohort AS TIMESTAMP) AS cohort_week,
           CAST(date_diff('day', cohort, wk) // 7 AS BIGINT) AS week_index,
           COUNT(*) AS n_active
    FROM a JOIN f USING (user_id)
    GROUP BY cohort, date_diff('day', cohort, wk) // 7
    """,
    survey_ops=(),
    doc="Weekly cohort retention matrix: cohort = week of first activity, "
    "week_index = whole weeks since (day-difference div 7 — identical "
    "integer arithmetic in both engines; engine-native 'week' datediffs "
    "disagree on boundary rules). (cohort, wk, user) triples are distinct "
    "before counting, so COUNT(*) == COUNT(DISTINCT user) without a "
    "second distinct aggregation. Scale shape: two hash aggregates on "
    "user_id feeding a user_id-keyed join — cohort assignment never "
    "rescans raw events.",
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    firsts = (
        events.groupBy("user_id")
        .agg(F.min("ts").alias("first_ts"))
        .select("user_id", F.date_trunc("week", col("first_ts")).cast("date").alias("cohort"))
    )
    activity = events.select(
        "user_id", F.date_trunc("week", col("ts")).cast("date").alias("wk")
    ).distinct()
    return (
        activity.join(firsts, ["user_id"])
        .select(
            col("cohort").cast("timestamp").alias("cohort_week"),
            F.expr("CAST(datediff(wk, cohort) div 7 AS BIGINT)").alias("week_index"),
        )
        .groupBy("cohort_week", "week_index")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


# --------------------------------------------------------------------------
# Moving window frame: trailing 3-day per-user activity. RANGE frame over a
# day-grain pre-aggregate — the window never sees raw events.
# --------------------------------------------------------------------------
@register(
    "events_user_moving_stats",
    sql="""
    WITH daily AS (
      SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             COUNT(*) AS n_events,
             SUM(CAST(value AS DECIMAL(25,6))) AS v
      FROM events GROUP BY 1, 2)
    SELECT user_id, CAST(day AS TIMESTAMP) AS day,
           CAST(SUM(n_events) OVER w AS BIGINT) AS n_events_3d,
           CAST(SUM(v) OVER w AS DOUBLE) AS value_sum_3d
    FROM daily
    WINDOW w AS (PARTITION BY user_id ORDER BY day
                 RANGE BETWEEN INTERVAL 2 DAY PRECEDING AND CURRENT ROW)
    """,
    survey_ops=("A4",),
    doc="Trailing 3-day moving sum/count per user: day-grain pre-aggregate "
    "(exact DECIMAL accumulator), then a RANGE-interval window frame over "
    "integer day numbers. ONE exchange total: an explicit repartition on "
    "user_id satisfies both the (user_id, day) hash aggregate and the "
    "user_id window partitioning, so Catalyst reuses the same shuffle for "
    "both — and the frame walks ~days-per-user rows, never raw events.",
)
def events_user_moving_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.repartition("user_id")
        .groupBy("user_id", col("ts").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(col("value").cast("decimal(25,6)")).alias("v"),
        )
        .withColumn("day_num", F.datediff(col("day"), F.lit("1970-01-01").cast("date")))
    )
    w = Window.partitionBy("user_id").orderBy("day_num").rangeBetween(-2, 0)
    return daily.select(
        "user_id",
        col("day").cast("timestamp").alias("day"),
        F.sum("n_events").over(w).cast("long").alias("n_events_3d"),
        F.sum("v").over(w).cast("double").alias("value_sum_3d"),
    )


# --------------------------------------------------------------------------
# Equi-width histogram + cumulative distribution of order value.
# --------------------------------------------------------------------------
@register(
    "order_value_histogram",
    sql="""
    WITH b AS (
      SELECT CAST(FLOOR(o_totalprice / 25000) AS BIGINT) AS bucket,
             COUNT(*) AS n_orders
      FROM orders GROUP BY 1)
    SELECT bucket,
           bucket * 25000 AS bucket_lo,
           (bucket + 1) * 25000 AS bucket_hi,
           n_orders,
           CAST(SUM(n_orders) OVER (ORDER BY bucket
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_orders,
           CAST(n_orders AS DOUBLE) / SUM(n_orders) OVER () AS share
    FROM b
    """,
    survey_ops=("A2",),
    doc="Equi-width value histogram with cumulative counts and shares: one "
    "hash aggregate on the bucket key (map-side combinable — executors "
    "emit at most n_buckets rows each), then window passes over the "
    "BUCKET-GRAIN result only (dozens of rows), where a single-partition "
    "window is free. The share division is one int/int IEEE op — "
    "deterministic cross-engine without decimal scaffolding.",
)
def order_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    b = orders.groupBy(
        F.floor(col("o_totalprice") / 25000).cast("long").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n_orders"))
    w_cum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    return b.select(
        "bucket",
        (col("bucket") * 25000).alias("bucket_lo"),
        ((col("bucket") + 1) * 25000).alias("bucket_hi"),
        "n_orders",
        F.sum("n_orders").over(w_cum).cast("long").alias("cum_orders"),
        (col("n_orders").cast("double") / F.sum("n_orders").over(w_all)).alias("share"),
    )


# --------------------------------------------------------------------------
# Decile segmentation: ntile over a total order, per-decile rollup.
# --------------------------------------------------------------------------
@register(
    "customer_balance_deciles",
    sql="""
    WITH d AS (
      SELECT c_custkey, c_acctbal,
             NTILE(10) OVER (ORDER BY c_acctbal, c_custkey) AS decile
      FROM customer)
    SELECT decile,
           COUNT(*) AS n_customers,
           MIN(c_acctbal) AS min_bal,
           MAX(c_acctbal) AS max_bal,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(25,6))) AS DOUBLE) AS total_bal
    FROM d GROUP BY decile
    """,
    survey_ops=("A2",),
    doc="Customer deciles by account balance (ntile with a c_custkey "
    "tiebreak so bucket assignment is total-order deterministic), rolled "
    "up to per-decile count/min/max/decimal-sum. Exact ntile requires a "
    "total sort of the keyed projection (2 narrow columns, not the row); "
    "the 100 TB path swaps the sort for approx_percentile boundary cuts — "
    "this form is the exact yardstick the sketch is judged against.",
)
def customer_balance_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    d = cust.withColumn(
        "decile", F.ntile(10).over(Window.orderBy("c_acctbal", "c_custkey"))
    )
    return d.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.min("c_acctbal").alias("min_bal"),
        F.max("c_acctbal").alias("max_bal"),
        F.sum(col("c_acctbal").cast("decimal(25,6)")).cast("double").alias("total_bal"),
    )


# --------------------------------------------------------------------------
# Sketch path: approximate distincts + quantiles. At 100 TB the exact
# forms (count distinct, percentile_disc, ntile) pay key-cardinality
# shuffles or total sorts; mergeable constant-memory sketches replace
# them. The REGISTERED forms below are PORTABLE sketches (our own spec:
# md5-bucket HLL, fixed-point histogram quantiles) so the DuckDB oracle
# reproduces the ESTIMATES bit-for-bit and the driver hash-verifies an
# approximate algorithm end-to-end. The engine-native twins (HLL++,
# DataSketches, t-digest) live right below as *_native — pytest-only
# (tests/test_olap.py bounds their error), since native sketch estimates
# are engine-specific and can never hash-match an oracle.
# --------------------------------------------------------------------------
@register(
    "events_approx_stats",
    sql=f"""
    WITH h AS (
      SELECT event_type,
             CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 2) AS BIGINT)
               AS bucket,
             CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 3, 15) AS BIGINT)
               AS v
      FROM events),
    p AS (
      SELECT event_type, bucket,
             MAX(CASE WHEN v = 0 THEN 61 ELSE 61 - length(bin(v)) END) AS mz
      FROM h GROUP BY event_type, bucket),
    s AS (
      SELECT event_type, COUNT(*) AS n_buckets,
             SUM(CAST(1 AS HUGEINT) << (61 - mz)) AS sum_present
      FROM p GROUP BY event_type),
    hll AS (
      SELECT event_type,
             CAST(CASE WHEN n_buckets < {_HLL_M}
                  THEN list_extract([{_HLL_LC_LIST}],
                                    CAST({_HLL_M} - n_buckets AS INT))
                  ELSE (CAST({_HLL_A_E3} AS HUGEINT) * (CAST(1 AS HUGEINT) << 61))
                       // sum_present // 1000
                  END AS BIGINT) AS approx_users
      FROM s),
    b AS (
      SELECT event_type,
             CAST(FLOOR(CAST(value AS DECIMAL(25,6)) * 100) AS BIGINT) AS cb
      FROM events WHERE value IS NOT NULL),
    hist AS (SELECT event_type, cb, COUNT(*) AS n FROM b GROUP BY event_type, cb),
    cum AS (
      SELECT event_type, cb,
             SUM(n) OVER (PARTITION BY event_type ORDER BY cb) AS cum
      FROM hist),
    tot AS (SELECT event_type, SUM(n) AS n_events FROM hist GROUP BY event_type),
    qq AS (
      SELECT c.event_type, t.n_events,
             MIN(CASE WHEN cum * 2 >= n_events THEN cb END) AS q50_c,
             MIN(CASE WHEN cum * 10 >= n_events * 9 THEN cb END) AS q90_c,
             MIN(CASE WHEN cum * 100 >= n_events * 99 THEN cb END) AS q99_c
      FROM cum c JOIN tot t USING (event_type)
      GROUP BY c.event_type, t.n_events)
    SELECT q.event_type, CAST(q.n_events AS BIGINT) AS n_events,
           hll.approx_users,
           q50_c / 100.0 AS q50, q90_c / 100.0 AS q90, q99_c / 100.0 AS q99
    FROM qq q JOIN hll USING (event_type)
    """,
    survey_ops=("A3",),
    doc="Per-event-type approximate statistics with PORTABLE sketches: "
    "distinct users via the md5-bucket integer HLL (functions/hll.py) and "
    "value quantiles via a fixed-point histogram — values bin to integer "
    "cents, per-bin counts cumulate, and qXX is the first bin whose "
    "cumulative count crosses ceil(q*n) (integer cross-multiply, no "
    "float thresholds). Both sketches are mergeable map-side partials "
    "(m=256 registers; one count per touched bin), the 100 TB shape, and "
    "both are ENGINE-EXACT: the DuckDB oracle reproduces the estimates "
    "bit-for-bit, so the driver hash-verifies the approximation itself — "
    "the property the engine-native t-digest/HLL++ twin "
    "(events_approx_stats_native, pytest-bounded) cannot offer.",
)
def events_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    part = _hll_partial(events.select("event_type", "user_id"), ["event_type"], "user_id")
    hll = (
        part.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(F.expr(_HLL_SUM_PRESENT)).cast("decimal(38,0)").alias("sum_present"),
        )
        .select("event_type", _hll_estimate_expr("approx_users"))
    )
    # cent-resolution histogram: exact decimal binning (values carry <= 2
    # decimals, so the cast is exact on both engines); at coarser bin
    # widths the same plan is the classic approximate-histogram quantile,
    # still engine-exact.
    # NULL values are excluded EXPLICITLY (none exist in this corpus, but
    # a NULL cb would sort NULLS FIRST in Spark's cumulative window and
    # NULLS LAST in DuckDB's — an unreachable-today divergence this
    # filter keeps unreachable forever)
    binned = events.filter(col("value").isNotNull()).select(
        "event_type",
        F.floor(col("value").cast("decimal(25,6)") * 100).cast("long").alias("cb"),
    )
    # one corpus-sized aggregate, materialized once: it feeds BOTH the
    # cumulative window and the per-type totals (without the checkpoint
    # each branch re-scans and re-bins the raw events)
    hist = binned.groupBy("event_type", "cb").agg(
        F.count(F.lit(1)).alias("n")
    ).localCheckpoint()
    w = (
        Window.partitionBy("event_type")
        .orderBy("cb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("cum", F.sum("n").over(w))
    tot = hist.groupBy("event_type").agg(F.sum("n").alias("n_events"))
    # cum >= ceil(q*n)  ⇔  cum*den >= n*num for integer cum — no floats
    qt = (
        cum.join(broadcast(tot), ["event_type"])
        .groupBy("event_type", "n_events")
        .agg(
            F.min(F.when(col("cum") * 2 >= col("n_events"), col("cb"))).alias("q50_c"),
            F.min(F.when(col("cum") * 10 >= col("n_events") * 9, col("cb"))).alias("q90_c"),
            F.min(F.when(col("cum") * 100 >= col("n_events") * 99, col("cb"))).alias("q99_c"),
        )
    )
    return qt.join(hll, ["event_type"]).select(
        "event_type",
        col("n_events").cast("long").alias("n_events"),
        "approx_users",
        (col("q50_c") / F.lit(100.0)).alias("q50"),
        (col("q90_c") / F.lit(100.0)).alias("q90"),
        (col("q99_c") / F.lit(100.0)).alias("q99"),
    )


def events_approx_stats_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-native twin of events_approx_stats (pytest-only, not
    registered): HyperLogLog++ distinct users (approx_count_distinct,
    rsd 2%) and t-digest value quantiles (approx_percentile) in one
    map-side-combinable aggregate. Estimates are engine-specific, so this
    form can never hash-match a DuckDB oracle; tests/test_olap.py bounds
    its error against the exact answers instead."""
    events = load_table(spark, sf_dir, "events")
    agg = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.percentile_approx("value", [0.5, 0.9, 0.99], 10000).alias("_vq"),
    )
    return agg.select(
        "event_type",
        "n_events",
        "approx_users",
        F.element_at("_vq", 1).alias("q50"),
        F.element_at("_vq", 2).alias("q90"),
        F.element_at("_vq", 3).alias("q99"),
    )


@register(
    "events_distinct_sketch_rollup",
    sql=f"""
    WITH h AS (
      SELECT event_type,
             date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
             CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 2) AS BIGINT)
               AS bucket,
             CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 3, 15) AS BIGINT)
               AS v
      FROM events),
    daily AS (
      SELECT event_type, day, bucket,
             MAX(CASE WHEN v = 0 THEN 61 ELSE 61 - length(bin(v)) END) AS mz
      FROM h GROUP BY event_type, day, bucket),
    wk AS (
      SELECT event_type, date_trunc('week', day) AS week, day, bucket, mz
      FROM daily),
    merged AS (
      SELECT event_type, week, bucket, MAX(mz) AS mz
      FROM wk GROUP BY event_type, week, bucket),
    days AS (
      SELECT event_type, week, COUNT(DISTINCT day) AS n_days
      FROM wk GROUP BY event_type, week),
    s AS (
      SELECT event_type, week, COUNT(*) AS n_buckets,
             SUM(CAST(1 AS HUGEINT) << (61 - mz)) AS sum_present
      FROM merged GROUP BY event_type, week)
    SELECT s.event_type, s.week,
           CAST(days.n_days AS BIGINT) AS n_days,
           CAST(CASE WHEN n_buckets < {_HLL_M}
                THEN list_extract([{_HLL_LC_LIST}],
                                  CAST({_HLL_M} - n_buckets AS INT))
                ELSE (CAST({_HLL_A_E3} AS HUGEINT) * (CAST(1 AS HUGEINT) << 61))
                     // sum_present // 1000
                END AS BIGINT) AS est_users
    FROM s JOIN days ON s.event_type = days.event_type AND s.week = days.week
    """,
    survey_ops=("A3",),
    doc="Sketch partial-merge rollup across the granularity LATTICE with "
    "the portable HLL: the SAME per-(day, type) register partials that "
    "events_hll_portable_rollup merges to whole-range totals here merge "
    "to per-(week, type) estimates — daily partials are computed once and "
    "re-rolled to any coarser grain by bucket-MAX, never re-reading raw "
    "events (the incremental A3 shape: a new day touches one week). "
    "Every step is integer/md5 arithmetic, so the DuckDB oracle matches "
    "the ESTIMATES bit-for-bit; the engine-native DataSketches twin "
    "(events_distinct_sketch_native) stays pytest-only.",
)
def events_distinct_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    withday = events.select(
        "event_type", F.date_trunc("day", col("ts")).alias("day"), "user_id"
    )
    daily = _hll_partial(withday, ["event_type", "day"], "user_id")
    daily = daily.withColumn("week", F.date_trunc("week", col("day")))
    daily = daily.localCheckpoint()  # feeds the bucket merge AND the day count
    merged = daily.groupBy("event_type", "week", "bucket").agg(F.max("mz").alias("mz"))
    days = daily.groupBy("event_type", "week").agg(
        F.countDistinct("day").alias("n_days")
    )
    s = merged.groupBy("event_type", "week").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(F.expr(_HLL_SUM_PRESENT)).cast("decimal(38,0)").alias("sum_present"),
    ).join(broadcast(days), ["event_type", "week"])
    return s.select(
        "event_type",
        "week",
        col("n_days").cast("long").alias("n_days"),
        _hll_estimate_expr("est_users"),
    )


def events_distinct_sketch_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-native twin of events_distinct_sketch_rollup (pytest-only,
    not registered): per-(day, type) Apache DataSketches HLL partials
    union-merged per event_type (hll_sketch_agg / hll_union_agg, lgK=14).
    Estimates are engine-specific — pytest bounds them against the exact
    rollup; the registered portable form carries the oracle."""
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.withColumn("day", F.date_trunc("day", col("ts")))
        .groupBy("day", "event_type")
        .agg(F.hll_sketch_agg("user_id", F.lit(14)).alias("sk"))
    )
    return (
        daily.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("long").alias(
                "approx_total_users"
            ),
        )
    )


@register(
    "events_distinct_rollup_exact",
    sql="""
    SELECT event_type,
           CAST(COUNT(DISTINCT date_trunc('day', CAST(ts AS TIMESTAMP))) AS BIGINT) AS n_days,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_total_users
    FROM events GROUP BY event_type
    """,
    survey_ops=("A3",),
    doc="Exactness escape hatch for the distinct-count sketch family "
    "(events_hll_portable_rollup, events_distinct_sketch_rollup and its "
    "pytest-only native twin): the per-event-type (n_days, distinct "
    "users) rollup computed EXACTLY with count_distinct, oracle-anchored "
    "in DuckDB. tests/test_olap.py asserts |sketch - exact| within each "
    "sketch's rsd bound against this. At 100 TB you run the sketch forms "
    "(map-side-combinable partials); this exact form is the audit query "
    "you run on a slice.",
)
def events_distinct_rollup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.withColumn("day", F.date_trunc("day", col("ts")))
        .groupBy("event_type")
        .agg(
            F.countDistinct("day").alias("n_days"),
            F.countDistinct("user_id").alias("exact_total_users"),
        )
    )


@register(
    "user_event_type_unpivot",
    sql=f"""
    WITH p AS (
      SELECT user_id,
             {', '.join(f"COUNT(CASE WHEN event_type = '{t}' THEN 1 END) AS n_{t}"
                        for t in _EVENT_TYPES)}
      FROM events GROUP BY user_id)
    SELECT user_id, event_type, n_events FROM (
      {' UNION ALL '.join(
          f"SELECT user_id, '{t}' AS event_type, n_{t} AS n_events FROM p"
          for t in _EVENT_TYPES)}
    ) u
    WHERE n_events > 0
    """,
    survey_ops=("A2",),
    doc="Unpivot (melt) of the per-user pivot back to long form via "
    "Spark's native stack(): wide columns -> (user_id, event_type, "
    "n_events) rows, zeros dropped. stack() is a map-side GENERATE after "
    "the pivot's single hash aggregate — no extra shuffle; the oracle "
    "mirrors it with a UNION ALL per column (what UNPIVOT desugars to).",
)
def user_event_type_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    wide = pivot_event_counts(events).drop("n_total")
    stack_args = ", ".join(f"'{t}', n_{t}" for t in _EVENT_TYPES)
    return (
        wide.select(
            "user_id",
            F.expr(
                f"stack({len(_EVENT_TYPES)}, {stack_args}) AS (event_type, n_events)"
            ),
        )
        .filter(col("n_events") > 0)
    )


# --------------------------------------------------------------------------
# Per-group outlier detection WITHOUT sqrt or division: the 2-sigma z-score
# test |x - mean| > 2*stddev is cross-multiplied into pure int64 arithmetic
# on the 1e4 fixed-point domain —
#     (n*x - S)^2 > 4 * (n*Q - S^2)      where S = sum, Q = sum of squares
# — so Spark and the oracle compute bit-identical integers (no float mean,
# no ulp drift in variance). Magnitude audit at test scale: v_fp <= 1e6,
# n/user <= ~1e3 -> every product stays under 2^62; the 100 TB path lifts
# the same identity to DECIMAL(38,0).
# --------------------------------------------------------------------------
@register(
    "events_user_outliers",
    sql="""
    WITH v AS (
      SELECT user_id, event_id,
             CAST(ROUND(value * 10000) AS BIGINT) AS v_fp
      FROM events),
    s AS (
      SELECT user_id, event_id, v_fp,
             CAST(COUNT(*) OVER w AS BIGINT) AS n,
             CAST(SUM(v_fp) OVER w AS BIGINT) AS s_sum,
             CAST(SUM(v_fp * v_fp) OVER w AS BIGINT) AS q_sum
      FROM v WINDOW w AS (PARTITION BY user_id))
    SELECT user_id, event_id, v_fp,
           (n * v_fp - s_sum) * (n * v_fp - s_sum) AS dev2_scaled,
           4 * (n * q_sum - s_sum * s_sum) AS var4_scaled
    FROM s
    WHERE n >= 30
      AND (n * v_fp - s_sum) * (n * v_fp - s_sum)
          > 4 * (n * q_sum - s_sum * s_sum)
    """,
    survey_ops=("A4",),
    doc="Integer-exact 2-sigma outlier flagging per user: one shuffle on "
    "user_id feeds an unbounded window computing (n, sum, sum-of-squares), "
    "then the z-test runs as a cross-multiplied int64 comparison in the "
    "same stage — no second shuffle, no join-back, no float variance. "
    "The anomaly-detection primitive of a metrics pipeline, shaped so the "
    "per-user state is 3 integers regardless of group size.",
)
def events_user_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    v = events.select(
        "user_id",
        "event_id",
        F.round(col("value") * 10000).cast("long").alias("v_fp"),
    )
    w = Window.partitionBy("user_id")
    s = v.select(
        "user_id",
        "event_id",
        "v_fp",
        F.count(F.lit(1)).over(w).cast("long").alias("n"),
        F.sum("v_fp").over(w).cast("long").alias("s_sum"),
        F.sum(col("v_fp") * col("v_fp")).over(w).cast("long").alias("q_sum"),
    )
    dev = col("n") * col("v_fp") - col("s_sum")
    var4 = F.lit(4) * (col("n") * col("q_sum") - col("s_sum") * col("s_sum"))
    return s.filter((col("n") >= 30) & (dev * dev > var4)).select(
        "user_id",
        "event_id",
        "v_fp",
        (dev * dev).alias("dev2_scaled"),
        var4.alias("var4_scaled"),
    )


# --------------------------------------------------------------------------
# Market-basket co-occurrence: part pairs bought together, ranked by lift.
# The association-rules primitive (support / confidence / lift), all three
# as integer ppm ratios — a fixed multiply/truncating-div sequence both
# engines execute identically (same contract as doc_bigram_pmi).
# Pair expansion is the df-capped HOF pattern: baskets are small (~7
# items), so C(k,2) fan-out happens map-side after ONE shuffle on the
# order key — never a lineitem self-join.
# --------------------------------------------------------------------------
_BASKET_MIN_PAIR = 3
_BASKET_TOP = 100

# The basket -> distinct-pair expansion shared by basket_part_pairs,
# part_triangle_count, and part_kcore_census — ONE source for both
# engines so a change to the basket grain or the a<b normalization can
# never desynchronize the three graph queries. The SQL fragment's copairs
# CTE is MATERIALIZED: the graph oracles reference it through several
# self-joins, and DuckDB inlines plain CTEs (re-expanding the base scan
# per reference).
_COPURCHASE_PAIRS_SQL = """baskets AS (
      SELECT l_orderkey, list_distinct(list(l_partkey)) AS items
      FROM lineitem GROUP BY l_orderkey),
    copairs AS MATERIALIZED (
      SELECT p.a AS a, p.b AS b, COUNT(*) AS c_ab
      FROM (SELECT unnest(list_filter(
               flatten(list_transform(items, a ->
                 list_transform(items, b -> struct_pack(a := a, b := b)))),
               p -> p.a < p.b)) AS p
            FROM baskets) t
      GROUP BY p.a, p.b)"""


def _copurchase_pairs(
    spark: SparkSession, sf_dir: str, checkpoint_baskets: bool = False
) -> "tuple[DataFrame, DataFrame]":
    """(baskets, pairs): distinct items per order, and (a, b, c_ab)
    co-purchase pairs with a < b. The C(k,2) fan-out runs map-side in a
    HOF over the (small) per-order arrays — never a fact self-join."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_distinct(F.collect_list("l_partkey")).alias("items")
    )
    if checkpoint_baskets:
        baskets = baskets.localCheckpoint()
    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    "filter(flatten(transform(items, a -> transform(items,"
                    " b -> struct(a AS a, b AS b)))), p -> p.a < p.b)"
                )
            ).alias("p")
        )
        .groupBy(col("p.a").alias("a"), col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    return baskets, pairs


@register(
    "basket_part_pairs",
    sql=f"""
    WITH {_COPURCHASE_PAIRS_SQL},
    pairs AS (
      SELECT a AS part_a, b AS part_b, c_ab FROM copairs),
    freq AS (
      SELECT part, COUNT(*) AS c FROM (
        SELECT l_orderkey, unnest(list_distinct(list(l_partkey))) AS part
        FROM lineitem GROUP BY l_orderkey) t
      GROUP BY part),
    tot AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM lineitem)
    SELECT part_a, part_b, c_ab,
           (c_ab * 1000000) // n AS support_ppm,
           (c_ab * 1000000) // fa.c AS confidence_ppm,
           ((c_ab * 1000) * n) // (fa.c * fb.c) AS lift_milli
    FROM pairs
    JOIN freq fa ON fa.part = part_a
    JOIN freq fb ON fb.part = part_b
    CROSS JOIN tot
    WHERE c_ab >= {_BASKET_MIN_PAIR}
    ORDER BY lift_milli DESC, part_a, part_b
    LIMIT {_BASKET_TOP}
    """,
    survey_ops=("W3",),
    doc="Association rules over order baskets: ONE shuffle on the order "
    "key builds distinct item lists, C(k,2) pair fan-out runs map-side in "
    "a HOF (baskets are small — the lineitem⋈lineitem self-join this "
    "replaces would shuffle the fact table twice), then pair counts, "
    "per-part frequencies, and integer-ppm support/confidence/lift with a "
    "TakeOrderedAndProject top-100. Part frequencies are dimension-sized "
    "— broadcast-able at 100 TB.",
)
def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # checkpoint baskets: pairs + per-part frequency + order total share it
    baskets, copairs = _copurchase_pairs(spark, sf_dir, checkpoint_baskets=True)
    pairs = copairs.select(
        col("a").alias("part_a"), col("b").alias("part_b"), "c_ab"
    )
    freq = (
        baskets.select(F.explode("items").alias("part"))
        .groupBy("part")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = baskets.agg(F.count(F.lit(1)).alias("n"))
    fa = freq.select(col("part").alias("part_a"), col("c").alias("ca"))
    fb = freq.select(col("part").alias("part_b"), col("c").alias("cb"))
    return (
        pairs.filter(col("c_ab") >= _BASKET_MIN_PAIR)
        .join(fa, ["part_a"])
        .join(fb, ["part_b"])
        .crossJoin(broadcast(tot))
        .select(
            "part_a",
            "part_b",
            "c_ab",
            F.expr("(c_ab * 1000000) div n").alias("support_ppm"),
            F.expr("(c_ab * 1000000) div ca").alias("confidence_ppm"),
            F.expr("((c_ab * 1000) * n) div (ca * cb)").alias("lift_milli"),
        )
        .orderBy(col("lift_milli").desc(), "part_a", "part_b")
        .limit(_BASKET_TOP)
    )


# --------------------------------------------------------------------------
# Triangle counting over the co-purchase graph — the third distributed-
# graph primitive beside PageRank (plans/quality.py) and connected
# components (operators/components.py), via the degree-orientation trick
# (Suri & Vassilvitskii 2011 / Cohen 2009): orient every edge from its
# lower-(degree, id) endpoint to the higher one, so each node's
# out-degree is O(sqrt(m)) and the wedge join materializes O(m^1.5)
# rows worst-case instead of Σ d² — the difference between feasible and
# not on a power-law graph.
# --------------------------------------------------------------------------
_TRI_MIN_COORDER = 2  # edge = parts co-ordered in >= this many baskets

# Bounded driver fast path for the loops over the c_ab-filtered
# co-purchase graph (triangle census, LPA sweeps): when the DISTINCT edge
# list counts under operators/components.py:_GRAPH_DRIVER_CAP (read at
# call time), collect it once and run the exact integer algorithm
# driver-side — the same legitimacy class as a broadcast join side and
# the same move as the union-find fast path there (judged sound with
# boundary tests on both routes). Oversized graphs take the unchanged
# distributed loop, so the 100 TB path keeps its shape. The UNfiltered
# co-purchase graph (part_kcore_census, basket_part_pairs) is ~300x
# larger at every scale and never routes here.


def _bounded_edge_collect(
    edges: DataFrame,
) -> "tuple[list[tuple[int, int]] | None, DataFrame]":
    """(rows-or-None, checkpointed-edges): one count job on the lazily
    checkpointed edge frame sizes it; under the cap the collect reads the
    cached blocks. Over the cap returns (None, e0) so the distributed
    loop reuses the checkpoint instead of re-deriving the pair expansion."""
    from ..operators import components

    e0 = edges.localCheckpoint(eager=False)
    if e0.count() > components._GRAPH_DRIVER_CAP:
        return None, e0
    return [(r[0], r[1]) for r in e0.collect()], e0


def _driver_triangle_census(
    edge_rows: "list[tuple[int, int]]",
) -> "tuple[int, int, int, int, int]":
    """Exact (n_nodes, n_edges, n_triangles, n_wedges, gcc_ppm) over a
    collected distinct a<b edge list — the same degree-orientation count
    the distributed plan runs (src = lower-(degree, id) endpoint; wedges
    close against the oriented set), all-integer so both routes and the
    oracle are bit-identical."""
    deg: "dict[int, int]" = {}
    for a, b in edge_rows:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    out: "dict[int, list[int]]" = {}
    for a, b in edge_rows:
        if (deg[a], a) < (deg[b], b):
            out.setdefault(a, []).append(b)
        else:
            out.setdefault(b, []).append(a)
    oset = {(s, d) for s, ds in out.items() for d in ds}
    tri = 0
    for u, vs in out.items():
        for v in vs:
            for w in out.get(v, ()):
                if (u, w) in oset:
                    tri += 1
    wedges = sum(d * (d - 1) // 2 for d in deg.values())
    gcc = 0 if wedges == 0 else (3 * tri * 1_000_000) // wedges
    return (len(deg), len(edge_rows), tri, wedges, gcc)


def _driver_lpa(
    edge_rows: "list[tuple[int, int]]", rounds: int
) -> "dict[int, int]":
    """Exact synchronous label propagation over a collected distinct a<b
    edge list: every node starts as its own label; each sweep every node
    adopts its neighbors' most frequent label with the (count DESC,
    label ASC) total-order tie-break — the identical deterministic spec
    the distributed loop and the oracle's chained CTEs execute."""
    adj: "dict[int, list[int]]" = {}
    for a, b in edge_rows:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    lab = {n: n for n in adj}
    for _ in range(rounds):
        new = {}
        for n, nbrs in adj.items():
            hist: "dict[int, int]" = {}
            for m in nbrs:
                lm = lab[m]
                hist[lm] = hist.get(lm, 0) + 1
            new[n] = min(hist.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        lab = new
    return lab


@register(
    "part_triangle_count",
    sql=f"""
    WITH {_COPURCHASE_PAIRS_SQL},
    edges AS (SELECT a, b FROM copairs WHERE c_ab >= {_TRI_MIN_COORDER}),
    deg AS (
      SELECT n, CAST(COUNT(*) AS BIGINT) AS d
      FROM (SELECT a AS n FROM edges UNION ALL SELECT b FROM edges) z
      GROUP BY n),
    eo AS (
      SELECT CASE WHEN (da.d, a) < (db.d, b) THEN a ELSE b END AS src,
             CASE WHEN (da.d, a) < (db.d, b) THEN b ELSE a END AS dst
      FROM edges JOIN deg da ON da.n = a JOIN deg db ON db.n = b),
    tri AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS t FROM eo e1
      JOIN eo e2 ON e2.src = e1.dst
      JOIN eo e3 ON e3.src = e1.src AND e3.dst = e2.dst),
    wg AS (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS w FROM deg)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
           t AS n_triangles,
           w AS n_wedges,
           CASE WHEN w = 0 THEN 0
                ELSE CAST((3 * t * 1000000) // w AS BIGINT)
           END AS gcc_ppm
    FROM tri CROSS JOIN wg
    """,
    survey_ops=("W3",),
    doc="Triangle census of the co-purchase graph (edge = parts "
    f"co-ordered in >= {_TRI_MIN_COORDER} baskets, basket_part_pairs' "
    "fan-out shape): edges orient from the lower-(degree, id) endpoint, "
    "bounding every out-degree at O(sqrt(m)); wedges come from ONE "
    "node-keyed self-join of the oriented edge list and close against it "
    "with one pair-keyed join — the O(m^1.5) MapReduce triangle "
    "algorithm, never Σ d² wedge fan-out on hub nodes. Output is the "
    "1-row census: nodes, edges, triangles, wedges, global clustering "
    "coefficient as integer ppm (3T/wedges). Degree table is part-"
    "dimension sized — broadcast on both sides of the orientation.",
)
def part_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, copairs = _copurchase_pairs(spark, sf_dir)
    edges = copairs.filter(col("c_ab") >= _TRI_MIN_COORDER).select("a", "b")
    # Bounded driver fast path (round 13): the c_ab-filtered graph is
    # tiny (3.6k edges at sf0.1); under the cap run the exact integer
    # census driver-side — same algorithm, zero further Spark jobs.
    rows, edges = _bounded_edge_collect(edges)
    if rows is not None:
        # local_df: Arrow-converter local relation — the plain-list form
        # schedules a Python-worker scan stage per action (round 14)
        return local_df(
            spark,
            [_driver_triangle_census(rows)],
            "n_nodes long, n_edges long, n_triangles long, "
            "n_wedges long, gcc_ppm long",
        )
    # Oversized graph: unchanged distributed plan over the checkpointed
    # edges (consumers: deg, orientation, count).
    deg = (
        edges.select(col("a").alias("n"))
        .unionAll(edges.select(col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    deg = deg.localCheckpoint()  # consumers: orientation x2, wedge total, nodes
    da = deg.select(col("n").alias("a"), col("d").alias("da"))
    db = deg.select(col("n").alias("b"), col("d").alias("db"))
    flip = F.struct(col("da"), col("a")) < F.struct(col("db"), col("b"))
    eo = (
        edges.join(broadcast(da), ["a"])
        .join(broadcast(db), ["b"])
        .select(
            F.when(flip, col("a")).otherwise(col("b")).alias("src"),
            F.when(flip, col("b")).otherwise(col("a")).alias("dst"),
        )
    )
    eo = eo.localCheckpoint()  # consumers: wedge join both sides + closure
    e1 = eo.select(col("src").alias("u"), col("dst").alias("v"))
    e2 = eo.select(col("src").alias("v"), col("dst").alias("w"))
    wedges = e1.join(e2, ["v"]).select("u", "w")
    tri = wedges.join(
        eo.select(col("src").alias("u"), col("dst").alias("w")), ["u", "w"]
    ).agg(F.count(F.lit(1)).cast("long").alias("t"))
    wtot = deg.agg(
        F.sum(F.expr("d * (d - 1) DIV 2")).cast("long").alias("w")
    )
    nn = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    ne = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return (
        tri.crossJoin(broadcast(wtot))
        .crossJoin(broadcast(nn))
        .crossJoin(broadcast(ne))
        .select(
            "n_nodes",
            "n_edges",
            col("t").alias("n_triangles"),
            col("w").alias("n_wedges"),
            F.when(col("w") == 0, F.lit(0).cast("long"))
            .otherwise(F.expr("CAST((3 * t * 1000000) DIV w AS BIGINT)"))
            .alias("gcc_ppm"),
        )
    )


# --------------------------------------------------------------------------
# Markov transition matrix over per-user event sequences: the behavioral
# sequence model behind funnels — P(next | prev) as integer ppm.
# --------------------------------------------------------------------------
@register(
    "events_markov_transitions",
    sql="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY CAST(ts AS TIMESTAMP), event_id)
               AS prev_type
      FROM events),
    c AS (SELECT prev_type, event_type AS next_type, COUNT(*) AS n
          FROM seq WHERE prev_type IS NOT NULL
          GROUP BY prev_type, event_type),
    t AS (SELECT prev_type, CAST(SUM(n) AS BIGINT) AS total
          FROM c GROUP BY prev_type)
    SELECT c.prev_type, c.next_type, c.n,
           (c.n * 1000000) // t.total AS p_ppm
    FROM c JOIN t USING (prev_type)
    """,
    survey_ops=("A4",),
    doc="Per-user event-type transition matrix: one shuffle on user_id "
    "orders sequences (lag window), one hash aggregate on the (prev, next) "
    "pair; row totals derive from the 25-cell count table itself "
    "(broadcast join, never a second event scan). P(next|prev) in integer "
    "ppm keeps the matrix engine-exact.",
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(col("prev_type").isNotNull())
    c = seq.groupBy("prev_type", col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    t = c.groupBy("prev_type").agg(F.sum("n").cast("long").alias("total"))
    return (
        c.join(broadcast(t), ["prev_type"])
        .select(
            "prev_type",
            "next_type",
            "n",
            F.expr("(n * 1000000) div total").alias("p_ppm"),
        )
    )


# --------------------------------------------------------------------------
# RFM segmentation: recency / frequency / monetary quintiles per customer —
# the standard behavioral segmentation rollup. All three metrics are
# integers (days, counts, cents), quintiles are ntile(5) over totally
# ordered keys (metric + custkey tie-break) so bucket assignment is
# engine-exact; the reference anchor date derives from the orders aggregate
# itself (no wall clock — deterministic forever).
# --------------------------------------------------------------------------
@register(
    "customer_rfm_segments",
    sql="""
    WITH base AS (
      SELECT o_custkey AS custkey,
             MAX(CAST(o_orderdate AS TIMESTAMP)) AS last_order,
             COUNT(*) AS frequency,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS monetary_cents
      FROM orders GROUP BY o_custkey),
    anchor AS (SELECT MAX(last_order) AS t0 FROM base),
    m AS (
      SELECT custkey,
             date_diff('day', CAST(last_order AS DATE), CAST(t0 AS DATE))
               AS recency_days,
             frequency, monetary_cents
      FROM base CROSS JOIN anchor),
    scored AS (
      SELECT custkey, recency_days, frequency, monetary_cents,
             CAST(NTILE(5) OVER (ORDER BY recency_days DESC, custkey) AS BIGINT)
               AS r_score,
             CAST(NTILE(5) OVER (ORDER BY frequency ASC, custkey) AS BIGINT)
               AS f_score,
             CAST(NTILE(5) OVER (ORDER BY monetary_cents ASC, custkey) AS BIGINT)
               AS m_score
      FROM m)
    SELECT custkey, recency_days, frequency, monetary_cents,
           r_score, f_score, m_score,
           concat('R', r_score, 'F', f_score, 'M', m_score) AS segment
    FROM scored
    """,
    survey_ops=("A2",),
    doc="RFM behavioral segmentation: one hash aggregate over orders builds "
    "(recency, frequency, monetary) per customer; the anchor date comes "
    "from that aggregate (broadcast — no second scan, no wall clock); "
    "three ntile(5) windows assign quintile scores. Scale note: the "
    "windows order the CUSTOMER-grain frame (dimension-sized, not the "
    "fact table); at extreme customer counts swap ntile for fixed "
    "percentile cutpoints from approx_percentile and a map-side CASE — "
    "same output contract.",
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    base = orders.groupBy(col("o_custkey").alias("custkey")).agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.round(col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("monetary_cents"),
    )
    anchor = base.agg(F.max("last_order").alias("t0"))
    m = base.crossJoin(broadcast(anchor)).select(
        "custkey",
        F.datediff(col("t0").cast("date"), col("last_order").cast("date")).cast(
            "long"
        ).alias("recency_days"),
        "frequency",
        "monetary_cents",
    )
    wr = Window.orderBy(col("recency_days").desc(), "custkey")
    wf = Window.orderBy(col("frequency").asc(), "custkey")
    wm = Window.orderBy(col("monetary_cents").asc(), "custkey")
    scored = m.select(
        "custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        F.ntile(5).over(wr).cast("long").alias("r_score"),
        F.ntile(5).over(wf).cast("long").alias("f_score"),
        F.ntile(5).over(wm).cast("long").alias("m_score"),
    )
    return scored.withColumn(
        "segment",
        F.concat(
            F.lit("R"), col("r_score"), F.lit("F"), col("f_score"),
            F.lit("M"), col("m_score"),
        ),
    )


# --------------------------------------------------------------------------
# Count-min sketch heavy hitters — the third sketch family, and the one
# that is ORACLE-EXACT: unlike HLL/t-digest (engine-specific estimators,
# rows-only by design), a CMS built from md5 bucket hashes is pure
# deterministic integer arithmetic, so Spark and DuckDB compute identical
# estimates and the driver hash-gate applies. CMS cells are associative
# mergeable partials (sum per cell) — the property that lets 1000
# executors build the sketch map-side and union it in one tiny reduce.
# --------------------------------------------------------------------------
_CMS_D = 4  # hash rows
_CMS_W = 256  # buckets per row
_CMS_TOP = 20


def _cms_sketch_sql(key_expr: str) -> str:
    """The k/cms/uk/est CTE chain of the count-min sketch, shared by the
    batch query and the maintained-state gate — ONE DuckDB mirror of
    cms_keyed_rows, so the two oracles cannot drift apart."""
    return f"""k AS (
      SELECT {key_expr} AS key, CAST(r.r AS BIGINT) AS r,
             CAST('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':' ||
                                      CAST({key_expr} AS VARCHAR)), 1, 8)
                  AS BIGINT) % {_CMS_W} AS bucket
      FROM events CROSS JOIN (SELECT unnest(range({_CMS_D})) AS r) r),
    cms AS (
      SELECT r, bucket, CAST(COUNT(*) AS BIGINT) AS cell_n
      FROM k GROUP BY r, bucket),
    uk AS (SELECT DISTINCT key, r, bucket FROM k),
    est AS (
      SELECT key, MIN(cell_n) AS est_n
      FROM uk JOIN cms USING (r, bucket)
      GROUP BY key)"""


@register(
    "events_user_cms_topk",
    sql=f"""
    WITH {_cms_sketch_sql("user_id")},
    ex AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n
      FROM events GROUP BY user_id)
    SELECT key AS user_id, est_n, exact_n
    FROM est JOIN ex ON ex.user_id = est.key
    ORDER BY est_n DESC, user_id
    LIMIT {_CMS_TOP}
    """,
    survey_ops=("A3",),
    doc=f"Count-min-sketch heavy hitters: a {_CMS_D}x{_CMS_W} integer cell "
    "grid (md5 bucket hashing — deterministic, so the sketch estimate "
    "itself hash-matches the oracle, unlike HLL/t-digest), estimate = min "
    "over rows, reported beside the exact count as a built-in "
    "overestimate audit (est_n >= exact_n always). Scale shape: cells are "
    "map-side-combinable partials (one shuffle over d*|events| keyed "
    "rows, 1024 output cells, broadcast back); candidate keys probe the "
    "broadcast sketch and TakeOrderedAndProject keeps the top-k. At "
    "100 TB the sketch build is the only corpus-sized pass and its "
    "output is 8 KB.",
)
def events_user_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id")
    return (
        cms_estimates(ev)
        .orderBy(col("est_n").desc(), "user_id")
        .limit(_CMS_TOP)
    )


def cms_keyed_rows(ev: DataFrame, key: str = "user_id") -> DataFrame:
    """(rows with ``key``) → (key, r, bucket): the deterministic md5 CMS
    bucket derivation — ONE implementation shared by the batch query, the
    regime suite, and the incremental state (operators/cms_state.py), so
    a folded sketch and a batch sketch can never hash-diverge."""
    return ev.select(
        key,
        F.explode(
            F.expr(
                f"""transform(sequence(0, {_CMS_D - 1}),
                    r -> struct(CAST(r AS BIGINT) AS r,
                      CAST(conv(substring(md5(concat(CAST(r AS STRING), ':',
                                 CAST({key} AS STRING))), 1, 8), 16, 10)
                           AS BIGINT) % {_CMS_W} AS bucket))"""
            )
        ).alias("p"),
    ).select(key, col("p.r").alias("r"), col("p.bucket").alias("bucket"))


def cms_estimates(ev: DataFrame, key: str = "user_id") -> DataFrame:
    """(rows with ``key``) → (key, est_n, exact_n) count-min estimates for
    every distinct key — the sketch core of events_user_cms_topk, factored
    out so the regime-matrix accuracy suite can probe the overestimate
    bound on controlled key-frequency distributions."""
    keyed = cms_keyed_rows(ev, key)
    cms = keyed.groupBy("r", "bucket").agg(F.count(F.lit(1)).alias("cell_n"))
    est = (
        keyed.distinct()
        .join(broadcast(cms), ["r", "bucket"])
        .groupBy(key)
        .agg(F.min("cell_n").alias("est_n"))
    )
    exact = ev.groupBy(key).agg(F.count(F.lit(1)).alias("exact_n"))
    return est.join(exact, [key])


# --------------------------------------------------------------------------
# GROUPING SETS with INDEPENDENT sets (not a rollup prefix): two dashboard
# grains — per-region and per-priority — answered in ONE aggregate pass.
# GROUPING() markers disambiguate a real NULL from a "not in this set"
# NULL, the standard multi-grain reporting contract.
# --------------------------------------------------------------------------
@register(
    "region_priority_grouping_sets",
    sql="""
    SELECT CAST(GROUPING(r_name) AS INT) AS g_region,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
           r_name, o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM orders
    JOIN customer ON c_custkey = o_custkey
    JOIN nation ON n_nationkey = c_nationkey
    JOIN region ON r_regionkey = n_regionkey
    GROUP BY GROUPING SETS ((r_name), (o_orderpriority))
    """,
    survey_ops=("A2",),
    doc="GROUPING SETS with two INDEPENDENT grains (region; priority) in "
    "one aggregate — Spark expands the sets inside a single hash "
    "aggregate exactly like ROLLUP/CUBE, so two dashboard tables cost one "
    "fact-scan + one shuffle instead of two queries. GROUPING() markers "
    "let consumers split the output without NULL ambiguity. Dimension "
    "joins broadcast.",
)
def region_priority_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderpriority",
        F.round(col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    region = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    j = (
        orders.join(broadcast(cust), col("c_custkey") == col("o_custkey"))
        .join(broadcast(nation), col("n_nationkey") == col("c_nationkey"))
        .join(broadcast(region), col("r_regionkey") == col("n_regionkey"))
    )
    j.createOrReplaceTempView("_rpgs")
    return spark.sql(
        """
        SELECT CAST(GROUPING(r_name) AS INT) AS g_region,
               CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
               r_name, o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(cents) AS BIGINT) AS total_cents
        FROM _rpgs
        GROUP BY GROUPING SETS ((r_name), (o_orderpriority))
        """
    )


# --------------------------------------------------------------------------
# INTERSECT: customers present in two behavioral segments (bought both
# brands). Spark compiles INTERSECT to an aggregate + join on the key —
# the set-op face of the semi-join family.
# --------------------------------------------------------------------------
_BRAND_A, _BRAND_B = "Brand#1", "Brand#2"


@register(
    "brand_loyal_customers",
    sql=f"""
    SELECT o_custkey
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
                JOIN part ON p_partkey = l_partkey
    WHERE p_brand = '{_BRAND_A}'
    INTERSECT
    SELECT o_custkey
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
                JOIN part ON p_partkey = l_partkey
    WHERE p_brand = '{_BRAND_B}'
    """,
    survey_ops=("X1",),
    doc=f"INTERSECT set operator: customers who bought BOTH {_BRAND_A} "
    f"and {_BRAND_B} parts. The brand filter pushes into the part-dim "
    "broadcast join on each branch, branches reduce to distinct customer "
    "keys BEFORE intersecting, so the set op touches |customers| not "
    "|lineitems|. Complements X1's EXCEPT (churned_customers) to round "
    "out the set-operation surface.",
)
def brand_loyal_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")

    def buyers(brand: str) -> DataFrame:
        p = part.filter(col("p_brand") == brand).select("p_partkey")
        return (
            li.join(broadcast(p), col("p_partkey") == col("l_partkey"))
            .join(orders, col("l_orderkey") == col("o_orderkey"))
            .select("o_custkey")
        )

    return buyers(_BRAND_A).intersect(buyers(_BRAND_B))


# --------------------------------------------------------------------------
# Column profiling — the governance preflight every warehouse runs before
# trusting a new feed (null rates, cardinalities, ranges per column),
# unpivoted to a row per column so downstream expectation suites diff
# profiles across loads. Complements doc_expectations_audit (pass/fail
# checks) with the raw numbers those checks are tuned FROM.
# --------------------------------------------------------------------------
_PROFILE_COLS = (
    # (output name, BIGINT-valued expr or None for string columns)
    ("l_quantity", "CAST(ROUND(l_quantity * 100) AS BIGINT)"),
    ("l_extendedprice", "CAST(ROUND(l_extendedprice * 100) AS BIGINT)"),
    ("l_discount", "CAST(ROUND(l_discount * 10000) AS BIGINT)"),
    ("l_tax", "CAST(ROUND(l_tax * 10000) AS BIGINT)"),
    ("l_returnflag", None),
    ("l_linestatus", None),
)


@register(
    "lineitem_column_profile",
    sql="\nUNION ALL\n".join(
        f"""
    SELECT '{name}' AS column_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT({expr or name}) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT {expr or name}) AS BIGINT) AS n_distinct,
           {f'CAST(MIN({expr}) AS BIGINT)' if expr else 'CAST(NULL AS BIGINT)'} AS min_v,
           {f'CAST(MAX({expr}) AS BIGINT)' if expr else 'CAST(NULL AS BIGINT)'} AS max_v
    FROM lineitem"""
        for name, expr in _PROFILE_COLS
    ),
    survey_ops=("A2", "A3"),
    doc="Per-column data profile of lineitem (row count, null count, "
    "distinct count, integer-scaled min/max), one output row per column. "
    "Spark shape: ONE table scan feeding a single multi-count-distinct "
    "aggregate (Catalyst's EXPAND handles the 6 distinct counts with "
    "map-side partial dedup — one pass over 100 TB, vs the oracle's "
    "column-per-scan UNION ALL that only a toy engine can afford), then a "
    "stack() unpivot of the 1-row result on the driver side of the plan. "
    "String columns profile null/distinct only (min/max stay NULL — no "
    "cross-engine collation bets). Doubles are profiled on their "
    "integer-scaled forms (cents / basis points) for exactness.",
)
def lineitem_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # The EXPAND amplifies every row 7x before the distinct hash — when the
    # scan offers fewer splits than the cluster has cores (few-row-group
    # files; the sf0.1 file has 3), the whole amplified map stage runs on
    # those few tasks. Compensate with one narrow-row round-robin shuffle
    # ONLY in that case (measured 2.8 -> 1.8 s at sf0.1); at 100 TB the
    # scan has thousands of splits and the condition is false, so the
    # extra exchange never appears where it would be pure cost.
    if li.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:
        li = li.repartition(spark.sparkContext.defaultParallelism)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for name, expr in _PROFILE_COLS:
        v = F.expr(expr) if expr else col(name)
        aggs += [
            (F.count(F.lit(1)) - F.count(v)).alias(f"{name}__nulls"),
            F.count_distinct(v).alias(f"{name}__distinct"),
            (F.min(v).cast("long") if expr else F.lit(None).cast("long")).alias(
                f"{name}__min"
            ),
            (F.max(v).cast("long") if expr else F.lit(None).cast("long")).alias(
                f"{name}__max"
            ),
        ]
    one = li.agg(*aggs)
    stacked = ", ".join(
        f"'{name}', {name}__nulls, {name}__distinct, {name}__min, {name}__max"
        for name, _ in _PROFILE_COLS
    )
    return one.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stacked}) AS "
            "(column_name, n_nulls, n_distinct, min_v, max_v)"
        ),
        col("__n").alias("n_rows"),
    ).select("column_name", "n_rows", "n_nulls", "n_distinct", "min_v", "max_v")


# --------------------------------------------------------------------------
# Pareto / cumulative-share report — the "which nations make up 80% of
# revenue" concentration curve. The window functions run over the
# 25-row nation-grain AGGREGATE, never the fact table: aggregate first,
# rank the tiny result — the only scale-sane way to cumulate shares.
# --------------------------------------------------------------------------
@register(
    "nation_revenue_pareto",
    sql="""
    WITH rev AS (
      SELECT n.n_name AS nation,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY n.n_name),
    tot AS (SELECT CAST(SUM(rev_cents) AS BIGINT) AS total_cents FROM rev)
    SELECT nation, rev_cents,
           CAST(RANK() OVER (ORDER BY rev_cents DESC, nation) AS BIGINT)
             AS rev_rank,
           CAST(SUM(rev_cents) OVER (ORDER BY rev_cents DESC, nation
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_cents,
           CAST(rev_cents * 1000000 // total_cents AS BIGINT) AS share_ppm,
           CAST(SUM(rev_cents) OVER (ORDER BY rev_cents DESC, nation
                                     ROWS UNBOUNDED PRECEDING)
                * 1000000 // total_cents AS BIGINT) AS cum_share_ppm
    FROM rev CROSS JOIN tot
    """,
    survey_ops=("A6", "W3"),
    doc="Revenue Pareto curve by nation: per-nation revenue (integer "
    "cents), rank, cumulative revenue, and share / cumulative share in "
    "ppm. Spark shape: fact table aggregates FIRST (one shuffle on "
    "nation via broadcast customer->nation dims onto orders), then every "
    "window runs over the 25-row aggregate — the unpartitioned window "
    "sort touches dim-grain rows only, never the fact table, and the "
    "grand total rides a broadcast single-row frame. (nation, rev) "
    "tie-break makes rank and the running sum a total order on both "
    "engines.",
)
def nation_revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select(
        col("n_nationkey"), col("n_name").alias("nation")
    )
    rev = (
        orders.select(
            "o_custkey", F.round(col("o_totalprice") * 100).cast("long").alias("cents")
        )
        .join(broadcast(customer), col("o_custkey") == col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") == col("n_nationkey"))
        .groupBy("nation")
        .agg(F.sum("cents").cast("long").alias("rev_cents"))
    )
    tot = rev.agg(F.sum("rev_cents").cast("long").alias("total_cents"))
    w = Window.orderBy(col("rev_cents").desc(), col("nation"))
    cum = Window.orderBy(col("rev_cents").desc(), col("nation")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        rev.crossJoin(broadcast(tot))
        .select(
            "nation",
            "rev_cents",
            "total_cents",
            F.rank().over(w).cast("long").alias("rev_rank"),
            F.sum("rev_cents").over(cum).cast("long").alias("cum_cents"),
        )
        .select(
            "nation",
            "rev_cents",
            "rev_rank",
            "cum_cents",
            F.expr("CAST(rev_cents * 1000000 div total_cents AS BIGINT)").alias(
                "share_ppm"
            ),
            F.expr("CAST(cum_cents * 1000000 div total_cents AS BIGINT)").alias(
                "cum_share_ppm"
            ),
        )
    )


# --------------------------------------------------------------------------
# Portable HLL whole-range rollup — the total-grain member of the
# distinct-count family (events_approx_stats probes the ungrouped-by-time
# form, events_distinct_sketch_rollup the weekly grain; all three share
# functions/hll.py): md5-derived buckets, integer leading-zero maxima,
# and a table-driven linear-counting fallback, so the DuckDB oracle
# reproduces the estimate BIT FOR BIT and the driver hash-verifies an
# approximate algorithm end-to-end (same move as events_user_cms_topk).
# --------------------------------------------------------------------------
@register(
    "events_hll_portable_rollup",
    sql=f"""
    WITH h AS (
      SELECT event_type,
             date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
             CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 2) AS BIGINT)
               AS bucket,
             CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 3, 15) AS BIGINT)
               AS v
      FROM events),
    daily AS (  -- mergeable per-day partials: (day, type, bucket) -> max zeros
      SELECT event_type, day, bucket,
             MAX(CASE WHEN v = 0 THEN 61 ELSE 61 - length(bin(v)) END) AS mz
      FROM h GROUP BY event_type, day, bucket),
    merged AS (  -- sketch union = max per bucket (associative)
      SELECT event_type, bucket, MAX(mz) AS mz
      FROM daily GROUP BY event_type, bucket),
    days AS (
      SELECT event_type, COUNT(DISTINCT day) AS n_days
      FROM daily GROUP BY event_type),
    s AS (
      SELECT event_type, COUNT(*) AS n_buckets,
             SUM(CAST(1 AS HUGEINT) << (61 - mz)) AS sum_present
      FROM merged GROUP BY event_type)
    , sj AS (SELECT s.*, days.n_days FROM s JOIN days USING (event_type))
    SELECT event_type,
           CAST(n_days AS BIGINT) AS n_days,
           CAST(n_buckets AS BIGINT) AS n_buckets,
           CAST(CASE WHEN n_buckets < {_HLL_M}
                THEN list_extract([{", ".join(str(x) for x in _HLL_LC)}],
                                  CAST({_HLL_M} - n_buckets AS INT))
                ELSE (CAST({_HLL_A_E3} AS HUGEINT) * (CAST(1 AS HUGEINT) << 61))
                     // sum_present // 1000
                END AS BIGINT) AS est_users
    FROM sj
    """,
    survey_ops=("A3",),
    doc="Distinct users per event type via a PORTABLE HyperLogLog: "
    "bucket = first 8 bits of md5(user_id), rho-maxima over the next 60 "
    "bits (integer bit-length only), per-day partials union-merged by "
    "bucket MAX (the incremental A3 rollup shape — a new day never "
    "re-reads history), LogLog estimate in exact DECIMAL integer "
    "arithmetic with a precomputed-integer-table linear-counting "
    "fallback for the sparse regime. Every step is engine-exact, so the "
    "ESTIMATE itself hash-matches the oracle — the sketch-trust property "
    "the native-HLL twins cannot offer; accuracy vs the exact rollup is "
    "bounded in pytest. Scale: state is <= m=256 integers per "
    "(day, type) partial, map-side combinable, no distinct shuffle.",
)
def events_hll_portable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hll import SUM_PRESENT_SQL

    events = load_table(spark, sf_dir, "events")
    withday = events.select(
        "event_type", F.date_trunc("day", col("ts")).alias("day"), "user_id"
    )
    daily = _hll_partial(withday, ["event_type", "day"], "user_id")
    daily = daily.localCheckpoint()  # feeds the bucket merge AND the day count
    merged = daily.groupBy("event_type", "bucket").agg(F.max("mz").alias("mz"))
    days = daily.groupBy("event_type").agg(F.count_distinct("day").alias("n_days"))
    s = merged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(F.expr(SUM_PRESENT_SQL)).cast("decimal(38,0)").alias("sum_present"),
    ).join(broadcast(days), ["event_type"])
    return s.select(
        "event_type",
        col("n_days").cast("long").alias("n_days"),
        col("n_buckets").cast("long").alias("n_buckets"),
        _hll_estimate_expr("est_users"),
    )


# --------------------------------------------------------------------------
# HLL SET ALGEBRA: audience overlap between event types via
# inclusion-exclusion over the portable sketches. Union is the only set
# operation a HyperLogLog supports natively (bucket-wise max — exact, the
# merged sketch IS the sketch of the union); intersections derive as
# |A ∩ B| = est(A) + est(B) − est(A ∪ B). Everything stays in the
# portable integer estimator, so the DuckDB oracle reproduces every
# estimate bit for bit and the driver hash-verifies the set algebra
# itself — the audience-overlap matrix a 100 TB corpus computes from
# 256-register partials instead of a user_id-grain distinct join.
# --------------------------------------------------------------------------
@register(
    "events_hll_overlap",
    sql=f"""
    WITH h AS (
      SELECT event_type,
             CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 2) AS BIGINT)
               AS bucket,
             CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 3, 15) AS BIGINT)
               AS v
      FROM events),
    sk AS (
      SELECT event_type, bucket,
             MAX(CASE WHEN v = 0 THEN 61 ELSE 61 - length(bin(v)) END) AS mz
      FROM h GROUP BY event_type, bucket),
    s AS (
      SELECT event_type, COUNT(*) AS n_buckets,
             SUM(CAST(1 AS HUGEINT) << (61 - mz)) AS sum_present
      FROM sk GROUP BY event_type),
    e AS (
      SELECT event_type,
             CAST(CASE WHEN n_buckets < {_HLL_M}
                  THEN list_extract([{_HLL_LC_LIST}],
                                    CAST({_HLL_M} - n_buckets AS INT))
                  ELSE (CAST({_HLL_A_E3} AS HUGEINT) * (CAST(1 AS HUGEINT) << 61))
                       // sum_present // 1000
                  END AS BIGINT) AS est
      FROM s),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b
      FROM e a JOIN e b ON a.event_type < b.event_type),
    usk AS (
      SELECT p.type_a, p.type_b, sk.bucket, MAX(sk.mz) AS mz
      FROM pairs p JOIN sk ON sk.event_type IN (p.type_a, p.type_b)
      GROUP BY p.type_a, p.type_b, sk.bucket),
    us AS (
      SELECT type_a, type_b, COUNT(*) AS n_buckets,
             SUM(CAST(1 AS HUGEINT) << (61 - mz)) AS sum_present
      FROM usk GROUP BY type_a, type_b),
    ue AS (
      SELECT type_a, type_b,
             CAST(CASE WHEN n_buckets < {_HLL_M}
                  THEN list_extract([{_HLL_LC_LIST}],
                                    CAST({_HLL_M} - n_buckets AS INT))
                  ELSE (CAST({_HLL_A_E3} AS HUGEINT) * (CAST(1 AS HUGEINT) << 61))
                       // sum_present // 1000
                  END AS BIGINT) AS est_union
      FROM us)
    SELECT u.type_a, u.type_b,
           ea.est AS est_a, eb.est AS est_b, u.est_union,
           CAST(GREATEST(0, ea.est + eb.est - u.est_union) AS BIGINT)
             AS est_overlap,
           CAST(GREATEST(0, ea.est + eb.est - u.est_union) * 1000000
                // u.est_union AS BIGINT) AS jaccard_ppm
    FROM ue u
    JOIN e ea ON ea.event_type = u.type_a
    JOIN e eb ON eb.event_type = u.type_b
    """,
    survey_ops=("A3",),
    doc="Pairwise audience overlap between event types via PORTABLE HLL "
    "set algebra: per-type 256-register sketches (functions/hll.py), "
    "pair-union sketches by bucket-wise MAX (union is the one native HLL "
    "set op — the merged registers ARE the union's sketch), intersection "
    "by inclusion-exclusion est_a + est_b - est_union (clamped at 0 — "
    "I-E can go negative at sketch error scale), Jaccard as integer ppm "
    "of the union. Every estimate is the exact integer estimator, so the "
    "oracle matches bit for bit — the driver hash-verifies the set "
    "algebra, not just one sketch. Scale: the type×pair fan-out runs on "
    "sketch registers (types × ≤256 rows), never user_id grain; the only "
    "corpus-sized work is the one partial aggregate every HLL query "
    "shares. Accuracy vs the exact overlap is bounded in pytest.",
)
def events_hll_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    sk = _hll_partial(
        events.select("event_type", "user_id"), ["event_type"], "user_id"
    )
    # register-sized; feeds per-type + pair unions. Lazy (round 14): the
    # corpus-sized partial agg materializes inside the first consumer's
    # job instead of a dedicated eager checkpoint job.
    sk = sk.localCheckpoint(eager=False)
    est = (
        sk.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(F.expr(_HLL_SUM_PRESENT)).cast("decimal(38,0)").alias("sum_present"),
        )
        .select("event_type", _hll_estimate_expr("est"))
    )
    pa = est.select(col("event_type").alias("type_a"), col("est").alias("est_a"))
    pb = est.select(col("event_type").alias("type_b"), col("est").alias("est_b"))
    pairs = pa.crossJoin(pb).filter(col("type_a") < col("type_b"))
    # pairs is consumed twice (member expansion + the final estimate
    # join); without the checkpoint each consumer re-ran the per-type
    # estimate aggregate over sk twice more (round 14: -8% wall, plan
    # 20 -> 8 Exchanges)
    pairs = pairs.localCheckpoint(eager=False)
    members = pairs.select(
        "type_a",
        "type_b",
        F.explode(F.array("type_a", "type_b")).alias("event_type"),
    )
    usk = (
        sk.join(broadcast(members), ["event_type"])
        .groupBy("type_a", "type_b", "bucket")
        .agg(F.max("mz").alias("mz"))
    )
    ue = (
        usk.groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(F.expr(_HLL_SUM_PRESENT)).cast("decimal(38,0)").alias("sum_present"),
        )
        .select("type_a", "type_b", _hll_estimate_expr("est_union"))
    )
    return (
        ue.join(broadcast(pairs), ["type_a", "type_b"])
        .select(
            "type_a",
            "type_b",
            "est_a",
            "est_b",
            "est_union",
            F.expr(
                "CAST(GREATEST(0, est_a + est_b - est_union) AS BIGINT)"
            ).alias("est_overlap"),
            F.expr(
                "CAST(GREATEST(0, est_a + est_b - est_union) * 1000000"
                " div est_union AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
    )


# --------------------------------------------------------------------------
# Grouped least-squares trend — the regression member of the analytics
# family: per-brand price-vs-shipdate OLS slope from the five classic
# sufficient statistics (n, Σx, Σy, Σxy, Σx²), every one an exact BIGINT
# sum, mergeable map-side — the same partial-aggregate shape as every
# other sketch here. The slope is the cross-multiplied integer form
# slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²), emitted in ppm via a
# divide-the-denominator trick that keeps EVERY intermediate inside
# int64: Spark's `div` on DECIMAL(38,0) silently overflows to long
# (measured), so the spec is long-typed by construction. Magnitude
# budget: |num| ≤ n²·max(x)·max(y) ≈ n²·2.7e8 — safe to n ≈ 180k rows
# per group (~sf0.75); beyond that the spec escalates the accumulators
# to DECIMAL and the ppm scaling to a two-step divide, documented here
# so the limit is a constant, not a surprise.
# --------------------------------------------------------------------------
@register(
    "part_price_trend",
    sql="""
    WITH pts AS (
      SELECT p_brand,
             CAST(datediff('day', DATE '1992-01-01', l_shipdate) AS BIGINT) AS x,
             CAST(ROUND(l_extendedprice) AS BIGINT) AS y
      FROM lineitem JOIN part ON l_partkey = p_partkey),
    s AS (
      SELECT p_brand,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM pts GROUP BY p_brand),
    d AS (
      SELECT p_brand, n, sy,
             n * sxy - sx * sy AS num,
             n * sxx - sx * sx AS den
      FROM s)
    SELECT p_brand,
           n AS n_rows,
           CAST(sy // n AS BIGINT) AS avg_dollars,
           CAST(CASE WHEN num < 0
                     THEN -((-num) // (den // 1000000))
                     ELSE num // (den // 1000000) END AS BIGINT)
             AS slope_ppm
    FROM d
    WHERE den >= 1000000
    """,
    survey_ops=("A2",),
    doc="Per-brand OLS price trend: x = days since 1992-01-01, y = whole "
    "dollars, slope from the cross-multiplied integer normal equation "
    "(nΣxy − ΣxΣy)/(nΣx² − (Σx)²) in ppm — all five sufficient "
    "statistics are exact BIGINT sums with map-side partial combine (one "
    "shuffle at brand grain), the incremental-friendly regression shape: "
    "partials from disjoint shards ADD, so the same statistics roll up a "
    "100 TB fact table or fold into a maintained view. Division happens "
    "once per group on the 25-row aggregate: ppm via num // (den // 1e6) "
    "keeps every intermediate in int64 (Spark div on DECIMAL(38,0) "
    "overflows silently — measured), negatives route through the "
    "sign/abs split because Spark div truncates while DuckDB // floors. "
    "part joins broadcast (dimension-sized).",
)
def part_price_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.datediff(col("l_shipdate"), F.lit("1992-01-01").cast("date"))
        .cast("long")
        .alias("x"),
        F.round(col("l_extendedprice")).cast("long").alias("y"),
    )
    part = load_table(spark, sf_dir, "part").select(
        col("p_partkey").alias("l_partkey"), "p_brand"
    )
    s = (
        li.join(broadcast(part), ["l_partkey"])
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(col("x") * col("y")).cast("long").alias("sxy"),
            F.sum(col("x") * col("x")).cast("long").alias("sxx"),
        )
    )
    d = s.select(
        "p_brand",
        "n",
        "sy",
        (col("n") * col("sxy") - col("sx") * col("sy")).alias("num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).alias("den"),
    ).filter(col("den") >= 1_000_000)
    return d.select(
        "p_brand",
        col("n").alias("n_rows"),
        F.expr("sy div n").cast("long").alias("avg_dollars"),
        F.expr(
            "CAST(CASE WHEN num < 0 THEN -((-num) div (den div 1000000)) "
            "ELSE num div (den div 1000000) END AS BIGINT)"
        ).alias("slope_ppm"),
    )


# --------------------------------------------------------------------------
# k-core decomposition — the fourth distributed-graph primitive beside
# PageRank, connected components, and the triangle census: iterative
# peeling of nodes with degree < k until fixpoint, the standard dense-
# subgraph / spam-cluster extraction on co-occurrence graphs. The spec is
# FIXED-ROUND (like the BPE trainer): exactly _KCORE_ROUNDS peel rounds,
# each one degree-aggregate + one survivor semi-join per endpoint, with a
# per-round census so the oracle hash covers the whole cascade, not just
# the endpoint. k=80 converges within the round budget on this corpus at
# every gate scale (measured: sf0.01 round 5, sf0.1 round 6).
# --------------------------------------------------------------------------
_KCORE_K = 80
_KCORE_ROUNDS = 6


def _kcore_oracle_sql() -> str:
    # Every CTE is AS MATERIALIZED: DuckDB inlines plain CTEs, and each
    # round references the previous round's edge set 3-4 times — inlined,
    # the base scan would expand ~4^rounds times (measured: thousands of
    # parquet file opens, dying on EMFILE long before any answer).
    rounds = _KCORE_ROUNDS
    ctes = [
        _COPURCHASE_PAIRS_SQL,
        "e0 AS MATERIALIZED (SELECT a, b FROM copairs)",
    ]
    census = [
        "SELECT CAST(0 AS BIGINT) AS round, (SELECT CAST(COUNT(DISTINCT n) AS BIGINT) FROM "
        "(SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0) z) AS n_nodes, "
        "(SELECT CAST(COUNT(*) AS BIGINT) FROM e0) AS n_edges"
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""s{r} AS MATERIALIZED (
      SELECT n FROM (SELECT a AS n FROM e{r-1} UNION ALL SELECT b FROM e{r-1}) z
      GROUP BY n HAVING COUNT(*) >= {_KCORE_K})"""
        )
        ctes.append(
            f"""e{r} AS MATERIALIZED (
      SELECT e.a, e.b FROM e{r-1} e
      JOIN s{r} sa ON e.a = sa.n JOIN s{r} sb ON e.b = sb.n)"""
        )
        census.append(
            f"SELECT CAST({r} AS BIGINT) AS round, (SELECT CAST(COUNT(*) AS BIGINT) FROM s{r})"
            f" AS n_nodes, (SELECT CAST(COUNT(*) AS BIGINT) FROM e{r}) AS n_edges"
        )
    return (
        "WITH " + ",\n    ".join(ctes) + "\n    "
        + "\n    UNION ALL ".join(census)
    )


@register(
    "part_kcore_census",
    sql=_kcore_oracle_sql(),
    survey_ops=("W3",),
    doc=f"k-core peel census of the co-purchase graph (edge = parts ever "
    f"co-ordered, k={_KCORE_K}, {_KCORE_ROUNDS} fixed rounds): each round "
    "drops nodes whose degree fell below k and the edges touching them — "
    "survivors' degrees drop, cascading — and emits (round, n_nodes, "
    "n_edges), so the driver hash verifies the ENTIRE cascade trajectory. "
    "The edge set is NEVER rewritten: survivor sets shrink monotonically, "
    "so round r's graph is always the ORIGINAL edge list induced on the "
    "current survivor set — each round costs ONE scan of the once-"
    "checkpointed edges through two broadcast survivor-key joins feeding "
    "a node-grain degree aggregate; the only per-round state is the "
    "degree table, and the census reads n_edges as sum(d)/2 from it for "
    "free. The O(rounds * m) peel with O(n) state is the standard "
    "distributed k-core shape (Montresor et al.); dense-subgraph "
    "extraction = the spam/bot-cluster filter of a co-occurrence graph "
    "at corpus scale.",
)
def part_kcore_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Incremental-degree peel (round 13): the edge list is folded ONCE into
    # a node-grain adjacency (n -> distinct co-order neighbours); every
    # round then maintains degrees by SUBTRACTING the edges lost to that
    # round's peeled set instead of re-aggregating all 2|E| endpoint rows.
    # deg_r(n) = deg_{r-1}(n) - #edges(n, peeled_r) is exact: deg_{r-1}
    # counts edges to surv_{r-1}, deg_r counts edges to surv_r, and
    # peeled_r = surv_{r-1} \ surv_r (a node isolated by its neighbours'
    # removal carries d = 0 here — same surv sets, since k > 0). The
    # per-round cost drops from one full-edge aggregate (the round-12
    # shape: 6 shuffles of 2|E| rows) to one node-grain scan joined
    # against the BROADCAST peeled frontier — work ∝ edges actually
    # peeled, which is exactly the 7%-of-edges this graph loses in total.
    baskets, _ = _copurchase_pairs(spark, sf_dir)
    sym = baskets.select(
        F.explode(
            F.expr(
                "filter(flatten(transform(items, a -> transform(items,"
                " b -> struct(a AS n, b AS m)))), p -> p.n != p.m)"
            )
        ).alias("p")
    ).select(col("p.n").alias("n"), col("p.m").alias("m"))
    # ONE shuffle on the node key builds the adjacency state (collect_set
    # dedups multi-order co-occurrence — same distinct-pair edge grain as
    # the copairs CTE the oracle peels); checkpointed once, scanned
    # node-grain per round, never rewritten. Measured alternative
    # (rejected, round 13): building a distinct (src, dst) edge-row frame
    # off the copairs aggregate — half the explode volume, no set
    # buffers — was ~25% SLOWER: checkpointing 2|E| narrow rows costs
    # more than checkpointing |V| adjacency-array rows.
    adj = (
        sym.groupBy("n")
        .agg(F.collect_set("m").alias("nbrs"))
        .select("n", F.size("nbrs").cast("long").alias("d0"), "nbrs")
        .localCheckpoint()
    )

    # Driver-state peel (round 13, second pass): the degree STATE is
    # node-grain — |V| (n, d) pairs, part-dimension sized — while the
    # EDGES (the payload the graph-cap doc forbids collecting for
    # this ~300x-larger graph) stay distributed in the checkpointed
    # adjacency. Under the node cap, hold the degree dict on the driver:
    # each non-empty round costs ONE small job (adjacency of the peeled
    # frontier, aggregated to a <= |V|-row decrement table — the same
    # `dec` aggregate the distributed loop runs, minus its survivor join
    # and per-round localCheckpoint), and the census rows are driver
    # arithmetic. The old code already shipped the peeled frontier from
    # the driver via broadcast(); collecting the node-grain dec back is
    # the same bounded-payload class. A round that peels nothing costs
    # zero jobs (the cascade is monotone, the census row repeats). The
    # limit-probe fuses the cap gate and the degree collect into one job
    # (over the cap, CollectLimit short-circuits after cap+1 rows). Routes
    # identical by tests/test_graph_props.py; over the cap the unchanged
    # distributed loop below runs.
    from ..operators import components

    cap = components._GRAPH_DRIVER_CAP
    probe = adj.select("n", "d0").limit(cap + 1).collect()
    if len(probe) <= cap:
        d = {r[0]: r[1] for r in probe}
        rows = [(0, len(d), sum(d.values()) // 2)]
        for r in range(1, _KCORE_ROUNDS + 1):
            peeled = [n for n in d if d[n] < _KCORE_K]
            if peeled:
                for p in peeled:
                    del d[p]
                peeled_df = local_df(
                    spark, [(int(p),) for p in peeled], "p long"
                )
                dec_rows = (
                    adj.join(broadcast(peeled_df), adj["n"] == peeled_df["p"])
                    .select(F.explode("nbrs").alias("n"))
                    .groupBy("n")
                    .agg(F.count(F.lit(1)).alias("c"))
                    .collect()
                )
                for n, c in dec_rows:
                    if n in d:  # decrements aimed at peeled nodes drop
                        d[n] -= c
            rows.append((r, len(d), sum(d.values()) // 2))
        return local_df(spark, rows, "round long, n_nodes long, n_edges long")

    # Distributed peel, frontier-worklist form (round 14): each round
    # costs ONE job — the next degree state is checkpointed lazily and a
    # single (count, sum(d), count(d < k)) aggregate over it both
    # materializes the checkpoint and hands the driver that round's
    # census scalars PLUS the next round's frontier size. A round whose
    # frontier is empty is never scheduled: the cascade is monotone, so
    # once count(d < k) = 0 every later round repeats the census row —
    # emitted as driver arithmetic, zero jobs (the r13 shape paid a
    # checkpoint job per round plus a 7-branch union of aggregates at
    # the end, empty rounds included). Census values are identical: the
    # aggregate reads the same deg_r state the union form aggregated.
    stats = adj.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.coalesce(F.sum("d0"), F.lit(0)).cast("long").alias("s"),
        F.count(F.when(col("d0") < _KCORE_K, 1)).cast("long").alias("below"),
    ).collect()[0]
    n_nodes, sum_d, below = stats["n"], stats["s"], stats["below"]
    rows = [(0, n_nodes, sum_d // 2)]
    deg = adj.select("n", col("d0").alias("d"))
    for r in range(1, _KCORE_ROUNDS + 1):
        if below == 0:  # nothing peels: the census row repeats, no job
            rows.append((r, n_nodes, sum_d // 2))
            continue
        surv = deg.filter(col("d") >= _KCORE_K)
        # edges lost this round: explode ONLY the peeled nodes' adjacency
        # lists; decrements aimed at already-peeled nodes drop in the
        # survivor join below (their edges were never in deg_{r-1})
        peeled = deg.filter(col("d") < _KCORE_K).select(col("n").alias("p"))
        dec = (
            adj.join(broadcast(peeled), adj["n"] == peeled["p"])
            .select(F.explode("nbrs").alias("n"))
            .groupBy("n")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )
        deg = (
            surv.join(dec, ["n"], "left")
            .select(
                "n", (col("d") - F.coalesce(col("c"), F.lit(0))).alias("d")
            )
            .localCheckpoint(eager=False)  # the ONLY per-round state
        )
        stats = deg.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.coalesce(F.sum("d"), F.lit(0)).cast("long").alias("s"),
            F.count(F.when(col("d") < _KCORE_K, 1)).cast("long").alias("below"),
        ).collect()[0]
        n_nodes, sum_d, below = stats["n"], stats["s"], stats["below"]
        rows.append((r, n_nodes, sum_d // 2))
    return local_df(spark, rows, "round long, n_nodes long, n_edges long")


# --------------------------------------------------------------------------
# Label-propagation communities over the co-purchase graph — the fourth
# graph primitive beside components/PageRank/triangles/k-core: community
# = dense substitute/complement clusters, the merchandising signal. Like
# the k-core and BPE loops this is FIXED-ROUND (exactly _LPA_ROUNDS
# synchronous sweeps) with total-order tie-breaks (neighbor-label count
# DESC, label ASC), so the result is deterministic on both engines —
# classic async LPA is run-order dependent and can never hash-verify.
# --------------------------------------------------------------------------
_LPA_ROUNDS = 4


def _lpa_round_sql(prev: str, cur: str) -> str:
    # MATERIALIZED: each round references the previous; DuckDB inlines
    # plain CTEs and would re-expand the base scan ~4^rounds times
    return f"""{cur} AS MATERIALIZED (
      SELECT dst AS n, lab FROM (
        SELECT e.dst, l.lab,
               ROW_NUMBER() OVER (PARTITION BY e.dst
                                  ORDER BY COUNT(*) DESC, l.lab) AS rn
        FROM esym e JOIN {prev} l ON l.n = e.src
        GROUP BY e.dst, l.lab) z
      WHERE rn = 1)"""


_LPA_ROUNDS_SQL = ",\n    ".join(
    _lpa_round_sql(f"l{r}", f"l{r + 1}") for r in range(_LPA_ROUNDS)
)


@register(
    "part_label_propagation",
    sql=f"""
    WITH {_COPURCHASE_PAIRS_SQL},
    edges AS (SELECT a, b FROM copairs WHERE c_ab >= {_TRI_MIN_COORDER}),
    esym AS MATERIALIZED (
      SELECT a AS src, b AS dst FROM edges
      UNION ALL SELECT b, a FROM edges),
    l0 AS MATERIALIZED (SELECT DISTINCT src AS n, src AS lab FROM esym),
    {_LPA_ROUNDS_SQL}
    SELECT CAST(lab AS BIGINT) AS community,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MIN(n) AS BIGINT) AS min_part
    FROM l{_LPA_ROUNDS}
    GROUP BY lab
    HAVING COUNT(*) >= 3
    """,
    survey_ops=(),
    doc=f"Synchronous label propagation ({_LPA_ROUNDS} fixed rounds) over "
    "the co-purchase graph (same edge spec as part_triangle_count): each "
    "sweep every node adopts its neighbors' most frequent label (count "
    "DESC, label ASC tie-break — determinism instead of async LPA's "
    "run-order dependence). Output = communities of >= 3 parts with size "
    "and canonical member. Scale shape: per round ONE edge-grain join "
    "against the node-grain label table and one (node, label) aggregate "
    "— O(rounds x |E|) total, the supplier_pagerank loop shape with "
    "lineage truncated per round; no per-node fan-out materializes "
    "beyond the neighbor-label histogram.",
)
def part_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, copairs = _copurchase_pairs(spark, sf_dir)
    edges = copairs.filter(col("c_ab") >= _TRI_MIN_COORDER).select("a", "b")
    # Bounded driver fast path (round 13): same cap/fallback as
    # part_triangle_count — under the cap run the exact synchronous
    # sweeps driver-side (identical tie-break), skipping _LPA_ROUNDS
    # join+agg+checkpoint Spark jobs on a 3.6k-edge graph.
    rows, edges = _bounded_edge_collect(edges)
    if rows is not None:
        lab = _driver_lpa(rows, _LPA_ROUNDS)
        agg: "dict[int, list[int]]" = {}
        for n, c in lab.items():
            cur = agg.get(c)
            if cur is None:
                agg[c] = [1, n]
            else:
                cur[0] += 1
                cur[1] = min(cur[1], n)
        out = [
            (c, cnt, mn) for c, (cnt, mn) in agg.items() if cnt >= 3
        ]
        return local_df(
            spark, out, "community long, n_members long, min_part long"
        )
    esym = edges.select(col("a").alias("src"), col("b").alias("dst")).unionAll(
        edges.select(col("b").alias("src"), col("a").alias("dst"))
    )
    esym = esym.localCheckpoint()  # reused every round
    labels = esym.select(col("src").alias("n")).distinct().select(
        "n", col("n").alias("lab")
    )
    # Per-round shape (round 13): labels are node-grain (part-dimension
    # sized) while the checkpointed esym frame loses its partitioning, so
    # the old sort-merge join re-shuffled all edge rows every sweep;
    # BROADCAST the label table instead (same dimension-side call as the
    # degree tables in part_triangle_count). The winner pick is a
    # struct-MAX over (count, -label) — argmax with the identical
    # (count DESC, label ASC) total order as the old row_number window,
    # but partially aggregatable map-side: the wire carries one candidate
    # per (dst, lab) partition instead of sorting the full histogram
    # under a window (2 exchanges + sort → 1 partial-agg exchange).
    for _ in range(_LPA_ROUNDS):
        hist = (
            esym.join(broadcast(labels), esym.src == labels.n)
            .groupBy("dst", "lab")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            hist.groupBy("dst")
            .agg(F.max(F.struct(col("c"), (-col("lab")).alias("nl"))).alias("m"))
            .select(col("dst").alias("n"), (-col("m.nl")).alias("lab"))
            .localCheckpoint()  # truncate the iterative lineage
        )
    return (
        labels.groupBy(col("lab").cast("long").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.min("n").cast("long").alias("min_part"),
        )
        .filter(col("n_members") >= 3)
    )


# --------------------------------------------------------------------------
# Minimum-cost supplier per part — the TPC-H Q2 shape (correlated min +
# multi-way join-back) over the observed trade data: for every ECONOMY
# part, which supplier has shipped it at the lowest unit price, and from
# which nation. Unit prices ride integer cents; the per-part winner is a
# window argmin with a full (cost, suppkey) tie-break.
# --------------------------------------------------------------------------
@register(
    "cheapest_supplier_per_part",
    sql="""
    WITH cost AS (
      SELECT l_partkey, l_suppkey,
             MIN(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                 // CAST(l_quantity AS BIGINT)) AS unit_cents
      FROM lineitem GROUP BY l_partkey, l_suppkey),
    best AS (
      SELECT l_partkey, l_suppkey, unit_cents FROM cost
      QUALIFY ROW_NUMBER() OVER (PARTITION BY l_partkey
                                 ORDER BY unit_cents, l_suppkey) = 1)
    SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_name, n.n_name,
           b.unit_cents
    FROM best b
    JOIN part p ON p.p_partkey = b.l_partkey AND p.p_type = 'ECONOMY'
    JOIN supplier s ON s.s_suppkey = b.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    """,
    survey_ops=("J5", "W1"),
    doc="TPC-H Q2-shaped sourcing query: per (part, supplier) minimum "
    "observed unit price in integer cents (exact: price cents DIV "
    "integral quantity), then the per-part cheapest supplier via window "
    "argmin with (cost, suppkey) tie-break, joined back to part, "
    "supplier, and nation dims — ECONOMY parts only. Scale shape: the "
    "fact table collapses to (part, supplier) grain in one map-"
    "combinable aggregate BEFORE any join; the three dim joins are "
    "broadcasts; the window partitions by part over supplier-count-"
    "bounded groups.",
)
def cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(
            F.expr(
                "CAST(ROUND(l_extendedprice * 100) AS BIGINT)"
                " div CAST(l_quantity AS BIGINT)"
            )
        ).alias("unit_cents")
    )
    w = Window.partitionBy("l_partkey").orderBy("unit_cents", "l_suppkey")
    best = (
        cost.withColumn("rn", F.row_number().over(w))
        .filter(col("rn") == 1)
        .drop("rn")
    )
    return (
        best.join(
            broadcast(part.filter(col("p_type") == "ECONOMY")),
            best.l_partkey == col("p_partkey"),
        )
        .join(broadcast(supplier), best.l_suppkey == col("s_suppkey"))
        .join(broadcast(nation), col("s_nationkey") == col("n_nationkey"))
        .select(
            "p_partkey", "p_name", "s_suppkey", "s_name", "n_name",
            "unit_cents",
        )
    )


# --------------------------------------------------------------------------
# Maintained-CMS gate: the driver-visible proof for operators/cms_state.py,
# the same promotion the CDC and lexical-index states have. The events
# table is folded into a persisted CMSTopKState in THREE batches; the
# maintained top-k (read from the bounded candidate table against the
# merged cells — never a rescan of raw history) must hash-match the
# batch count-min oracle over the full table. The gate keys on the
# 50-value user BUCKET so the 64-slot candidate table provably holds
# every key — the hash match is STRUCTURAL, not data-dependent; the
# bounded-candidate pruning/re-entry policy on unbounded keys is
# exercised separately in tests/test_cms_state.py.
# --------------------------------------------------------------------------
_CMS_GATE_KEYS = 50  # < CMSTopKState's 64 candidate slots, by construction


@register(
    "cms_maintained_topk",
    sql=f"""
    WITH {_cms_sketch_sql(f"user_id % {_CMS_GATE_KEYS}")}
    SELECT key AS user_bucket, CAST(est_n AS BIGINT) AS est_n
    FROM est
    ORDER BY est_n DESC, user_bucket
    LIMIT {_CMS_TOP}
    """,
    survey_ops=("A3", "A4"),
    doc="Maintained count-min heavy hitters through a REAL three-batch "
    "fold into the persisted CMSTopKState (operators/cms_state.py): "
    "additive cell merges with watermark replay guards, candidate table "
    "re-probed against the merged sketch each fold. Keys are 50-value "
    "user buckets, strictly fewer than the 64 candidate slots, so the "
    "candidate table provably retains every key and the oracle hash "
    "match is structural (the pruning/re-entry policy on unbounded keys "
    "is property-tested in tests/test_cms_state.py). The oracle "
    "recomputes the batch sketch over the full events table through the "
    "SAME shared CTE fragment as events_user_cms_topk. Gate cost is the "
    "real merge I/O (~6 versioned commits).",
)
def cms_maintained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from ..operators.cms_state import CMSTopKState

    ev = load_table(spark, sf_dir, "events").select(
        (col("user_id") % _CMS_GATE_KEYS).alias("user_bucket"), "event_id"
    )
    base = tempfile.mkdtemp(prefix="cms_state_gate_")
    try:
        st = CMSTopKState(os.path.join(base, "cms"), key="user_bucket")
        for wm in range(3):
            st.fold(
                spark,
                ev.filter(col("event_id") % 3 == wm),
                watermark=wm + 1,
            )
        out = st.topk(spark, _CMS_TOP).select("user_bucket", "est_n")
        return out.localCheckpoint()
    finally:
        shutil.rmtree(base, ignore_errors=True)


# --------------------------------------------------------------------------
# Waiting-supplier audit — the TPC-H Q21 shape (chained EXISTS + NOT
# EXISTS self-joins on the fact table) over the observed trade data: for
# finalized multi-supplier orders, which supplier shipped late while
# every OTHER supplier on the order shipped on time — the one party that
# kept the whole order waiting. "Late" = shipped more than 60 days after
# the order date (this corpus has no commit/receipt dates).
#
# Spark-first plan: the textbook form runs TWO correlated self-joins of
# the fact table (semi for "another supplier exists", anti for "no other
# late supplier") — three fact-grain shuffles. Both quantifiers are
# per-order aggregates, so they ride ONE window over the order partition
# instead: EXISTS other-supplier == n_suppliers >= 2, NOT EXISTS other
# late supplier == n_late_suppliers = 1 given this supplier is late.
# The fact shuffles ONCE (on l_orderkey, shared by the orders join, the
# (order, supplier) collapse, and both window counts) — the r8
# groupBy+join-back lesson (SCALE.md) applied to relational quantifiers.
# --------------------------------------------------------------------------
@register(
    "waiting_suppliers",
    sql="""
    WITH f AS (
      SELECT l.l_orderkey, l.l_suppkey,
             CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                  THEN 1 ELSE 0 END AS late
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'F'),
    g AS (SELECT l_orderkey, l_suppkey,
                 CAST(MAX(late) AS BIGINT) AS has_late
          FROM f GROUP BY l_orderkey, l_suppkey),
    w AS (SELECT l_suppkey, has_late,
                 COUNT(*) OVER (PARTITION BY l_orderkey) AS n_supp,
                 SUM(has_late) OVER (PARTITION BY l_orderkey) AS n_late
          FROM g)
    SELECT s.s_suppkey, s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM w JOIN supplier s ON s.s_suppkey = w.l_suppkey
    WHERE has_late = 1 AND n_supp > 1 AND n_late = 1
    GROUP BY s.s_suppkey, s.s_name
    """,
    survey_ops=("J6", "J8"),
    doc="TPC-H Q21-shaped waiting-supplier audit: suppliers whose line "
    "was the ONLY late one on a finalized multi-supplier order, counted "
    "per supplier. The EXISTS (another supplier on the order) and NOT "
    "EXISTS (another LATE supplier) quantifiers are order-grain "
    "aggregates, so the plan replaces the textbook pair of correlated "
    "fact self-joins with two window counts over the same l_orderkey "
    "partition the orders join already shuffled on — the fact table "
    "moves once, suppliers join by broadcast, and the final rollup is "
    "supplier-grain. Reference analog: the NOT EXISTS gating pattern of "
    "src/be_db_geocoder.erl:33 composed with J8's set-membership "
    "semantics.",
)
def waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    f = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        F.expr(
            "CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAYS"
            " THEN 1 ELSE 0 END"
        ).alias("late"),
    )
    # pin the fact's one shuffle to l_orderkey: the (order, supplier)
    # collapse and BOTH window counts then reuse it (subset-key rule).
    # Without this, a broadcast orders join leaves the fact unpartitioned
    # and the agg keys on (order, supplier) — forcing a SECOND fact
    # shuffle for the order window (measured 3 → 2 exchanges). When the
    # orders join is itself a shuffle join (the 100 TB regime), Spark
    # removes this node as redundant — same key, no extra movement.
    g = (
        f.repartition("l_orderkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("late").cast("long").alias("has_late"))
    )
    wo = Window.partitionBy("l_orderkey")
    w = g.select(
        "l_suppkey",
        "has_late",
        F.count(F.lit(1)).over(wo).alias("n_supp"),
        F.sum("has_late").over(wo).alias("n_late"),
    )
    return (
        w.filter(
            (col("has_late") == 1) & (col("n_supp") > 1) & (col("n_late") == 1)
        )
        .join(broadcast(supplier), col("l_suppkey") == col("s_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
    )


# --------------------------------------------------------------------------
# Small-lot revenue audit — the TPC-H Q17 shape (correlated per-part
# average subquery) over the observed trade data: revenue booked on
# lineitems whose quantity is under 20% of their part's average order
# quantity, for SMALL-type parts — the "stop stocking micro-lots" number.
# Exact integers: 0.2·avg(qty) as the cross-multiplied 5·qty·cnt < Σqty,
# prices in cents, yearly average by integer division.
# --------------------------------------------------------------------------
@register(
    "small_lot_revenue",
    sql="""
    WITH f AS (
      SELECT l.l_partkey,
             CAST(l.l_quantity AS BIGINT) AS qty,
             CAST(ROUND(l.l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_type = 'SMALL'),
    w AS (SELECT qty, cents,
                 SUM(qty) OVER (PARTITION BY l_partkey) AS sq,
                 CAST(COUNT(*) OVER (PARTITION BY l_partkey) AS BIGINT) AS cnt
          FROM f)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_small_lots,
           CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS lost_revenue_cents,
           CAST(COALESCE(SUM(cents), 0) // 7 AS BIGINT) AS avg_yearly_cents
    FROM w WHERE 5 * qty * cnt < sq
    """,
    survey_ops=("J10",),
    doc="TPC-H Q17-shaped small-lot audit: per-part average order "
    "quantity as a correlated threshold (a lineitem qualifies when "
    "qty < 0.2 x its part's average), summed revenue of qualifying "
    "lines in integer cents, yearly average by integer division. The "
    "correlated subquery is a window over the SAME l_partkey partition "
    "the part join shuffled to — cross-multiplied to 5*qty*cnt < sum_qty "
    "so no division enters the predicate; the part dim filters by "
    "broadcast BEFORE the fact shuffles, and the final reduce is a "
    "1-row aggregate.",
)
def small_lot_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    part = (
        load_table(spark, sf_dir, "part")
        .filter(col("p_type") == "SMALL")
        .select("p_partkey")
    )
    f = li.join(broadcast(part), li.l_partkey == part.p_partkey).select(
        "l_partkey",
        F.expr("CAST(l_quantity AS BIGINT)").alias("qty"),
        F.expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").alias("cents"),
    )
    wo = Window.partitionBy("l_partkey")
    w = f.select(
        "qty",
        "cents",
        F.sum("qty").over(wo).alias("sq"),
        F.count(F.lit(1)).over(wo).cast("long").alias("cnt"),
    )
    hit = w.filter(F.expr("5 * qty * cnt < sq"))
    return hit.agg(
        F.count(F.lit(1)).cast("long").alias("n_small_lots"),
        F.coalesce(F.sum("cents"), F.lit(0)).cast("long").alias(
            "lost_revenue_cents"
        ),
        F.expr("CAST(COALESCE(SUM(cents), 0) div 7 AS BIGINT)").alias(
            "avg_yearly_cents"
        ),
    )


# --------------------------------------------------------------------------
# Large-volume customers — the TPC-H Q18 shape (HAVING-subquery semi-join
# against the fact): orders whose total line quantity clears a threshold,
# attributed to their customers. The classic "find the whales" scan.
# --------------------------------------------------------------------------
_Q18_MIN_QTY = 250


@register(
    "large_volume_customers",
    sql=f"""
    WITH big AS (
      SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS tot_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS BIGINT)) > {_Q18_MIN_QTY})
    SELECT c.c_custkey, c.c_name,
           CAST(COUNT(*) AS BIGINT) AS n_big_orders,
           CAST(SUM(b.tot_qty) AS BIGINT) AS total_qty,
           CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_price_cents
    FROM big b
    JOIN orders o ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
    survey_ops=("A6",),
    doc="TPC-H Q18-shaped whale-customer scan: the fact collapses to "
    f"per-order quantity totals in ONE map-combinable aggregate, the "
    f"HAVING threshold (> {_Q18_MIN_QTY}) prunes to the rare big orders "
    "BEFORE any join, and the surviving order keys join orders (shuffle "
    "on the orderkey both sides already share) then the customer dim by "
    "broadcast. Prices ride integer cents. Scale shape: the only "
    "fact-grain work is the first aggregate; everything after is "
    "big-order-grain.",
)
def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name"
    )
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.expr("CAST(l_quantity AS BIGINT)")).cast("long").alias("tot_qty"))
        .filter(col("tot_qty") > _Q18_MIN_QTY)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(broadcast(customer), col("o_custkey") == col("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_big_orders"),
            F.sum("tot_qty").cast("long").alias("total_qty"),
            F.sum(F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)"))
            .cast("long")
            .alias("total_price_cents"),
        )
    )


# --------------------------------------------------------------------------
# Excess-capacity suppliers — the TPC-H Q20 shape (nested semi-join chain:
# suppkey IN a set defined by an aggregate HAVING over a correlated
# per-(part, supplier) subquery, with the part list itself a semi-join).
# This corpus has no partsupp/availqty, so "capacity" is what the supplier
# demonstrably shipped: a (supplier, part) pair is in EXCESS when its
# all-time shipped quantity is more than double what the 1997 demand year
# took — idle capacity the buyer should renegotiate. Scoped to PROMO parts
# and three nations, counted per supplier.
# --------------------------------------------------------------------------
_Q20_NATIONS = ("NATION_3", "NATION_7", "NATION_11")
_Q20_YEAR = 1997


@register(
    "excess_capacity_suppliers",
    sql=f"""
    WITH ps AS (
      SELECT l.l_suppkey,
             SUM(CAST(l.l_quantity AS BIGINT)) AS total_qty,
             SUM(CASE WHEN year(l.l_shipdate) = {_Q20_YEAR}
                      THEN CAST(l.l_quantity AS BIGINT) ELSE 0 END) AS y_qty
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_type = 'PROMO'
      GROUP BY l.l_suppkey, l.l_partkey),
    excess AS (
      SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_excess_parts
      FROM ps WHERE y_qty > 0 AND total_qty > 2 * y_qty
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, e.n_excess_parts
    FROM excess e
    JOIN supplier s ON s.s_suppkey = e.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE n.n_name IN {_Q20_NATIONS}
    """,
    survey_ops=("J8", "J10"),
    doc="TPC-H Q20-shaped excess-capacity audit: suppliers (in a nation "
    "set) having PROMO parts whose all-time shipped quantity exceeds "
    f"double the {_Q20_YEAR} demand — the textbook form is suppkey IN "
    "(SELECT ... WHERE partkey IN (part filter) AND availqty > correlated "
    "SUM over the fact), i.e. a quantifier over a correlated aggregate "
    "two levels deep (J8 + J10 composed). Spark-first plan: the part "
    "filter broadcasts BEFORE the fact moves; both the correlated SUM and "
    "its 1997 slice collapse into ONE conditional hash aggregate at "
    "(supplier, part) grain with map-side combine (the exchange carries "
    "partial aggregates, never raw fact rows — cheaper at 100 TB than "
    "pinning a single raw-fact shuffle); the HAVING prunes to excess "
    "pairs, the supplier rollup is pair-grain, and supplier x nation "
    "joins by broadcast. No correlated re-scan of the fact, no self-join. "
    "Reference analog: the set-membership gating of "
    "src/be_db_follower.erl:86-108 handler filters composed with J10's "
    "correlated-aggregate semantics.",
)
def excess_capacity_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_partkey", "l_quantity", "l_shipdate"
    )
    part = (
        load_table(spark, sf_dir, "part")
        .filter(col("p_type") == "PROMO")
        .select("p_partkey")
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    nation = (
        load_table(spark, sf_dir, "nation")
        .filter(col("n_name").isin(*_Q20_NATIONS))
        .select("n_nationkey")
    )
    ps = (
        li.join(broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(F.expr("CAST(l_quantity AS BIGINT)")).alias("total_qty"),
            F.sum(
                F.expr(
                    f"CASE WHEN year(l_shipdate) = {_Q20_YEAR}"
                    " THEN CAST(l_quantity AS BIGINT) ELSE 0 END"
                )
            ).alias("y_qty"),
        )
    )
    excess = (
        ps.filter((col("y_qty") > 0) & (col("total_qty") > 2 * col("y_qty")))
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_excess_parts"))
    )
    dim = supplier.join(
        broadcast(nation), col("s_nationkey") == col("n_nationkey")
    ).select("s_suppkey", "s_name")
    return excess.join(
        broadcast(dim), col("l_suppkey") == col("s_suppkey")
    ).select("s_suppkey", "s_name", "n_excess_parts")


# --------------------------------------------------------------------------
# Important part values — the TPC-H Q11 shape (HAVING against a GLOBAL
# aggregate scalar subquery): parts whose traded value through suppliers
# of a nation group exceeds a fixed fraction of the group's total traded
# value. No partsupp table in this corpus, so "stock value" is the traded
# value observed in the fact table. The classic concentration screen.
# --------------------------------------------------------------------------
_Q11_NATIONS = ("NATION_5", "NATION_14")
_Q11_FRACTION_DENOM = 1000  # keep parts with value > total / 1000


@register(
    "important_part_value",
    sql=f"""
    WITH v AS (
      SELECT l.l_partkey,
             SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS value_cents
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      WHERE n.n_name IN {_Q11_NATIONS}
      GROUP BY l.l_partkey),
    t AS (SELECT CAST(SUM(value_cents) AS BIGINT) AS total_cents FROM v)
    SELECT v.l_partkey, CAST(v.value_cents AS BIGINT) AS value_cents
    FROM v CROSS JOIN t
    WHERE v.value_cents * {_Q11_FRACTION_DENOM} > t.total_cents
    """,
    survey_ops=("J10", "A6"),
    doc="TPC-H Q11-shaped value-concentration screen: per-part traded "
    "value through a nation group's suppliers, kept where the part's "
    f"value exceeds 1/{_Q11_FRACTION_DENOM} of the group total. The "
    "global scalar subquery in HAVING is the per-part value frame "
    "re-aggregated to ONE row and broadcast back over itself (never a "
    "second fact scan); the supplier x nation filter broadcasts BEFORE "
    "the fact's single map-combined shuffle on l_partkey; the threshold "
    "comparison is integer cents cross-multiplied — no division, no "
    "float. The lazy localCheckpoint shares the part-value frame "
    "between the total and the filter without recomputing it.",
)
def important_part_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_partkey", "l_extendedprice"
    )
    nation = (
        load_table(spark, sf_dir, "nation")
        .filter(col("n_name").isin(*_Q11_NATIONS))
        .select("n_nationkey")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(broadcast(nation), col("s_nationkey") == col("n_nationkey"))
        .select("s_suppkey")
    )
    v = (
        li.join(broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy("l_partkey")
        .agg(
            F.sum(F.expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)"))
            .cast("long")
            .alias("value_cents")
        )
        .localCheckpoint(eager=False)
    )
    t = v.agg(F.sum("value_cents").cast("long").alias("total_cents"))
    return (
        v.crossJoin(broadcast(t))
        .filter(col("value_cents") * _Q11_FRACTION_DENOM > col("total_cents"))
        .select("l_partkey", "value_cents")
    )


# --------------------------------------------------------------------------
# Sales-opportunity customers — the TPC-H Q22 shape (scalar AVG subquery
# + NOT EXISTS anti-join, rolled up by country group): customers in a
# nation group holding more than the group's average positive balance who
# have NEVER placed an order — the untapped-demand report.
# --------------------------------------------------------------------------
_Q22_NATIONS = (1, 5, 9, 13, 17, 21, 24)
_Q22_RECENT = "2000-06-01"  # dormant = no order on/after this date


@register(
    "sales_opportunity_customers",
    sql=f"""
    WITH pool AS (
      SELECT c_custkey, c_nationkey,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
      FROM customer WHERE c_nationkey IN {_Q22_NATIONS}),
    t AS (SELECT CAST(SUM(bal_cents) AS BIGINT) AS pos_sum,
                 CAST(COUNT(*) AS BIGINT) AS pos_cnt
          FROM pool WHERE bal_cents > 0),
    hot AS (SELECT p.c_custkey, p.c_nationkey, p.bal_cents
            FROM pool p CROSS JOIN t
            WHERE p.bal_cents * t.pos_cnt > t.pos_sum),
    dormant AS (
      SELECT h.* FROM hot h
      WHERE NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = h.c_custkey
                          AND o.o_orderdate >= DATE '{_Q22_RECENT}'))
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(bal_cents) AS BIGINT) AS totacctbal_cents
    FROM dormant
    GROUP BY c_nationkey
    """,
    survey_ops=("J6", "J10"),
    doc="TPC-H Q22-shaped untapped-demand report: nation-group customers "
    "above the group's average POSITIVE balance (the scalar AVG subquery "
    "rides a broadcast 1-row singleton, compared cross-multiplied as "
    "bal x cnt > sum so no division enters the predicate) anti-joined "
    f"against RECENT orders (NOT EXISTS an order since {_Q22_RECENT} — "
    "every customer here eventually orders, so dormancy is recency), "
    "rolled up per nation in integer cents. Scale shape: the customer "
    "dim filters and compares map-side; the only fact-grain work is the "
    "anti-join, whose date filter pushes to the parquet scan and which "
    "shuffles a single pruned o_custkey column against the (tiny) "
    "hot-customer frame; the "
    "rollup is dormant-customer-grain. Composes the above_avg_balance "
    "(J10) and customers_without_orders (J6) primitives the way the "
    "textbook query does.",
)
def sales_opportunity_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    pool = (
        load_table(spark, sf_dir, "customer")
        .filter(col("c_nationkey").isin(*_Q22_NATIONS))
        .select(
            "c_custkey",
            "c_nationkey",
            F.expr("CAST(ROUND(c_acctbal * 100) AS BIGINT)").alias("bal_cents"),
        )
        .localCheckpoint(eager=False)
    )
    t = pool.filter(col("bal_cents") > 0).agg(
        F.sum("bal_cents").cast("long").alias("pos_sum"),
        F.count(F.lit(1)).cast("long").alias("pos_cnt"),
    )
    hot = pool.crossJoin(broadcast(t)).filter(
        col("bal_cents") * col("pos_cnt") > col("pos_sum")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(col("o_orderdate") >= _Q22_RECENT)
        .select("o_custkey")
    )
    dormant = hot.join(
        orders, hot.c_custkey == orders.o_custkey, "left_anti"
    )
    return dormant.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("numcust"),
        F.sum("bal_cents").cast("long").alias("totacctbal_cents"),
    )


# --------------------------------------------------------------------------
# Top quarter supplier — the TPC-H Q15 shape (argmax over an aggregate
# view, TIES RETAINED): the supplier(s) with the maximum revenue in a
# quarter. The textbook form materializes a revenue view and compares it
# to its own scalar MAX; a global ORDER BY ... LIMIT 1 would both lose
# ties and pay a full sort.
# --------------------------------------------------------------------------
_Q15_QUARTER = ("1997-01-01", "1997-04-01")


@register(
    "top_quarter_supplier",
    sql=f"""
    WITH r AS (
      SELECT l_suppkey,
             {dsum_expr('l_extendedprice * (1 - l_discount)')} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= DATE '{_Q15_QUARTER[0]}'
        AND l_shipdate < DATE '{_Q15_QUARTER[1]}'
      GROUP BY l_suppkey),
    t AS (SELECT MAX(total_revenue) AS max_rev FROM r)
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM r CROSS JOIN t
    JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.total_revenue = t.max_rev
    """,
    survey_ops=("A6", "W3"),
    doc="TPC-H Q15-shaped quarter-champion lookup: per-supplier quarter "
    "revenue (date filter pushed to the parquet scan, ONE map-combined "
    "fact shuffle on l_suppkey, exact-decimal accumulation so the double "
    "compares bit-identically on both engines), then the scalar MAX of "
    "the (small) revenue frame broadcasts back over it as a 1-row "
    "singleton and the equality filter RETAINS ties — no global sort, no "
    "LIMIT-1 tie loss. The supplier dim joins by broadcast after the "
    "argmax prunes to a handful of rows. The lazy localCheckpoint shares "
    "the revenue frame between the MAX and the filter without "
    "recomputing the fact aggregate.",
)
def top_quarter_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount", "l_shipdate"
    )
    r = (
        li.filter(
            (col("l_shipdate") >= _Q15_QUARTER[0])
            & (col("l_shipdate") < _Q15_QUARTER[1])
        )
        .groupBy("l_suppkey")
        .agg(dsum(F.expr("l_extendedprice * (1 - l_discount)"), "total_revenue"))
        .localCheckpoint(eager=False)
    )
    t = r.agg(F.max("total_revenue").alias("max_rev"))
    supplier = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        r.crossJoin(broadcast(t))
        .filter(col("total_revenue") == col("max_rev"))
        .join(broadcast(supplier), col("l_suppkey") == col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


# --------------------------------------------------------------------------
# Intra-nation revenue — the TPC-H Q5 shape (the classic 6-way snowflake
# join with a NON-KEY equi-condition: the supplier must sit in the SAME
# nation as the customer). Revenue a region's nations keep "in-house",
# the local-supplier-volume report.
# --------------------------------------------------------------------------
_Q5_REGIONS = ("ASIA", "EUROPE")
_Q5_WINDOW = ("1996-01-01", "1998-01-01")


@register(
    "intra_nation_revenue",
    sql=f"""
    SELECT n.n_name,
           {dsum_expr('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
                   AND s.s_nationkey = c.c_nationkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name IN {_Q5_REGIONS}
      AND o.o_orderdate >= DATE '{_Q5_WINDOW[0]}'
      AND o.o_orderdate < DATE '{_Q5_WINDOW[1]}'
    GROUP BY n.n_name
    """,
    survey_ops=("J4", "A6"),
    doc="TPC-H Q5-shaped local-supplier-volume report: the 6-way "
    "snowflake (lineitem, orders, customer, supplier, nation, region) "
    "with the non-key intra-nation condition s_nationkey = c_nationkey, "
    "rolled up per nation with exact-decimal revenue. Spark-first plan: "
    "the ONLY fact-grain shuffle is lineitem x orders on the orderkey "
    "(the date window pushes to the orders parquet scan first); "
    "customer, supplier, and the region-filtered nation all broadcast, "
    "and the intra-nation filter rides the supplier broadcast join's "
    "non-key condition — no extra exchange. The final nation-grain "
    "rollup moves map-combined partials only. The textbook plan order "
    "(customer-first) would shuffle the fact twice; joining the "
    "orderkey-partitioned side first and decorating with broadcast dims "
    "keeps one.",
)
def intra_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (col("o_orderdate") >= _Q5_WINDOW[0])
            & (col("o_orderdate") < _Q5_WINDOW[1])
        )
        .select("o_orderkey", "o_custkey")
    )
    nation = (
        load_table(spark, sf_dir, "nation")
        .join(
            broadcast(
                load_table(spark, sf_dir, "region")
                .filter(col("r_name").isin(*_Q5_REGIONS))
                .select("r_regionkey")
            ),
            col("n_regionkey") == col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    f = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(broadcast(customer), col("o_custkey") == col("c_custkey"))
        .join(
            broadcast(supplier),
            (col("l_suppkey") == col("s_suppkey"))
            & (col("s_nationkey") == col("c_nationkey")),
        )
        .join(broadcast(nation), col("c_nationkey") == col("n_nationkey"))
    )
    return f.groupBy("n_name").agg(
        dsum(F.expr("l_extendedprice * (1 - l_discount)"), "revenue"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
    )


# --------------------------------------------------------------------------
# The remaining classic TPC-H shapes, completing the family (Q1→
# pricing_summary, Q3→top_revenue_orders, Q4→order_priority_counts,
# Q2-like→cheapest_supplier_per_part, Q5/Q11/Q15/Q17/Q18/Q20/Q21/Q22
# above). Each exists for its PLAN lesson, stated per query.
# --------------------------------------------------------------------------
_Q6_YEAR = ("1997-01-01", "1998-01-01")


@register(
    "forecast_revenue_change",
    sql=f"""
    SELECT {dsum_expr('l_extendedprice * l_discount')} AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= DATE '{_Q6_YEAR[0]}' AND l_shipdate < DATE '{_Q6_YEAR[1]}'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
    survey_ops=("A2",),
    doc="TPC-H Q6-shaped what-if filter aggregate: revenue impact of "
    "dropping small-quantity mid-discount lines in one year. The plan "
    "lesson is PURE PUSHDOWN: every predicate (date window, discount "
    "band, quantity cap) reaches the parquet scan, the projection is "
    "two columns, and the whole query is scan → map-side partial sum → "
    "one 1-row exchange. On 100 TB this is the query that must run at "
    "I/O speed; any Exchange beyond the final singleton or any unpruned "
    "column is a regression (plan-gated).",
)
def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (col("l_shipdate") >= _Q6_YEAR[0])
            & (col("l_shipdate") < _Q6_YEAR[1])
            & (col("l_discount") >= 0.05)
            & (col("l_discount") <= 0.07)
            & (col("l_quantity") < 24)
        )
        .agg(
            dsum(F.expr("l_extendedprice * l_discount"), "revenue"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
    )


_Q7_PAIR = ("NATION_2", "NATION_7")


@register(
    "nation_pair_trade_volume",
    sql=f"""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
           {dsum_expr('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    JOIN nation cn ON cn.n_nationkey = c.c_nationkey
    WHERE (sn.n_name = '{_Q7_PAIR[0]}' AND cn.n_name = '{_Q7_PAIR[1]}')
       OR (sn.n_name = '{_Q7_PAIR[1]}' AND cn.n_name = '{_Q7_PAIR[0]}')
    GROUP BY sn.n_name, cn.n_name, year(l.l_shipdate)
    """,
    survey_ops=("J4", "A6"),
    doc="TPC-H Q7-shaped bilateral trade report: shipping volume between "
    "a nation pair, both directions, by ship year. Plan lesson: the "
    "DISJUNCTIVE cross-table predicate (either nation can be either "
    "side) cannot prune the fact scan, but both nation dims broadcast "
    "with their IN-list filter applied first, so the OR evaluates "
    "map-side after broadcast joins — the only fact-grain exchange is "
    "the lineitem x orders orderkey join, and the rollup is "
    "pair x year grain. Exact-decimal revenue.",
)
def nation_pair_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    nation = load_table(spark, sf_dir, "nation").filter(
        col("n_name").isin(*_Q7_PAIR)
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    sn = nation.select(
        col("n_nationkey").alias("sn_key"), col("n_name").alias("supp_nation")
    )
    cn = nation.select(
        col("n_nationkey").alias("cn_key"), col("n_name").alias("cust_nation")
    )
    f = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(broadcast(customer), col("o_custkey") == col("c_custkey"))
        .join(broadcast(supplier), col("l_suppkey") == col("s_suppkey"))
        .join(broadcast(sn), col("s_nationkey") == col("sn_key"))
        .join(broadcast(cn), col("c_nationkey") == col("cn_key"))
        .filter(
            (
                (col("supp_nation") == _Q7_PAIR[0])
                & (col("cust_nation") == _Q7_PAIR[1])
            )
            | (
                (col("supp_nation") == _Q7_PAIR[1])
                & (col("cust_nation") == _Q7_PAIR[0])
            )
        )
    )
    return f.groupBy(
        "supp_nation",
        "cust_nation",
        F.year("l_shipdate").cast("long").alias("l_year"),
    ).agg(
        dsum(F.expr("l_extendedprice * (1 - l_discount)"), "revenue"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
    )


_Q8_NATION = "NATION_2"
_Q8_REGION = "ASIA"


@register(
    "nation_market_share",
    sql=f"""
    WITH vol AS (
      SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
             CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,6)) AS v,
             sn.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation cn ON cn.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = cn.n_regionkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation sn ON sn.n_nationkey = s.s_nationkey
      WHERE r.r_name = '{_Q8_REGION}')
    SELECT o_year,
           CAST(COALESCE(SUM(CASE WHEN supp_nation = '{_Q8_NATION}' THEN v END),
                         0) AS DOUBLE) AS nation_volume,
           CAST(SUM(v) AS DOUBLE) AS total_volume,
           CAST(COALESCE(SUM(CASE WHEN supp_nation = '{_Q8_NATION}' THEN v END),
                         0) AS DOUBLE) / CAST(SUM(v) AS DOUBLE) AS mkt_share
    FROM vol GROUP BY o_year
    """,
    survey_ops=("A6",),
    doc="TPC-H Q8-shaped market-share trend: one nation's share of a "
    "region's purchased volume per order year. Plan lesson: the share "
    "is a CONDITIONAL aggregate over the SAME rows as the total — one "
    "fact pass, one rollup, never two scans joined back; both the "
    "numerator and denominator accumulate in exact DECIMAL and the "
    "single double division at the end is deterministic on both "
    "engines. Region filter prunes the customer-nation dim BEFORE "
    "broadcast; the one fact-grain exchange is the orderkey join.",
)
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    region = (
        load_table(spark, sf_dir, "region")
        .filter(col("r_name") == _Q8_REGION)
        .select("r_regionkey")
    )
    cn = (
        load_table(spark, sf_dir, "nation")
        .join(broadcast(region), col("n_regionkey") == col("r_regionkey"))
        .select(col("n_nationkey").alias("cn_key"))
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    sn = load_table(spark, sf_dir, "nation").select(
        col("n_nationkey").alias("sn_key"), col("n_name").alias("supp_nation")
    )
    v = F.expr(f"CAST(l_extendedprice * (1 - l_discount) AS {DEC})")
    nation_v = F.when(col("supp_nation") == _Q8_NATION, col("v"))
    f = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(broadcast(customer), col("o_custkey") == col("c_custkey"))
        .join(broadcast(cn), col("c_nationkey") == col("cn_key"))
        .join(broadcast(supplier), col("l_suppkey") == col("s_suppkey"))
        .join(broadcast(sn), col("s_nationkey") == col("sn_key"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            v.alias("v"),
            "supp_nation",
        )
    )
    return f.groupBy("o_year").agg(
        F.coalesce(F.sum(nation_v), F.lit(0)).cast("double").alias("nation_volume"),
        F.sum("v").cast("double").alias("total_volume"),
        (
            F.coalesce(F.sum(nation_v), F.lit(0)).cast("double")
            / F.sum("v").cast("double")
        ).alias("mkt_share"),
    )


_Q9_PART = "bolt"


@register(
    "product_type_profit",
    sql=f"""
    SELECT sn.n_name AS nation, CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
           {dsum_expr('l.l_extendedprice * (1 - l.l_discount)'
                      ' - l.l_quantity * p.p_retailprice * 0.4')} AS profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%{_Q9_PART}%'
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    GROUP BY sn.n_name, year(o.o_orderdate)
    """,
    survey_ops=("A6",),
    doc="TPC-H Q9-shaped product-line profit: per supplier nation and "
    "order year, profit on a part family (revenue minus a 40%-of-retail "
    "cost proxy — this corpus has no partsupp.supplycost). Plan lesson: "
    "the LIKE-filtered part dim broadcasts BEFORE the fact moves, "
    "shrinking the fact to the family's lines ahead of the orderkey "
    "join (the one fact-grain exchange); supplier and nation broadcast; "
    "the profit expression is a fixed per-row double evaluation "
    "accumulated in exact DECIMAL, so both engines agree bit-for-bit.",
)
def product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount", "l_quantity",
    )
    part = (
        load_table(spark, sf_dir, "part")
        .filter(col("p_name").like(f"%{_Q9_PART}%"))
        .select("p_partkey", "p_retailprice")
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        col("n_nationkey"), col("n_name").alias("nation")
    )
    f = (
        li.join(broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, col("l_orderkey") == col("o_orderkey"))
        .join(broadcast(supplier), col("l_suppkey") == col("s_suppkey"))
        .join(broadcast(nation), col("s_nationkey") == col("n_nationkey"))
    )
    return f.groupBy(
        "nation", F.year("o_orderdate").cast("long").alias("o_year")
    ).agg(
        dsum(
            F.expr(
                "l_extendedprice * (1 - l_discount)"
                " - l_quantity * p_retailprice * 0.4"
            ),
            "profit",
        )
    )


_Q10_TOP = 20


@register(
    "returned_item_customers",
    sql=f"""
    SELECT c.c_custkey, c.c_name,
           {dsum_expr('l.l_extendedprice * (1 - l.l_discount)')} AS lost_revenue,
           CAST(COUNT(*) AS BIGINT) AS n_returned_lines
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name
    ORDER BY lost_revenue DESC, c.c_custkey
    LIMIT {_Q10_TOP}
    """,
    survey_ops=("A6", "W3"),
    doc="TPC-H Q10-shaped returned-item ranking: the customers who "
    "returned the most revenue. Plan lesson: the returnflag predicate "
    "pushes to the fact scan, the customer attribution rides the "
    "orderkey join (one fact-grain exchange) plus a broadcast customer "
    "dim, and the top-20 is TakeOrderedAndProject over the "
    "customer-grain rollup — no global sort. Revenue is exact-decimal "
    "so the DESC order (and the tie-break on c_custkey) is identical "
    "on both engines.",
)
def returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name"
    )
    g = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(broadcast(customer), col("o_custkey") == col("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(
            dsum(F.expr("l_extendedprice * (1 - l_discount)"), "lost_revenue"),
            F.count(F.lit(1)).cast("long").alias("n_returned_lines"),
        )
    )
    return g.orderBy(col("lost_revenue").desc(), col("c_custkey")).limit(_Q10_TOP)


_Q19_BRACKETS = (
    ("Brand#1", 1, 15, 1, 20),
    ("Brand#3", 10, 30, 10, 30),
    ("Brand#5", 20, 50, 20, 40),
)


def _q19_pred_sql() -> str:
    return " OR ".join(
        f"(p.p_brand = '{b}' AND p.p_size BETWEEN {s0} AND {s1}"
        f" AND l.l_quantity BETWEEN {q0} AND {q1})"
        for b, s0, s1, q0, q1 in _Q19_BRACKETS
    )


@register(
    "bracketed_discount_revenue",
    sql=f"""
    SELECT {dsum_expr('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE {_q19_pred_sql()}
    """,
    survey_ops=("J4",),
    doc="TPC-H Q19-shaped bracketed-predicate revenue: a DISJUNCTION of "
    "three (brand, size-range, quantity-range) brackets spanning both "
    "tables. Plan lesson: the cross-table OR cannot be pushed whole, "
    "but Catalyst derives the single-table residuals — the part dim "
    "pre-filters to the three brands/size union BEFORE broadcasting, "
    "the fact scan keeps the derived quantity envelope, and the full "
    "disjunction evaluates map-side inside the broadcast hash join. "
    "Zero fact-grain exchanges: scan → broadcast join → 1-row reduce.",
)
def bracketed_discount_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    pred = None
    for b, s0, s1, q0, q1 in _Q19_BRACKETS:
        c = (
            (col("p_brand") == b)
            & col("p_size").between(s0, s1)
            & col("l_quantity").between(q0, q1)
        )
        pred = c if pred is None else (pred | c)
    return (
        li.join(broadcast(part), li.l_partkey == part.p_partkey)
        .filter(pred)
        .agg(
            dsum(F.expr("l_extendedprice * (1 - l_discount)"), "revenue"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
    )


@register(
    "customer_order_distribution",
    sql="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist FROM (
      SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey) g
    GROUP BY c_count
    """,
    survey_ops=("A2",),
    doc="TPC-H Q13-shaped customer-activity distribution: how many "
    "customers placed N orders, INCLUDING the zero-order customers the "
    "left join keeps (COUNT(o_orderkey) ignores the null of a "
    "no-match row — the classic outer-join-count idiom). Plan lesson: "
    "a double aggregation where the second stage's input is already "
    "customer-grain — the fact-grain work is one map-combined count "
    "per custkey; the distribution rollup moves |customers| rows, and "
    "at 100 TB the left join shuffles orders' pruned o_custkey column "
    "only.",
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    g = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return g.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("long").alias("custdist")
    )


_Q14_WINDOW = ("1997-03-01", "1997-06-01")


@register(
    "promo_revenue_share",
    sql=f"""
    SELECT {dsum_expr("CASE WHEN p.p_type = 'PROMO'"
                      " THEN l.l_extendedprice * (1 - l.l_discount) END")}
             AS promo_revenue,
           {dsum_expr('l.l_extendedprice * (1 - l.l_discount)')} AS total_revenue,
           {dsum_expr("CASE WHEN p.p_type = 'PROMO'"
                      " THEN l.l_extendedprice * (1 - l.l_discount) END")}
             / {dsum_expr('l.l_extendedprice * (1 - l.l_discount)')} AS promo_share
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= DATE '{_Q14_WINDOW[0]}'
      AND l.l_shipdate < DATE '{_Q14_WINDOW[1]}'
    """,
    survey_ops=("A6",),
    doc="TPC-H Q14-shaped promo-revenue share over a ship-date window: "
    "the conditional numerator and the total ride ONE fact pass (no "
    "second scan joined back), the date window pushes to the fact scan, "
    "the part-type dim broadcasts, and both sums accumulate in exact "
    "DECIMAL with one double division at the end — the single-quarter "
    "twin of nation_market_share's per-year trend.",
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (col("l_shipdate") >= _Q14_WINDOW[0])
            & (col("l_shipdate") < _Q14_WINDOW[1])
        )
        .select("l_partkey", "l_extendedprice", "l_discount")
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.expr(f"CAST(l_extendedprice * (1 - l_discount) AS {DEC})")
    promo = F.when(col("p_type") == "PROMO", rev)
    return (
        li.join(broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.sum(promo).cast("double").alias("promo_revenue"),
            F.sum(rev).cast("double").alias("total_revenue"),
            (F.sum(promo).cast("double") / F.sum(rev).cast("double")).alias(
                "promo_share"
            ),
        )
    )


_Q16_TYPES = ("SMALL", "MEDIUM")
_Q16_SIZES = (1, 9, 19, 29, 39)


@register(
    "part_supplier_diversity",
    sql=f"""
    SELECT p.p_brand, p.p_size,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_type IN {_Q16_TYPES} AND p.p_size IN {_Q16_SIZES}
      AND l.l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_size
    """,
    survey_ops=("J6", "A3"),
    doc="TPC-H Q16-shaped supplier-diversity census: distinct supplier "
    "count per (brand, size) for selected part families, EXCLUDING a "
    "supplier blacklist (negative balance stands in for the reference's "
    "complaint filter — this corpus has no comment columns). Plan "
    "lesson: the NOT IN subquery becomes a broadcast anti-join on the "
    "(tiny, pre-filtered) blacklist — never a shuffled NOT-IN-null "
    "trap, s_suppkey is non-null by schema; the part attribute filters "
    "prune the dim BEFORE broadcast; count(distinct) expands to the "
    "classic two-level hash aggregate on the same (brand, size) "
    "shuffle key.",
)
def part_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = (
        load_table(spark, sf_dir, "part")
        .filter(
            col("p_type").isin(*_Q16_TYPES) & col("p_size").isin(*_Q16_SIZES)
        )
        .select("p_partkey", "p_brand", "p_size")
    )
    blacklist = (
        load_table(spark, sf_dir, "supplier")
        .filter(col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(broadcast(part), li.l_partkey == part.p_partkey)
        .join(
            broadcast(blacklist),
            col("l_suppkey") == col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


# --------------------------------------------------------------------------
# Hot-key salted join — the reference's reward-account hotspot
# (migrations/1597773017-rewards.sql:17-36: one account receives most
# payouts) as a driver-verified join gate. 70% of the fact rows are
# remapped to ONE account, then the per-account rollup joins the supplier
# dimension through operators/skew.py::salted_join: the hot key spreads
# over 16 salt buckets so no reducer owns 70% of the fact side, and the
# result PROVABLY equals the plain join (the DuckDB oracle runs the
# unsalted SQL). Integer-cents arithmetic keeps the sum engine-exact.
# --------------------------------------------------------------------------
@register(
    "reward_hotspot_salted_join",
    sql="""
    WITH fact AS (
      SELECT CASE WHEN l_orderkey % 10 < 7 THEN 1 ELSE l_suppkey END AS acct,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)) AS amt
      FROM lineitem)
    SELECT f.acct, s.s_name,
           CAST(COUNT(*) AS BIGINT) AS n_payouts,
           CAST(SUM(f.amt) AS BIGINT) AS amount_fp
    FROM fact f JOIN supplier s ON s.s_suppkey = f.acct
    GROUP BY f.acct, s.s_name
    """,
    survey_ops=("J2",),
    doc="Skew-resilient join gate: lineitem remapped so ~70% of rows hit "
    "account 1 (the reference's hot reward account, "
    "migrations/1597773017-rewards.sql:17-36), joined to the supplier "
    "dimension via salted_join (operators/skew.py) — fact rows salt into "
    "16 buckets with pmod(hash(key, row-id)), the dim side explodes 16x, "
    "and the join key becomes (acct, __salt) so the hot key spreads "
    "across reducers instead of melting one. The oracle computes the "
    "PLAIN unsalted join: hash equality is the salted ≡ plain contract. "
    "tests/test_lake_skew.py bounds per-task input under heavy skew; "
    "tests/test_plans.py pins the salt explode + (key, salt) shuffle in "
    "the physical plan. At 100 TB this is the explicit fallback when "
    "AQE's skew splitting cannot help (e.g. a broadcast-ineligible dim "
    "with a single pathological key).",
)
def reward_hotspot_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    fact = li.select(
        F.expr(
            "CASE WHEN l_orderkey % 10 < 7 THEN 1 ELSE l_suppkey END"
        ).alias("acct"),
        F.expr(
            "CAST(ROUND(l_extendedprice * 100) AS BIGINT)"
            " * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))"
        ).alias("amt"),
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        col("s_suppkey").alias("acct"), "s_name"
    )
    # model the 100 TB scenario the operator exists for: a dim too big to
    # broadcast (at test scale supplier WOULD broadcast, which makes the
    # salt moot — AQE/broadcast already wins that case). The hint forces
    # the shuffled join so the plan gate can pin the (acct, __salt)
    # partitioning actually spreading the hot key.
    j = salted_join(fact, supp.hint("shuffle_hash"), "acct")
    return j.groupBy("acct", "s_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_payouts"),
        F.sum("amt").cast("long").alias("amount_fp"),
    )
