"""General window-function coverage beyond w1/w2/w3 (SURVEY §2.8
engine-extension row): lag/lead, ntile, percent_rank/cume_dist,
first/last_value frames, and rows-frame moving aggregates.

The reference's only window-ish computation is the consecutive-event
pairing (M1, randomWalkUtils-free transition pairs); a warehouse engine
needs the full ranking/navigation family.  Determinism discipline: every
window ORDER BY carries a unique tiebreaker, nullable lag/lead outputs
are COALESCEd to sentinels (pandas turns nullable ints into floats —
keep the compare integral), and moving averages divide two EXACT
quantities (DECIMAL running sum / row count) so the only float is the
final division.

Scale notes: all windows here partition by a real key (customer, brand,
order, or nothing-but-aggregated-days) — the one global window (w5
ntile) runs on data already reduced to |customers| rows and documents
its approx-quantile scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..schema import load_table
from .registry import query


# --- W4: lag/lead — inter-order gaps per customer ---------------------------


@query(
    "w4_order_gap_days",
    oracle="""
    SELECT o_custkey, o_orderkey,
           epoch_us(o_orderdate) AS order_us,
           COALESCE(date_diff('day',
               LAG(o_orderdate) OVER w, o_orderdate), -1) AS gap_days,
           COALESCE(epoch_us(LEAD(o_orderdate) OVER w), -1) AS next_order_us
    FROM orders
    WHERE o_custkey < 100
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, o_orderdate, o_orderkey
    """,
)
def w4_order_gap_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead navigation: days since each customer's previous order
    and timestamp of the next one.  The window shuffles once on
    o_custkey; first/last rows COALESCE to -1 sentinels so the compare
    stays integral.  The custkey filter pushes to the scan (this is a
    per-entity timeline query, not a full-table export)."""
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") < 100)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("order_us"),
            F.coalesce(
                F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w)),
                F.lit(-1),
            ).cast("long").alias("gap_days"),
            F.coalesce(
                F.unix_micros(F.lead("o_orderdate").over(w).cast("timestamp")),
                F.lit(-1),
            ).alias("next_order_us"),
        )
        .orderBy("o_custkey", "order_us", "o_orderkey")
    )


# --- W5: ntile — balance quartiles ------------------------------------------


@query(
    "w5_balance_quartiles",
    oracle="""
    SELECT quartile, count(*) AS n_customers,
           ROUND(CAST(MIN(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 6)
               AS min_bal,
           ROUND(CAST(MAX(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 6)
               AS max_bal
    FROM (
        SELECT c_acctbal,
               NTILE(4) OVER (ORDER BY c_acctbal, c_custkey) AS quartile
        FROM customer
    )
    GROUP BY quartile
    ORDER BY quartile
    """,
)
def w5_balance_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile(4) bucketing of customer balances with a unique (balance,
    custkey) order so bucket boundaries are deterministic.  The global
    window funnels |customers| rows through one partition — acceptable
    because the input is a dimension; for a 100 TB fact the scale path
    is approx_percentile cut points + a width_bucket join (no global
    sort)."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.orderBy("c_acctbal", "c_custkey")
    bal = F.col("c_acctbal").cast("decimal(18,2)")
    return (
        cust.select(
            bal.alias("bal"), F.ntile(4).over(w).cast("long").alias("quartile")
        )
        .groupBy("quartile")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.min("bal").cast("double"), 6).alias("min_bal"),
            F.round(F.max("bal").cast("double"), 6).alias("max_bal"),
        )
        .orderBy("quartile")
    )


# --- W6: percent_rank / cume_dist within brand ------------------------------


@query(
    "w6_price_position",
    oracle="""
    SELECT p_partkey, p_brand,
           ROUND(PERCENT_RANK() OVER w, 6) AS price_pct_rank,
           ROUND(CUME_DIST() OVER w, 6) AS price_cume_dist
    FROM part
    WHERE p_size <= 10
    WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice)
    ORDER BY p_partkey
    """,
)
def w6_price_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative price position of each part within its brand:
    percent_rank (rank-based, tie rows share a value) and cume_dist.
    Both are pure rank arithmetic — deterministic under ties without a
    tiebreaker, since equal prices get equal positions.  One shuffle on
    p_brand."""
    part = load_table(spark, sf_dir, "part").where(F.col("p_size") <= 10)
    w = Window.partitionBy("p_brand").orderBy("p_retailprice")
    return (
        part.select(
            "p_partkey",
            "p_brand",
            F.round(F.percent_rank().over(w), 6).alias("price_pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("price_cume_dist"),
        )
        .orderBy("p_partkey")
    )


# --- W7: first_value / last_value with an explicit full frame ---------------


@query(
    "w7_order_shipping_span",
    oracle="""
    SELECT DISTINCT l_orderkey,
           FIRST_VALUE(l_partkey) OVER w AS first_partkey,
           LAST_VALUE(l_partkey) OVER w AS last_partkey,
           date_diff('day',
               FIRST_VALUE(l_shipdate) OVER w,
               LAST_VALUE(l_shipdate) OVER w) AS span_days
    FROM lineitem
    WHERE l_orderkey < 1000
    WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_shipdate, l_linenumber
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ORDER BY l_orderkey
    """,
)
def w7_order_shipping_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last shipped part per order via an explicit UNBOUNDED
    PRECEDING..UNBOUNDED FOLLOWING frame — the classic last_value
    gotcha (the default frame stops at CURRENT ROW, silently returning
    the current row as 'last').  (shipdate, linenumber) is a unique
    order within each l_orderkey so both endpoints are deterministic;
    DISTINCT collapses the per-line duplicates to one row per order."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 1000)
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy("l_shipdate", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        li.select(
            "l_orderkey",
            F.first("l_partkey").over(w).alias("first_partkey"),
            F.last("l_partkey").over(w).alias("last_partkey"),
            F.datediff(
                F.last("l_shipdate").over(w), F.first("l_shipdate").over(w)
            ).cast("long").alias("span_days"),
        )
        .distinct()
        .orderBy("l_orderkey")
    )


# --- W8: rows-frame moving aggregate over a pre-aggregated series -----------


@query(
    "w8_weekly_moving_revenue",
    oracle="""
    WITH daily AS (
        SELECT date_trunc('day', o_orderdate) AS d,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS day_rev
        FROM orders GROUP BY 1
    )
    SELECT epoch_us(d) AS day_us,
           ROUND(CAST(day_rev AS DOUBLE), 6) AS day_rev,
           ROUND(CAST(SUM(day_rev) OVER w AS DOUBLE)
                 / (COUNT(*) OVER w), 6) AS moving_avg_7d
    FROM daily
    WINDOW w AS (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    ORDER BY day_us
    """,
)
def w8_weekly_moving_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-row moving average of daily revenue.  The raw fact is FIRST
    reduced to |days| rows (one shuffle), and only then windowed — the
    global window is over the tiny aggregated series, never the fact.
    The moving average divides an exact DECIMAL running sum by the
    frame's row count, so both engines float only at the division."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.date_trunc("day", "o_orderdate").alias("d")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("day_rev")
    )
    w = Window.orderBy("d").rowsBetween(-6, Window.currentRow)
    return (
        daily.select(
            F.unix_micros(F.col("d").cast("timestamp")).alias("day_us"),
            F.round(F.col("day_rev").cast("double"), 6).alias("day_rev"),
            F.round(
                F.sum("day_rev").over(w).cast("double")
                / F.count("*").over(w),
                6,
            ).alias("moving_avg_7d"),
        )
        .orderBy("day_us")
    )


# --- W9: RANGE frame over event time (trailing 30-day revenue) ---------------


@query(
    "w9_trailing_30d_revenue",
    oracle="""
    WITH co AS (
        SELECT o_custkey,
               date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                   AS order_day,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS day_total
        FROM orders
        WHERE o_custkey < 200
        GROUP BY 1, 2
    )
    SELECT o_custkey, CAST(order_day AS BIGINT) AS order_day,
           ROUND(CAST(SUM(day_total) OVER (
               PARTITION BY o_custkey ORDER BY order_day
               RANGE BETWEEN 30 PRECEDING AND CURRENT ROW
           ) AS DOUBLE), 6) AS trailing_30d
    FROM co
    """,
)
def w9_trailing_30d_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 30-DAY revenue per customer — a RANGE frame over event
    time, the sibling of w8's ROWS frame: the window spans a VALUE
    interval (order_day−30 .. order_day), so sparse/irregular order
    histories are windowed by calendar distance, not row count.  Spark's
    ``rangeBetween`` needs a numeric ORDER BY column: days since epoch
    (an exact integer both engines derive identically from the date).
    Pre-aggregating to one row per (customer, day) first makes the
    frame deterministic under ties and shrinks the window input; the
    frame itself reuses the same o_custkey hash partitioning — one
    exchange total, no global sort.  DECIMAL day totals keep every
    running value exact."""
    orders = load_table(spark, sf_dir, "orders")
    co = (
        orders.where(F.col("o_custkey") < 200)
        .groupBy(
            "o_custkey",
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1970-01-01")
            ).alias("order_day"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias(
                "day_total"
            )
        )
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("order_day")
        .rangeBetween(-30, Window.currentRow)
    )
    return co.select(
        "o_custkey",
        F.col("order_day").cast("long").alias("order_day"),
        F.round(F.sum("day_total").over(w).cast("double"), 6).alias(
            "trailing_30d"
        ),
    )


# --- TK1: salted two-stage per-group top-k ----------------------------------


@query(
    "tk1_salted_topk_orders",
    oracle="""
    SELECT o_orderpriority, o_orderkey,
           ROUND(o_totalprice, 2) AS price,
           CAST(rn AS BIGINT) AS rnk
    FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               row_number() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY o_totalprice DESC, o_orderkey
               ) AS rn
        FROM orders
    ) WHERE rn <= 5
    """,
)
def tk1_salted_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 orders by price per order priority via the SALTED
    two-stage top-k (functions/topk.py) — declared so the scale path is
    driver-checkable, not just unit-tested.  Five priority groups is
    exactly the skew funnel a plain per-group window creates at 100 TB
    (every row shuffles into 5 partitions); stage 1 ranks within
    (group, salt-bucket) — 5×32-way parallel — cutting survivors to
    ≤ 32·k per group before the tiny stage-2 re-rank.  The oracle is
    the PLAIN single-window form: salting must be provably invisible
    in the result (the sk1 device applied to top-k)."""
    from ..functions.topk import topk_per_group

    orders = load_table(spark, sf_dir, "orders")
    top = topk_per_group(
        orders.select("o_orderpriority", "o_orderkey", "o_totalprice"),
        ["o_orderpriority"],
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        k=5,
        salt_col=F.col("o_orderkey"),
    )
    return top.select(
        "o_orderpriority",
        "o_orderkey",
        F.round("o_totalprice", 2).alias("price"),
        "rnk",
    )


# --- W10: consecutive-run pattern detection (round 6) -------------------------
#
# The MATCH_RECOGNIZE shape (3+ consecutive errors per user, arrival
# order) without MATCH_RECOGNIZE: the gaps-and-islands device.  Within
# each user's arrival sequence, row_number() minus row_number()-among-
# errors is CONSTANT exactly along a maximal run of errors, so runs
# group by that difference — two partition-local window passes and one
# aggregate, all riding a single user-keyed exchange.

_W10_MIN_RUN = 3


@query(
    "w10_error_run_detection",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id)
                   AS rn,
               ROW_NUMBER() OVER (PARTITION BY user_id,
                   CASE WHEN event_type = 'error' THEN 1 ELSE 0 END
                   ORDER BY event_id) AS rk
        FROM events
    ),
    runs AS (
        SELECT user_id, rn - rk AS grp,
               CAST(count(*) AS BIGINT) AS run_len,
               CAST(min(event_id) AS BIGINT) AS first_event_id,
               CAST(max(event_id) AS BIGINT) AS last_event_id
        FROM seq WHERE event_type = 'error'
        GROUP BY user_id, rn - rk
    )
    SELECT user_id, run_len, first_event_id, last_event_id
    FROM runs WHERE run_len >= {_W10_MIN_RUN}
    ORDER BY user_id, first_event_id
    """,
)
def w10_error_run_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detect every maximal run of >= 3 consecutive 'error' events per
    user in arrival order — the alerting/sequence-pattern query SQL
    standardizes as MATCH_RECOGNIZE, expressed portably as
    gaps-and-islands: rn (position among all of the user's events)
    minus rk (position among the user's errors) is invariant along a
    maximal error run, so grouping errors by that difference yields
    one row per run with its length and span.  Both window passes
    partition by user_id and order by the unique ingestion id, so ONE
    exchange serves the whole detection; no self-join, no iteration.
    At 100 TB this is the standard sessionless pattern-match plan."""
    ev = load_table(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id").orderBy("event_id")
    w_err = Window.partitionBy(
        "user_id", (F.col("event_type") == "error").cast("int")
    ).orderBy("event_id")
    seq = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.row_number().over(w_all).alias("rn"),
        F.row_number().over(w_err).alias("rk"),
    )
    return (
        seq.where(F.col("event_type") == "error")
        .groupBy("user_id", (F.col("rn") - F.col("rk")).alias("grp"))
        .agg(
            F.count("*").cast("long").alias("run_len"),
            F.min("event_id").cast("long").alias("first_event_id"),
            F.max("event_id").cast("long").alias("last_event_id"),
        )
        .where(F.col("run_len") >= _W10_MIN_RUN)
        .select("user_id", "run_len", "first_event_id", "last_event_id")
        .orderBy("user_id", "first_event_id")
    )
