"""Join operators (SURVEY §2.4): equi joins over the star schema,
semi/anti joins (the exact counterparts of the reference's Bloom-filter
membership branches, consultas.py:137-140), and a theta/range join.

The reference has no relational joins — its 7 secondary indexes are
join-free denormalization — so these queries are driven by the driver's
star-schema testdata.  Scale notes per query: small dimensions are
broadcast (no shuffle of the fact side); fact-fact joins shuffle on the
join key and rely on AQE for skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import load_table
from .registry import query


# --- J1: TPC-H Q1-style pricing summary (scan-heavy agg; bench headliner) --


@query(
    "j1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 6) AS sum_qty,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 6) AS sum_base_price,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                           * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE), 6) AS sum_disc_price,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def j1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing-summary aggregation: full scan + hash-agg on two
    low-cardinality keys.  DECIMAL sums keep it exact (order-free);
    whole-stage codegen covers scan→project→partial-agg."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(dec("l_quantity")).cast("double"), 6).alias("sum_qty"),
            F.round(F.sum(dec("l_extendedprice")).cast("double"), 6).alias(
                "sum_base_price"
            ),
            F.round(
                F.sum(
                    dec("l_extendedprice")
                    * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)")
                ).cast("double"),
                6,
            ).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


# --- J2: star join orders⋈customer⋈nation⋈region (broadcast chain) ---------


@query(
    "j2_star_revenue_by_region",
    oracle="""
    SELECT r_name,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 6) AS revenue,
           count(*) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def j2_star_revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic star-schema rollup.  customer/nation/region are broadcast
    (dims ≪ fact) so the orders fact never shuffles for the join; the
    only exchange is the final tiny group-by."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        orders.join(
            F.broadcast(customer), orders.o_custkey == customer.c_custkey
        )
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), 6
            ).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


# --- J3: semi join — exact twin of Bloom "possibly present" (K1) -----------


@query(
    "j3_semi_customers_with_orders",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders)
    GROUP BY c_mktsegment
    """,
)
def j3_semi_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi = the exact counterpart of the reference's Bloom
    membership test (consultas.py:137-138): "possibly present" with the
    approximation removed.  Build side (distinct keys) broadcasts."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


# --- J4: anti join — "definitivamente no está" (consultas.py:139-140) ------


@query(
    "j4_anti_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    ORDER BY c_custkey LIMIT 100
    """,
)
def j4_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_anti = the Bloom filter's "definitely absent" branch made
    exact."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
        .limit(100)
    )


# --- J5: fact-fact join + dims (TPC-H Q3-ish shipping priority) ------------


@query(
    "j5_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                           * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE), 6) AS revenue,
           epoch_us(o_orderdate) AS o_orderdate_us
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate  > TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
)
def j5_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact (lineitem⋈orders) shuffle join on l_orderkey with a
    broadcast customer filter, then top-k.  At 100 TB: both facts hash
    to the same partitioning of orderkey; AQE handles skewed orders."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)")
    )
    return (
        li.where(F.col("l_shipdate") > F.lit("1997-01-01 00:00:00").cast("timestamp"))
        .join(
            orders.where(
                F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp")
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(customer.where(F.col("c_mktsegment") == "BUILDING")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(rev).cast("double"), 6).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias(
                "o_orderdate_us"
            ),
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


# --- J6: theta/range join on a measure (habitat-distance analog) -----------


@query(
    "j6_range_join_value_bands",
    oracle="""
    SELECT b.band_id, count(*) AS n_events,
           ROUND(CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE), 6) AS sum_value
    FROM events e
    JOIN (
        SELECT CAST(r AS INT) AS band_id,
               CAST(r * 50 AS DOUBLE) AS lo,
               CAST((r + 1) * 50 AS DOUBLE) AS hi
        FROM range(0, 20) t(r)
    ) b ON e.value >= b.lo AND e.value < b.hi
    GROUP BY b.band_id
    """,
)
def j6_range_join_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta (range) join: events banded against a small interval table —
    the relational shape of the reference's geodesic-threshold pair join
    (random_walk_utils.py:23-29).  The band table is broadcast, so the
    theta predicate evaluates map-side (BroadcastNestedLoopJoin) without
    shuffling the fact."""
    ev = load_table(spark, sf_dir, "events")
    bands = spark.range(0, 20).select(
        F.col("id").cast("int").alias("band_id"),
        (F.col("id") * 50).cast("double").alias("lo"),
        ((F.col("id") + 1) * 50).cast("double").alias("hi"),
    )
    return (
        ev.join(
            F.broadcast(bands),
            (ev.value >= bands.lo) & (ev.value < bands.hi),
        )
        .groupBy("band_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 6
            ).alias("sum_value"),
        )
    )


# --- J7: left outer join with null-extension semantics ---------------------


@query(
    "j7_left_join_order_activity",
    oracle="""
    WITH oc AS (
        SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey
    )
    SELECT c_mktsegment,
           count(*) AS n_customers,
           CAST(SUM(COALESCE(n, 0)) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN n IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_without_orders
    FROM customer LEFT JOIN oc ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    """,
)
def j7_left_join_order_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join with null-extended rows surviving into the
    aggregate (the shape Catalyst cannot rewrite to inner).  The
    per-customer order counts pre-aggregate BEFORE the join, so the
    join's build side is |customers| not |orders| — the
    aggregate-pushdown pattern that matters at fact-table scale."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    oc = orders.groupBy(F.col("o_custkey")).agg(F.count("*").alias("n"))
    return (
        customer.join(oc, customer.c_custkey == oc.o_custkey, "left")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(F.coalesce(F.col("n"), F.lit(0))).cast("long").alias("n_orders"),
            F.sum(F.when(F.col("n").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_without_orders"),
        )
    )


# --- J8: full outer join of two aggregate streams --------------------------


@query(
    "j8_full_outer_daily_activity",
    oracle="""
    WITH c AS (
        SELECT date_trunc('day', ts) AS d, count(*) AS clicks
        FROM events WHERE event_type = 'click' GROUP BY 1
    ), p AS (
        SELECT date_trunc('day', ts) AS d, count(*) AS purchases
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    )
    SELECT epoch_us(COALESCE(c.d, p.d)) AS day_us,
           COALESCE(clicks, 0) AS clicks,
           COALESCE(purchases, 0) AS purchases
    FROM c FULL OUTER JOIN p ON c.d = p.d
    """,
)
def j8_full_outer_daily_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join aligning two independently-aggregated daily
    series (days may exist in either side only).  Both sides are
    pre-aggregated to |days| rows before the join — the full-outer
    shuffle carries day-level rows, never raw events."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    c = (
        ev.where(F.col("event_type") == "click")
        .groupBy(day.alias("d"))
        .agg(F.count("*").alias("clicks"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(day.alias("d2"))
        .agg(F.count("*").alias("purchases"))
    )
    return (
        c.join(p, c.d == p.d2, "full_outer")
        .select(
            F.unix_micros(F.coalesce(c.d, p.d2)).alias("day_us"),
            F.coalesce("clicks", F.lit(0)).alias("clicks"),
            F.coalesce("purchases", F.lit(0)).alias("purchases"),
        )
    )


# --- J9: argmin join (correlated-subquery shape, TPC-H Q2 analog) -----------


@query(
    "j9_argmin_supplier_per_part",
    oracle="""
    SELECT l_partkey,
           arg_min(l_suppkey, CAST(l_extendedprice AS DECIMAL(18,2))
                              ORDER BY CAST(l_extendedprice AS DECIMAL(18,2)), l_suppkey)
               AS cheapest_suppkey,
           ROUND(CAST(MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 6)
               AS min_price
    FROM lineitem WHERE l_partkey < 500
    GROUP BY l_partkey
    """,
)
def j9_argmin_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part cheapest supplier — the correlated-subquery / argmin
    shape (TPC-H Q2's core).  One hash-agg with a ``min(struct(price,
    suppkey))``: partial aggregation collapses each partition's
    lineitems map-side, no join against a min-subquery needed; ties
    break to the lowest suppkey via the struct's second field."""
    li = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    return (
        li.where(F.col("l_partkey") < 500)
        .groupBy("l_partkey")
        .agg(
            F.min(F.struct(price.alias("p"), F.col("l_suppkey").alias("s"))).alias("m")
        )
        .select(
            "l_partkey",
            F.col("m.s").alias("cheapest_suppkey"),
            F.round(F.col("m.p").cast("double"), 6).alias("min_price"),
        )
    )


# --- J10: conditional-aggregate ratio with LIKE (TPC-H Q14 shape) -----------


@query(
    "j10_promo_revenue_ratio",
    oracle="""
    SELECT ROUND(
             100.0 * CAST(SUM(CASE WHEN p_type LIKE 'STANDARD%'
                 THEN CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(1 - l_discount AS DECIMAL(18,2))
                 ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE),
             6) AS standard_revenue_pct,
           count(*) AS n_lineitems
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-02-01 00:00:00'
    """,
)
def j10_promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: share of revenue from one part family in a
    month — LIKE-prefix predicate inside a conditional DECIMAL
    aggregate over a broadcast lineitem⋈part join.  The date filter
    pushes to the scan; the ratio divides two exact DECIMAL sums so
    only the final division is floating."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)")
    )
    std = F.when(F.col("p_type").like("STANDARD%"), rev).otherwise(
        F.lit(0).cast("decimal(18,2)")
    )
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-02-01 00:00:00").cast("timestamp"))
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(std).cast("double")
                / F.sum(rev).cast("double"),
                6,
            ).alias("standard_revenue_pct"),
            F.count("*").alias("n_lineitems"),
        )
    )


# --- J11: filter-only aggregate with BETWEEN (TPC-H Q6 shape) ---------------


@query(
    "j11_forecast_revenue",
    oracle="""
    SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                          * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE), 6)
               AS revenue_delta,
           count(*) AS n_lineitems
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def j11_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter + global aggregate — every predicate
    (date range, BETWEEN on discount, quantity bound) pushes to the
    parquet scan, so the whole query is one codegen'd scan stage with
    a scalar DECIMAL sum.  The canonical 'is pushdown working' probe."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * F.col("l_discount").cast("decimal(18,2)")
                ).cast("double"),
                6,
            ).alias("revenue_delta"),
            F.count("*").alias("n_lineitems"),
        )
    )


# --- J12: TPC-H Q4 shape — EXISTS semi join with a non-equi residual ---------


@query(
    "j12_priority_exists",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND EXISTS (
          SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def j12_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: count orders per priority that have at least one
    lineitem shipped after the order date — an EXISTS, expressed as a
    left-semi join whose condition carries a non-equi residual
    (l_shipdate > o_orderdate) on top of the orderkey equi key.  The
    semi join never duplicates orders, so no post-join distinct is
    needed; the date-range filter on orders pushes to its scan and
    shrinks the build side before the shuffle."""
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    hit = orders.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
        "left_semi",
    )
    return (
        hit.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


# --- J13: TPC-H Q18 shape — HAVING-filtered agg joined back to dims ----------


@query(
    "j13_big_order_customers",
    oracle="""
    WITH big AS (
        SELECT l_orderkey,
               ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 6)
                   AS total_qty
        FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250
    )
    SELECT c_name, o_orderkey, o_orderdate,
           ROUND(o_totalprice, 6) AS total_price, total_qty
    FROM big
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY total_price DESC, o_orderkey
    LIMIT 100
    """,
)
def j13_big_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: aggregate lineitem per order, HAVING-filter to
    the heavy tail (sum qty > 250 ≈ top 1–2%), then join back to orders
    and customer for enrichment, top-100 by price.  The HAVING runs
    BEFORE the joins, so the join input is the filtered ~1% — the
    aggregate-then-join ordering is the whole point at scale (joining
    first would shuffle the full fact table twice).  DECIMAL sum keeps
    the HAVING threshold exact under any partial-agg order."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("q"))
        .where(F.col("q") > 250)
        .select("l_orderkey", F.round(F.col("q").cast("double"), 6).alias("total_qty"))
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 6).alias("total_price"),
            "total_qty",
        )
        .orderBy(F.desc("total_price"), "o_orderkey")
        .limit(100)
    )


# --- J14: TPC-H Q12 shape — join + two conditional aggregates ----------------


@query(
    "j14_returnflag_priority_mix",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def j14_returnflag_priority_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: shipped lineitems in a year joined to orders,
    counting high- vs low-priority lines per return flag with two
    conditional sums in ONE pass (no second scan, no pivot).  The date
    filter prunes lineitem at the scan; the join shuffles both sides on
    orderkey (fact-fact SMJ under AQE) and the conditional aggregation
    is codegen'd CASE arithmetic."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


# --- J15: correlated scalar subquery, decorrelated as a window ---------------


@query(
    "j15_above_brand_avg",
    oracle="""
    SELECT p_partkey, p_brand, ROUND(p_retailprice, 6) AS retail_price,
           ROUND(brand_avg, 6) AS brand_avg
    FROM (
        SELECT p_partkey, p_brand, p_retailprice,
               AVG(p_retailprice) OVER (PARTITION BY p_brand) AS brand_avg
        FROM part
    )
    WHERE p_retailprice > 1.01 * brand_avg
    ORDER BY p_partkey
    """,
)
def j15_above_brand_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-scalar-subquery shape ('parts priced far above their
    brand average', threshold 1%), decorrelated into a single window aggregate — one
    shuffle on p_brand instead of the naive agg + re-join (two shuffles
    + a join).  This is the rewrite Catalyst applies to correlated
    scalar subqueries; declaring it directly keeps the plan explicit."""
    from pyspark.sql import Window

    part = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand")
    return (
        part.withColumn("brand_avg", F.avg("p_retailprice").over(w))
        .where(F.col("p_retailprice") > 1.01 * F.col("brand_avg"))
        .select(
            "p_partkey",
            "p_brand",
            F.round("p_retailprice", 6).alias("retail_price"),
            F.round("brand_avg", 6).alias("brand_avg"),
        )
        .orderBy("p_partkey")
    )


# --- SK1: explicit salted join, oracle-checked against the plain join --------


@query(
    "sk1_salted_cohort_revenue",
    oracle="""
    WITH dim AS (
        SELECT DISTINCT user_id, user_id % 10 AS cohort FROM events
    )
    SELECT cohort, count(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 6)
               AS total_value
    FROM events JOIN dim USING (user_id)
    GROUP BY cohort
    ORDER BY cohort
    """,
)
def sk1_salted_cohort_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The explicit salted join (functions/salt.py) run through the
    correctness gate: events (big side, salted 8-way on event_id) joined
    to a user→cohort dim (small side, replicated per salt), aggregated
    per cohort.  The oracle is the PLAIN join — salting must be
    invisible in the result.  This is the skew weapon where AQE can't
    reach (streaming joins, stateful keys); the big side's hot keys
    spread across 8 reducers instead of one."""
    from ..functions.salt import salted_join

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    dim = (
        ev.select("user_id").distinct()
        .withColumn("cohort", F.col("user_id") % 10)
    )
    joined = salted_join(ev, dim, "user_id", salt_src=F.col("event_id"), n_salt=8)
    return (
        joined.groupBy("cohort")
        .agg(
            F.count("*").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 6
            ).alias("total_value"),
        )
        .orderBy("cohort")
    )


# --- J28: interval-overlap join via range bucketing --------------------------

_J28_BUCKET_US = 43_200_000_000  # 12 h
_J28_PROMO_US = 21_600_000_000   # 6 h


@query(
    "j28_banded_interval_join",
    oracle=f"""
    WITH spans AS (
        SELECT user_id, date_trunc('day', ts) AS day,
               epoch_us(min(ts)) AS a_start, epoch_us(max(ts)) AS a_end
        FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT epoch_us(min(ts)) AS lo FROM events),
    promos AS (
        SELECT p AS promo_id,
               lo + p * {_J28_BUCKET_US} AS b_start,
               lo + p * {_J28_BUCKET_US} + {_J28_PROMO_US} AS b_end
        FROM bounds, unnest(generate_series(0, 49)) AS t(p)
    )
    SELECT promo_id, count(*) AS n_user_days
    FROM (
        SELECT DISTINCT s.user_id, s.day, p.promo_id
        FROM spans s JOIN promos p
          ON s.a_start <= p.b_end AND p.b_start <= s.a_end
    )
    GROUP BY promo_id ORDER BY promo_id
    """,
)
def j28_banded_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join at scale: user-day activity spans matched
    to 6-hour promo windows.  The naive plan is a nested-loop theta
    join (every span against every window); the scale plan — used here
    — BANDS both sides: each interval explodes into the 12-hour buckets
    it covers (exact integer division of epoch-microseconds), the sides
    equi-join on bucket (hash join, shuffle on bucket), duplicates from
    multi-bucket coverage collapse with DISTINCT, and the exact overlap
    predicate runs as a residual filter.  No pair is missed because
    each side enumerates EVERY bucket it covers: any overlap point
    lies in some bucket, and both intervals list that bucket (the
    guarantee comes from the full enumeration, NOT from any bucket-vs-
    interval length bound — user-day spans can exceed the 12 h bucket).
    The oracle is the PLAIN theta join, proving the banding is
    invisible.  With 50 windows a broadcast would also do — banding
    is the both-sides-large path (e.g. sessions x incidents at 100 TB).
    """
    ev = load_table(spark, sf_dir, "events")
    spans = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.unix_micros(F.min("ts")).alias("a_start"),
        F.unix_micros(F.max("ts")).alias("a_end"),
    )
    bounds = ev.agg(F.unix_micros(F.min("ts")).alias("lo"))
    promos = (
        bounds.select(
            F.explode(F.sequence(F.lit(0), F.lit(49))).alias("p"), "lo"
        )
        .select(
            F.col("p").cast("long").alias("promo_id"),
            (F.col("lo") + F.col("p") * _J28_BUCKET_US).alias("b_start"),
        )
        .withColumn("b_end", F.col("b_start") + _J28_PROMO_US)
    )
    # Bucket index must be FLOOR division: `div` truncates toward zero,
    # which for negative epochs (pre-1970 timestamps) would shift an
    # interval's first bucket UP and break the every-covered-bucket
    # enumeration the no-missed-pair guarantee rests on.  Exact integer
    # floor-div via pmod (never a double in the loop): subtracting the
    # non-negative remainder makes the dividend exactly divisible.
    def _floordiv(col: str) -> F.Column:
        b = _J28_BUCKET_US
        return F.expr(f"({col} - pmod({col}, {b})) div {b}")

    a_bk = spans.select(
        "user_id",
        "day",
        "a_start",
        "a_end",
        F.explode(
            F.sequence(_floordiv("a_start"), _floordiv("a_end"))
        ).alias("bk"),
    )
    b_bk = promos.select(
        "promo_id",
        "b_start",
        "b_end",
        F.explode(
            F.sequence(_floordiv("b_start"), _floordiv("b_end"))
        ).alias("bk"),
    )
    pairs = (
        a_bk.join(b_bk, "bk")
        .where(
            (F.col("a_start") <= F.col("b_end"))
            & (F.col("b_start") <= F.col("a_end"))
        )
        .select("user_id", "day", "promo_id")
        .distinct()
    )
    return (
        pairs.groupBy("promo_id")
        .agg(F.count("*").alias("n_user_days"))
        .orderBy("promo_id")
    )


# --- SKEW1: join-key skew diagnostics (round 6) ------------------------------


@query(
    "skew1_join_key_diagnostics",
    oracle="""
    WITH counts AS (
        SELECT o_custkey AS custkey, CAST(count(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY o_custkey
    ),
    stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n_keys,
               CAST(SUM(n_orders) AS BIGINT) AS total_orders,
               CAST(MAX(n_orders) AS BIGINT) AS max_orders
        FROM counts
    ),
    top AS (
        SELECT custkey, n_orders,
               CAST(row_number() OVER (
                   ORDER BY n_orders DESC, custkey
               ) AS BIGINT) AS rnk
        FROM counts
    )
    SELECT t.rnk, t.custkey, t.n_orders, s.n_keys, s.total_orders,
           CAST((1000 * s.max_orders * s.n_keys) // s.total_orders
                AS BIGINT) AS skew_permille,
           ((1000 * s.max_orders * s.n_keys) // s.total_orders >= 2000)
               AS salting_recommended
    FROM top t, stats s
    WHERE t.rnk <= 5
    ORDER BY t.rnk
    """,
)
def skew1_join_key_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-KEY SKEW diagnostics — the measurement run before choosing
    a join strategy for a key (broadcast / salt / AQE skew-join): per
    candidate key (o_custkey), the 5 heaviest keys with their counts,
    the key cardinality, and the skew factor max/avg in exact permille
    ((1000·max·n_keys) div total — all-BIGINT, no float mean).
    ``salting_recommended`` fires when the heaviest key carries >= 2x
    the average key's rows — the rule of thumb at which a sort-merge
    join's hottest task dominates the stage and the salt/AQE paths
    (functions/salt.py, tk1) pay for themselves.

    Scale shape: one partial-aggregated shuffle for per-key counts;
    the stats row is a model-sized aggregate broadcast back onto the
    bounded top-5 (TakeOrderedAndProject semantics via rank <= 5); the
    fact table is scanned once, one column.  Reference analog: none —
    the reference hand-builds per-key hash indexes blind
    (InsectDataStore); this is the measurement that says whether a key
    NEEDS special handling (SURVEY §2.13)."""
    counts = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.count("*").cast("long").alias("n_orders"))
        .localCheckpoint(eager=False)
    )
    stats = counts.agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum("n_orders").cast("long").alias("total_orders"),
        F.max("n_orders").cast("long").alias("max_orders"),
    )
    from pyspark.sql import Window as W

    top = (
        counts.withColumn(
            "rnk",
            F.row_number()
            .over(W.orderBy(F.desc("n_orders"), F.asc("custkey")))
            .cast("long"),
        )
        .where(F.col("rnk") <= 5)
    )
    return (
        top.crossJoin(F.broadcast(stats))
        .select(
            "rnk",
            "custkey",
            "n_orders",
            "n_keys",
            "total_orders",
            F.expr("(1000 * max_orders * n_keys) div total_orders")
            .cast("long")
            .alias("skew_permille"),
            F.expr(
                "(1000 * max_orders * n_keys) div total_orders >= 2000"
            ).alias("salting_recommended"),
        )
        .orderBy("rnk")
    )


# --- J29: Bloom runtime-filter semi-join reduction ---------------------------
#
# The join-reduction technique that matters most at 100 TB: before
# shuffling a huge fact table into a join, broadcast a Bloom filter of
# the (already filtered) dim keys and drop non-matching fact rows AT
# THE SCAN — Spark's own runtime bloomFilter rewrite, here built
# explicitly so the mechanism is declared, measurable, and oracle-
# checked.  False positives only ever ADD rows that the exact join
# then removes, so the result is provably identical to the plain join
# — which is exactly what the oracle runs.

_J29_LO = "1997-01-01 00:00:00"
_J29_HI = "1997-04-01 00:00:00"


@query(
    "j29_bloom_semijoin_reduction",
    oracle=f"""
    SELECT date_trunc('month', o_orderdate) AS order_month,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                           * CAST(1 - l_discount AS DECIMAL(18,2)))
                      AS DOUBLE), 6) AS revenue,
           count(*) AS n_items
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderpriority = '1-URGENT'
      AND o_orderdate >= TIMESTAMP '{_J29_LO}'
      AND o_orderdate <  TIMESTAMP '{_J29_HI}'
    GROUP BY 1 ORDER BY 1
    """,
)
def j29_bloom_semijoin_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Urgent-order quarterly revenue with an EXPLICIT Bloom runtime
    filter: the filtered orders side is tiny (a priority + one quarter),
    so its keys are Bloom-compressed (classic m/k sizing, p=0.01,
    ecostream.sketches.bloom_params) into a literal word array that the
    lineitem scan evaluates PER ROW inside whole-stage codegen — k
    xxhash64 probes, shiftright + bit-test against the broadcast bitset,
    no Python, no shuffle, no join for the pre-filter.  Only surviving
    rows (matches + ≈1% false positives) enter the exact broadcast join
    that removes the FPs, so the Bloom stage is semantically invisible:
    the oracle is the PLAIN join.  This is the declared form of Spark's
    `runtime.bloomFilter` rewrite and the injected-filter pattern every
    100 TB star join needs when the fact side can't be partition-pruned.
    The bitset round-trips the driver (m/64 longs — model-sized, same
    sanctioned shape as k1's bloom and sim5's centroids)."""
    from ..sketches import bloom_params

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    dim = orders.where(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= F.lit(_J29_LO).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(_J29_HI).cast("timestamp"))
    ).localCheckpoint(eager=True)  # built once: sizing count + positions + join
    n = max(16, dim.count())
    m, k = bloom_params(n, 0.01)
    words = [0] * ((m + 63) // 64)
    for row in (
        dim.select(
            F.explode(
                F.array(
                    *[
                        F.pmod(F.xxhash64("o_orderkey", F.lit(i)), F.lit(m))
                        for i in range(k)
                    ]
                )
            ).alias("pos")
        )
        .distinct()
        .collect()
    ):
        words[row["pos"] // 64] |= 1 << (row["pos"] % 64)
    # Two's-complement into signed longs for the literal array.
    arr = F.array(
        *[F.lit(w - (1 << 64) if w >= (1 << 63) else w) for w in words]
    )
    probe = F.lit(True)
    for i in range(k):
        probe = probe & F.expr(
            f"getbit(element_at(_bf, cast(pmod(xxhash64(l_orderkey, {i}),"
            f" {m}) div 64 as int) + 1),"
            f" cast(pmod(xxhash64(l_orderkey, {i}), {m}) % 64 as int)) = 1"
        )
    # The literal bitset column constant-folds; the probe stays inside
    # whole-stage codegen on the scan side.
    reduced = li.withColumn("_bf", arr).where(probe).drop("_bf")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        reduced.join(F.broadcast(dim), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.date_trunc("month", "o_orderdate").alias("order_month"))
        .agg(
            F.round(
                F.sum(
                    dec("l_extendedprice")
                    * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)")
                ).cast("double"),
                6,
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy("order_month")
    )
