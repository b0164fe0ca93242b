"""Remaining TPC-H query shapes (SURVEY §2.4 widening), adapted to the
driver's star schema (no partsupp / c_phone / l_commitdate columns — each
query documents its adaptation).

The reference has no relational joins at all (its 7 secondary indexes are
join-free denormalization, consumer.py:40-117), so — like joins.py — this
family is driven by the driver's testdata.  What these twelve shapes add
over joins.py is the *plan* coverage a warehouse engine needs: multi-way
self-referencing nation joins (Q7/Q8), scalar-subquery thresholds kept in
exact integer×DECIMAL arithmetic (Q11/Q15/Q20/Q22), left-join-then-
redistribute (Q13), NOT-IN rewritten as anti join (Q16), OR-of-ANDs
residual predicates on a broadcast join (Q19), and the double-EXISTS
last-to-ship decorrelated into one aggregation (Q21).

Scale notes are per query; the common rules: dimensions broadcast,
fact-fact joins shuffle on their equi key under AQE, every scalar
subquery is a 1-row broadcast (never a driver collect), and thresholds
that TPC-H states as fractions are restated as cross-multiplied integer
inequalities so no float comparison ever decides a row's membership.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..schema import load_table
from .registry import query


def _dec(c) -> "F.Column":
    col = F.col(c) if isinstance(c, str) else c
    return col.cast("decimal(18,2)")


def _rev() -> "F.Column":
    # Built lazily: constructing classic-API Columns needs an active
    # SparkContext, which doesn't exist at import/collection time.
    return _dec("l_extendedprice") * (F.lit(1) - F.col("l_discount")).cast(
        "decimal(18,2)"
    )

_REV_SQL = (
    "CAST(l_extendedprice AS DECIMAL(18,2)) "
    "* CAST(1 - l_discount AS DECIMAL(18,2))"
)


# --- J16: TPC-H Q7 — volume shipping between two nations ---------------------


@query(
    "j16_volume_shipping",
    oracle=f"""
    SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
           ROUND(CAST(SUM({_REV_SQL}) AS DOUBLE), 6) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation nc ON c_nationkey = nc.n_nationkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ns ON s_nationkey = ns.n_nationkey
    WHERE (ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
       OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1')
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
)
def j16_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: shipping volume between a nation pair per year.  The
    nation table joins TWICE (supplier side and customer side) with an
    OR'd pair predicate that cannot be pushed into either single join —
    it evaluates as a residual after both broadcasts.  lineitem⋈orders
    is the only shuffle; supplier/customer/nation broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    nc = nation.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_name").alias("cust_nation")
    )
    ns = nation.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .where(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            F.round(F.sum(_rev()).cast("double"), 6).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# --- J17: TPC-H Q8 — national market share -----------------------------------


@query(
    "j17_market_share",
    oracle=f"""
    SELECT o_year,
           ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_2'
                               THEN volume ELSE CAST(0 AS DECIMAL(18,2)) END)
                      AS DOUBLE)
                 / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
    FROM (
        SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
               {_REV_SQL} AS volume,
               ns.n_name AS supp_nation
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation nc ON c_nationkey = nc.n_nationkey
        JOIN region   ON nc.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ns ON s_nationkey = ns.n_nationkey
        JOIN part     ON l_partkey = p_partkey
        WHERE r_name = 'ASIA' AND p_type = 'STANDARD'
    )
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def j17_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: one nation's share of STANDARD-part revenue sold into
    ASIA customers, per order year — a 7-table join where every
    dimension broadcasts and the share is a conditional-DECIMAL-sum
    ratio (only the final division floats).  Adaptation: p_type
    replaces TPC-H's 3-word type string."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    part = load_table(spark, sf_dir, "part").where(F.col("p_type") == "STANDARD")
    nc = nation.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_regionkey").alias("nc_region")
    )
    ns = nation.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    nat2 = F.when(
        F.col("supp_nation") == "NATION_2", F.col("volume")
    ).otherwise(F.lit(0).cast("decimal(18,2)"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .join(
            F.broadcast(region.where(F.col("r_name") == "ASIA")),
            F.col("nc_region") == F.col("r_regionkey"),
        )
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .withColumn("volume", _rev())
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(
                F.sum(nat2).cast("double") / F.sum("volume").cast("double"), 6
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


# --- J18: TPC-H Q9 — product-family profit by nation and year ----------------


@query(
    "j18_product_profit",
    oracle=f"""
    SELECT n_name AS nation,
           CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
           ROUND(CAST(SUM({_REV_SQL}
                 - CAST(0.5 AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))
                   * CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE), 6)
               AS sum_profit
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN orders   ON l_orderkey = o_orderkey
    WHERE p_name LIKE '%red%'
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def j18_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9: profit on a part family (name contains 'red') by
    supplier nation and order year.  Adaptation: with no partsupp,
    supply cost is proxied as 0.5 × quantity × p_retailprice — the plan
    shape (LIKE-filtered part broadcast pruning lineitem, then the
    orders shuffle join, nation rollup) is Q9's.  All arithmetic stays
    DECIMAL until the final round."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit = _rev() - F.lit(0.5).cast("decimal(18,2)") * _dec("l_quantity") * _dec(
        "p_retailprice"
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.round(F.sum(profit).cast("double"), 6).alias("sum_profit"))
        .orderBy("nation", "o_year")
    )


# --- J19: TPC-H Q10 — returned-item revenue ranking --------------------------


@query(
    "j19_returned_revenue",
    oracle=f"""
    SELECT c_custkey, c_name, n_name,
           ROUND(CAST(revenue AS DOUBLE), 6) AS revenue,
           ROUND(c_acctbal, 6) AS acctbal
    FROM (
        SELECT c_custkey, c_name, n_name, c_acctbal,
               SUM({_REV_SQL}) AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
          AND l_returnflag = 'R'
        GROUP BY 1, 2, 3, 4
    )
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def j19_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: customers who returned the most revenue in a quarter.
    Both fact filters (quarter on orders, returnflag on lineitem) push
    to their scans BEFORE the orderkey shuffle join; customer/nation
    broadcast onto the aggregated result.  Top-20 is ordered on the
    exact DECIMAL revenue with c_custkey as tiebreaker, and rounding
    happens only after the LIMIT so both engines pick identical rows."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_custkey")
        .agg(F.sum(_rev()).alias("revenue"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            F.round(F.col("revenue").cast("double"), 6).alias("revenue"),
            F.round("c_acctbal", 6).alias("acctbal"),
        )
    )


# --- J20: TPC-H Q13 — customer order-count distribution ----------------------


@query(
    "j20_customer_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer
        LEFT JOIN orders ON c_custkey = o_custkey
                         AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def j20_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: distribution of per-customer order counts, with the
    filter inside the LEFT JOIN's ON clause (not WHERE — customers with
    zero qualifying orders must survive as c_count=0).  count(o_orderkey)
    counts non-null keys only, so null-extended rows land in the zero
    bucket.  Two shuffles: custkey agg, then the tiny count-of-counts.
    Adaptation: priority filter replaces TPC-H's comment NOT LIKE."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderpriority"
    )
    per_cust = (
        cust.join(
            orders,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# --- J21: TPC-H Q16 — supplier count by part attributes, NOT-IN exclusion ----


@query(
    "j21_parts_supplier_count",
    oracle="""
    SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_size IN (1, 5, 9, 13, 17, 21, 25)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_size
    """,
)
def j21_parts_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16: how many distinct suppliers serve each (brand, size)
    slice, excluding a blacklist via NOT IN — expressed as a left-anti
    join against the (broadcast, provably non-null) blacklist keys,
    which is the rewrite Catalyst needs to avoid a null-aware nested
    loop.  lineitem stands in for partsupp; s_acctbal < 0 stands in for
    the complaints LIKE.  count(DISTINCT) shuffles once on the group
    keys with distinct-aggregation expansion."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25)
    )
    bad = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_size")
    )


# --- J22: TPC-H Q19 — disjunctive multi-attribute predicate ------------------


@query(
    "j22_disjunctive_revenue",
    oracle=f"""
    SELECT ROUND(CAST(SUM({_REV_SQL}) AS DOUBLE), 6) AS revenue,
           count(*) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#2'  AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#21' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def j22_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: revenue under an OR of three conjunctive clauses that
    each mix part attributes with lineitem attributes.  The
    lineitem-only disjunction (quantity ∈ [1,11]∪[10,20]∪[20,30]) is
    implied and pushable, but the cross-table residual must evaluate
    post-join — part broadcasts so the whole thing is one scan stage."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    clause = (
        (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 5)
            & q.between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#11")
            & F.col("p_size").between(1, 10)
            & q.between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#21")
            & F.col("p_size").between(1, 15)
            & q.between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .where(clause)
        .agg(
            F.round(F.sum(_rev()).cast("double"), 6).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


# --- J23: TPC-H Q21 — last-to-ship suppliers on multi-supplier orders --------


@query(
    "j23_waiting_orders",
    oracle="""
    WITH per_supp AS (
        SELECT l_orderkey, l_suppkey, max(l_shipdate) AS supp_last
        FROM lineitem GROUP BY 1, 2
    ), per_order AS (
        SELECT l_orderkey, max(l_shipdate) AS order_last,
               count(DISTINCT l_suppkey) AS n_supp
        FROM lineitem GROUP BY 1
    )
    SELECT s_name, count(*) AS numwait
    FROM per_supp
    JOIN per_order USING (l_orderkey)
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE o_orderstatus = 'F' AND n_supp >= 2 AND supp_last = order_last
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def j23_waiting_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were last to ship on finished
    multi-supplier orders.  The classic formulation is a double
    EXISTS/NOT-EXISTS self-join on lineitem; here it is decorrelated
    into two aggregations of the SAME scan (per-(order,supplier) max
    and per-order max + supplier count) joined back on orderkey — three
    shuffles total and no self-join row explosion, the rewrite that
    matters when lineitem is the 100 TB table.  Ties (two suppliers
    sharing the order's last ship date) count for both, matching the
    oracle exactly since dates are integral.  Adaptation: l_shipdate
    ordering replaces l_receiptdate > l_commitdate."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    per_supp = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("supp_last")
    )
    per_order = li.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("order_last"),
        F.count_distinct("l_suppkey").alias("n_supp"),
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_supp.join(per_order, "l_orderkey")
        .where((F.col("n_supp") >= 2) & (F.col("supp_last") == F.col("order_last")))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


# --- J24: TPC-H Q22 — dormant big-balance customers --------------------------


@query(
    "j24_global_sales_opportunity",
    oracle="""
    WITH pos AS (
        SELECT AVG(CAST(c_acctbal AS DECIMAL(18,2))) AS avg_bal
        FROM customer
        WHERE c_acctbal > 0 AND c_nationkey IN (1, 3, 5, 7, 9)
    )
    SELECT c_nationkey, count(*) AS numcust,
           ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 6)
               AS totacctbal
    FROM customer, pos
    WHERE c_nationkey IN (1, 3, 5, 7, 9)
      AND CAST(c_acctbal AS DECIMAL(18,2)) > avg_bal
      AND c_custkey NOT IN (
          SELECT o_custkey FROM orders
          WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
      )
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
)
def j24_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22: customers in target countries with above-average
    positive balances and no recent orders (dormant since 1999 — every
    testdata customer has SOME order, so 'no orders ever' would be
    vacuous; the anti-join-against-a-filtered-fact plan is identical).
    The average is a 1-row scalar subquery — computed as an aggregate
    and cross-joined (broadcast) rather than collected to the driver.
    The balance threshold compares DECIMAL-to-DECIMAL (DuckDB's DECIMAL
    AVG is exact), so membership is never decided by a float.
    Adaptation: c_nationkey ∈ set stands in for substring(c_phone,1,2)."""
    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_nationkey").isin(1, 3, 5, 7, 9)
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp"))
        .select("o_custkey")
    )
    avg_bal = cust.where(F.col("c_acctbal") > 0).agg(
        F.avg(_dec("c_acctbal")).alias("avg_bal")
    )
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .crossJoin(F.broadcast(avg_bal))
        .where(_dec("c_acctbal") > F.col("avg_bal"))
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum(_dec("c_acctbal")).cast("double"), 6).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


# --- J25: TPC-H Q11 — parts above a share-of-total threshold -----------------


@query(
    "j25_important_parts",
    oracle="""
    WITH pv AS (
        SELECT l_partkey,
               SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS part_value
        FROM lineitem GROUP BY l_partkey
    ), tot AS (
        SELECT SUM(part_value) AS total_value, count(*) AS n_parts FROM pv
    )
    SELECT l_partkey, ROUND(CAST(part_value AS DOUBLE), 6) AS part_value
    FROM pv, tot
    WHERE part_value * n_parts * 2 > 3 * total_value
    ORDER BY part_value DESC, l_partkey
    """,
)
def j25_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11: parts whose traded value exceeds a fraction of the
    global total — here 'more than 1.5× the mean part value', stated as
    the cross-multiplied integer×DECIMAL inequality part_value ×
    n_parts × 2 > 3 × total so the threshold is exact at every scale
    factor (TPC-H's 0.0001/SF literal re-expressed scale-free).  The
    global total is a second tiny aggregate OF THE FIRST aggregate's
    output — no second scan of lineitem — broadcast back over pv."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice")
    pv = li.groupBy("l_partkey").agg(F.sum(_dec("l_extendedprice")).alias("part_value"))
    tot = pv.agg(
        F.sum("part_value").alias("total_value"), F.count("*").alias("n_parts")
    )
    return (
        pv.crossJoin(F.broadcast(tot))
        .where(
            F.col("part_value") * F.col("n_parts") * F.lit(2)
            > F.lit(3) * F.col("total_value")
        )
        .select(
            "l_partkey",
            F.round(F.col("part_value").cast("double"), 6).alias("part_value"),
        )
        .orderBy(F.desc("part_value"), "l_partkey")
    )


# --- J26: TPC-H Q15 — top supplier(s) by quarterly revenue -------------------


@query(
    "j26_top_supplier",
    oracle=f"""
    WITH sr AS (
        SELECT l_suppkey AS supplier_no, SUM({_REV_SQL}) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name,
           ROUND(CAST(total_revenue AS DOUBLE), 6) AS total_revenue
    FROM sr JOIN supplier ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM sr)
    ORDER BY s_suppkey
    """,
)
def j26_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) achieving the maximum quarterly revenue —
    the create-view-then-self-reference query.  The revenue 'view' is
    one aggregation; the max is a window MAX over the unpartitioned
    aggregate (25-row input — the single-partition window is on the
    AGGREGATED data, never the fact), keeping ALL ties exactly like the
    = (SELECT max(...)) semantics since revenue stays DECIMAL."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    sr = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_rev()).alias("total_revenue")
    )
    w = Window.partitionBy()
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        sr.withColumn("max_rev", F.max("total_revenue").over(w))
        .where(F.col("total_revenue") == F.col("max_rev"))
        .join(F.broadcast(supp), F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("total_revenue").cast("double"), 6).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


# --- J27: TPC-H Q20 — above-average part-family shippers ---------------------


@query(
    "j27_excess_shippers",
    oracle="""
    WITH sq AS (
        SELECT l_suppkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_name LIKE '%bolt%'
        GROUP BY l_suppkey
    ), tot AS (
        SELECT SUM(qty) AS total_qty, count(*) AS n_supp FROM sq
    )
    SELECT s_suppkey, s_name, n_name,
           ROUND(CAST(qty AS DOUBLE), 6) AS family_qty
    FROM sq, tot
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE qty * n_supp > total_qty
    ORDER BY s_suppkey
    """,
)
def j27_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers moving an outsized share of one part
    family ('bolt'-named parts), enriched with their nation.  TPC-H's
    correlated half-of-availqty threshold becomes the scale-free exact
    inequality qty × n_supp > total (above-average shippers): the
    family aggregate is computed once, its global total is an aggregate
    OF that aggregate, and the comparison cross-multiplies so no
    division happens.  part broadcasts into the lineitem scan; supplier
    and nation broadcast onto the ~|suppliers| result."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    part = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_name").like("%bolt%"))
        .select("p_partkey")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    sq = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum(_dec("l_quantity")).alias("qty"))
    )
    tot = sq.agg(F.sum("qty").alias("total_qty"), F.count("*").alias("n_supp"))
    return (
        sq.crossJoin(F.broadcast(tot))
        .where(F.col("qty") * F.col("n_supp") > F.col("total_qty"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "s_suppkey",
            "s_name",
            "n_name",
            F.round(F.col("qty").cast("double"), 6).alias("family_qty"),
        )
        .orderBy("s_suppkey")
    )
