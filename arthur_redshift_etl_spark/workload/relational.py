"""TPC-H core and the relational surface: joins, aggregates, windows, set operations."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .core import ONE, _CHARGE, _DP, dec, disc_price, query, sum_money, t


# ===========================================================================
# Relational surface (delegated-SQL parity: joins, aggs, windows, set ops)
# ===========================================================================

@query(
    "q01_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
      CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
      CAST(SUM({_DP}) AS DOUBLE) AS sum_disc_price,
      CAST(SUM({_CHARGE}) AS DOUBLE) AS sum_charge,
      CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_price,
      CAST(SUM(CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    description="TPC-H Q1 pricing summary: wide multi-aggregate scan",
)
def q01(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    cnt = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            sum_money(dec("l_quantity"), "sum_qty"),
            sum_money(dec("l_extendedprice"), "sum_base_price"),
            sum_money(disc_price(), "sum_disc_price"),
            sum_money(
                dec("l_extendedprice")
                * ((ONE() - dec("l_discount", 3, 2)) * (ONE() + dec("l_tax", 3, 2))),
                "sum_charge",
            ),
            (F.sum(dec("l_quantity")).cast("double") / cnt.cast("double")).alias("avg_qty"),
            (F.sum(dec("l_extendedprice")).cast("double") / cnt.cast("double")).alias(
                "avg_price"
            ),
            (F.sum(dec("l_discount", 3, 2)).cast("double") / cnt.cast("double")).alias(
                "avg_disc"
            ),
            cnt.alias("count_order"),
        )
    )


@query(
    "revenue_by_nation",
    oracle=f"""
    SELECT n_name,
      CAST(SUM({_DP}) AS DOUBLE) AS revenue,
      COUNT(*) AS line_count,
      COUNT(DISTINCT c_custkey) AS customer_count
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
    description="flagship: 4-way join + group (fact-to-dim star join)",
)
def revenue_by_nation(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            sum_money(disc_price(), "revenue"),
            F.count(F.lit(1)).alias("line_count"),
            F.countDistinct("c_custkey").alias("customer_count"),
        )
    )


@query(
    "q03_top_orders",
    oracle=f"""
    SELECT o_orderkey, o_orderdate, CAST(SUM({_DP}) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY o_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
    description="TPC-H Q3: selective join + top-k by aggregate",
)
def q03(spark, sf_dir):
    cust = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    cutoff = F.lit("1998-03-15").cast("timestamp")
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(sum_money(disc_price(), "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@query(
    "q04_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
      )
    GROUP BY o_orderpriority
    """,
    description="TPC-H Q4: EXISTS semi-join with correlated predicate",
)
def q04(spark, sf_dir):
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem")
    semi = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return semi.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@query(
    "q05_region_nation_revenue",
    oracle=f"""
    SELECT n_name, CAST(SUM({_DP}) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    """,
    description="TPC-H Q5: 6-way join with local-supplier condition",
)
def q05(spark, sf_dir):
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem")
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(sum_money(disc_price(), "revenue"))
    )


@query(
    "q06_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
                    CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.02 AND 0.06
      AND l_quantity < 24
    """,
    description="TPC-H Q6: pushdown-friendly filtered scalar aggregate",
)
def q06(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(sum_money(dec("l_extendedprice") * dec("l_discount", 3, 2), "revenue"))
    )


@query(
    "q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name, n_name, CAST(SUM({_DP}) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-10-01 00:00:00'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    description="TPC-H Q10: returned-item revenue ranking",
)
def q10(spark, sf_dir):
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = t(spark, sf_dir, "nation")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(sum_money(disc_price(), "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@query(
    "q14_promo_revenue",
    oracle=f"""
    SELECT CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_DP}
                         ELSE CAST(0 AS DECIMAL(17,4)) END) AS DOUBLE) * 100.0
           / CAST(SUM({_DP}) AS DOUBLE) AS promo_share
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
    """,
    description="TPC-H Q14: conditional aggregate ratio (broadcastable dim)",
)
def q14(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    part = t(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    promo = F.when(F.col("p_type") == "PROMO", disc_price()).otherwise(
        F.lit(0).cast("decimal(17,4)")
    )
    return joined.agg(
        (
            F.sum(promo).cast("double")
            * F.lit(100.0)
            / F.sum(disc_price()).cast("double")
        ).alias("promo_share")
    )


@query(
    "top_customers_window",
    oracle=f"""
    SELECT CAST(rk AS INTEGER) AS revenue_rank, c_custkey, c_name, revenue FROM (
      SELECT c_custkey, c_name, revenue,
             ROW_NUMBER() OVER (ORDER BY revenue DESC, c_custkey) AS rk
      FROM (
        SELECT c_custkey, c_name, CAST(SUM({_DP}) AS DOUBLE) AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        GROUP BY c_custkey, c_name
      )
    ) WHERE rk <= 10
    """,
    description="window function ranking (ROW_NUMBER over aggregate)",
)
def top_customers(spark, sf_dir):
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = t(spark, sf_dir, "lineitem")
    # Aggregate the fact first (lineitem ⋈ orders on orderkey, reduce to one
    # row per customer key), THEN attach the customer dimension by broadcast.
    # The alternative (customer ⋈ orders ⋈ lineitem, groupBy(custkey, name))
    # drags c_name through two shuffles of fact-table width; this shape
    # shuffles only (custkey, revenue) partials and joins the dim against
    # ~|customers| rows. c_custkey is the PK, so grouping by key alone is
    # equivalent to the oracle's GROUP BY c_custkey, c_name.
    rev = (
        li.select("l_orderkey", disc_price().alias("_dp"))
        .join(orders, F.col("l_orderkey") == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(sum_money(F.col("_dp"), "revenue"))
        .join(F.broadcast(cust.select("c_custkey", "c_name")),
              F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "c_name", "revenue")
    )
    # distributed top-k first (TakeOrderedAndProject: per-partition heaps,
    # no global single-task window over all customers), then rank the 10
    # survivors — identical result, scale-safe.
    top = rev.orderBy(F.col("revenue").desc(), F.col("c_custkey")).limit(10)
    w = Window.orderBy(F.col("revenue").desc(), F.col("c_custkey"))
    return (
        top.withColumn("revenue_rank", F.row_number().over(w).cast("int"))
        .select("revenue_rank", "c_custkey", "c_name", "revenue")
    )


@query(
    "segment_nation_rollup",
    oracle=f"""
    SELECT COALESCE(c_mktsegment, 'ALL') AS segment,
           COALESCE(n_name, 'ALL') AS nation,
           CAST(SUM({_DP}) AS DOUBLE) AS revenue,
           COUNT(*) AS line_count
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY ROLLUP (c_mktsegment, n_name)
    """,
    description="ROLLUP grouping sets over the star join",
)
def segment_nation_rollup(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    return (
        joined.rollup("c_mktsegment", "n_name")
        .agg(sum_money(disc_price(), "revenue"), F.count(F.lit(1)).alias("line_count"))
        .select(
            F.coalesce(F.col("c_mktsegment"), F.lit("ALL")).alias("segment"),
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation"),
            "revenue",
            "line_count",
        )
    )


@query(
    "customer_segment_stats",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           COUNT(DISTINCT c_nationkey) AS n_nations,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_acctbal,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS avg_acctbal
    FROM customer
    GROUP BY c_mktsegment
    """,
    description="distinct-count + exact-decimal averages per group",
)
def customer_segment_stats(spark, sf_dir):
    cust = t(spark, sf_dir, "customer")
    cnt = F.count(F.lit(1))
    return cust.groupBy("c_mktsegment").agg(
        cnt.alias("n_customers"),
        F.countDistinct("c_nationkey").alias("n_nations"),
        sum_money(dec("c_acctbal"), "total_acctbal"),
        (F.sum(dec("c_acctbal")).cast("double") / cnt.cast("double")).alias("avg_acctbal"),
    )


@query(
    "orders_no_early_lineitems",
    oracle="""
    SELECT o_orderkey FROM orders
    WHERE NOT EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey
        AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
    )
    """,
    description="anti-join (NOT EXISTS)",
)
def orders_no_early_lineitems(spark, sf_dir):
    orders = t(spark, sf_dir, "orders")
    early = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp")
    )
    return orders.join(
        early, orders.o_orderkey == early.l_orderkey, "left_anti"
    ).select("o_orderkey")


@query(
    "nation_setop_except",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
    EXCEPT
    SELECT s_nationkey FROM supplier WHERE s_acctbal < 0
    """,
    description="set operation: EXCEPT DISTINCT",
)
def nation_setop_except(spark, sf_dir):
    cust = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_nationkey").alias("nationkey"))
    )
    supp = (
        t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_nationkey").alias("nationkey"))
    )
    return cust.subtract(supp)


@query(
    "nation_setop_intersect",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9000
    INTERSECT
    SELECT s_nationkey FROM supplier WHERE s_acctbal > 9000
    """,
    description="set operation: INTERSECT DISTINCT",
)
def nation_setop_intersect(spark, sf_dir):
    cust = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select(F.col("c_nationkey").alias("nationkey"))
    )
    supp = (
        t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9000)
        .select(F.col("s_nationkey").alias("nationkey"))
    )
    return cust.intersect(supp)
