"""Extended TPC-H surface: correlated and scalar subqueries, disjunctive
predicates, HAVING, multi-join volume queries."""

from __future__ import annotations

from pyspark.sql import functions as F

from .core import _DP, dec, disc_price, query, sum_money, t


# ===========================================================================
# Extended relational surface (TPC-H family: correlated/scalar subqueries,
# disjunctive predicates, HAVING, multi-join volume queries)
# ===========================================================================

@query(
    "q07_volume_shipping",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(volume) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS l_year,
             {_DP} AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE n1.n_name IN ('NATION_1', 'NATION_2')
        AND n2.n_name IN ('NATION_1', 'NATION_2')
        AND n1.n_name <> n2.n_name
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
    description="TPC-H Q7: bi-national volume with self-joined dimension",
)
def q07(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    n1 = F.broadcast(nation.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")))
    n2 = F.broadcast(nation.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")))
    names = ("NATION_1", "NATION_2")
    return (
        supp.join(li, supp.s_suppkey == li.l_suppkey)
        .join(orders, orders.o_orderkey == li.l_orderkey)
        .join(cust, cust.c_custkey == orders.o_custkey)
        .join(n1, F.col("s_nationkey") == F.col("s_nk"))
        .join(n2, F.col("c_nationkey") == F.col("c_nk"))
        .filter(
            F.col("supp_nation").isin(*names)
            & F.col("cust_nation").isin(*names)
            & (F.col("supp_nation") != F.col("cust_nation"))
        )
        .select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            disc_price().alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum("volume").cast("double").alias("revenue"))
    )


@query(
    "q11_important_stock",
    oracle="""
    SELECT p_partkey, CAST(SUM(part_value) AS DOUBLE) AS stock_value
    FROM (
      SELECT l_partkey AS p_partkey,
             CAST(l_extendedprice AS DECIMAL(12,2)) *
             CAST(l_quantity AS DECIMAL(12,2)) AS part_value
      FROM lineitem
    ) pv
    GROUP BY p_partkey
    HAVING CAST(SUM(part_value) AS DOUBLE) > (
      SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
                       CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) * 0.001
      FROM lineitem
    )
    """,
    description=(
        "TPC-H Q11-style: HAVING over scalar subquery threshold. The 1-row "
        "global aggregate is broadcast-cross-joined onto the per-part rows "
        "(single plan, no driver collect) — same pattern as "
        "daily_event_anomaly_zscore"
    ),
)
def q11(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    pv = dec("l_extendedprice") * dec("l_quantity")
    per_part = (
        li.select(F.col("l_partkey").alias("p_partkey"), pv.alias("part_value"))
        .groupBy("p_partkey")
        .agg(F.sum("part_value").cast("double").alias("stock_value"))
    )
    threshold = li.agg((F.sum(pv).cast("double") * F.lit(0.001)).alias("__thr"))
    return (
        per_part.crossJoin(F.broadcast(threshold))
        .filter(F.col("stock_value") > F.col("__thr"))
        .drop("__thr")
    )


@query(
    "q12_shipmode_priority",
    oracle="""
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
             AS closed_count,
           CAST(SUM(CASE WHEN o_orderstatus <> 'F' THEN 1 ELSE 0 END) AS BIGINT)
             AS open_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY o_orderpriority
    """,
    description="TPC-H Q12-style: conditional counts per priority class",
)
def q12(spark, sf_dir):
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
            .cast("long")
            .alias("closed_count"),
            F.sum(F.when(F.col("o_orderstatus") != "F", 1).otherwise(0))
            .cast("long")
            .alias("open_count"),
        )
    )


@query(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    """,
    description="TPC-H Q13: outer-join + double aggregation (order counts)",
)
def q13(spark, sf_dir):
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "q17_small_quantity_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0
           AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#1'
      AND l_quantity < (
        SELECT (CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                / COUNT(*)) * 0.2
        FROM lineitem l2
        WHERE l2.l_partkey = lineitem.l_partkey
      )
    """,
    description="TPC-H Q17: correlated scalar subquery per part",
)
def q17(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    # Float-parity: exact decimal sum then one float divide/multiply —
    # identical IEEE op sequence to the oracle, order-free.
    avg_qty = li.groupBy(F.col("l_partkey").alias("avg_pk")).agg(
        (
            (F.sum(dec("l_quantity")).cast("double") / F.count(F.lit(1)))
            * 0.2
        ).alias("qty_threshold")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(avg_qty, li.l_partkey == F.col("avg_pk"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            (F.sum(dec("l_extendedprice")).cast("double") / F.lit(7.0)).alias("avg_yearly")
        )
    )


@query(
    "q18_large_orders",
    oracle="""
    SELECT c_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY c_custkey, o_orderkey, o_orderdate
    HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 150
    """,
    description="TPC-H Q18: large-volume orders via grouped HAVING",
)
def q18(spark, sf_dir):
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    # Pre-aggregate lineitem by l_orderkey and apply the HAVING > 150 filter
    # BEFORE touching orders/customer: lineitem is the big fact (≈4 rows per
    # order), so the group-sum shrinks it 4×, and the selective qty filter
    # leaves a tiny survivor set — both subsequent joins then shuffle/probe
    # only the survivors instead of the full 3-way join feeding the groupBy.
    # Semantics are unchanged (the HAVING predicate depends only on the
    # per-order sum; c_custkey/o_orderdate are functionally determined by
    # o_orderkey, so grouping after the join on the same key set is
    # equivalent).
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity")).alias("qty_dec"))
        .filter(F.col("qty_dec") > 150)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.col("qty_dec").cast("double").alias("total_qty"),
        )
    )


@query(
    "q19_disjunctive_predicates",
    oracle=f"""
    SELECT CAST(SUM({_DP}) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 1 AND l_quantity <= 20)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity >= 10 AND l_quantity <= 30)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity >= 20 AND l_quantity <= 40)
    """,
    description="TPC-H Q19: OR-of-ANDs join predicates (CNF conversion)",
)
def q19(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    q = F.col("l_quantity")
    size = F.col("p_size")
    cond = (
        ((F.col("p_brand") == "Brand#1") & size.between(1, 15) & q.between(1, 20))
        | ((F.col("p_brand") == "Brand#2") & size.between(10, 30) & q.between(10, 30))
        | ((F.col("p_brand") == "Brand#3") & size.between(20, 50) & q.between(20, 40))
    )
    return joined.filter(cond).agg(sum_money(disc_price(), "revenue"))


@query(
    "q22_global_sales_opportunity",
    oracle="""
    SELECT nation_prefix, COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
    FROM (
      SELECT c_nationkey % 5 AS nation_prefix, c_acctbal, c_custkey
      FROM customer
      WHERE c_acctbal > (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
               / COUNT(*)
        FROM customer WHERE c_acctbal > 0
      )
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    ) hot
    GROUP BY nation_prefix
    """,
    description=(
        "TPC-H Q22: scalar subquery + anti-join over customers. The 1-row "
        "AVG aggregate is broadcast-cross-joined (single plan, no driver "
        "collect)"
    ),
)
def q22(spark, sf_dir):
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    # Float-parity: exact decimal sum, one float division — the raw-double
    # AVG threshold was accumulation-order dependent at the boundary.
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        (F.sum(dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias(
            "__avg_bal"
        )
    )
    hot = (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("__avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select((F.col("c_nationkey") % 5).alias("nation_prefix"), "c_acctbal")
    )
    return hot.groupBy("nation_prefix").agg(
        F.count(F.lit(1)).alias("numcust"),
        sum_money(dec("c_acctbal"), "totacctbal"),
    )
