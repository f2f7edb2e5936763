"""Composite analytical workloads: TPC-H queries adapted to the fixture
star schema (SURVEY.md §1.2 — a column subset of real TPC-H, so predicates
on missing columns are re-targeted to existing ones; each docstring notes
the deviation).

These are the "a user could run their whole workload here" proof: multi-join
star queries, exists/anti-join subqueries, group-wise top-k — each one plan
composed entirely of operators from §2B, exercised end-to-end through
Catalyst (join reordering, broadcast selection via AQE, partial aggregation).

Scale notes: every query keeps the fact table (lineitem/orders) on the
probe side; dimensions (region/nation/supplier/part) are broadcast-sized at
any realistic SF and AQE picks broadcast joins for them without hints.
Top-k uses window `row_number() <= k` with full tie-breaks — deterministic
under any partitioning, and Spark ≥3.5 pushes a window-group-limit below
the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from datapipelines_python_spark.catalog import load_table
from datapipelines_python_spark.operators._helpers import (
    DEC,
    davg,
    dsum,
    round4,
    spread,
    sql_davg,
    sql_dsum,
    sql_round4,
)
from datapipelines_python_spark.operators.knn import ANN, EdgeSource, knn_twins
from datapipelines_python_spark.operators.llm import sql_dot
from datapipelines_python_spark.registry import query

_DISC_PRICE = "l_extendedprice * (1 - l_discount)"


def _disc_price() -> F.Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


@query(
    "tpch_q3_shipping_priority",
    oracle=f"""
        WITH agg AS (
            SELECT l_orderkey,
                   {sql_dsum(_DISC_PRICE)} AS revenue,
                   o_orderdate
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-03-15'
              AND l_shipdate > TIMESTAMP '1998-03-15'
            GROUP BY l_orderkey, o_orderdate
        )
        SELECT l_orderkey, revenue, o_orderdate
        FROM agg
        QUALIFY ROW_NUMBER() OVER (ORDER BY revenue DESC, l_orderkey) <= 10
    """,
    tags=("workload", "tpch"),
    bench=True,
)
def tpch_q3_shipping_priority(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q3 (shipping priority), minus the missing o_shippriority
    column: unshipped BUILDING-segment orders by pending revenue, top 10.
    Plan: two fact joins → hash agg → global top-k (TakeOrdered after the
    window-group-limit pushdown)."""
    c = load_table(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf, "orders").filter(F.col("o_orderdate") < "1998-03-15")
    li = spread(
        load_table(spark, sf, "lineitem").filter(F.col("l_shipdate") > "1998-03-15"),
        "l_orderkey", sf=sf, table="lineitem", cost="join_chain",
    )
    agg = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(_disc_price()).alias("revenue"))
    )
    w = W.orderBy(F.desc("revenue"), F.asc("l_orderkey"))
    return (
        agg.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("l_orderkey", "revenue", "o_orderdate")
    )


@query(
    "tpch_q4_order_priority",
    oracle="""
        SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-07-01'
          AND o_orderdate < TIMESTAMP '1997-10-01'
          AND EXISTS (
              SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
          )
        GROUP BY o_orderpriority
    """,
    tags=("workload", "tpch"),
)
def tpch_q4_order_priority(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q4 (order-priority checking). The fixture has no
    l_commitdate/l_receiptdate, so "late" is re-defined as any line shipped
    after the order date. Plan: left-semi join (EXISTS) before the agg."""
    o = load_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1997-07-01") & (F.col("o_orderdate") < "1997-10-01")
    )
    li = load_table(spark, sf, "lineitem")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@query(
    "tpch_q5_local_supplier_volume",
    oracle=f"""
        SELECT n_name, {sql_dsum(_DISC_PRICE)} AS revenue
        FROM region
        JOIN nation ON n_regionkey = r_regionkey
        JOIN customer ON c_nationkey = n_nationkey
        JOIN orders ON o_custkey = c_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate < TIMESTAMP '1999-01-01'
        GROUP BY n_name
    """,
    tags=("workload", "tpch"),
    bench=True,
)
def tpch_q5_local_supplier_volume(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): revenue from orders where the
    supplier and customer share a nation, per nation of one region.
    Six-table star join — the join-reordering/broadcast showcase."""
    r = load_table(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf, "nation")
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1999-01-01")
    )
    li = spread(
        load_table(spark, sf, "lineitem"), "l_orderkey", sf=sf, table="lineitem",
        cost="join_chain",
    )
    s = load_table(spark, sf, "supplier")
    joined = (
        F.broadcast(r)
        .join(n, n.n_regionkey == r.r_regionkey)
        .join(c, c.c_nationkey == n.n_nationkey)
        .join(o, o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
    )
    return joined.groupBy("n_name").agg(dsum(_disc_price()).alias("revenue"))


@query(
    "tpch_q6_revenue_forecast",
    oracle=f"""
        SELECT {sql_dsum('l_extendedprice * l_discount')} AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
          AND l_discount BETWEEN 0.03 AND 0.07
          AND l_quantity < 24
    """,
    tags=("workload", "tpch"),
)
def tpch_q6_revenue_forecast(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): pure scan-filter-agg; every
    predicate reaches the parquet reader as a pushed filter."""
    li = load_table(spark, sf, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 24)
        ).agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "tpch_q10_returned_items",
    oracle=f"""
        WITH agg AS (
            SELECT c_custkey, c_name,
                   {sql_dsum(_DISC_PRICE)} AS revenue,
                   c_acctbal, n_name
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE o_orderdate >= TIMESTAMP '1997-10-01'
              AND o_orderdate < TIMESTAMP '1998-01-01'
              AND l_returnflag = 'R'
            GROUP BY c_custkey, c_name, c_acctbal, n_name
        )
        SELECT c_custkey, c_name, revenue, c_acctbal, n_name
        FROM agg
        QUALIFY ROW_NUMBER() OVER (ORDER BY revenue DESC, c_custkey) <= 20
    """,
    tags=("workload", "tpch"),
)
def tpch_q10_returned_items(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): top 20 customers by revenue
    lost to returns in a quarter."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1997-10-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = load_table(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf, "nation")
    agg = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(_disc_price()).alias("revenue"))
    )
    w = W.orderBy(F.desc("revenue"), F.asc("c_custkey"))
    return (
        agg.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    )


@query(
    "tpch_q13_customer_distribution",
    oracle="""
        WITH per_cust AS (
            SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey
        )
        SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
        FROM per_cust
        GROUP BY c_count
    """,
    tags=("workload", "tpch"),
)
def tpch_q13_customer_distribution(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q13 (customer distribution): two-level aggregation over a
    left outer join — the histogram-of-histograms shape."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "tpch_q14_promo_effect",
    oracle=f"""
        SELECT {sql_round4(
            "100.0 * "
            + sql_dsum(f"CASE WHEN p_type LIKE 'PROMO%' THEN {_DISC_PRICE} ELSE 0 END")
            + " / " + sql_dsum(_DISC_PRICE)
        )} AS promo_revenue_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-09-01'
          AND l_shipdate < TIMESTAMP '1997-10-01'
    """,
    tags=("workload", "tpch"),
)
def tpch_q14_promo_effect(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): share of revenue from PROMO parts in
    one month. Conditional aggregation over a fact⋈dim broadcast join."""
    li = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-09-01") & (F.col("l_shipdate") < "1997-10-01")
    )
    p = load_table(spark, sf, "part")
    promo = F.when(F.col("p_type").like("PROMO%"), _disc_price()).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            round4(100.0 * dsum(promo) / dsum(_disc_price())).alias(
                "promo_revenue_pct"
            )
        )
    )


@query(
    "tpch_q18_large_volume_customer",
    oracle=f"""
        WITH big AS (
            SELECT l_orderkey, {sql_dsum('l_quantity')} AS total_qty
            FROM lineitem
            GROUP BY l_orderkey
            HAVING SUM(CAST(l_quantity AS DECIMAL(38,8))) > 200
        )
        SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
               total_qty
        FROM big
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
    """,
    tags=("workload", "tpch"),
    bench=True,
)
def tpch_q18_large_volume_customer(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q18 (large-volume customer): orders whose total quantity
    exceeds 200 (threshold scaled to the fixture's ~4 lines/order), with
    customer detail. Agg-then-join keeps the HAVING before the joins, so
    only qualifying orders shuffle onward."""
    li = spread(
        load_table(spark, sf, "lineitem"), "l_orderkey", sf=sf, table="lineitem",
        cost="join_chain",
    )
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum(F.col("l_quantity")).alias("total_qty"))
        .filter(F.col("total_qty") > 200)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice",
            "total_qty",
        )
    )


@query(
    "tpch_q19_discounted_revenue",
    oracle=f"""
        SELECT {sql_dsum(_DISC_PRICE)} AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#4'  AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 1 AND 20)
           OR (p_brand = 'Brand#19' AND p_size BETWEEN 10 AND 30
                   AND l_quantity BETWEEN 10 AND 30)
           OR (p_brand = 'Brand#2'  AND p_size BETWEEN 20 AND 50
                   AND l_quantity BETWEEN 20 AND 50)
    """,
    tags=("workload", "tpch"),
)
def tpch_q19_discounted_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue): disjunction of brand/size/quantity
    triples across the join — the OR-of-ANDs predicate-pushdown test."""
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#4") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#19") & F.col("p_size").between(10, 30)
           & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(20, 50)
           & F.col("l_quantity").between(20, 50))
    )
    return j.filter(cond).agg(
        dsum(_disc_price()).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "tpch_q22_sales_opportunity",
    oracle=f"""
        WITH avg_bal AS (
            SELECT {sql_davg('c_acctbal')} AS a FROM customer WHERE c_acctbal > 0
        )
        SELECT n_name,
               CAST(COUNT(*) AS BIGINT) AS n_custs,
               {sql_dsum('c_acctbal')} AS total_bal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        CROSS JOIN avg_bal
        WHERE c_acctbal > a
          AND NOT EXISTS (
              SELECT 1 FROM orders
              WHERE o_custkey = c_custkey
                AND o_orderdate >= TIMESTAMP '2000-01-01'
          )
        GROUP BY n_name
    """,
    tags=("workload", "tpch"),
)
def tpch_q22_sales_opportunity(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity), adapted: the fixture has no
    c_phone country codes and every customer has orders, so the target is
    rich customers (above-average positive balance) with no RECENT orders
    (none since 2000). Scalar-subquery broadcast + anti-join + agg."""
    c = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    o = load_table(spark, sf, "orders").filter(F.col("o_orderdate") >= "2000-01-01")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        davg(F.col("c_acctbal")).alias("a")
    )
    rich = c.crossJoin(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("a"))
    no_recent = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return (
        no_recent.join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            dsum(F.col("c_acctbal")).alias("total_bal"),
        )
    )


@query(
    "tpch_q7_volume_shipping",
    oracle=f"""
        SELECT supp_nation, cust_nation, l_year,
               {sql_dsum('volume')} AS revenue
        FROM (
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   CAST(YEAR(l_shipdate) AS INT) AS l_year,
                   {_DISC_PRICE} AS volume
            FROM supplier
            JOIN lineitem ON s_suppkey = l_suppkey
            JOIN orders ON o_orderkey = l_orderkey
            JOIN customer ON c_custkey = o_custkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
              AND l_shipdate BETWEEN TIMESTAMP '1995-01-01'
                                 AND TIMESTAMP '1996-12-31'
        ) shipping
        GROUP BY supp_nation, cust_nation, l_year
    """,
    tags=("workload", "tpch"),
)
def tpch_q7_volume_shipping(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): trade volume between two nations by year
    and direction. Double nation-dim join (supplier side and customer side)
    with a cross-side pair predicate; both nation dims broadcast, the pair
    filter runs post-join on two tiny columns."""
    s = load_table(spark, sf, "supplier")
    li = load_table(spark, sf, "lineitem").filter(
        F.col("l_shipdate").between("1995-01-01", "1996-12-31")
    )
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    pair = ("NATION_1", "NATION_2")
    n1 = load_table(spark, sf, "nation").filter(F.col("n_name").isin(*pair)).alias("n1")
    n2 = load_table(spark, sf, "nation").filter(F.col("n_name").isin(*pair)).alias("n2")
    j = (
        s.join(li, s.s_suppkey == li.l_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1.n_nationkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2.n_nationkey"))
        .filter(F.col("n1.n_name") != F.col("n2.n_name"))
    )
    return (
        j.select(
            F.col("n1.n_name").alias("supp_nation"),
            F.col("n2.n_name").alias("cust_nation"),
            F.year("l_shipdate").alias("l_year"),
            _disc_price().alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dsum(F.col("volume")).alias("revenue"))
    )


@query(
    "tpch_q8_national_market_share",
    oracle=f"""
        SELECT o_year,
               {sql_round4(
                   sql_dsum("CASE WHEN nation = 'NATION_5' THEN volume ELSE 0 END")
                   + " / " + sql_dsum('volume')
               )} AS mkt_share
        FROM (
            SELECT CAST(YEAR(o_orderdate) AS INT) AS o_year,
                   {_DISC_PRICE} AS volume,
                   n2.n_name AS nation
            FROM part
            JOIN lineitem ON p_partkey = l_partkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN region ON n1.n_regionkey = r_regionkey
            JOIN nation n2 ON s_nationkey = n2.n_nationkey
            WHERE r_name = 'ASIA'
              AND o_orderdate BETWEEN TIMESTAMP '1995-01-01'
                                  AND TIMESTAMP '1996-12-31'
              AND p_type LIKE 'ECONOMY%'
        ) all_nations
        GROUP BY o_year
    """,
    tags=("workload", "tpch"),
)
def tpch_q8_national_market_share(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q8 (national market share): NATION_5's share of ECONOMY-part
    revenue sold into ASIA, by order year. Eight-table join; the share is a
    conditional-sum / total-sum ratio (both decimal-exact, divided once in
    double, round4)."""
    p = load_table(spark, sf, "part").filter(F.col("p_type").like("ECONOMY%"))
    li = load_table(spark, sf, "lineitem")
    s = load_table(spark, sf, "supplier")
    o = load_table(spark, sf, "orders").filter(
        F.col("o_orderdate").between("1995-01-01", "1996-12-31")
    )
    c = load_table(spark, sf, "customer")
    n1 = load_table(spark, sf, "nation").alias("n1")
    n2 = load_table(spark, sf, "nation").alias("n2")
    r = load_table(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    j = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("n1.n_nationkey"))
        .join(F.broadcast(r), F.col("n1.n_regionkey") == r.r_regionkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2.n_nationkey"))
    )
    vol = j.select(
        F.year("o_orderdate").alias("o_year"),
        _disc_price().alias("volume"),
        F.col("n2.n_name").alias("nation"),
    )
    target = F.when(F.col("nation") == "NATION_5", F.col("volume")).otherwise(F.lit(0.0))
    return vol.groupBy("o_year").agg(
        round4(dsum(target) / dsum(F.col("volume"))).alias("mkt_share")
    )


@query(
    "tpch_q9_product_type_profit",
    oracle=f"""
        SELECT nation, o_year, {sql_dsum('amount')} AS profit
        FROM (
            SELECT n_name AS nation,
                   CAST(YEAR(o_orderdate) AS INT) AS o_year,
                   {_DISC_PRICE} AS amount
            FROM part
            JOIN lineitem ON p_partkey = l_partkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN orders ON o_orderkey = l_orderkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE p_name LIKE '%red%'
        ) profit
        GROUP BY nation, o_year
    """,
    tags=("workload", "tpch"),
    bench=True,
)
def tpch_q9_product_type_profit(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q9 (product-type profit), adapted: the fixture has no partsupp/
    ps_supplycost, so profit is discounted revenue only. Substring part-name
    scan ('%red%' can't push as a range) feeding a 5-table star join,
    grouped by supplier nation x order year."""
    p = load_table(spark, sf, "part").filter(F.col("p_name").like("%red%"))
    li = spread(
        load_table(spark, sf, "lineitem"), "l_orderkey", sf=sf, table="lineitem",
        cost="join_chain",
    )
    s = load_table(spark, sf, "supplier")
    o = load_table(spark, sf, "orders")
    n = load_table(spark, sf, "nation")
    j = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
    )
    return (
        j.select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            _disc_price().alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(dsum(F.col("amount")).alias("profit"))
    )


@query(
    "tpch_q11_important_stock",
    oracle=f"""
        WITH val AS MATERIALIZED (
            SELECT l_partkey,
                   {sql_dsum('l_extendedprice * l_quantity')} AS part_value
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'EUROPE'
            GROUP BY l_partkey
        ),
        tot AS (
            SELECT {sql_dsum('l_extendedprice * l_quantity')} AS total_value
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'EUROPE'
        )
        SELECT l_partkey, part_value
        FROM val CROSS JOIN tot
        WHERE part_value > total_value * 0.0005
    """,
    tags=("workload", "tpch"),
)
def tpch_q11_important_stock(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q11 (important stock), adapted: no partsupp table, so "stock
    value" is shipped value (extendedprice x quantity) per part from
    EUROPE-region suppliers; keep parts above 0.05% of the total. Scalar
    aggregate broadcast against a grouped frame — both sides decimal-exact
    doubles so the threshold compare is bit-stable cross-engine."""
    li = load_table(spark, sf, "lineitem")
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
    j = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
    )
    value = F.col("l_extendedprice") * F.col("l_quantity")
    val = j.groupBy("l_partkey").agg(dsum(value).alias("part_value"))
    tot = j.agg(dsum(value).alias("total_value"))
    return (
        val.crossJoin(F.broadcast(tot))
        .filter(F.col("part_value") > F.col("total_value") * 0.0005)
        .select("l_partkey", "part_value")
    )


@query(
    "tpch_q12_late_lines_priority",
    oracle="""
        SELECT l_linestatus,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM orders
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
          AND l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY l_linestatus
    """,
    tags=("workload", "tpch"),
)
def tpch_q12_late_lines_priority(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q12 (shipping modes / order priority), adapted: the fixture has
    no l_shipmode/l_commitdate/l_receiptdate, so the groups are line status
    and "late" means shipped >60 days after the order date. Join + interval
    arithmetic + dual conditional counts."""
    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    j = o.join(li, o.o_orderkey == li.l_orderkey).filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return j.groupBy("l_linestatus").agg(
        F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
        F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
    )


@query(
    "tpch_q15_top_supplier",
    oracle=f"""
        WITH rev AS MATERIALIZED (
            SELECT l_suppkey AS supplier_no,
                   {sql_dsum(_DISC_PRICE)} AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1997-04-01'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_revenue
        FROM supplier
        JOIN rev ON s_suppkey = supplier_no
        WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
    tags=("workload", "tpch"),
)
def tpch_q15_top_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q15 (top supplier): supplier(s) with max revenue in a quarter.
    The view becomes a grouped frame; the scalar MAX broadcasts back against
    it (the revenue doubles are decimal-exact, so equality is safe)."""
    li = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(_disc_price()).alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("max_revenue"))
    s = load_table(spark, sf, "supplier")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(s, F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "tpch_q16_parts_supplier_relationship",
    oracle="""
        SELECT p_brand, p_type, p_size,
               CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        JOIN part ON p_partkey = l_partkey
        WHERE p_brand <> 'Brand#1'
          AND p_type NOT LIKE 'PROMO%'
          AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
          AND l_suppkey NOT IN (
              SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
          )
        GROUP BY p_brand, p_type, p_size
    """,
    tags=("workload", "tpch"),
)
def tpch_q16_parts_supplier_relationship(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship), adapted: the part-supplier
    association comes from distinct lineitem pairs (no partsupp), and the
    excluded-supplier subquery targets negative account balances (no
    s_comment). Distinct pre-agg -> anti join -> count-distinct rollup."""
    # spread keyed on l_partkey (guide §2.4/§2.6): HashPartitioning on a
    # prefix of the distinct's (l_partkey, l_suppkey) clustering satisfies
    # it, so the fan-out exchange doubles as the distinct's distribution
    # and the serial lineitem scan parallelizes for free.
    li = spread(
        load_table(spark, sf, "lineitem"), "l_partkey", sf=sf,
        table="lineitem", cost="join_chain",
    )
    ps = li.select("l_partkey", "l_suppkey").distinct()
    p = load_table(spark, sf, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & ~F.col("p_type").like("PROMO%")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    )
    bad = load_table(spark, sf, "supplier").filter(F.col("s_acctbal") < 0)
    return (
        ps.join(bad, ps.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "tpch_q17_small_quantity_revenue",
    oracle=f"""
        WITH part_avg AS (
            SELECT l_partkey AS pk, {sql_davg('l_quantity')} AS avg_qty
            FROM lineitem
            GROUP BY l_partkey
        )
        SELECT {sql_round4(sql_dsum('l_extendedprice') + ' / 7.0')} AS avg_yearly
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        JOIN part_avg ON pk = l_partkey
        WHERE p_brand = 'Brand#7'
          AND l_quantity < 0.2 * avg_qty
    """,
    tags=("workload", "tpch"),
)
def tpch_q17_small_quantity_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): revenue lost if sub-20%-of-
    average-quantity orders for one brand were dropped (no p_container in
    the fixture, so brand is the only part filter). The correlated per-part
    AVG becomes a grouped frame broadcast back onto the fact — one lineitem
    pass per side, no per-row subquery."""
    li = load_table(spark, sf, "lineitem")
    part_avg = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        davg(F.col("l_quantity")).alias("avg_qty")
    )
    p = load_table(spark, sf, "part").filter(F.col("p_brand") == "Brand#7")
    j = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(part_avg), F.col("l_partkey") == F.col("pk"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
    )
    return j.agg(round4(dsum(F.col("l_extendedprice")) / 7.0).alias("avg_yearly"))


@query(
    "tpch_q20_potential_promotion",
    oracle="""
        SELECT s_suppkey, s_name
        FROM supplier
        WHERE s_suppkey IN (
            SELECT l_suppkey
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            WHERE p_name LIKE '%blue%'
              AND l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01'
            GROUP BY l_suppkey
            HAVING SUM(CAST(l_quantity AS DECIMAL(38,8))) > 300
        )
    """,
    tags=("workload", "tpch"),
)
def tpch_q20_potential_promotion(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q20 (potential part promotion), adapted: no partsupp/availqty,
    so qualifying suppliers are those who shipped >300 units of blue parts
    in 1997 (nation filter dropped — the fixture supplier table is small).
    Agg-with-HAVING subquery driving a left-semi join."""
    li = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    p = load_table(spark, sf, "part").filter(F.col("p_name").like("%blue%"))
    heavy = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(dsum(F.col("l_quantity")).alias("qty"))
        .filter(F.col("qty") > 300)
    )
    s = load_table(spark, sf, "supplier")
    return s.join(
        heavy, s.s_suppkey == heavy.l_suppkey, "left_semi"
    ).select("s_suppkey", "s_name")


@query(
    "tpch_q21_suppliers_kept_waiting",
    oracle="""
        SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        FROM supplier
        JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        JOIN orders ON o_orderkey = l1.l_orderkey
        WHERE o_orderstatus = 'F'
          AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
          AND EXISTS (
              SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey
          )
          AND NOT EXISTS (
              SELECT 1 FROM lineitem l3
              WHERE l3.l_orderkey = l1.l_orderkey
                AND l3.l_suppkey <> l1.l_suppkey
                AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY
          )
        GROUP BY s_name
    """,
    tags=("workload", "tpch"),
    bench=True,
)
def tpch_q21_suppliers_kept_waiting(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting), adapted: "late" is
    shipped >60 days after the order date (no commit/receipt dates); nation
    filter dropped. The EXISTS / NOT-EXISTS pair is rewritten set-wise: per
    (order, supplier) late-flags, then per-order counts — the sole late
    supplier on a multi-supplier finished order is the one who kept it
    waiting. Two grouped passes replace the two correlated subqueries, so
    the fact table shuffles on l_orderkey once per pass instead of probing
    per row."""
    o = load_table(spark, sf, "orders").filter(F.col("o_orderstatus") == "F")
    # spread keyed on l_orderkey: the SMJ with orders and both grouped
    # passes cluster on l_orderkey(+l_suppkey), so the fan-out exchange
    # doubles as their required distribution (guide §2.4 — one exchange
    # serves all downstream keyed ops; HashPartitioning(l_orderkey)
    # satisfies the (l_orderkey, l_suppkey) clustering).
    li = spread(
        load_table(spark, sf, "lineitem"), "l_orderkey", sf=sf, table="lineitem",
        cost="join_chain",
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey).withColumn(
        "is_late",
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
    )
    per_supp = j.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("is_late").alias("supp_late")
    )
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum(F.col("supp_late").cast("int")).alias("n_late_supp"),
    )
    cand = (
        j.filter(F.col("is_late"))
        .join(per_order.filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1)),
              "l_orderkey")
    )
    s = load_table(spark, sf, "supplier")
    return (
        cand.join(F.broadcast(s), cand.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@query(
    "tpch_q2_minimum_cost_supplier",
    oracle="""
        WITH ps AS MATERIALIZED (
            SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        ),
        euro AS MATERIALIZED (
            SELECT s_suppkey, s_acctbal, s_name, n_name
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'EUROPE'
        )
        SELECT s_acctbal, s_name, n_name, p_partkey, p_name
        FROM part
        JOIN ps ON p_partkey = ps.l_partkey
        JOIN euro ON ps.l_suppkey = euro.s_suppkey
        WHERE p_size = 15
          AND p_type LIKE 'STANDARD%'
          AND s_acctbal = (
              SELECT MIN(e2.s_acctbal)
              FROM ps ps2
              JOIN euro e2 ON ps2.l_suppkey = e2.s_suppkey
              WHERE ps2.l_partkey = p_partkey
          )
    """,
    tags=("workload", "tpch"),
)
def tpch_q2_minimum_cost_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier), adapted: the part-supplier relation
    is distinct lineitem pairs and the minimized "cost" is the supplier
    account balance (no ps_supplycost). The correlated per-part MIN becomes
    a window MIN over the joined frame — valid because the subquery's
    correlation key (p_partkey) is the window partition key and the
    candidate set (European suppliers of that part) is exactly the joined
    rows."""
    # spread keyed on l_partkey (guide §2.4/§2.6): HashPartitioning on a
    # prefix of the distinct's (l_partkey, l_suppkey) clustering satisfies
    # it, so the fan-out exchange doubles as the distinct's distribution
    # and the serial lineitem scan parallelizes for free.
    li = spread(
        load_table(spark, sf, "lineitem"), "l_partkey", sf=sf,
        table="lineitem", cost="join_chain",
    )
    ps = li.select("l_partkey", "l_suppkey").distinct()
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
    euro = (
        load_table(spark, sf, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .select("s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    p = load_table(spark, sf, "part").filter(
        (F.col("p_size") == 15) & F.col("p_type").like("STANDARD%")
    )
    j = (
        ps.join(F.broadcast(euro), ps.l_suppkey == euro.s_suppkey)
        .join(F.broadcast(p), ps.l_partkey == p.p_partkey)
    )
    w = W.partitionBy("p_partkey")
    return (
        j.withColumn("min_bal", F.min("s_acctbal").over(w))
        .filter(F.col("s_acctbal") == F.col("min_bal"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name")
    )


@query(
    "merge_upsert_emulated",
    oracle="""
        WITH src AS (
            SELECT o_orderkey AS k, 'U' AS op,
                   o_totalprice * 1.1 AS new_price
            FROM orders WHERE o_orderkey % 10 = 0 AND o_orderkey % 100 <> 7
            UNION ALL
            SELECT o_orderkey AS k, 'D' AS op, CAST(NULL AS DOUBLE)
            FROM orders WHERE o_orderkey % 100 = 7
            UNION ALL
            SELECT o_orderkey + 100000000 AS k, 'I' AS op,
                   CAST(100.0 AS DOUBLE)
            FROM orders WHERE o_orderkey % 1000 = 0
        ),
        t AS (
            SELECT o_orderkey AS k, o_custkey, o_totalprice FROM orders
        ),
        j AS (
            SELECT COALESCE(t.k, src.k) AS o_orderkey,
                   COALESCE(t.o_custkey, CAST(-1 AS BIGINT)) AS o_custkey,
                   CASE WHEN src.op IN ('U', 'I') THEN src.new_price
                        ELSE t.o_totalprice END AS o_totalprice,
                   src.op AS op
            FROM t FULL JOIN src ON t.k = src.k
        )
        SELECT o_orderkey, o_custkey, o_totalprice,
               COALESCE(op, 'K') AS op
        FROM j
        WHERE op IS NULL OR op <> 'D'
    """,
    tags=("workload", "incremental"),
)
def merge_upsert_emulated(spark: SparkSession, sf: str) -> DataFrame:
    """MERGE INTO (upsert + delete) emulated on plain parquet: one FULL
    OUTER join of target and change-set, then per-row CASE — update rows
    take the source price, delete rows drop, inserts materialize, untouched
    rows pass through. This is exactly the join Delta/Iceberg MERGE plans
    under the hood; without a table format you rewrite the joined result
    as the new snapshot (partition-overwrite for pruned subsets). The
    change-set here is derived deterministically from orders (10% updates,
    1% deletes, 0.1% inserts) so the oracle replays it."""
    o = load_table(spark, sf, "orders")
    upd = (
        o.filter((F.col("o_orderkey") % 10 == 0) & (F.col("o_orderkey") % 100 != 7))
        .select(
            F.col("o_orderkey").alias("k"), F.lit("U").alias("op"),
            (F.col("o_totalprice") * 1.1).alias("new_price"),
        )
    )
    dele = o.filter(F.col("o_orderkey") % 100 == 7).select(
        F.col("o_orderkey").alias("k"), F.lit("D").alias("op"),
        F.lit(None).cast("double").alias("new_price"),
    )
    ins = o.filter(F.col("o_orderkey") % 1000 == 0).select(
        (F.col("o_orderkey") + 100000000).alias("k"), F.lit("I").alias("op"),
        F.lit(100.0).alias("new_price"),
    )
    src = upd.unionByName(dele).unionByName(ins)
    t = o.select(
        F.col("o_orderkey").alias("k"), "o_custkey", "o_totalprice"
    )
    j = t.join(src, "k", "full").select(
        F.col("k").alias("o_orderkey"),
        F.coalesce(F.col("o_custkey"), F.lit(-1).cast("bigint")).alias("o_custkey"),
        F.when(F.col("op").isin("U", "I"), F.col("new_price"))
            .otherwise(F.col("o_totalprice")).alias("o_totalprice"),
        F.coalesce(F.col("op"), F.lit("K")).alias("op"),
    )
    return j.filter(F.col("op") != "D")


@query(
    "workload_funnel",
    oracle="""
        WITH v AS (
            SELECT user_id, MIN(ts) AS t1 FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ),
        c AS (
            SELECT e.user_id, MIN(e.ts) AS t2
            FROM events e JOIN v ON e.user_id = v.user_id
            WHERE e.event_type = 'click' AND e.ts > v.t1
            GROUP BY e.user_id
        ),
        p AS (
            SELECT e.user_id, MIN(e.ts) AS t3
            FROM events e JOIN c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase' AND e.ts > c.t2
            GROUP BY e.user_id
        )
        SELECT 1 AS step, 'view' AS stage,
               CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_users
        UNION ALL
        SELECT 2, 'click', CAST((SELECT COUNT(*) FROM c) AS BIGINT)
        UNION ALL
        SELECT 3, 'purchase', CAST((SELECT COUNT(*) FROM p) AS BIGINT)
    """,
    tags=("workload", "events"),
)
def workload_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered funnel (view → click → purchase, each step strictly after
    the previous): per-step earliest-qualifying timestamps chain through
    join + min-agg — each stage is one shuffle keyed on user_id, reusing
    the previous stage's tiny output as the join probe (AQE broadcasts
    it). The sequential-pattern query every event pipeline runs; a
    funnel over N steps is N cheap passes, never a per-user UDF sort."""
    e = load_table(spark, sf, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.min("ts").alias("t1"))
    )
    c = (
        e.join(v, "user_id")
        .filter((F.col("event_type") == "click") & (F.col("ts") > F.col("t1")))
        .groupBy("user_id").agg(F.min("ts").alias("t2"))
    )
    p = (
        e.join(c, "user_id")
        .filter((F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")))
        .groupBy("user_id").agg(F.min("ts").alias("t3"))
    )
    rows = [
        (1, "view", v), (2, "click", c), (3, "purchase", p),
    ]
    out = None
    for step, stage, df in rows:
        r = df.agg(F.count(F.lit(1)).cast("bigint").alias("n_users")).select(
            F.lit(step).alias("step"), F.lit(stage).alias("stage"), "n_users"
        )
        out = r if out is None else out.unionByName(r)
    return out


@query(
    "workload_cohort_retention",
    oracle="""
        WITH first_day AS (
            SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
            FROM events GROUP BY user_id
        ),
        activity AS (
            SELECT DISTINCT e.user_id, f.cohort_day,
                   DATEDIFF('day', f.cohort_day, CAST(e.ts AS DATE)) AS offset_d
            FROM events e JOIN first_day f ON e.user_id = f.user_id
        )
        SELECT cohort_day, CAST(offset_d AS INT) AS offset_d,
               CAST(COUNT(*) AS BIGINT) AS n_active
        FROM activity
        WHERE offset_d <= 7
        GROUP BY cohort_day, offset_d
    """,
    tags=("workload", "events"),
)
def workload_cohort_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen day, activity counted
    per day-offset (first week). Two user-keyed shuffles (first-day agg,
    then distinct activity) and a final tiny (cohort, offset) agg — the
    DAU-retention matrix at any scale; the DISTINCT collapses multiple
    same-day events before the count, where the volume actually is."""
    e = load_table(spark, sf, "events")
    first_day = e.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("cohort_day")
    )
    activity = (
        e.join(first_day, "user_id")
        .select(
            "user_id", "cohort_day",
            F.datediff(F.col("ts").cast("date"), F.col("cohort_day"))
                .alias("offset_d"),
        )
        .distinct()
    )
    return (
        activity.filter(F.col("offset_d") <= 7)
        .groupBy("cohort_day", F.col("offset_d").cast("int").alias("offset_d"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_active"))
    )


@query(
    "workload_scd2",
    oracle="""
        WITH base AS (
            SELECT c_custkey, c_mktsegment AS segment,
                   TIMESTAMP '2024-01-01 00:00:00' AS valid_from
            FROM customer
        ),
        changes AS (
            SELECT c_custkey, 'MACHINERY-NEW' AS segment,
                   TIMESTAMP '2024-06-01 00:00:00' AS valid_from
            FROM customer WHERE c_custkey % 5 = 0
        ),
        versions AS (
            SELECT * FROM base UNION ALL SELECT * FROM changes
        )
        SELECT c_custkey, segment, valid_from,
               LEAD(valid_from) OVER (
                   PARTITION BY c_custkey ORDER BY valid_from
               ) AS valid_to,
               (LEAD(valid_from) OVER (
                   PARTITION BY c_custkey ORDER BY valid_from
               ) IS NULL) AS is_current
        FROM versions
    """,
    tags=("workload", "scd"),
)
def workload_scd2(spark: SparkSession, sf: str) -> DataFrame:
    """Slowly-changing-dimension type 2: version rows carry
    [valid_from, valid_to) ranges; ``lead()`` over each key's version
    history closes the intervals and flags the current row. One window
    shuffle keyed on the dimension key. The change feed here is derived
    (20% of customers re-segmented mid-year) so the oracle replays it;
    in production the feed arrives incrementally and this op runs on
    (current ∪ new-changes) per batch — same plan, bounded input."""
    c = load_table(spark, sf, "customer")
    base = c.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("valid_from"),
    )
    changes = c.filter(F.col("c_custkey") % 5 == 0).select(
        "c_custkey",
        F.lit("MACHINERY-NEW").alias("segment"),
        F.to_timestamp(F.lit("2024-06-01 00:00:00")).alias("valid_from"),
    )
    versions = base.unionByName(changes)
    w = W.partitionBy("c_custkey").orderBy("valid_from")
    lead = F.lead("valid_from").over(w)
    return versions.select(
        "c_custkey", "segment", "valid_from",
        lead.alias("valid_to"),
        lead.isNull().alias("is_current"),
    )


@query(
    "workload_event_transitions",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   LAG(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev_type
            FROM events
        )
        SELECT prev_type, event_type AS next_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, next_type
    """,
    tags=("workload", "events"),
)
def workload_event_transitions(spark: SparkSession, sf: str) -> DataFrame:
    """Event-transition (Markov) matrix: per-user time-ordered ``lag``
    pairs consecutive events, then a tiny (from, to) count. Ordering ties
    are broken by event_id — an unordered tie inside ``lag`` is a
    nondeterminism bug that only shows up when partitioning changes. One
    user-keyed window shuffle, then a ~types² agg."""
    e = load_table(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id", "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    return (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


@query(
    "workload_anomaly_zscore",
    oracle=f"""
        WITH s AS (
            SELECT event_type,
                   COUNT(*) AS n,
                   {{s1}} AS s1,
                   {{s2}} AS s2
            FROM events GROUP BY event_type
        ),
        stats AS (
            SELECT event_type, n, s1 / n AS mean_v,
                   SQRT(s2 / n - (s1 / n) * (s1 / n)) AS sd
            FROM s
        )
        SELECT e.event_id, e.event_type,
               FLOOR(((e.value - st.mean_v) / st.sd) * 10000.0 + 0.5)
                   / 10000.0 AS z,
               ABS((e.value - st.mean_v) / st.sd) > 2.0 AS is_anomaly
        FROM events e JOIN stats st ON e.event_type = st.event_type
    """.format(
        s1="CAST(CAST(SUM(CAST(value AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE)",
        s2="CAST(CAST(SUM(CAST(value * value AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE)",
    ),
    tags=("workload", "events", "quality"),
)
def workload_anomaly_zscore(spark: SparkSession, sf: str) -> DataFrame:
    """Population z-score anomaly flags per event type: group stats from
    decimal-exact power sums (Σv, Σv² — identical on both engines and
    under any partitioning, unlike built-in stddev accumulation), joined
    back onto the stream as a broadcast (types × 3 numbers). The
    outlier-gate shape for metric streams; in production the stats come
    from yesterday's snapshot, making this a pure map-side operation."""
    e = load_table(spark, sf, "events")
    s = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("value")).alias("s1"),
        dsum(F.col("value") * F.col("value")).alias("s2"),
    )
    mean_v = F.col("s1") / F.col("n")
    stats = s.select(
        "event_type", mean_v.alias("mean_v"),
        F.sqrt(F.col("s2") / F.col("n") - mean_v * mean_v).alias("sd"),
    )
    z = F.try_divide(F.col("value") - F.col("mean_v"), F.col("sd"))
    return e.join(F.broadcast(stats), "event_type").select(
        "event_id", "event_type",
        (F.floor(z * 10000.0 + 0.5) / 10000.0).alias("z"),
        (F.abs(z) > 2.0).alias("is_anomaly"),
    )


@query(
    "workload_hypertable_rollup",
    oracle="""
        SELECT CASE WHEN GROUPING(hour_b) = 0 THEN 'hour' ELSE 'day' END
                   AS grain,
               day_b, hour_b, event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(CAST(SUM(CAST(value AS DECIMAL(38,8))) AS VARCHAR)
                    AS DOUBLE) AS sum_value
        FROM (
            SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day_b,
                   DATE_TRUNC('hour', ts) AS hour_b,
                   event_type, value
            FROM events
        ) b
        GROUP BY GROUPING SETS (
            (day_b, hour_b, event_type),
            (day_b, event_type)
        )
    """,
    tags=("workload", "timeseries"),
)
def workload_hypertable_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Hypertable-style continuous aggregate: one pass materializes BOTH
    the hourly and daily rollups via GROUPING SETS (Expand feeds a single
    shuffle; grain identified by GROUPING()) — the time-series
    materialized-view refresh shape. At 100 TB this runs incrementally
    per arriving partition and merges into the rollup table; coarser
    grains (week/month) re-aggregate the hourly output, never the raw
    events."""
    e = load_table(spark, sf, "events")
    e.select(
        F.date_trunc("day", "ts").alias("day_b"),
        F.date_trunc("hour", "ts").alias("hour_b"),
        "event_type", "value",
    ).createOrReplaceTempView("events_ht")
    return spark.sql(
        """
        SELECT CASE WHEN GROUPING(hour_b) = 0 THEN 'hour' ELSE 'day' END
                   AS grain,
               day_b, hour_b, event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(38,8))) AS DOUBLE) AS sum_value
        FROM events_ht
        GROUP BY GROUPING SETS (
            (day_b, hour_b, event_type),
            (day_b, event_type)
        )
        """
    )


@query(
    "graph_pagerank",
    oracle="""
        WITH edges AS (
            SELECT a.n_nationkey AS src, b.n_nationkey AS dst
            FROM nation a JOIN nation b
              ON a.n_regionkey = b.n_regionkey
             AND a.n_nationkey <> b.n_nationkey
        ),
        deg AS (
            SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src
        ),
        n AS (SELECT COUNT(*) AS n_nodes FROM nation),
        r0 AS (
            SELECT n_nationkey AS node, 1.0 / n.n_nodes AS r
            FROM nation, n
        ),
        contrib1 AS (
            SELECT e.dst AS node,
                   CAST(CAST(SUM(CAST(r0.r / deg.outdeg AS DECIMAL(38,18)))
                        AS VARCHAR) AS DOUBLE) AS inflow
            FROM edges e
            JOIN r0 ON e.src = r0.node
            JOIN deg ON e.src = deg.src
            GROUP BY e.dst
        ),
        r1 AS (
            SELECT r0.node,
                   0.15 / n.n_nodes
                   + 0.85 * COALESCE(contrib1.inflow, 0.0) AS r
            FROM r0 LEFT JOIN contrib1 ON r0.node = contrib1.node, n
        ),
        contrib2 AS (
            SELECT e.dst AS node,
                   CAST(CAST(SUM(CAST(r1.r / deg.outdeg AS DECIMAL(38,18)))
                        AS VARCHAR) AS DOUBLE) AS inflow
            FROM edges e
            JOIN r1 ON e.src = r1.node
            JOIN deg ON e.src = deg.src
            GROUP BY e.dst
        )
        SELECT r1.node,
               FLOOR((0.15 / n.n_nodes
                      + 0.85 * COALESCE(contrib2.inflow, 0.0))
                     * 10000000.0 + 0.5) / 10000000.0 AS rank
        FROM r1 LEFT JOIN contrib2 ON r1.node = contrib2.node, n
    """,
    tags=("workload", "graph"),
)
def graph_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """PageRank, two unrolled power iterations (damping 0.85) over the
    intra-region nation adjacency graph: each iteration is edges ⋈ ranks ⋈
    out-degrees → per-destination decimal-exact inflow sum — the standard
    DataFrame formulation that scales to billions of edges (ranks and
    degrees shuffle on node id; the edge table partitions by src and at
    scale would be pre-bucketed on it). Decimal(38,18) contribution sums
    make the per-iteration ranks bit-identical on both engines; more
    iterations repeat the same stage with ``localCheckpoint`` per round
    (cf. ``llm_dedup_clusters``)."""
    nat = load_table(spark, sf, "nation")
    a, b = nat.alias("a"), nat.alias("b")
    edges = a.join(
        b,
        (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
        & (F.col("a.n_nationkey") != F.col("b.n_nationkey")),
    ).select(
        F.col("a.n_nationkey").alias("src"), F.col("b.n_nationkey").alias("dst")
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    n_nodes = nat.count()  # scalar; node-count of the dimension graph
    # max(n,1): on an empty graph every downstream frame is empty anyway,
    # but the literal 1/n must not raise on the driver (empty-input safety)
    n_nodes_safe = max(n_nodes, 1)
    ranks = nat.select(
        F.col("n_nationkey").alias("node"),
        F.lit(1.0 / n_nodes_safe).alias("r"),
    )

    def step(r, final=False):
        contrib = (
            edges.join(r.withColumnRenamed("node", "src"), "src")
            .join(deg, "src")
            .groupBy("dst")
            .agg(
                F.sum((F.col("r") / F.col("outdeg")).cast("decimal(38,18)"))
                .cast("double")
                .alias("inflow")
            )
            .withColumnRenamed("dst", "node")
        )
        out = r.select("node").join(contrib, "node", "left").select(
            "node",
            (
                F.lit(0.15 / n_nodes_safe)
                + 0.85 * F.coalesce(F.col("inflow"), F.lit(0.0))
            ).alias("r"),
        )
        return out

    r1 = step(ranks)
    r2 = step(r1)
    return r2.select(
        "node",
        (F.floor(F.col("r") * 10000000.0 + 0.5) / 10000000.0).alias("rank"),
    )


@query(
    "workload_basket_affinity",
    oracle="""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ),
        n_orders AS (
            SELECT COUNT(DISTINCT l_orderkey) AS n FROM lineitem
        ),
        item_freq AS (
            SELECT l_partkey, COUNT(*) AS c FROM items GROUP BY l_partkey
        ),
        pairs AS (
            SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                   COUNT(*) AS c_ab
            FROM items a JOIN items b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            HAVING COUNT(*) >= 3
        )
        SELECT p.part_a, p.part_b,
               CAST(p.c_ab AS BIGINT) AS c_ab,
               FLOOR(((CAST(p.c_ab AS DOUBLE) / n_orders.n)
                      / ((CAST(fa.c AS DOUBLE) / n_orders.n)
                         * (CAST(fb.c AS DOUBLE) / n_orders.n)))
                     * 10000.0 + 0.5) / 10000.0 AS lift
        FROM pairs p
        JOIN item_freq fa ON p.part_a = fa.l_partkey
        JOIN item_freq fb ON p.part_b = fb.l_partkey,
        n_orders
    """,
    tags=("workload", "affinity"),
)
def workload_basket_affinity(spark: SparkSession, sf: str) -> DataFrame:
    """Market-basket affinity: co-occurrence counts of part pairs within
    an order plus lift (observed / expected-if-independent). The pair
    generation is an order-keyed self-join — cost scales with Σ(basket²),
    not catalog², because only items in the SAME order ever meet (the same
    inverted-index discipline as near-dedup). Frequencies broadcast back
    onto the surviving pairs. The recommender/assortment primitive."""
    # One l_orderkey-keyed exchange serves the whole pipeline (guide
    # §2.4): HashPartitioning(l_orderkey) satisfies the (l_orderkey,
    # l_partkey) clustering the distinct needs AND the self-join's
    # l_orderkey clustering, so neither re-shuffles — 3 exchanges → 1,
    # and the single-row-group scan fans out at the same time.
    li = spread(
        load_table(spark, sf, "lineitem"), "l_orderkey", sf=sf, table="lineitem",
        cost="join_chain",
    )
    items = li.select("l_orderkey", "l_partkey").distinct()
    # Denominator as a broadcast 1-row aggregate instead of an eager
    # .count() job in the builder (guide §5: no driver actions in query
    # paths — the count ran a full distinct per invocation before the
    # timed plan even started). Same bigint→double cast, bit-identical.
    n_df = items.agg(
        F.countDistinct("l_orderkey").cast("double").alias("_n_orders")
    )
    item_freq = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= 3)
    )
    fa = item_freq.select(F.col("l_partkey").alias("part_a"), F.col("c").alias("ca"))
    fb = item_freq.select(F.col("l_partkey").alias("part_b"), F.col("c").alias("cb"))
    j = (
        pairs.join(F.broadcast(fa), "part_a")
        .join(F.broadcast(fb), "part_b")
        .crossJoin(F.broadcast(n_df))
    )
    n_orders = F.col("_n_orders")
    lift = (F.col("c_ab").cast("double") / n_orders) / (
        (F.col("ca").cast("double") / n_orders)
        * (F.col("cb").cast("double") / n_orders)
    )
    return j.select(
        "part_a", "part_b",
        F.col("c_ab").cast("bigint").alias("c_ab"),
        (F.floor(lift * 10000.0 + 0.5) / 10000.0).alias("lift"),
    )


@query(
    "join_temporal_dim",
    oracle="""
        WITH versions AS (
            SELECT c_custkey, segment, valid_from,
                   LEAD(valid_from) OVER (
                       PARTITION BY c_custkey ORDER BY valid_from
                   ) AS valid_to
            FROM (
                SELECT c_custkey, c_mktsegment AS segment,
                       TIMESTAMP '2024-01-01 00:00:00' AS valid_from
                FROM customer
                UNION ALL
                SELECT c_custkey, 'MACHINERY-NEW',
                       TIMESTAMP '2024-01-15 00:00:00'
                FROM customer WHERE c_custkey % 5 = 0
            ) v
        )
        SELECT e.event_id, e.user_id, e.ts, d.segment
        FROM events e
        JOIN versions d
          ON e.user_id % 1500 = d.c_custkey
         AND e.ts >= d.valid_from
         AND (d.valid_to IS NULL OR e.ts < d.valid_to)
    """,
    tags=("join", "temporal", "scd"),
)
def join_temporal_dim(spark: SparkSession, sf: str) -> DataFrame:
    """Point-in-time join against a versioned (SCD2) dimension: each fact
    row picks the dimension version whose [valid_from, valid_to) interval
    contains its timestamp — equi-join on the key plus an interval
    residual, so it plans as a hash join with a post-filter, NOT a range
    scan. The companion read-side of ``workload_scd2``: together they are
    how history-correct enrichment works (what segment WAS this user in
    when the event happened). Dimension versions broadcast when small;
    at 100 TB dims, bucket both sides on the key."""
    c = load_table(spark, sf, "customer")
    base = c.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("valid_from"),
    )
    changes = c.filter(F.col("c_custkey") % 5 == 0).select(
        "c_custkey",
        F.lit("MACHINERY-NEW").alias("segment"),
        F.to_timestamp(F.lit("2024-01-15 00:00:00")).alias("valid_from"),
    )
    w = W.partitionBy("c_custkey").orderBy("valid_from")
    versions = base.unionByName(changes).select(
        "c_custkey", "segment", "valid_from",
        F.lead("valid_from").over(w).alias("valid_to"),
    )
    e = load_table(spark, sf, "events")
    return e.join(
        F.broadcast(versions),
        (F.pmod(e.user_id, F.lit(1500)) == versions.c_custkey)
        & (e.ts >= versions.valid_from)
        & (versions.valid_to.isNull() | (e.ts < versions.valid_to)),
    ).select("event_id", "user_id", "ts", "segment")


@query(
    "workload_profile_table",
    oracle="""
        SELECT 'o_orderkey' AS col_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT) AS n_nulls,
               CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
               CAST(MIN(o_orderkey) AS VARCHAR) AS min_repr,
               CAST(MAX(o_orderkey) AS VARCHAR) AS max_repr
        FROM orders
        UNION ALL
        SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
               COUNT(DISTINCT o_orderstatus),
               CAST(MIN(o_orderstatus) AS VARCHAR),
               CAST(MAX(o_orderstatus) AS VARCHAR)
        FROM orders
        UNION ALL
        SELECT 'o_orderpriority', COUNT(*), COUNT(*) - COUNT(o_orderpriority),
               COUNT(DISTINCT o_orderpriority),
               CAST(MIN(o_orderpriority) AS VARCHAR),
               CAST(MAX(o_orderpriority) AS VARCHAR)
        FROM orders
        UNION ALL
        SELECT 'o_custkey', COUNT(*), COUNT(*) - COUNT(o_custkey),
               COUNT(DISTINCT o_custkey),
               CAST(MIN(o_custkey) AS VARCHAR),
               CAST(MAX(o_custkey) AS VARCHAR)
        FROM orders
    """,
    tags=("workload", "profiling"),
)
def workload_profile_table(spark: SparkSession, sf: str) -> DataFrame:
    """Column profiling (the ANALYZE/data-quality summary): one row per
    column with row/null/distinct counts and min/max (string repr for a
    uniform schema). Computed as ONE aggregate pass over the table — all
    per-column stats are sibling aggregates in a single agg, then
    unpivoted driver-free via an Expand of literal column names — not N
    scans. The first thing a pipeline runs on unfamiliar input, and the
    stats feed CBO/layout decisions at scale."""
    o = load_table(spark, sf, "orders")
    cols = ["o_orderkey", "o_orderstatus", "o_orderpriority", "o_custkey"]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [
            F.count(c).alias(f"{c}__nonnull"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    wide = o.agg(*aggs)
    profile = None
    for c in cols:
        row = wide.select(
            F.lit(c).alias("col_name"),
            F.col("n_rows").cast("bigint").alias("n_rows"),
            (F.col("n_rows") - F.col(f"{c}__nonnull")).cast("bigint")
                .alias("n_nulls"),
            F.col(f"{c}__distinct").cast("bigint").alias("n_distinct"),
            F.col(f"{c}__min").alias("min_repr"),
            F.col(f"{c}__max").alias("max_repr"),
        )
        profile = row if profile is None else profile.unionByName(row)
    return profile


@query(
    "workload_incremental_rollup",
    oracle="""
        WITH existing AS (
            SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day_b,
                   event_type,
                   COUNT(*) AS n_events,
                   CAST(CAST(SUM(CAST(value AS DECIMAL(38,8))) AS VARCHAR)
                        AS DOUBLE) AS sum_value
            FROM events WHERE ts < TIMESTAMP '2024-01-20 00:00:00'
            GROUP BY 1, 2
        ),
        increment AS (
            SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day_b,
                   event_type,
                   COUNT(*) AS n_events,
                   CAST(CAST(SUM(CAST(value AS DECIMAL(38,8))) AS VARCHAR)
                        AS DOUBLE) AS sum_value
            FROM events WHERE ts >= TIMESTAMP '2024-01-20 00:00:00'
            GROUP BY 1, 2
        ),
        merged AS (
            SELECT day_b, event_type, n_events, sum_value FROM existing
            UNION ALL
            SELECT day_b, event_type, n_events, sum_value FROM increment
        )
        SELECT day_b, event_type,
               CAST(SUM(n_events) AS BIGINT) AS n_events,
               CAST(CAST(SUM(CAST(sum_value AS DECIMAL(38,8))) AS VARCHAR)
                    AS DOUBLE) AS sum_value
        FROM merged GROUP BY day_b, event_type
    """,
    tags=("workload", "timeseries", "incremental"),
)
def workload_incremental_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental materialized-view maintenance: yesterday's rollup table
    plus today's increment merge by re-aggregating their UNION — counts
    and decimal sums are mergeable, so the merge touches only rollup-sized
    data (days × types), never the raw history. This is the refresh loop
    ``workload_hypertable_rollup`` runs per arriving partition at 100 TB;
    mergeability is also why the profile/sketch ops keep sums and counts
    instead of finished averages. The cutoff splits the fixture stream
    into 'existing' and 'increment' so the oracle replays both halves."""
    e = load_table(spark, sf, "events")
    cutoff = F.lit("2024-01-20 00:00:00").cast("timestamp")

    def rollup(df):
        return df.groupBy(
            F.date_trunc("day", "ts").alias("day_b"),
            "event_type",
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("sum_value"),
        )

    existing = rollup(e.filter(F.col("ts") < cutoff))
    increment = rollup(e.filter(F.col("ts") >= cutoff))
    merged = existing.unionByName(increment)
    return merged.groupBy("day_b", "event_type").agg(
        F.sum("n_events").cast("bigint").alias("n_events"),
        dsum(F.col("sum_value")).alias("sum_value"),
    )


@query(
    "workload_rfm_segmentation",
    oracle="""
        WITH rfm AS (
            SELECT o_custkey,
                   DATEDIFF('day', MAX(CAST(o_orderdate AS DATE)),
                            DATE '2024-06-01') AS recency_days,
                   COUNT(*) AS frequency,
                   CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,8)))
                        AS VARCHAR) AS DOUBLE) AS monetary
            FROM orders GROUP BY o_custkey
        ),
        scored AS (
            SELECT o_custkey, recency_days, frequency, monetary,
                   NTILE(5) OVER (ORDER BY recency_days DESC, o_custkey)
                       AS r_score,
                   NTILE(5) OVER (ORDER BY frequency, o_custkey) AS f_score,
                   NTILE(5) OVER (ORDER BY monetary, o_custkey) AS m_score
            FROM rfm
        )
        SELECT o_custkey, recency_days,
               CAST(frequency AS BIGINT) AS frequency, monetary,
               r_score, f_score, m_score,
               CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
                    WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
                    WHEN r_score >= 4 AND f_score <= 2 THEN 'new'
                    ELSE 'regular' END AS segment
        FROM scored
    """,
    tags=("workload", "bi"),
)
def workload_rfm_segmentation(spark: SparkSession, sf: str) -> DataFrame:
    """RFM customer segmentation: recency / frequency / monetary per
    customer, quintile-scored with NTILE (ties broken by key so quintile
    membership is deterministic — unordered NTILE is a silent
    reproducibility bug), then rule-based segments. One customer-keyed
    agg plus three single-partition windows over the customer-sized frame
    (already aggregated, so the unpartitioned window is cheap — same
    argument as ``win_share_of_total``). The marketing-analytics staple."""
    o = load_table(spark, sf, "orders")
    ref = F.lit("2024-06-01").cast("date")
    rfm = o.groupBy("o_custkey").agg(
        F.datediff(ref, F.max(F.col("o_orderdate").cast("date")))
            .alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        dsum(F.col("o_totalprice")).alias("monetary"),
    )
    r_w = W.orderBy(F.col("recency_days").desc(), F.col("o_custkey"))
    f_w = W.orderBy(F.col("frequency"), F.col("o_custkey"))
    m_w = W.orderBy(F.col("monetary"), F.col("o_custkey"))
    scored = rfm.select(
        "o_custkey", "recency_days",
        F.col("frequency").cast("bigint").alias("frequency"),
        "monetary",
        F.ntile(5).over(r_w).alias("r_score"),
        F.ntile(5).over(f_w).alias("f_score"),
        F.ntile(5).over(m_w).alias("m_score"),
    )
    seg = (
        F.when((F.col("r_score") >= 4) & (F.col("f_score") >= 4), "champion")
        .when((F.col("r_score") <= 2) & (F.col("f_score") >= 4), "at_risk")
        .when((F.col("r_score") >= 4) & (F.col("f_score") <= 2), "new")
        .otherwise("regular")
    )
    return scored.withColumn("segment", seg)


@query(
    "workload_gap_fill_calendar",
    oracle="""
        WITH bounds AS (
            SELECT DATE_TRUNC('hour', MIN(ts)) AS lo,
                   DATE_TRUNC('hour', MAX(ts)) AS hi
            FROM events
        ),
        hours AS (
            SELECT UNNEST(GENERATE_SERIES(lo, hi, INTERVAL 1 HOUR)) AS hour_b
            FROM bounds
        ),
        types AS (SELECT DISTINCT event_type FROM events),
        grid AS (SELECT hour_b, event_type FROM hours CROSS JOIN types),
        actual AS (
            SELECT DATE_TRUNC('hour', ts) AS hour_b, event_type,
                   COUNT(*) AS n,
                   CAST(CAST(SUM(CAST(value AS DECIMAL(38,8))) AS VARCHAR)
                        AS DOUBLE) AS sv
            FROM events GROUP BY 1, 2
        )
        SELECT g.hour_b, g.event_type,
               CAST(COALESCE(a.n, 0) AS BIGINT) AS n_events,
               COALESCE(a.sv, 0.0) AS sum_value
        FROM grid g LEFT JOIN actual a
          ON g.hour_b = a.hour_b AND g.event_type = a.event_type
    """,
    tags=("workload", "timeseries"),
)
def workload_gap_fill_calendar(spark: SparkSession, sf: str) -> DataFrame:
    """Calendar densification (gap fill): hourly rollup left-joined onto
    the full hour × event_type grid generated with ``sequence`` + explode,
    missing cells zero-filled — what every time-series chart / downstream
    window needs before LOCF (``win_forward_fill``) or anomaly scoring
    can be trusted. The grid is *generated*, never scanned: bounds come
    from one tiny agg, then ``sequence(lo, hi, 1 hour)`` fans out
    driver-free on the executors; at 100 TB the grid side stays
    hours × types (thousands of rows) and broadcasts onto the rollup
    regardless of fact size."""
    e = load_table(spark, sf, "events")
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour_b")
    )
    types = e.select("event_type").distinct()
    grid = hours.crossJoin(types)
    actual = e.groupBy(
        F.date_trunc("hour", "ts").alias("hour_b"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("value")).alias("sv"),
    )
    return grid.join(actual, ["hour_b", "event_type"], "left").select(
        "hour_b",
        "event_type",
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_events"),
        F.coalesce(F.col("sv"), F.lit(0.0)).alias("sum_value"),
    )

@knn_twins(
    "graph_triangle_count",
    """
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM nv) AS n_nodes,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM mutual) AS n_edges,
               (SELECT CAST(COUNT(*) AS BIGINT)
                FROM mutual e1
                JOIN mutual e2 ON e1.v = e2.u
                JOIN mutual e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles
    """,
    ("workload", "graph", "similarity"),
)
def graph_triangle_count(spark: SparkSession, sf: str, src: EdgeSource) -> DataFrame:
    """Triangle counting over the mutual-5-NN cosine graph of the
    embedding corpus — the standard diagnostic for ANN-graph quality
    (triangle density ~ how clusterable the corpus is; near-zero means
    the kNN graph is noise). Edges are undirected (u < v) and each
    triangle is counted exactly once via the oriented three-way
    self-join e1(a,b) JOIN e2(b,c) JOIN e3(a,c), the degree-ordered
    formulation whose fan-out is bounded by edges x max-degree (<= k=5
    here) instead of degree^2 — at 100 TB the kNN edge list (n*k rows)
    is the *input*, produced by the banded sign-LSH source of
    ``graph_triangle_count_ann``, never the O(n^2) product of the exact
    source. Ranking on round4(cosine) with vec_id
    tie-break keeps neighbor sets engine-exact."""
    mutual = src.mutual(spark, sf)
    nv = load_table(spark, sf, "embeddings").select("vec_id")
    n_nodes = nv.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    n_edges = mutual.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    tri = (
        mutual.alias("e1")
        .join(mutual.alias("e2"), F.col("e1.v") == F.col("e2.u"))
        .join(
            mutual.alias("e3"),
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    return n_nodes.crossJoin(n_edges).crossJoin(tri)


@query(
    "ml_ols_regression",
    oracle=f"""
        WITH b AS (
            SELECT l_returnflag,
                   CAST(l_quantity AS BIGINT) AS x,
                   CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS yc
            FROM lineitem
        ),
        s AS (
            SELECT l_returnflag,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sxi,
                   CAST(SUM(yc) AS BIGINT) AS syi,
                   CAST(SUM(x * yc) AS BIGINT) AS sxyi,
                   CAST(SUM(x * x) AS BIGINT) AS sxxi,
                   CAST(SUM((yc * yc) // 1048576) AS BIGINT) AS syyh,
                   CAST(SUM((yc * yc) % 1048576) AS BIGINT) AS syyl
            FROM b GROUP BY l_returnflag
        ),
        d AS (
            SELECT l_returnflag, n,
                   CAST(sxi AS DOUBLE) AS sx,
                   CAST(syi AS DOUBLE) / 100.0 AS sy,
                   CAST(sxyi AS DOUBLE) / 100.0 AS sxy,
                   CAST(sxxi AS DOUBLE) AS sxx,
                   (CAST(syyh AS DOUBLE) * 1048576.0 + CAST(syyl AS DOUBLE))
                       / 10000.0 AS syy
            FROM s
        )
        SELECT l_returnflag, n,
               {sql_round4('(n * sxy - sx * sy) / (n * sxx - sx * sx)')} AS slope,
               {sql_round4('(sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n')}
                   AS intercept,
               {sql_round4('((n * sxy - sx * sy) * (n * sxy - sx * sy)) / ((n * sxx - sx * sx) * (n * syy - sy * sy))')}
                   AS r2
        FROM d
    """,
    tags=("ml", "regression"),
    bench=True,
)
def ml_ols_regression(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group simple OLS (price ~ quantity) in closed form from one
    aggregation pass: slope/intercept/R² derive from the five power sums
    (Σx, Σy, Σxy, Σx², Σy²), each computed EXACTLY so the fit is identical
    under any partitioning or engine.

    Exactness here rides integer sums, not decimal: quantities are
    integral and prices are whole cents (both verified properties of the
    domain), so every power sum is a bigint of known bound — primitive
    long adds inside whole-stage codegen, ~2.4× faster than the
    decimal(38,8) path this op used in round 1 (2.2 s → 0.9 s at sf0.1).
    The one sum that could overflow (Σ(cents²) ≤ 1.1e14·rows) is carried
    as a 2^20 hi/lo split — two bounded bigint sums reassembled in double
    on 3 final rows. Same map-side-combinable one-pass shape; the decimal
    route (`_helpers.dsum`) remains the general-domain tool when inputs
    aren't scale-bounded. Measured r10: a ``spread`` fan-out of the
    serial fixture scan made this op SLOWER (0.62 → 0.91 s at sf0.1) —
    codegen'd bigint sums are so cheap per row that the added exchange
    costs more than the serial stage; deliberately left serial."""
    li = load_table(spark, sf, "lineitem")
    x = F.col("l_quantity").cast("bigint")
    yc = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    b = li.select("l_returnflag", x.alias("x"), yc.alias("yc"))
    y2 = F.col("yc") * F.col("yc")
    s = b.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").alias("sxi"),
        F.sum("yc").alias("syi"),
        F.sum(F.col("x") * F.col("yc")).alias("sxyi"),
        F.sum(F.col("x") * F.col("x")).alias("sxxi"),
        F.sum(F.expr("(yc * yc) DIV 1048576")).alias("syyh"),
        F.sum(y2 % 1048576).alias("syyl"),
    )
    n = F.col("n")
    sx = F.col("sxi").cast("double")
    sy = F.col("syi").cast("double") / 100.0
    sxy = F.col("sxyi").cast("double") / 100.0
    sxx = F.col("sxxi").cast("double")
    syy = (F.col("syyh").cast("double") * 1048576.0 + F.col("syyl").cast("double")) / 10000.0
    slope = F.try_divide(n * sxy - sx * sy, n * sxx - sx * sx)
    return s.select(
        "l_returnflag", "n",
        round4(slope).alias("slope"),
        round4((sy - slope * sx) / n).alias("intercept"),
        round4(
            F.try_divide(
                (n * sxy - sx * sy) * (n * sxy - sx * sy),
                (n * sxx - sx * sx) * (n * syy - sy * sy),
            )
        ).alias("r2"),
    )


@query(
    "workload_ab_test",
    oracle="""
        WITH u AS (
            SELECT user_id,
                   CAST(('0x' || SUBSTRING(MD5(CAST(user_id AS VARCHAR) || ':ab'), 1, 8))::BIGINT % 2 AS INT) AS b,
                   CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS k
            FROM events GROUP BY user_id
        ),
        v AS (
            SELECT CAST(SUM(CASE WHEN b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                   CAST(SUM(CASE WHEN b = 0 THEN k ELSE 0 END) AS BIGINT) AS s1_a,
                   CAST(SUM(CASE WHEN b = 0 THEN k * k ELSE 0 END) AS BIGINT) AS s2_a,
                   CAST(SUM(CASE WHEN b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                   CAST(SUM(CASE WHEN b = 1 THEN k ELSE 0 END) AS BIGINT) AS s1_b,
                   CAST(SUM(CASE WHEN b = 1 THEN k * k ELSE 0 END) AS BIGINT) AS s2_b
            FROM u
        )
        SELECT n_a, n_b,
               FLOOR((CAST(s1_a AS DOUBLE) / n_a) * 10000.0 + 0.5) / 10000.0 AS mean_a,
               FLOOR((CAST(s1_b AS DOUBLE) / n_b) * 10000.0 + 0.5) / 10000.0 AS mean_b,
               FLOOR(((CAST(s1_a AS DOUBLE) / n_a - CAST(s1_b AS DOUBLE) / n_b)
                      / SQRT(((CAST(s2_a AS DOUBLE) - (CAST(s1_a AS DOUBLE) / n_a) * s1_a) / (n_a - 1)) / n_a
                             + ((CAST(s2_b AS DOUBLE) - (CAST(s1_b AS DOUBLE) / n_b) * s1_b) / (n_b - 1)) / n_b))
                     * 10000.0 + 0.5) / 10000.0 AS z
        FROM v
    """,
    tags=("workload", "experiment"),
)
def workload_ab_test(spark: SparkSession, sf: str) -> DataFrame:
    """Welch two-sample z-test for a hash-split A/B experiment on per-user
    purchase counts: users are assigned to arms by a salted content hash
    (reproducible across engines and re-runs — never rand()), the metric
    is each user's purchase count, and the statistic comes out of one
    user-grain aggregate plus a single-row reduction over integer power
    sums (n, Σk, Σk² per arm) — exact under any partitioning, with the
    float expression evaluated once at the end. At 100 TB the user-grain
    aggregate is the only shuffle. (A conversion-*rate* test degenerates
    on these fixtures — every user eventually purchases — so the count
    metric is also the statistically meaningful choice.)"""
    e = load_table(spark, sf, "events")
    u = e.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).cast("bigint").alias("k")
    )
    b = (
        F.conv(
            F.substring(F.md5(F.concat(F.col("user_id").cast("string"), F.lit(":ab"))), 1, 8),
            16, 10,
        ).cast("bigint") % 2
    ).cast("int")
    u = u.select(b.alias("b"), "k")
    arm = lambda side: F.when(F.col("b") == side, F.col("k")).otherwise(0)  # noqa: E731
    v = u.agg(
        F.sum(F.when(F.col("b") == 0, 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(arm(0)).cast("bigint").alias("s1_a"),
        F.sum(arm(0) * arm(0)).cast("bigint").alias("s2_a"),
        F.sum(F.when(F.col("b") == 1, 1).otherwise(0)).cast("bigint").alias("n_b"),
        F.sum(arm(1)).cast("bigint").alias("s1_b"),
        F.sum(arm(1) * arm(1)).cast("bigint").alias("s2_b"),
    )
    n_a, s1_a, s2_a = F.col("n_a"), F.col("s1_a"), F.col("s2_a")
    n_b, s1_b, s2_b = F.col("n_b"), F.col("s1_b"), F.col("s2_b")
    m_a = F.try_divide(s1_a.cast("double"), n_a)
    m_b = F.try_divide(s1_b.cast("double"), n_b)
    var_a = F.try_divide(s2_a.cast("double") - m_a * s1_a, n_a - 1)
    var_b = F.try_divide(s2_b.cast("double") - m_b * s1_b, n_b - 1)
    z = F.try_divide(m_a - m_b, F.sqrt(var_a / n_a + var_b / n_b))
    return v.select(
        "n_a", "n_b",
        round4(m_a).alias("mean_a"),
        round4(m_b).alias("mean_b"),
        round4(z).alias("z"),
    )


@query(
    "workload_dau_rolling",
    oracle="""
        WITH ud AS (
            SELECT DISTINCT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS uday,
                   user_id
            FROM events
        ),
        days AS (SELECT DISTINCT uday AS day FROM ud)
        SELECT d.day,
               CAST(COUNT(DISTINCT CASE WHEN u.uday = d.day THEN u.user_id END) AS BIGINT) AS dau,
               CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS dau_7d
        FROM days d
        JOIN ud u ON u.uday BETWEEN d.day - INTERVAL 6 DAY AND d.day
        GROUP BY d.day
    """,
    tags=("workload", "timeseries"),
)
def workload_dau_rolling(spark: SparkSession, sf: str) -> DataFrame:
    """DAU plus 7-day rolling distinct users per day. COUNT(DISTINCT) over a
    sliding window has no direct window-function form (distinct state can't
    be framed), so the classic distributed shape is used: dedup to (day,
    user) grain first — the big shuffle, at day grain ~30× smaller than raw
    events — then a broadcast interval join against the tiny day spine fans
    each user-day into the ≤7 rolling windows it belongs to, and one
    distinct-agg per window closes it. Window membership fan-out is bounded
    (×7), so this survives any corpus size."""
    e = load_table(spark, sf, "events")
    ud = e.select(
        F.date_trunc("day", "ts").alias("uday"), "user_id"
    ).distinct()
    days = ud.select(F.col("uday").alias("day")).distinct()
    j = ud.join(
        F.broadcast(days),
        (F.col("uday") >= F.col("day") - F.expr("INTERVAL 6 DAYS"))
        & (F.col("uday") <= F.col("day")),
    )
    return j.groupBy("day").agg(
        F.countDistinct(
            F.when(F.col("uday") == F.col("day"), F.col("user_id"))
        ).cast("bigint").alias("dau"),
        F.countDistinct("user_id").cast("bigint").alias("dau_7d"),
    )


@query(
    "workload_attribution_last_touch",
    oracle=f"""
        WITH seq AS (
            SELECT user_id, event_type, value,
                   LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
            FROM events
        )
        SELECT COALESCE(touch, 'direct') AS channel,
               CAST(COUNT(*) AS BIGINT) AS n_purchases,
               {sql_dsum('value')} AS revenue
        FROM seq WHERE event_type = 'purchase'
        GROUP BY 1
    """,
    tags=("workload", "events"),
)
def workload_attribution_last_touch(spark: SparkSession, sf: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase's value is credited
    to the user's most recent non-purchase event before it (or 'direct'
    when none exists). One window pass per user carries the last touch
    forward (`last(..., ignorenulls=True)` over a strictly-preceding row
    frame — never a per-user collect+loop), then a 5-ish-group rollup.
    The per-user ordered window is the only shuffle; ties on ts are broken
    by event_id so the credited channel is engine-deterministic."""
    e = load_table(spark, sf, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        e.select("user_id", "event_type", "value", touch.alias("touch"))
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce(F.col("touch"), F.lit("direct")).alias("channel"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            dsum(F.col("value")).alias("revenue"),
        )
    )


@query(
    "workload_latency_percentiles",
    oracle=f"""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               {sql_round4('QUANTILE_CONT(value, 0.5)')} AS p50,
               {sql_round4('QUANTILE_CONT(value, 0.95)')} AS p95,
               {sql_round4('QUANTILE_CONT(value, 0.99)')} AS p99
        FROM events
        GROUP BY event_type
    """,
    tags=("workload", "percentile", "events"),
)
def workload_latency_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    """The SLO dashboard staple: exact interpolating p50/p95/p99 of the
    metric column per event type. Exact percentiles need the full value
    multiset per group (one shuffle on the 5-ary type key); at 100 TB the
    same query downgrades gracefully to `approx_percentile` (t-digest,
    mergeable, bounded memory) — registered separately as
    `agg_approx_percentile` precisely because sketch outputs are
    engine-specific while this one is oracle-exact."""
    e = load_table(spark, sf, "events")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        round4(F.percentile("value", F.lit(0.5))).alias("p50"),
        round4(F.percentile("value", F.lit(0.95))).alias("p95"),
        round4(F.percentile("value", F.lit(0.99))).alias("p99"),
    )


@query(
    "llm_sketch_bloom",
    oracle="""
        WITH members AS (SELECT DISTINCT o_custkey AS k FROM orders),
        bits AS (
            SELECT DISTINCT
                   CAST(('0x' || SUBSTRING(MD5(CAST(k AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 8))::BIGINT % 2048 AS INT) AS pos
            FROM members, (SELECT UNNEST([0, 1, 2]) AS i) h
        ),
        probe AS (
            SELECT c.c_custkey,
                   CAST(('0x' || SUBSTRING(MD5(CAST(c.c_custkey AS VARCHAR) || ':' || CAST(h.i AS VARCHAR)), 1, 8))::BIGINT % 2048 AS INT) AS pos
            FROM customer c, (SELECT UNNEST([0, 1, 2]) AS i) h
        ),
        verdict AS (
            SELECT p.c_custkey,
                   CAST(COUNT(b.pos) AS BIGINT) = 3 AS maybe,
                   MAX(CASE WHEN m.k IS NULL THEN 0 ELSE 1 END) = 1 AS is_member
            FROM probe p
            LEFT JOIN bits b ON p.pos = b.pos
            LEFT JOIN members m ON p.c_custkey = m.k
            GROUP BY p.c_custkey
        )
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM members) AS n_members,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS n_bits_set,
               CAST(COUNT(*) AS BIGINT) AS n_probes,
               CAST(SUM(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT) AS n_maybe,
               CAST(SUM(CASE WHEN maybe AND NOT is_member THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
        FROM verdict
    """,
    tags=("llm", "sketch"),
)
def llm_sketch_bloom(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-filter membership sketch built and queried as DataFrames:
    m=2048 bits, k=3 salted-md5 hash positions — pure integer ops the
    oracle replays bit-for-bit, so even the false positives are
    oracle-checkable (completing the sketch family beside Count-Min and
    linear counting). The filter is the distinct set-bit table: mergeable
    by union (OR), broadcastable at any member cardinality that fits m.
    This is the join-pruning primitive at 100 TB — ship the bits to the
    probe side and drop non-members before the shuffle; Spark's own
    runtime bloom-join (`spark.sql.optimizer.runtime.bloomFilter`) does
    exactly this inside AQE."""
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    hashes = F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("i")

    def pos(key: F.Column) -> F.Column:
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(key.cast("string"), F.lit(":"), F.col("i").cast("string"))),
                    1, 8,
                ),
                16, 10,
            ).cast("bigint") % 2048
        ).cast("int")

    members = o.select(F.col("o_custkey").alias("k")).distinct()
    bits = (
        members.select("k", hashes)
        .select(pos(F.col("k")).alias("pos"))
        .distinct()
    )
    probe = c.select("c_custkey", hashes).select(
        "c_custkey", pos(F.col("c_custkey")).alias("pos")
    )
    verdict = (
        probe.join(F.broadcast(bits.withColumn("hit", F.lit(1))), "pos", "left")
        .join(
            F.broadcast(members.withColumn("mem", F.lit(1))),
            probe["c_custkey"] == members["k"],
            "left",
        )
        .groupBy("c_custkey")
        .agg(
            (F.count("hit").cast("bigint") == 3).alias("maybe"),
            (F.max(F.coalesce(F.col("mem"), F.lit(0))) == 1).alias("is_member"),
        )
    )
    n_members = members.agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
    n_bits = bits.agg(F.count(F.lit(1)).cast("bigint").alias("n_bits_set"))
    summary = verdict.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probes"),
        F.sum(F.when(F.col("maybe"), 1).otherwise(0)).cast("bigint").alias("n_maybe"),
        F.sum(
            F.when(F.col("maybe") & ~F.col("is_member"), 1).otherwise(0)
        ).cast("bigint").alias("n_false_pos"),
    )
    return n_members.crossJoin(n_bits).crossJoin(summary).select(
        "n_members", "n_bits_set", "n_probes", "n_maybe", "n_false_pos"
    )


@query(
    "workload_ship_lag",
    oracle=f"""
        SELECT o.o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               {sql_davg("DATE_DIFF('day', o.o_orderdate, l.l_shipdate)")} AS avg_lag_days,
               {sql_round4("QUANTILE_CONT(DATE_DIFF('day', o.o_orderdate, l.l_shipdate), 0.5)")} AS p50_lag,
               CAST(MAX(DATE_DIFF('day', o.o_orderdate, l.l_shipdate)) AS BIGINT) AS max_lag
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderpriority
    """,
    tags=("workload", "date"),
)
def workload_ship_lag(spark: SparkSession, sf: str) -> DataFrame:
    """Order-to-ship fulfillment lag per order priority: one fact⋈dim-ish
    equi-join (orders is 1/4 the fact size — AQE keeps it a shuffle join;
    at 100 TB both sides co-bucket on orderkey, see
    `join_bucketed_colocated`), lag computed as whole days (both fixture
    date columns are midnight-valued timestamps so the day diff is exact
    on both engines), then mean/median/max per the 5-ary priority key."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    lag = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            davg(lag).alias("avg_lag_days"),
            round4(F.percentile(lag, F.lit(0.5))).alias("p50_lag"),
            F.max(lag).cast("bigint").alias("max_lag"),
        )
    )


@knn_twins(
    "graph_khop_reach",
    """
        adj AS MATERIALIZED (
            SELECT u AS src, v AS dst FROM mutual
            UNION ALL
            SELECT v AS src, u AS dst FROM mutual
        ),
        seeds AS (SELECT vec_id AS seed FROM nv WHERE vec_id % 97 = 0),
        h1 AS (
            SELECT DISTINCT s.seed, a.dst
            FROM seeds s JOIN adj a ON a.src = s.seed
        ),
        reach AS (
            SELECT seed, dst FROM h1
            UNION
            SELECT h1.seed, a2.dst
            FROM h1 JOIN adj a2 ON a2.src = h1.dst
        )
        SELECT s.seed,
               CAST(COALESCE(c1.n, 0) AS BIGINT) AS n_hop1,
               CAST(COALESCE(c2.n, 0) AS BIGINT) AS n_reach2
        FROM seeds s
        LEFT JOIN (SELECT seed, COUNT(*) AS n FROM h1 GROUP BY seed) c1
               ON c1.seed = s.seed
        LEFT JOIN (SELECT seed, COUNT(*) AS n
                   FROM reach WHERE dst <> seed GROUP BY seed) c2
               ON c2.seed = s.seed
    """,
    ("workload", "graph", "similarity"),
)
def graph_khop_reach(spark: SparkSession, sf: str, src: EdgeSource) -> DataFrame:
    """2-hop BFS frontier over the mutual-5NN cosine graph from a
    deterministic seed set (vec_id % 97 = 0): per seed, the 1-hop degree
    and the distinct ≤2-hop reach — the expansion-rate diagnostic for
    ANN-graph navigability (how fast greedy search can spread). BFS is
    expressed as two self-joins on the adjacency list with a distinct
    between hops (frontier dedup — without it, fan-out multiplies rather
    than unions); k bounds each hop's fan-out at ×5, so an h-hop frontier
    costs ≤ seeds·k^h rows, never a full-graph traversal. The exact
    O(n²) kNN source is fixture-scale — at 100 TB the edge list arrives
    from the ANN source (``graph_khop_reach_ann``)."""
    mutual = src.mutual(spark, sf)
    nv = load_table(spark, sf, "embeddings").select("vec_id")
    adj = mutual.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        mutual.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    seeds = nv.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("seed")
    )
    h1 = (
        seeds.join(adj, adj["src"] == seeds["seed"])
        .select("seed", "dst")
        .distinct()
    )
    a2 = adj.select(F.col("src").alias("src2"), F.col("dst").alias("dst2"))
    reach = h1.select("seed", "dst").union(
        h1.join(a2, a2["src2"] == h1["dst"]).select("seed", F.col("dst2").alias("dst"))
    ).distinct()
    c1 = h1.groupBy("seed").agg(F.count(F.lit(1)).alias("n"))
    c2 = (
        reach.filter(F.col("dst") != F.col("seed"))
        .groupBy("seed")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        seeds.join(c1.withColumnRenamed("n", "n1"), "seed", "left")
        .join(c2.withColumnRenamed("n", "n2"), "seed", "left")
        .select(
            "seed",
            F.coalesce(F.col("n1"), F.lit(0)).cast("bigint").alias("n_hop1"),
            F.coalesce(F.col("n2"), F.lit(0)).cast("bigint").alias("n_reach2"),
        )
    )


@query(
    "ml_linreg_multi",
    oracle=f"""
        WITH s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   {sql_dsum('l_quantity')} AS sx1,
                   {sql_dsum('l_discount')} AS sx2,
                   {sql_dsum('l_extendedprice')} AS sy,
                   {sql_dsum('l_quantity * l_quantity')} AS sx1x1,
                   {sql_dsum('l_quantity * l_discount')} AS sx1x2,
                   {sql_dsum('l_discount * l_discount')} AS sx2x2,
                   {sql_dsum('l_quantity * l_extendedprice')} AS sx1y,
                   {sql_dsum('l_discount * l_extendedprice')} AS sx2y
            FROM lineitem
        ),
        c AS (
            SELECT n,
                   sx1x1 - sx1 * sx1 / n AS a11,
                   sx1x2 - sx1 * sx2 / n AS a12,
                   sx2x2 - sx2 * sx2 / n AS a22,
                   sx1y - sx1 * sy / n AS b1,
                   sx2y - sx2 * sy / n AS b2,
                   sx1 / n AS mx1, sx2 / n AS mx2, sy / n AS my
            FROM s
        )
        SELECT n,
               {sql_round4('(a22 * b1 - a12 * b2) / (a11 * a22 - a12 * a12)')} AS beta_qty,
               {sql_round4('(a11 * b2 - a12 * b1) / (a11 * a22 - a12 * a12)')} AS beta_disc,
               {sql_round4('my - ((a22 * b1 - a12 * b2) / (a11 * a22 - a12 * a12)) * mx1 - ((a11 * b2 - a12 * b1) / (a11 * a22 - a12 * a12)) * mx2')} AS intercept
        FROM c
    """,
    tags=("ml", "regression"),
)
def ml_linreg_multi(spark: SparkSession, sf: str) -> DataFrame:
    """Two-feature linear regression (price ~ quantity + discount) solved
    in closed form: one aggregation pass collects the 9 power sums, and
    the 2×2 normal equations are inverted symbolically (Cramer's rule) in
    the final projection — no iteration, no MLlib, no driver math. The
    decimal-exact sums make the fit partition-invariant; the float solve
    is one expression evaluated identically on both engines. This is the
    pattern for any fixed-small-d regression at 100 TB: shuffle d²/2
    numbers, never rows."""
    li = load_table(spark, sf, "lineitem")
    x1, x2, y = F.col("l_quantity"), F.col("l_discount"), F.col("l_extendedprice")
    s = li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        dsum(x1).alias("sx1"),
        dsum(x2).alias("sx2"),
        dsum(y).alias("sy"),
        dsum(x1 * x1).alias("sx1x1"),
        dsum(x1 * x2).alias("sx1x2"),
        dsum(x2 * x2).alias("sx2x2"),
        dsum(x1 * y).alias("sx1y"),
        dsum(x2 * y).alias("sx2y"),
    )
    n = F.col("n")
    c = s.select(
        "n",
        (F.col("sx1x1") - F.col("sx1") * F.col("sx1") / n).alias("a11"),
        (F.col("sx1x2") - F.col("sx1") * F.col("sx2") / n).alias("a12"),
        (F.col("sx2x2") - F.col("sx2") * F.col("sx2") / n).alias("a22"),
        (F.col("sx1y") - F.col("sx1") * F.col("sy") / n).alias("b1"),
        (F.col("sx2y") - F.col("sx2") * F.col("sy") / n).alias("b2"),
        (F.col("sx1") / n).alias("mx1"),
        (F.col("sx2") / n).alias("mx2"),
        (F.col("sy") / n).alias("my"),
    )
    det = F.col("a11") * F.col("a22") - F.col("a12") * F.col("a12")
    beta1 = F.try_divide(
        F.col("a22") * F.col("b1") - F.col("a12") * F.col("b2"), det
    )
    beta2 = F.try_divide(
        F.col("a11") * F.col("b2") - F.col("a12") * F.col("b1"), det
    )
    return c.select(
        "n",
        round4(beta1).alias("beta_qty"),
        round4(beta2).alias("beta_disc"),
        round4(
            F.col("my") - beta1 * F.col("mx1") - beta2 * F.col("mx2")
        ).alias("intercept"),
    )


@query(
    "workload_pareto_share",
    oracle=f"""
        WITH rev AS (
            SELECT o_custkey,
                   {sql_dsum('o_totalprice')} AS revenue
            FROM orders GROUP BY o_custkey
        ),
        ranked AS (
            SELECT o_custkey, revenue,
                   NTILE(5) OVER (ORDER BY revenue DESC, o_custkey ASC) AS q
            FROM rev
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(CASE WHEN q = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_top,
               {sql_round4(
                   "CAST(CAST(SUM(CASE WHEN q = 1 THEN CAST(revenue AS DECIMAL(38,8)) END) AS VARCHAR) AS DOUBLE)"
                   " / CAST(CAST(SUM(CAST(revenue AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE)"
               )} AS top20_share
        FROM ranked
    """,
    tags=("workload", "revenue"),
)
def workload_pareto_share(spark: SparkSession, sf: str) -> DataFrame:
    """The 80/20 question: what revenue share do the top-20% customers
    hold? Customer-grain rollup (the one real shuffle), NTILE(5) with a
    full (revenue, custkey) tie-break so quintile membership is
    engine-exact, then decimal-exact share arithmetic. The NTILE window
    is a single-partition sort at customer grain — fine to ~100M
    customers; beyond that the quintile boundary comes from
    `approx_percentile` instead and membership becomes a filter."""
    # spread keyed on o_custkey (guide §2.4/§2.6): the fan-out exchange
    # IS the rollup's required distribution, so the serial orders scan
    # parallelizes without adding an exchange; decimal sum is
    # order-independent.
    o = spread(
        load_table(spark, sf, "orders"), "o_custkey", sf=sf, table="orders"
    )
    rev = o.groupBy("o_custkey").agg(dsum(F.col("o_totalprice")).alias("revenue"))
    w = W.partitionBy().orderBy(F.desc("revenue"), F.asc("o_custkey"))
    ranked = rev.withColumn("q", F.ntile(5).over(w))
    top_sum = F.sum(
        F.when(F.col("q") == 1, F.col("revenue").cast("decimal(38,8)"))
    ).cast("double")
    all_sum = F.sum(F.col("revenue").cast("decimal(38,8)")).cast("double")
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum(F.when(F.col("q") == 1, 1).otherwise(0)).cast("bigint").alias("n_top"),
        round4(top_sum / all_sum).alias("top20_share"),
    )


@query(
    "llm_bpe_pair_stats",
    oracle="""
        WITH tok AS (
            SELECT UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS tok FROM documents
        ),
        pairs AS (
            SELECT UNNEST(list_transform(range(1, LENGTH(tok)), k -> SUBSTRING(tok, k, 2))) AS pair
            FROM tok WHERE LENGTH(tok) >= 2
        )
        SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
        FROM pairs GROUP BY pair
        ORDER BY n DESC, pair ASC LIMIT 20
    """,
    tags=("llm", "tokenizer"),
)
def llm_bpe_pair_stats(spark: SparkSession, sf: str) -> DataFrame:
    """The inner loop of BPE tokenizer training: corpus-wide counts of
    adjacent symbol pairs (here the character-level first iteration), top
    candidates ranked for the next merge. Pairs are materialized
    array-locally — `transform(sequence(...))` slices each token inside
    one projection, no window/lag over an exploded char table (which
    would shuffle n_chars rows) — then one count shuffle bounded by the
    pair alphabet. Real BPE iterates merge→recount; each round is this
    same plan over the rewritten symbol stream."""
    d = load_table(spark, sf, "documents")
    tok = d.select(
        F.explode(F.split(F.lower("text"), " ")).alias("tok")
    ).filter(F.length("tok") >= 2)
    pairs = tok.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("tok") - 1),
                lambda k: F.col("tok").substr(k, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(20)
    )


@query(
    "ml_pca_power",
    oracle=f"""
        WITH ex AS (
            SELECT vec_id, CAST(GENERATE_SUBSCRIPTS(embedding, 1) AS INT) AS i,
                   CAST(UNNEST(embedding) AS DOUBLE) AS x
            FROM embeddings
        ),
        mu AS (SELECT i, {sql_davg('x')} AS mu FROM ex GROUP BY i),
        sxx AS (
            SELECT a.i AS i, b.i AS j,
                   {sql_dsum('a.x * b.x')} AS sxy,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM ex a JOIN ex b ON a.vec_id = b.vec_id
            GROUP BY a.i, b.i
        ),
        c AS (
            SELECT s.i, s.j, s.sxy / s.cnt - mi.mu * mj.mu AS c
            FROM sxx s JOIN mu mi ON s.i = mi.i JOIN mu mj ON s.j = mj.i
        ),
        w AS (SELECT i, {sql_dsum('c')} AS w FROM c GROUP BY i),
        v AS (
            SELECT c.i, {sql_dsum('c.c * wj.w')} AS v
            FROM c JOIN w wj ON c.j = wj.i
            GROUP BY c.i
        ),
        nw AS (SELECT SQRT({sql_dsum('w * w')}) AS nw FROM w),
        nv AS (SELECT SQRT({sql_dsum('v * v')}) AS nv FROM v)
        SELECT v.i AS dim,
               {sql_round4('v.v / nv.nv')} AS loading,
               {sql_round4('nv.nv / nw.nw')} AS lambda_ratio
        FROM v, nw, nv
    """,
    tags=("ml", "embedding"),
)
def ml_pca_power(spark: SparkSession, sf: str) -> DataFrame:
    """Principal component of the embedding corpus by two power-iteration
    matvecs, entirely relational: the 64×64 covariance is an aggregate
    over locally-generated (i,j) pairs (decimal-exact sums → the matrix
    is partition-invariant), and each matvec is a broadcast join of the
    2080-row upper-triangle matrix (symmetric — round 10 stopped
    generating the mirrored half; each triangle cell contributes to both
    of its rows' sums instead) against a 64-row vector. The corpus-sized
    work is ONE
    shuffle-free map pass to build covariance — each vector's d(d+1)/2
    outer products are emitted by two chained generators inside the scan
    stage and map-side-combined down to 2080 keys before the only shuffle (the
    oracle writes the same multiset of products as an exact-equivalent
    self-join on vec_id; the engine never pays that join's n·d-row
    shuffle). Iteration cost is independent of n — the right split at
    100 TB, where d²=4096 numbers summarize 100 TB of vectors and the
    eigensolve is effectively free. Direction is normalized
    (loading = v/||v||); ||v||/||w|| estimates λ₁ after one
    ratio step. Deterministic with no randomized init: start vector is
    all-ones, fine unless the top component is exactly orthogonal to 1."""
    emb = load_table(spark, sf, "embeddings")
    # Fan the d² outer-product generation out BEFORE it happens (round-7
    # sf1-decade finding): the corpus fits one small parquet file, so the
    # scan stage — which generates n·d² rows from n input rows — got ONE
    # task regardless of cores (115 s at sf1, ~2 decimal-summed rows/µs
    # on a single core). The vec_id-hash shuffle moves only the n skinny
    # input rows (~5 MB at sf1); the 82M-row generator then runs on every
    # core and map-side-combines to 4096 keys as before. Explicit count:
    # AQE would coalesce a bare repartition(col) of 5 MB back to one
    # partition — bytes are the wrong split driver for a row-generating
    # stage. At 100 TB the scan arrives pre-split across thousands of
    # files and this shuffle is a no-op by comparison; at fixture scale
    # it is the difference between serial and parallel covariance.
    # Round 10: the unconditional repartition became the conditional
    # ``spread`` (same key, same count) — identical here, literal no-op
    # once the layout already feeds the cores.
    emb = spread(emb, "vec_id", sf=sf, table="embeddings", cost="vector")
    ex = emb.select(
        F.posexplode("embedding").alias("p", "xf")
    ).select(
        (F.col("p") + 1).cast("int").alias("i"),
        F.col("xf").cast("double").alias("x"),
    )
    mu = ex.groupBy("i").agg(davg(F.col("x")).alias("mu"))
    # Round 10 (guide §2.3 "don't compute things you throw away"): the
    # covariance is symmetric, so only the UPPER TRIANGLE's n·d(d+1)/2
    # products are generated and decimal-summed (the d² generator paid
    # double). c(i,j) = c(j,i) bit-exactly — float multiply is
    # commutative and dsum is order-independent — so the mirrored halves
    # of the matvecs below are reconstructed by emitting each triangle
    # cell's contribution to BOTH its rows (once when i=j), which keeps
    # every per-dimension sum the identical multiset of doubles the full
    # matrix produced.
    pair = (
        emb.select(
            F.posexplode("embedding").alias("p", "xi"),
            F.col("embedding").alias("e"),
        )
        .select(
            F.col("p"),
            F.col("xi").cast("double").alias("x_i"),
            F.posexplode(F.expr("slice(e, p + 1, size(e) - p)")).alias("q", "xj"),
        )
        .select(
            (F.col("p") + 1).cast("int").alias("i"),
            (F.col("p") + 1 + F.col("q")).cast("int").alias("j"),
            (F.col("x_i") * F.col("xj").cast("double")).alias("xy"),
        )
    )
    sxx = pair.groupBy("i", "j").agg(
        dsum(F.col("xy")).alias("sxy"),
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
    )
    c = (
        sxx.join(F.broadcast(mu.select("i", F.col("mu").alias("mu_i"))), "i")
        .join(
            F.broadcast(mu.select(F.col("i").alias("j"), F.col("mu").alias("mu_j"))),
            "j",
        )
        .select(
            "i", "j",
            (F.col("sxy") / F.col("cnt") - F.col("mu_i") * F.col("mu_j")).alias("c"),
        )
    )
    def _mirror(df: DataFrame, val, sym) -> DataFrame:
        """Triangle-to-full-matrix row-sum expansion: emit ``val`` as a
        contribution to row i and ``sym`` to row j when i≠j."""
        one = F.array(F.struct(F.col("i").alias("k"), val.alias("cv")))
        two = F.array(
            F.struct(F.col("i").alias("k"), val.alias("cv")),
            F.struct(F.col("j").alias("k"), sym.alias("cv")),
        )
        return df.select(
            F.explode(
                F.when(F.col("i") == F.col("j"), one).otherwise(two)
            ).alias("s")
        ).select(F.col("s.k").alias("i"), F.col("s.cv").alias("cv"))

    w = _mirror(c, F.col("c"), F.col("c")).groupBy("i").agg(
        dsum(F.col("cv")).alias("w")
    )
    cw = c.join(
        F.broadcast(w.select(F.col("i").alias("j"), F.col("w").alias("wj"))),
        "j",
    ).join(
        F.broadcast(w.select(F.col("i").alias("wi_k"), F.col("w").alias("wi"))),
        F.col("i") == F.col("wi_k"),
    )
    v = _mirror(
        cw, F.col("c") * F.col("wj"), F.col("c") * F.col("wi")
    ).groupBy("i").agg(dsum(F.col("cv")).alias("v"))
    nw = w.agg(F.sqrt(dsum(F.col("w") * F.col("w"))).alias("nw"))
    nv = v.agg(F.sqrt(dsum(F.col("v") * F.col("v"))).alias("nv"))
    return (
        v.crossJoin(F.broadcast(nw))
        .crossJoin(F.broadcast(nv))
        .select(
            F.col("i").alias("dim"),
            round4(F.try_divide(F.col("v"), F.col("nv"))).alias("loading"),
            round4(F.try_divide(F.col("nv"), F.col("nw"))).alias("lambda_ratio"),
        )
    )


@query(
    "ml_decision_stump",
    oracle="""
        WITH pts AS (
            SELECT o_totalprice AS x,
                   COUNT(*) AS cnt,
                   SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS pos
            FROM orders GROUP BY 1
        ),
        cum AS (
            SELECT x,
                   CAST(SUM(cnt) OVER (ORDER BY x) AS DOUBLE) AS nl,
                   CAST(SUM(pos) OVER (ORDER BY x) AS DOUBLE) AS posl,
                   CAST((SELECT SUM(cnt) FROM pts) AS DOUBLE) AS n,
                   CAST((SELECT SUM(pos) FROM pts) AS DOUBLE) AS post
            FROM pts
        ),
        g AS (
            SELECT x, nl, n - nl AS nr,
                   (nl * (1.0 - (posl * posl + (nl - posl) * (nl - posl))
                                / (nl * nl))
                    + (n - nl) * (1.0 - ((post - posl) * (post - posl)
                                         + ((n - nl) - (post - posl))
                                           * ((n - nl) - (post - posl)))
                                        / ((n - nl) * (n - nl)))) / n AS gini
            FROM cum WHERE nl < n
        )
        SELECT x AS threshold,
               FLOOR(gini * 10000.0 + 0.5) / 10000.0 AS gini,
               CAST(nl AS BIGINT) AS n_left,
               CAST(nr AS BIGINT) AS n_right
        FROM g
        QUALIFY ROW_NUMBER() OVER (ORDER BY gini, x) = 1
    """,
    tags=("ml", "workload"),
)
def ml_decision_stump(spark: SparkSession, sf: str) -> DataFrame:
    """Exact best-split search for a one-level decision tree (stump):
    predict ``o_orderstatus = 'F'`` from ``o_totalprice``; among all
    candidate thresholds (every distinct feature value), pick the split
    ``x <= t`` minimizing weighted Gini impurity, ties broken by smallest
    threshold. The classic tree-learner inner loop, done relationally.

    Plan shape — the scalable split-finding recipe: (1) ONE hash aggregate
    compresses the fact table to (distinct value, count, positives) — the
    only pass that touches all rows; (2) cumulative sums over the *deduped*
    candidate list (orders of magnitude smaller; here a single-partition
    window, at 100 TB a fixed-width histogram binning would cap candidates
    first) give left/right class counts per threshold in O(distinct);
    (3) Gini from pure integer counts cast to double once — every engine
    computes identical IEEE expressions, so the argmin is deterministic.
    No MLlib, no iteration, no driver collect."""
    o = load_table(spark, sf, "orders")
    pts = o.groupBy(F.col("o_totalprice").alias("x")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias(
            "pos"
        ),
    )
    w_cum = W.orderBy("x").rangeBetween(W.unboundedPreceding, W.currentRow)
    w_all = W.partitionBy()
    cum = pts.select(
        "x",
        F.sum("cnt").over(w_cum).cast("double").alias("nl"),
        F.sum("pos").over(w_cum).cast("double").alias("posl"),
        F.sum("cnt").over(w_all).cast("double").alias("n"),
        F.sum("pos").over(w_all).cast("double").alias("post"),
    )
    nl, posl = F.col("nl"), F.col("posl")
    n, post = F.col("n"), F.col("post")
    nr, posr = n - nl, post - posl
    gini_l = F.lit(1.0) - (posl * posl + (nl - posl) * (nl - posl)) / (nl * nl)
    gini_r = F.lit(1.0) - (posr * posr + (nr - posr) * (nr - posr)) / (nr * nr)
    g = cum.filter(nl < n).select(
        "x",
        "nl",
        nr.alias("nr"),
        ((nl * gini_l + nr * gini_r) / n).alias("gini"),
    )
    best = F.row_number().over(W.orderBy("gini", "x"))
    return (
        g.withColumn("rn", best)
        .filter(F.col("rn") == 1)
        .select(
            F.col("x").alias("threshold"),
            (F.floor(F.col("gini") * 10000.0 + 0.5) / 10000.0).alias("gini"),
            F.col("nl").cast("bigint").alias("n_left"),
            F.col("nr").cast("bigint").alias("n_right"),
        )
    )


@query(
    "workload_error_bursts",
    oracle="""
        WITH e AS (
            SELECT user_id, event_id, ts,
                   event_type = 'error' AS is_err,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events
        ),
        err AS (
            SELECT user_id, ts, event_id,
                   rn - ROW_NUMBER() OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) AS grp
            FROM e WHERE is_err
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_errors,
               MIN(ts) AS burst_start,
               MAX(ts) AS burst_end
        FROM err
        GROUP BY user_id, grp
        HAVING COUNT(*) >= 3
    """,
    tags=("workload", "events"),
)
def workload_error_bursts(spark: SparkSession, sf: str) -> DataFrame:
    """Consecutive-run detection (gaps-and-islands on a *condition*, not a
    time gap — the twin of ``win_sessionize_batch``): find runs of >= 3
    uninterrupted 'error' events per user, reporting run length and span.
    The alerting/SLO shape: "N failures in a row" rather than "N failures
    per window".

    Islands via the rank-difference trick: global row_number minus
    error-only row_number is constant within an unbroken error run. Two
    windows share ONE exchange (both partition by user_id, same sort), so
    the plan is a single shuffle + per-partition sort + one hash agg —
    scales as a sessionize, with per-user state never materialized."""
    e = load_table(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = e.select(
        "user_id",
        "event_id",
        "ts",
        (F.col("event_type") == "error").alias("is_err"),
        F.row_number().over(w).alias("rn"),
    )
    err = ranked.filter("is_err").withColumn(
        "grp", F.col("rn") - F.row_number().over(w)
    )
    return (
        err.groupBy("user_id", "grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_errors"),
            F.min("ts").alias("burst_start"),
            F.max("ts").alias("burst_end"),
        )
        .filter(F.col("n_errors") >= 3)
        .drop("grp")
    )


@query(
    "workload_ewma_smoothing",
    oracle="""
        WITH b AS (
            SELECT event_id, user_id, value,
                   LAG(value, 1) OVER w AS v1, LAG(value, 2) OVER w AS v2,
                   LAG(value, 3) OVER w AS v3, LAG(value, 4) OVER w AS v4,
                   LAG(value, 5) OVER w AS v5, LAG(value, 6) OVER w AS v6,
                   LAG(value, 7) OVER w AS v7
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT event_id, user_id, value,
               (((((((value
                   + COALESCE(v1, 0.0) * 0.5)
                   + COALESCE(v2, 0.0) * 0.25)
                   + COALESCE(v3, 0.0) * 0.125)
                   + COALESCE(v4, 0.0) * 0.0625)
                   + COALESCE(v5, 0.0) * 0.03125)
                   + COALESCE(v6, 0.0) * 0.015625)
                   + COALESCE(v7, 0.0) * 0.0078125)
               /
               (((((((1.0
                   + CASE WHEN v1 IS NULL THEN 0.0 ELSE 0.5 END)
                   + CASE WHEN v2 IS NULL THEN 0.0 ELSE 0.25 END)
                   + CASE WHEN v3 IS NULL THEN 0.0 ELSE 0.125 END)
                   + CASE WHEN v4 IS NULL THEN 0.0 ELSE 0.0625 END)
                   + CASE WHEN v5 IS NULL THEN 0.0 ELSE 0.03125 END)
                   + CASE WHEN v6 IS NULL THEN 0.0 ELSE 0.015625 END)
                   + CASE WHEN v7 IS NULL THEN 0.0 ELSE 0.0078125 END)
               AS ewma8
        FROM b
    """,
    tags=("workload", "events", "timeseries"),
)
def workload_ewma_smoothing(spark: SparkSession, sf: str) -> DataFrame:
    """Exponentially-weighted moving average (8-tap, alpha = 1/2) per user
    over the event-time series — the standard smoothing pass before anomaly
    thresholds (``workload_anomaly_zscore`` is its global-stats sibling).

    EWMA is a recurrence, which doesn't distribute; the scalable form is
    the finite-tap expansion: weights (1/2)^k over the last 8 observations,
    renormalized over the taps actually present at the series head. All
    eight LAG columns ride ONE exchange + sort (same window spec), and the
    weighted sum is a fixed-depth expression tree — no state, no UDF, no
    recursion. Weights are negative powers of two, so each product is an
    exact IEEE exponent shift and the left-to-right addition chain is
    bit-identical on any engine — the raw doubles hash-match with no
    rounding step. Truncation error vs the infinite recurrence is
    2^-8 ≈ 0.4% of the weight mass, the standard engineering cutoff."""
    e = load_table(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    lags = [F.lag("value", k).over(w).alias(f"v{k}") for k in range(1, 8)]
    b = e.select("event_id", "user_id", "value", *lags)
    num = F.col("value")
    den = F.lit(1.0)
    for k in range(1, 8):
        wt = 0.5**k  # exact binary fraction, same literal the oracle uses
        num = num + F.coalesce(F.col(f"v{k}"), F.lit(0.0)) * F.lit(wt)
        den = den + F.when(F.col(f"v{k}").isNull(), 0.0).otherwise(wt)
    return b.select(
        "event_id", "user_id", "value", (num / den).alias("ewma8")
    )


@query(
    "workload_data_quality",
    oracle="""
        SELECT 'orders_nonpositive_price' AS rule_name,
               CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_checked,
               CAST((SELECT COUNT(*) FROM orders WHERE o_totalprice <= 0)
                    AS BIGINT) AS n_violations
        UNION ALL
        SELECT 'lineitem_discount_range',
               CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
               CAST((SELECT COUNT(*) FROM lineitem
                     WHERE l_discount < 0 OR l_discount > 0.1) AS BIGINT)
        UNION ALL
        SELECT 'lineitem_orphan_orderkey',
               CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
               CAST((SELECT COUNT(*) FROM lineitem l
                     WHERE NOT EXISTS (SELECT 1 FROM orders o
                                       WHERE o.o_orderkey = l.l_orderkey))
                    AS BIGINT)
        UNION ALL
        SELECT 'lineitem_ship_before_order',
               CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
               CAST((SELECT COUNT(*)
                     FROM lineitem l JOIN orders o
                       ON l.l_orderkey = o.o_orderkey
                     WHERE l.l_shipdate < o.o_orderdate) AS BIGINT)
    """,
    tags=("workload", "quality"),
)
def workload_data_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Declarative data-quality audit — the validation pass every ingest
    pipeline runs before publishing a partition: range rules, referential
    integrity (orphan foreign keys via anti-join), and cross-table
    consistency (shipped-before-ordered via the FK join), each reported as
    (rule, checked, violations).

    Plan shape: the two scalar range rules fuse into ONE aggregate pass per
    table (a single scan emitting several conditional counts); the FK rules
    are one anti-join and one equi-join, both broadcast-eligible on the
    orders side at fixture scale and shuffle-hash at 100 TB. Violation
    counting never materializes violating rows — audits that collect bad
    rows to the driver die at scale; this shape returns 4 rows regardless
    of input size. The same rules re-expressed as scalar subqueries form
    the oracle."""
    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    n_orders = o.count()
    n_li = li.count()

    # COALESCE(SUM,0) on the conditional counts: the oracle's COUNT(*)
    # subqueries are 0 over empty tables, SUM over 0 rows is NULL
    r1 = o.agg(
        F.coalesce(
            F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)), F.lit(0)
        )
        .cast("bigint")
        .alias("n_violations")
    ).select(
        F.lit("orders_nonpositive_price").alias("rule_name"),
        F.lit(n_orders).cast("bigint").alias("n_checked"),
        "n_violations",
    )
    r2 = li.agg(
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1), 1
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n_violations")
    ).select(
        F.lit("lineitem_discount_range").alias("rule_name"),
        F.lit(n_li).cast("bigint").alias("n_checked"),
        "n_violations",
    )
    r3 = (
        li.join(o, li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_violations"))
        .select(
            F.lit("lineitem_orphan_orderkey").alias("rule_name"),
            F.lit(n_li).cast("bigint").alias("n_checked"),
            "n_violations",
        )
    )
    r4 = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("l_shipdate") < F.col("o_orderdate"), 1
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_violations")
        )
        .select(
            F.lit("lineitem_ship_before_order").alias("rule_name"),
            F.lit(n_li).cast("bigint").alias("n_checked"),
            "n_violations",
        )
    )
    return r1.unionAll(r2).unionAll(r3).unionAll(r4)


@query(
    "workload_top_movers",
    oracle="""
        WITH rev AS (
            SELECT DATE_TRUNC('month', CAST(l_shipdate AS DATE)) AS month,
                   p_type,
                   CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                                      AS DECIMAL(38,8))) AS VARCHAR)
                        AS DOUBLE) AS revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY 1, 2
        ),
        d AS (
            SELECT month, p_type, revenue,
                   revenue - LAG(revenue) OVER (PARTITION BY p_type
                                                ORDER BY month) AS delta
            FROM rev
        )
        SELECT month, p_type, revenue, delta,
               CAST(rnk AS INT) AS rnk
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY month
                                         ORDER BY ABS(delta) DESC, p_type)
                          AS rnk
            FROM d WHERE delta IS NOT NULL
        )
        WHERE rnk <= 3
    """,
    tags=("workload", "timeseries"),
)
def workload_top_movers(spark: SparkSession, sf: str) -> DataFrame:
    """Period-over-period movers — the BI staple: monthly revenue per part
    type, month-over-month delta via LAG, and the top-3 absolute movers
    within each month (full tie-break on p_type so ranks are deterministic
    under any partitioning).

    Plan shape: fact⋈dim join (part broadcast), ONE hash aggregate down to
    (month × type) — thousands of rows at any SF, so both windows (the lag
    per type, the per-month rank) run on the *aggregated* frame, not the
    fact table; window-group-limit pushdown caps the rank window's state
    at k=3 per month. Revenue sums are decimal-exact, so deltas and the
    ABS ranking are bit-identical cross-engine."""
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part")
    rev = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(
            F.date_trunc("month", F.col("l_shipdate"))
            .cast("date")
            .alias("month"),
            "p_type",
        )
        .agg(dsum(_disc_price()).alias("revenue"))
    )
    d = rev.withColumn(
        "delta",
        F.col("revenue")
        - F.lag("revenue").over(W.partitionBy("p_type").orderBy("month")),
    ).filter(F.col("delta").isNotNull())
    rnk = F.row_number().over(
        W.partitionBy("month").orderBy(F.abs("delta").desc(), "p_type")
    )
    return (
        d.withColumn("rnk", rnk.cast("int"))
        .filter(F.col("rnk") <= 3)
        .select("month", "p_type", "revenue", "delta", "rnk")
    )


@query(
    "workload_histogram_equiheight",
    oracle=f"""
        WITH b AS (
            SELECT value, NTILE(10) OVER (ORDER BY value, event_id) AS bucket
            FROM events
        )
        SELECT CAST(bucket AS INT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n,
               MIN(value) AS lo,
               MAX(value) AS hi,
               {sql_dsum('value')} AS sum_value
        FROM b GROUP BY bucket
    """,
    tags=("workload", "stats"),
)
def workload_histogram_equiheight(spark: SparkSession, sf: str) -> DataFrame:
    """Equi-height (quantile-bucket) histogram over ``events.value`` — the
    optimizer-statistics twin of ``agg_histogram`` (equi-width): every
    bucket holds the same row count, bucket bounds land where the data is
    dense. NTILE over a total order (value, event_id — the id tie-break
    makes bucket membership deterministic) assigns buckets, then one hash
    aggregate per bucket.

    Scale note: a global NTILE is a single-partition sort — fine for the
    fixture, wrong at 100 TB. The production path computes boundary values
    first (``approx_percentile`` one-pass sketch, or an exact
    two-pass count + range-partitioned rank), then buckets by comparison
    against the broadcast boundary array; the output contract (equal-count
    buckets, exact per-bucket stats) is unchanged, which is what this op
    pins."""
    e = load_table(spark, sf, "events")
    b = e.select(
        "value",
        F.ntile(10).over(W.orderBy("value", "event_id")).alias("bucket"),
    )
    return b.groupBy(F.col("bucket").cast("int").alias("bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
        dsum(F.col("value")).alias("sum_value"),
    )


@query(
    "ml_tree_depth2",
    oracle="""
        WITH pts AS (
            SELECT o_totalprice AS x,
                   COUNT(*) AS cnt,
                   SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS pos
            FROM orders GROUP BY 1
        ),
        rcum AS (
            SELECT x,
                   CAST(SUM(cnt) OVER (ORDER BY x) AS DOUBLE) AS nl,
                   CAST(SUM(pos) OVER (ORDER BY x) AS DOUBLE) AS posl,
                   CAST((SELECT SUM(cnt) FROM pts) AS DOUBLE) AS n,
                   CAST((SELECT SUM(pos) FROM pts) AS DOUBLE) AS post
            FROM pts
        ),
        rbest AS (
            SELECT 'root' AS node, x AS threshold,
                   (nl * (1.0 - (posl * posl + (nl - posl) * (nl - posl)) / (nl * nl)) + (n - nl) * (1.0 - ((post - posl) * (post - posl) + ((n - nl) - (post - posl)) * ((n - nl) - (post - posl))) / ((n - nl) * (n - nl)))) / n AS gini, nl, n - nl AS nr
            FROM rcum WHERE nl < n
            QUALIFY ROW_NUMBER() OVER (ORDER BY (nl * (1.0 - (posl * posl + (nl - posl) * (nl - posl)) / (nl * nl)) + (n - nl) * (1.0 - ((post - posl) * (post - posl) + ((n - nl) - (post - posl)) * ((n - nl) - (post - posl))) / ((n - nl) * (n - nl)))) / n, x) = 1
        ),
        sided AS (
            SELECT p.x, p.cnt, p.pos,
                   CASE WHEN p.x <= rb.threshold THEN 'L' ELSE 'R' END AS side
            FROM pts p, rbest rb
        ),
        scum AS (
            SELECT side, x,
                   CAST(SUM(cnt) OVER (PARTITION BY side ORDER BY x)
                        AS DOUBLE) AS nl,
                   CAST(SUM(pos) OVER (PARTITION BY side ORDER BY x)
                        AS DOUBLE) AS posl,
                   CAST(SUM(cnt) OVER (PARTITION BY side) AS DOUBLE) AS n,
                   CAST(SUM(pos) OVER (PARTITION BY side) AS DOUBLE) AS post
            FROM sided
        ),
        sbest AS (
            SELECT side AS node, x AS threshold,
                   (nl * (1.0 - (posl * posl + (nl - posl) * (nl - posl)) / (nl * nl)) + (n - nl) * (1.0 - ((post - posl) * (post - posl) + ((n - nl) - (post - posl)) * ((n - nl) - (post - posl))) / ((n - nl) * (n - nl)))) / n AS gini, nl, n - nl AS nr
            FROM scum WHERE nl < n
            QUALIFY ROW_NUMBER() OVER (PARTITION BY side
                                       ORDER BY (nl * (1.0 - (posl * posl + (nl - posl) * (nl - posl)) / (nl * nl)) + (n - nl) * (1.0 - ((post - posl) * (post - posl) + ((n - nl) - (post - posl)) * ((n - nl) - (post - posl))) / ((n - nl) * (n - nl)))) / n, x) = 1
        ),
        un AS (
            SELECT * FROM rbest UNION ALL SELECT * FROM sbest
        )
        SELECT node, threshold,
               FLOOR(gini * 10000.0 + 0.5) / 10000.0 AS gini,
               CAST(nl AS BIGINT) AS n_left,
               CAST(nr AS BIGINT) AS n_right
        FROM un
    """,
    tags=("ml", "workload"),
)
def ml_tree_depth2(spark: SparkSession, sf: str) -> DataFrame:
    """Depth-2 decision tree on one feature: the ``ml_decision_stump``
    split machinery applied twice — once for the root, then (with the root
    threshold broadcast back onto the candidate table) once per child,
    windows partitioned by side. Shows how tree learning *composes*
    relationally: level k+1 re-runs the identical
    dedup -> cumulative-window -> argmin pipeline with one more partition
    column, so depth-d training is d sequential passes over the *deduped
    candidate* table (not the fact table), each a narrow window + argmin.
    All class counts are integers cast to double once; both engines run
    identical IEEE expressions, so thresholds and Gini agree bit-for-bit
    before the final display rounding."""
    o = load_table(spark, sf, "orders")
    pts = o.groupBy(F.col("o_totalprice").alias("x")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias(
            "pos"
        ),
    )

    def best_splits(df: DataFrame) -> DataFrame:
        """Argmin weighted-Gini threshold per ``side`` partition."""
        w_cum = (
            W.partitionBy("side")
            .orderBy("x")
            .rangeBetween(W.unboundedPreceding, W.currentRow)
        )
        w_all = W.partitionBy("side")
        cum = df.select(
            "side",
            "x",
            F.sum("cnt").over(w_cum).cast("double").alias("nl"),
            F.sum("pos").over(w_cum).cast("double").alias("posl"),
            F.sum("cnt").over(w_all).cast("double").alias("n"),
            F.sum("pos").over(w_all).cast("double").alias("post"),
        )
        nl, posl = F.col("nl"), F.col("posl")
        n, post = F.col("n"), F.col("post")
        nr, posr = n - nl, post - posl
        g_l = F.lit(1.0) - (posl * posl + (nl - posl) * (nl - posl)) / (
            nl * nl
        )
        g_r = F.lit(1.0) - (posr * posr + (nr - posr) * (nr - posr)) / (
            nr * nr
        )
        g = cum.filter(nl < n).select(
            "side",
            "x",
            "nl",
            nr.alias("nr"),
            ((nl * g_l + nr * g_r) / n).alias("gini"),
        )
        rn = F.row_number().over(W.partitionBy("side").orderBy("gini", "x"))
        return g.withColumn("rn", rn).filter(F.col("rn") == 1).drop("rn")

    root = best_splits(pts.withColumn("side", F.lit("root")))
    sided = pts.crossJoin(
        F.broadcast(root.select(F.col("x").alias("t0")))
    ).withColumn(
        "side", F.when(F.col("x") <= F.col("t0"), "L").otherwise("R")
    )
    leaves = best_splits(sided.select("side", "x", "cnt", "pos"))
    un = root.unionAll(leaves)
    return un.select(
        F.col("side").alias("node"),
        F.col("x").alias("threshold"),
        (F.floor(F.col("gini") * 10000.0 + 0.5) / 10000.0).alias("gini"),
        F.col("nl").cast("bigint").alias("n_left"),
        F.col("nr").cast("bigint").alias("n_right"),
    )


@query(
    "workload_forecast_seasonal",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2
        ),
        with_pred AS (
            SELECT event_type, day, n,
                   LAG(n, 7) OVER (PARTITION BY event_type ORDER BY day)
                       AS pred
            FROM daily
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_days_scored,
               CAST(SUM(ABS(n - pred)) AS BIGINT) AS total_abs_err,
               FLOOR(SUM(ABS(n - pred)) / CAST(COUNT(*) AS DOUBLE)
                     * 10000.0 + 0.5) / 10000.0 AS mae
        FROM with_pred WHERE pred IS NOT NULL
        GROUP BY event_type
    """,
    tags=("workload", "timeseries"),
)
def workload_forecast_seasonal(spark: SparkSession, sf: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each day's event volume
    with the value from 7 days earlier (the standard baseline every real
    forecasting model must beat) and score MAE per event type. The
    evaluation harness shape matters more than the model: day-grain
    aggregate -> per-series LAG(7) -> error aggregate is the same
    three-step plan any backtest (ARIMA residuals, holdout windows) runs,
    and every step is a narrow shuffle on (type) or (type, day). Errors
    stay integers (counts) until the single final division, so the MAE is
    engine-exact before display rounding."""
    e = load_table(spark, sf, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    pred = F.lag("n", 7).over(W.partitionBy("event_type").orderBy("day"))
    scored = daily.withColumn("pred", pred).filter(F.col("pred").isNotNull())
    err = F.abs(F.col("n") - F.col("pred"))
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days_scored"),
        F.sum(err).cast("bigint").alias("total_abs_err"),
        (
            F.floor(
                F.sum(err) / F.count(F.lit(1)).cast("double") * 10000.0 + 0.5
            )
            / 10000.0
        ).alias("mae"),
    )


@query(
    "workload_queue_depth",
    oracle="""
        WITH pts AS (
            SELECT CAST(o_orderdate AS DATE) AS day, 1 AS d FROM orders
            UNION ALL
            SELECT CAST(o_orderdate AS DATE) + 30, -1 FROM orders
        ),
        agg AS (
            SELECT day, CAST(SUM(d) AS BIGINT) AS delta
            FROM pts GROUP BY day
        )
        SELECT day,
               CAST(SUM(delta) OVER (ORDER BY day) AS BIGINT) AS open_orders
        FROM agg
    """,
    tags=("workload", "intervals"),
)
def workload_queue_depth(spark: SparkSession, sf: str) -> DataFrame:
    """Concurrent-interval counting (queue depth / active sessions / open
    orders): how many orders are simultaneously open on each day, where an
    order is open for 30 days from its order date. The difference-array
    sweep: each interval contributes +1 at its start and -1 past its end;
    a hash aggregate collapses the ±1 stream to one delta per boundary
    day, and a running sum over boundary days yields the depth — exact,
    and piecewise-constant between boundaries so the boundary-day output
    is complete.

    This shape replaces the O(days × orders) "count intervals covering
    each day" theta join with O(orders) fan-out (×2) + one small running
    sum. The prefix sum runs over distinct boundary *days* (thousands at
    any SF — a single-partition window is fine even at 100 TB of orders);
    if the boundary domain were itself huge, the standard two-phase
    distributed prefix sum (per-partition partials, broadcast offsets)
    drops in without changing the contract."""
    o = load_table(spark, sf, "orders")
    day = F.col("o_orderdate").cast("date")
    pts = o.select(day.alias("day"), F.lit(1).alias("d")).unionAll(
        o.select(F.date_add(day, 30).alias("day"), F.lit(-1).alias("d"))
    )
    agg = pts.groupBy("day").agg(F.sum("d").cast("bigint").alias("delta"))
    running = (
        W.orderBy("day").rangeBetween(W.unboundedPreceding, W.currentRow)
    )
    return agg.select(
        "day", F.sum("delta").over(running).cast("bigint").alias("open_orders")
    )


@knn_twins(
    "ml_knn_classifier",
    """
        lab AS (SELECT vec_id, label FROM embeddings),
        knn AS MATERIALIZED (
            SELECT t.u AS q, la.label AS label_actual, lb.label AS label_n
            FROM topk t
            JOIN lab la ON t.u = la.vec_id
            JOIN lab lb ON t.v = lb.vec_id
        ),
        votes AS (
            SELECT q, label_actual, label_n,
                   CAST(COUNT(*) AS BIGINT) AS n_votes
            FROM knn GROUP BY q, label_actual, label_n
        ),
        pred AS (
            SELECT q, label_actual, label_n AS label_pred FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY q
                                             ORDER BY n_votes DESC,
                                                      label_n) AS rn
                FROM votes
            ) r WHERE rn = 1
        )
        SELECT CAST(label_actual AS INT) AS label_actual,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN label_pred = label_actual
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
               FLOOR(SUM(CASE WHEN label_pred = label_actual
                              THEN 1 ELSE 0 END)
                     / CAST(COUNT(*) AS DOUBLE) * 10000.0 + 0.5) / 10000.0
                   AS accuracy
        FROM pred GROUP BY label_actual
    """,
    ("ml", "similarity", "eval"),
)
def ml_knn_classifier(spark: SparkSession, sf: str, src: EdgeSource) -> DataFrame:
    """Leave-one-out 5-NN majority-vote classification over the embedding
    corpus, scored per true label — the standard embedding-quality probe
    (high kNN accuracy ⇒ labels are cosine-separable; the trainable-model
    counterpart of ``graph_triangle_count``'s structural diagnostic).
    Votes tie-break by (count desc, label asc) and neighbors by
    (round4 cosine desc, vec_id), so predictions are engine-exact.

    The vote and score stages consume the n×5 top-5 edge table of
    either source unchanged — classification cost is the neighbor-search
    cost, voting is two narrow aggregates. Under the ANN source, anchors
    whose buckets yield no candidates simply have no vote rows on either
    engine."""
    lab = load_table(spark, sf, "embeddings").select("vec_id", "label")
    knn = (
        src.top5(spark, sf)
        .join(
            F.broadcast(lab.select(F.col("vec_id").alias("u"),
                                   F.col("label").alias("label_actual"))), "u"
        )
        .join(
            F.broadcast(lab.select(F.col("vec_id").alias("v"),
                                   F.col("label").alias("label_n"))), "v"
        )
        .select(F.col("u").alias("q"), "label_actual", "label_n")
    )
    votes = knn.groupBy("q", "label_actual", "label_n").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_votes")
    )
    pred = (
        votes.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("q").orderBy(
                    F.desc("n_votes"), F.asc("label_n")
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("q", "label_actual", F.col("label_n").alias("label_pred"))
    )
    correct = F.when(F.col("label_pred") == F.col("label_actual"), 1).otherwise(0)
    return pred.groupBy(
        F.col("label_actual").cast("int").alias("label_actual")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(correct).cast("bigint").alias("n_correct"),
        (
            F.floor(
                F.sum(correct) / F.count(F.lit(1)).cast("double") * 10000.0
                + 0.5
            )
            / 10000.0
        ).alias("accuracy"),
    )


@query(
    "workload_new_vs_returning",
    oracle="""
        WITH firsts AS (
            SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
            FROM events GROUP BY user_id
        ),
        daily AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        )
        SELECT d.day,
               CAST(SUM(CASE WHEN d.day = f.first_day THEN 1 ELSE 0 END)
                    AS BIGINT) AS new_users,
               CAST(SUM(CASE WHEN d.day > f.first_day THEN 1 ELSE 0 END)
                    AS BIGINT) AS returning_users
        FROM daily d JOIN firsts f ON d.user_id = f.user_id
        GROUP BY d.day
    """,
    tags=("workload", "events"),
)
def workload_new_vs_returning(spark: SparkSession, sf: str) -> DataFrame:
    """Daily active users split into new vs returning — the growth-
    accounting header number every product dashboard leads with (the
    cohort matrix ``workload_cohort_retention`` is its drill-down). Three
    narrow shuffles, all on user_id or day: first-seen day per user (an
    agg the incremental pipeline maintains as a tiny running MIN table),
    day-grain activity dedup, then a broadcast-sized join + conditional
    counts. At 100 TB the firsts table is users-sized, not events-sized,
    and is exactly the kind of state ``workload_incremental_rollup``
    shows how to maintain without rescanning history."""
    e = load_table(spark, sf, "events")
    day = F.to_date("ts").alias("day")
    firsts = e.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("first_day"))
    daily = e.select("user_id", day).distinct()
    j = daily.join(firsts, "user_id")
    return j.groupBy("day").agg(
        F.sum(F.when(F.col("day") == F.col("first_day"), 1).otherwise(0))
        .cast("bigint")
        .alias("new_users"),
        F.sum(F.when(F.col("day") > F.col("first_day"), 1).otherwise(0))
        .cast("bigint")
        .alias("returning_users"),
    )


@query(
    "workload_peak_detection",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2
        ),
        ctx AS (
            SELECT event_type, day, n,
                   LAG(n) OVER w AS prev_n,
                   LEAD(n) OVER w AS next_n
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY day)
        )
        SELECT event_type, day, n, prev_n, next_n
        FROM ctx
        WHERE prev_n IS NOT NULL AND next_n IS NOT NULL
          AND n > prev_n AND n >= next_n
    """,
    tags=("workload", "timeseries"),
)
def workload_peak_detection(spark: SparkSession, sf: str) -> DataFrame:
    """Local-maximum detection over daily event-volume series (strict rise
    into the peak, non-increasing out; series edges excluded so every
    verdict has both neighbors) — the alert-on-spike / campaign-impact
    primitive that pairs with ``workload_ewma_smoothing`` upstream (smooth,
    then peak-find) and ``workload_anomaly_zscore``'s global-threshold
    approach. One day-grain aggregate, then LAG and LEAD sharing a single
    window spec — one shuffle on event_type, integer comparisons, output
    rows carry their context (prev/next) for triage."""
    e = load_table(spark, sf, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    w = W.partitionBy("event_type").orderBy("day")
    ctx = daily.select(
        "event_type",
        "day",
        "n",
        F.lag("n").over(w).alias("prev_n"),
        F.lead("n").over(w).alias("next_n"),
    )
    return ctx.filter(
        F.col("prev_n").isNotNull()
        & F.col("next_n").isNotNull()
        & (F.col("n") > F.col("prev_n"))
        & (F.col("n") >= F.col("next_n"))
    )


@knn_twins(
    "graph_link_prediction",
    """
        adj AS MATERIALIZED (
            SELECT u, v FROM mutual UNION ALL SELECT v, u FROM mutual
        ),
        deg AS (
            SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY u
        ),
        wedge AS (
            SELECT a1.u AS u, a2.u AS v, CAST(COUNT(*) AS BIGINT) AS cn
            FROM adj a1 JOIN adj a2
              ON a1.v = a2.v AND a1.u < a2.u
            GROUP BY 1, 2
        ),
        cand AS (
            SELECT w.u, w.v, w.cn,
                   FLOOR(w.cn / CAST(du.d + dv.d - w.cn AS DOUBLE)
                         * 10000.0 + 0.5) / 10000.0 AS jaccard
            FROM wedge w
            JOIN deg du ON du.u = w.u
            JOIN deg dv ON dv.u = w.v
            LEFT JOIN mutual m ON m.u = w.u AND m.v = w.v
            WHERE m.u IS NULL
        )
        SELECT u, v, cn, jaccard,
               CAST(rnk AS INT) AS rnk
        FROM (
            SELECT *, ROW_NUMBER() OVER (ORDER BY jaccard DESC, u, v) AS rnk
            FROM cand
        ) WHERE rnk <= 20
    """,
    ("workload", "graph", "similarity"),
)
def graph_link_prediction(spark: SparkSession, sf: str, src: EdgeSource) -> DataFrame:
    """Common-neighbor link prediction on the mutual-5NN cosine graph:
    score every NON-adjacent pair that shares >= 1 neighbor by Jaccard of
    neighborhoods (|N(u) ∩ N(v)| / |N(u) ∪ N(v)|) and return the top-20
    predicted links — the "you may also like"/missing-edge primitive, and
    the third member of the kNN-graph family (``graph_triangle_count``
    diagnoses structure, ``graph_khop_reach`` measures spread).

    The candidate set comes from the wedge join (adj ⋈ adj on the shared
    endpoint, u < v) — candidates are pairs at distance exactly 2, never
    all pairs, so cost is Σ deg² over nodes (bounded by n·k² for a kNN
    graph, k=5), with existing edges anti-joined away. The exact n²
    cosine source is fixture-scale; at 100 TB the edge list arrives from
    the ANN source (``graph_link_prediction_ann``) and everything from
    ``adj`` down is unchanged."""
    mutual = src.mutual(spark, sf)
    adj = mutual.unionAll(mutual.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = adj.groupBy("u").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    wedge = (
        adj.alias("a1")
        .join(
            adj.alias("a2"),
            (F.col("a1.v") == F.col("a2.v")) & (F.col("a1.u") < F.col("a2.u")),
        )
        .groupBy(F.col("a1.u").alias("u"), F.col("a2.u").alias("v"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cn"))
    )
    cand = (
        wedge.join(deg.alias("du"), wedge.u == F.col("du.u"))
        .join(deg.alias("dv"), wedge.v == F.col("dv.u"))
        .join(
            mutual.alias("m"),
            (wedge.u == F.col("m.u")) & (wedge.v == F.col("m.v")),
            "left_anti",
        )
        .select(
            wedge.u,
            wedge.v,
            "cn",
            (
                F.floor(
                    F.col("cn")
                    / (F.col("du.d") + F.col("dv.d") - F.col("cn")).cast(
                        "double"
                    )
                    * 10000.0
                    + 0.5
                )
                / 10000.0
            ).alias("jaccard"),
        )
    )
    return (
        cand.withColumn(
            "rnk",
            F.row_number().over(W.orderBy(F.desc("jaccard"), "u", "v")),
        )
        .filter(F.col("rnk") <= 20)
        .withColumn("rnk", F.col("rnk").cast("int"))
    )


@query(
    "workload_path_3step",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events
        ),
        tri AS (
            SELECT s1.user_id,
                   s1.event_type AS e1, s2.event_type AS e2,
                   s3.event_type AS e3
            FROM seq s1
            JOIN seq s2 ON s1.user_id = s2.user_id AND s2.rn = s1.rn + 1
            JOIN seq s3 ON s1.user_id = s3.user_id AND s3.rn = s1.rn + 2
        )
        SELECT e1, e2, e3,
               CAST(COUNT(*) AS BIGINT) AS n_paths,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM tri GROUP BY e1, e2, e3
    """,
    tags=("workload", "events", "paths"),
)
def workload_path_3step(spark: SparkSession, sf: str) -> DataFrame:
    """Three-step behavioral path frequencies (the Sankey-diagram feed,
    one order deeper than ``workload_event_transitions``' Markov pairs):
    every consecutive (e1 → e2 → e3) window per user, counted by path and
    by distinct users walking it.

    Formulated with LEAD rather than the oracle's rank self-joins: after
    ONE shuffle on user_id, both lookahead columns ride the same sorted
    window — no re-join of the sequence to itself three times (that's 3
    shuffles of the full event stream at 100 TB, vs 1 here). Deterministic
    sequence order via the (ts, event_id) tie-break."""
    e = load_table(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # window-end detection via a lead-of-constant marker, NOT e3's
    # NULL-ness: a NULL event TYPE two steps ahead is still a step (the
    # oracle's rn-arithmetic joins count it), only running off the end
    # of the partition isn't
    tri = e.select(
        "user_id",
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
        F.lead(F.lit(1), 2).over(w).alias("_has3"),
    ).filter(F.col("_has3").isNotNull()).drop("_has3")
    return tri.groupBy("e1", "e2", "e3").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_paths"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )


@query(
    "workload_funnel_conversion_time",
    oracle="""
        WITH v AS (
            SELECT user_id, MIN(ts) AS t1 FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ),
        c AS (
            SELECT e.user_id, MIN(e.ts) AS t2
            FROM events e JOIN v ON e.user_id = v.user_id
            WHERE e.event_type = 'click' AND e.ts > v.t1
            GROUP BY e.user_id
        ),
        p AS (
            SELECT e.user_id, MIN(e.ts) AS t3
            FROM events e JOIN c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase' AND e.ts > c.t2
            GROUP BY e.user_id
        ),
        lags AS (
            SELECT 'view_to_click' AS step, c.user_id,
                   (EPOCH_US(c.t2) - EPOCH_US(v.t1)) // 1000000 AS lag_s
            FROM c JOIN v ON c.user_id = v.user_id
            UNION ALL
            SELECT 'click_to_purchase', p.user_id,
                   (EPOCH_US(p.t3) - EPOCH_US(c.t2)) // 1000000
            FROM p JOIN c ON p.user_id = c.user_id
        )
        SELECT step,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(MIN(lag_s) AS BIGINT) AS min_s,
               CAST(FLOOR(MEDIAN(lag_s)) AS BIGINT) AS median_s,
               CAST(MAX(lag_s) AS BIGINT) AS max_s
        FROM lags GROUP BY step
    """,
    tags=("workload", "events", "funnel"),
)
def workload_funnel_conversion_time(spark: SparkSession, sf: str) -> DataFrame:
    """How long conversions take, per funnel step — the latency view of
    ``workload_funnel`` (which counts who converts): per user, the gap
    between first qualifying view→click and click→purchase, summarized as
    min/median/max seconds. Same chained min-agg joins as the funnel op
    (each stage one shuffle on user_id, no per-user sort UDF), then one
    4-row stats aggregate. Lags are integer epoch-second diffs (floor
    division on both engines) and the per-step user counts are exact, so
    even MEDIAN is engine-exact: both engines compute the same exact
    percentile over integers, and an explicit FLOOR collapses the
    half-sample interpolation identically — a bare BIGINT cast would
    truncate on Spark but round on DuckDB."""
    e = load_table(spark, sf, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    cv = c.join(v, "user_id")
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    pc = p.join(c, "user_id")

    def lag_sec(a: str, b: str) -> F.Column:
        return F.floor(
            (F.unix_micros(F.col(a)) - F.unix_micros(F.col(b)))
            / F.lit(1000000)
        ).cast("bigint")

    lags = cv.select(
        F.lit("view_to_click").alias("step"),
        "user_id",
        lag_sec("t2", "t1").alias("lag_s"),
    ).unionAll(
        pc.select(
            F.lit("click_to_purchase").alias("step"),
            "user_id",
            lag_sec("t3", "t2").alias("lag_s"),
        )
    )
    return lags.groupBy("step").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.min("lag_s").cast("bigint").alias("min_s"),
        F.floor(F.percentile(F.col("lag_s"), F.lit(0.5))).cast("bigint").alias("median_s"),
        F.max("lag_s").cast("bigint").alias("max_s"),
    )


@query(
    "workload_duplicate_payments",
    oracle="""
        SELECT a.o_custkey AS custkey,
               a.o_orderkey AS orderkey_a,
               b.o_orderkey AS orderkey_b,
               a.o_totalprice AS price_a,
               b.o_totalprice AS price_b,
               CAST(ABS(DATE_DIFF('day', CAST(a.o_orderdate AS DATE),
                                  CAST(b.o_orderdate AS DATE)))
                    AS BIGINT) AS days_apart
        FROM orders a JOIN orders b
          ON a.o_custkey = b.o_custkey
         AND FLOOR(a.o_totalprice / 1000) = FLOOR(b.o_totalprice / 1000)
         AND a.o_orderkey < b.o_orderkey
         AND ABS(DATE_DIFF('day', CAST(a.o_orderdate AS DATE),
                           CAST(b.o_orderdate AS DATE))) <= 90
    """,
    tags=("workload", "audit"),
)
def workload_duplicate_payments(spark: SparkSession, sf: str) -> DataFrame:
    """Suspected duplicate payments: pairs of orders by the same customer
    for a similar amount (same 1000-unit price band) within 90 days — the
    classic accounts-payable audit / fraud screen.

    The formulation IS the scale lesson: candidate pairs come from an
    EQUI-join on the blocking key (custkey, price-band) — Catalyst plans a
    hash join, cost tracks band occupancy — with the date-window and
    ordering checks as residual filters on the matched pairs. The naive
    phrasing (theta join on |Δprice| and |Δdays|) degenerates to a
    nested-loop over customers' full histories; banding trades a sliver
    of recall at band edges (standard entity-resolution practice, same
    trick as ``llm_dedup_minhash_lsh``'s bands) for a plan that survives
    100 TB of payments."""
    o = load_table(spark, sf, "orders")
    a, b = o.alias("a"), o.alias("b")
    band = lambda side: F.floor(F.col(f"{side}.o_totalprice") / 1000)
    days_apart = F.abs(
        F.datediff(
            F.col("a.o_orderdate").cast("date"),
            F.col("b.o_orderdate").cast("date"),
        )
    )
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (band("a") == band("b"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
            & (days_apart <= 90),
        )
        .select(
            F.col("a.o_custkey").alias("custkey"),
            F.col("a.o_orderkey").alias("orderkey_a"),
            F.col("b.o_orderkey").alias("orderkey_b"),
            F.col("a.o_totalprice").alias("price_a"),
            F.col("b.o_totalprice").alias("price_b"),
            days_apart.cast("bigint").alias("days_apart"),
        )
    )


@query(
    "workload_seasonality_dow",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(DAYOFWEEK(CAST(ts AS DATE)) + 1 AS INT) AS dow,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2, 3
        )
        SELECT event_type, dow,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(n) AS BIGINT) AS total_events,
               FLOOR(SUM(n) / CAST(COUNT(*) AS DOUBLE) * 10000.0 + 0.5)
                   / 10000.0 AS avg_per_day,
               FLOOR((SUM(n) / CAST(COUNT(*) AS DOUBLE))
                     / (CAST(SUM(SUM(n)) OVER (PARTITION BY event_type)
                             AS DOUBLE)
                        / CAST(SUM(COUNT(*)) OVER (PARTITION BY event_type)
                               AS DOUBLE))
                     * 10000.0 + 0.5) / 10000.0 AS dow_lift
        FROM daily
        GROUP BY event_type, dow
    """,
    tags=("workload", "timeseries"),
)
def workload_seasonality_dow(spark: SparkSession, sf: str) -> DataFrame:
    """Day-of-week seasonality profile: per event type, each weekday's
    average daily volume and its lift vs the type's overall daily average
    (lift > 1 = that weekday runs hot). The profile every forecast
    (``workload_forecast_seasonal``'s lag-7 implicitly assumes it) and
    anomaly threshold should be conditioned on before paging anyone about
    a quiet Sunday. Day-grain pre-aggregation first, so the weekday stats
    and the windowed per-type totals all run on a ~150-row frame; counts
    stay integers until the two final divisions, which both engines
    evaluate in the same order. Spark's DAYOFWEEK is 1=Sunday, DuckDB's
    0=Sunday — the oracle offsets (+1), same convention as ``fn_date``."""
    e = load_table(spark, sf, "events")
    daily = e.groupBy(
        "event_type",
        F.to_date("ts").alias("day"),
        F.dayofweek(F.to_date("ts")).alias("dow"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    w = W.partitionBy("event_type")
    g = daily.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("n").cast("bigint").alias("total_events"),
    )
    avg_day = F.col("total_events") / F.col("n_days").cast("double")
    overall = (
        F.sum("total_events").over(w).cast("double")
        / F.sum("n_days").over(w).cast("double")
    )
    r4 = lambda c: F.floor(c * 10000.0 + 0.5) / 10000.0
    return g.select(
        "event_type",
        "dow",
        "n_days",
        "total_events",
        r4(avg_day).alias("avg_per_day"),
        r4(avg_day / overall).alias("dow_lift"),
    )


@query(
    "workload_sessionized_conversion",
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts, event_id, event_type,
                   CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                             OR LAG(ts) OVER w IS NULL
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id, event_type,
                   SUM(is_new) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING
                   ) AS session_seq
            FROM flagged
        ),
        per_session AS (
            SELECT user_id, session_seq,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   MAX(CASE WHEN event_type = 'purchase'
                            THEN 1 ELSE 0 END) AS converted
            FROM sess GROUP BY user_id, session_seq
        )
        SELECT CASE WHEN n_events <= 2 THEN '1-2'
                    WHEN n_events <= 5 THEN '3-5'
                    WHEN n_events <= 10 THEN '6-10'
                    ELSE '11+' END AS session_len_bucket,
               CAST(COUNT(*) AS BIGINT) AS n_sessions,
               CAST(SUM(converted) AS BIGINT) AS n_converted,
               FLOOR(SUM(converted) / CAST(COUNT(*) AS DOUBLE)
                     * 10000.0 + 0.5) / 10000.0 AS conv_rate
        FROM per_session
        GROUP BY 1
    """,
    tags=("workload", "events", "sessionize"),
)
def workload_sessionized_conversion(spark: SparkSession, sf: str) -> DataFrame:
    """Conversion rate by session depth: gap-sessionize (30-min, same
    islands logic as ``win_sessionize_batch``), flag sessions containing a
    purchase, and report conversion by session-length bucket — the
    engagement-vs-conversion curve product teams steer by ("do longer
    sessions convert more?"). Both windows and the per-session aggregate
    share the user_id exchange; the bucket rollup runs on the
    session-count-sized frame. Conversion stays an integer MAX/SUM until
    the one final division."""
    e = load_table(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    flagged = e.select(
        "user_id", "ts", "event_id", "event_type",
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0).alias("is_new"),
    )
    sess = flagged.withColumn(
        "session_seq",
        F.sum("is_new").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    per_session = sess.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    )
    bucket = (
        F.when(F.col("n_events") <= 2, "1-2")
        .when(F.col("n_events") <= 5, "3-5")
        .when(F.col("n_events") <= 10, "6-10")
        .otherwise("11+")
    )
    return per_session.groupBy(bucket.alias("session_len_bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum("converted").cast("bigint").alias("n_converted"),
        (
            F.floor(
                F.sum("converted") / F.count(F.lit(1)).cast("double")
                * 10000.0 + 0.5
            )
            / 10000.0
        ).alias("conv_rate"),
    )


@knn_twins(
    "graph_assortativity",
    """
        adj AS MATERIALIZED (
            SELECT u, v FROM mutual UNION ALL SELECT v, u FROM mutual
        ),
        deg AS (
            SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY u
        ),
        ed AS (
            SELECT du.d AS x, dv.d AS y
            FROM adj JOIN deg du ON adj.u = du.u
                     JOIN deg dv ON adj.v = dv.u
        ),
        s AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS m,
                   CAST(SUM(x) AS DOUBLE) AS sx,
                   CAST(SUM(y) AS DOUBLE) AS sy,
                   CAST(SUM(x * y) AS DOUBLE) AS sxy,
                   CAST(SUM(x * x) AS DOUBLE) AS sxx,
                   CAST(SUM(y * y) AS DOUBLE) AS syy
            FROM ed
        )
        SELECT CAST(m AS BIGINT) AS n_directed_edges,
               FLOOR((m * sxy - sx * sy)
                     / (SQRT(m * sxx - sx * sx) * SQRT(m * syy - sy * sy))
                     * 10000.0 + 0.5) / 10000.0 AS assortativity
        FROM s
    """,
    ("workload", "graph"),
)
def graph_assortativity(spark: SparkSession, sf: str, src: EdgeSource) -> DataFrame:
    """Degree assortativity of the mutual-5NN cosine graph: Pearson
    correlation of endpoint degrees over the directed edge list — positive
    means hubs link to hubs (hub-dominated similarity structure, an ANN
    index smell: a few vectors appear in everyone's neighbor list),
    negative means hub-and-spoke. Fourth member of the kNN-graph family
    (structure: triangles; spread: k-hop; missing edges: link prediction).
    All sums are over exact integer degrees (≤ k=5 here, < 2^26 generally)
    so the correlation inputs are exact doubles and both engines evaluate
    one identical closed-form expression — the same five-power-sums
    discipline as ``ml_ols_regression``."""
    mutual = src.mutual(spark, sf)
    adj = mutual.unionAll(
        mutual.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = adj.groupBy("u").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    ed = (
        adj.alias("e")
        .join(deg.alias("du"), F.col("e.u") == F.col("du.u"))
        .join(deg.alias("dv"), F.col("e.v") == F.col("dv.u"))
        .select(F.col("du.d").alias("x"), F.col("dv.d").alias("y"))
    )
    s = ed.agg(
        F.count(F.lit(1)).cast("double").alias("m"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    m, sx, sy = F.col("m"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    return s.select(
        m.cast("bigint").alias("n_directed_edges"),
        (
            F.floor(
                F.try_divide(
                    m * sxy - sx * sy,
                    F.sqrt(m * sxx - sx * sx) * F.sqrt(m * syy - sy * sy),
                )
                * 10000.0
                + 0.5
            )
            / 10000.0
        ).alias("assortativity"),
    )


@query(
    "ml_auc_roc",
    oracle="""
        WITH ranked AS (
            SELECT o_orderstatus = 'F' AS is_pos, o_totalprice,
                   CAST(ROW_NUMBER() OVER (ORDER BY o_totalprice,
                                           o_orderkey) AS DOUBLE) AS rn
            FROM orders
        ),
        tied AS (
            SELECT is_pos,
                   AVG(rn) OVER (PARTITION BY o_totalprice) AS avg_rank
            FROM ranked
        ),
        s AS (
            SELECT CAST(SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) AS DOUBLE)
                       AS np,
                   CAST(SUM(CASE WHEN NOT is_pos THEN 1 ELSE 0 END)
                        AS DOUBLE) AS nn,
                   SUM(CASE WHEN is_pos THEN avg_rank ELSE 0 END) AS rp
            FROM tied
        )
        SELECT CAST(np AS BIGINT) AS n_pos,
               CAST(nn AS BIGINT) AS n_neg,
               FLOOR((rp - np * (np + 1) / 2) / (np * nn)
                     * 10000.0 + 0.5) / 10000.0 AS auc
        FROM s
    """,
    tags=("ml", "eval"),
)
def ml_auc_roc(spark: SparkSession, sf: str) -> DataFrame:
    """ROC-AUC via the Mann-Whitney U statistic — AUC equals the
    probability a random positive outranks a random negative, so it falls
    out of rank sums with NO threshold sweep: rank all rows by score
    (o_totalprice as the score, status='F' as the positive class — a
    deliberately weak predictor, AUC ≈ 0.5; the metric machinery is the
    artifact), average ranks within score ties (making the result
    tie-order invariant), then one closed-form expression.

    Every quantity stays exact: integer ranks, tie-averaged ranks are
    multiples of 1/2, and their sums sit far below 2^53 — so the AUC is
    bit-identical cross-engine before display rounding. The global rank
    is the one single-partition step; at scale it becomes a two-pass
    range-partitioned rank (partition boundaries from sampled quantiles,
    per-partition offsets broadcast), the same evolution noted for
    ``workload_histogram_equiheight``."""
    o = load_table(spark, sf, "orders")
    ranked = o.select(
        (F.col("o_orderstatus") == "F").alias("is_pos"),
        "o_totalprice",
        F.row_number()
        .over(W.orderBy("o_totalprice", "o_orderkey"))
        .cast("double")
        .alias("rn"),
    )
    tied = ranked.select(
        "is_pos",
        F.avg("rn").over(W.partitionBy("o_totalprice")).alias("avg_rank"),
    )
    s = tied.agg(
        F.sum(F.when(F.col("is_pos"), 1).otherwise(0))
        .cast("double")
        .alias("np"),
        F.sum(F.when(~F.col("is_pos"), 1).otherwise(0))
        .cast("double")
        .alias("nn"),
        F.sum(F.when(F.col("is_pos"), F.col("avg_rank")).otherwise(0.0)).alias(
            "rp"
        ),
    )
    np_, nn_, rp = F.col("np"), F.col("nn"), F.col("rp")
    return s.select(
        np_.cast("bigint").alias("n_pos"),
        nn_.cast("bigint").alias("n_neg"),
        (
            F.floor(
                F.try_divide(rp - np_ * (np_ + 1) / 2, np_ * nn_) * 10000.0
                + 0.5
            )
            / 10000.0
        ).alias("auc"),
    )


@query(
    "sql_recursive_hierarchy",
    oracle=f"""
        WITH RECURSIVE tree AS (
            SELECT c_custkey AS node, 0 AS depth,
                   CAST(FLOOR(c_acctbal * 100.0 + 0.5) AS BIGINT) AS cents
            FROM customer WHERE c_custkey = 0
            UNION ALL
            SELECT c.c_custkey, t.depth + 1,
                   CAST(FLOOR(c.c_acctbal * 100.0 + 0.5) AS BIGINT)
            FROM customer c
            JOIN tree t ON c.c_custkey // 2 = t.node
            WHERE c.c_custkey >= 1 AND t.depth < 40
        )
        SELECT depth,
               CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(SUM(cents) AS BIGINT) AS sum_balance_cents
        FROM tree
        GROUP BY depth
        ORDER BY depth
    """,
    tags=("sql", "recursive", "spark4"),
)
def sql_recursive_hierarchy(spark: SparkSession, sf: str) -> DataFrame:
    """Recursive CTE (Spark 4.0's WITH RECURSIVE) flattening an
    arbitrary-depth hierarchy — the org-chart/BOM workload that before
    Spark 4 needed a driver-side loop of self-joins. The hierarchy is
    derived deterministically from the data (parent(k) = k DIV 2, a
    binary forest rooted at customer 0), and the recursion carries
    (node, depth, balance-in-cents), aggregated per level at the end.
    Each recursive step is one equi-join of the frontier against the
    base table — on a cluster the frontier is a broadcast-sized fraction
    after the first levels, and the engine terminates when the frontier
    empties (the depth guard is a safety rail, not the driver). Keys and
    cents stay integer throughout, so every level's rollup hashes
    exactly."""
    c = load_table(spark, sf, "customer")
    c.createOrReplaceTempView("_rec_customer")
    return spark.sql(
        """
        WITH RECURSIVE tree AS (
            SELECT c_custkey AS node, 0 AS depth,
                   CAST(FLOOR(c_acctbal * 100.0 + 0.5) AS BIGINT) AS cents
            FROM _rec_customer WHERE c_custkey = 0
            UNION ALL
            -- r11 measured a BROADCAST(t) hint on this frontier join
            -- (the planner cannot estimate a UnionLoopRef) and REJECTED
            -- it: 14 per-iteration frontier broadcasts cost more than
            -- the shuffles they replace (same-harness A/B, min-of-4:
            -- 2.07 s unhinted vs 2.63 s hinted)
            SELECT c.c_custkey, t.depth + 1,
                   CAST(FLOOR(c.c_acctbal * 100.0 + 0.5) AS BIGINT)
            FROM _rec_customer c
            JOIN tree t ON c.c_custkey DIV 2 = t.node
            WHERE c.c_custkey >= 1 AND t.depth < 40
        )
        SELECT depth,
               CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(SUM(cents) AS BIGINT) AS sum_balance_cents
        FROM tree
        GROUP BY depth
        ORDER BY depth
        """
    )


@query(
    "sql_pipe_syntax",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               {sql_dsum("l_quantity")} AS sum_qty,
               {sql_dsum(_DISC_PRICE)} AS sum_disc_price
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-09-01'
        GROUP BY l_returnflag, l_linestatus
    """,
    tags=("sql", "spark4"),
)
def sql_pipe_syntax(spark: SparkSession, sf: str) -> DataFrame:
    """Spark 4's SQL pipe syntax (`|>`): the flagship Q1 aggregation
    written as a linear dataflow — FROM |> WHERE |> EXTEND |> AGGREGATE
    — instead of inside-out nested SQL. Pipe stages compile to exactly
    the same Catalyst plan as the classic form (filter pushdown, partial
    aggregation all intact), so this pins the parser surface, not a new
    engine path; the oracle is the classic-syntax twin. The EXTEND stage
    computes the discounted price once and the AGGREGATE stage reuses
    it — the same alias-once discipline the DataFrame ops follow."""
    li = load_table(spark, sf, "lineitem")
    li.createOrReplaceTempView("_pipe_lineitem")
    return spark.sql(
        """
        FROM _pipe_lineitem
        |> WHERE l_shipdate <= TIMESTAMP '2000-09-01'
        |> EXTEND CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,8))
               AS disc_price
        |> AGGREGATE
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(CAST(l_quantity AS DECIMAL(38,8))) AS DOUBLE)
                   AS sum_qty,
               CAST(SUM(disc_price) AS DOUBLE) AS sum_disc_price
           GROUP BY l_returnflag, l_linestatus
        |> SELECT l_returnflag, l_linestatus, n_lines, sum_qty,
                  sum_disc_price
        """
    )


@query(
    "scan_file_metadata",
    oracle="""
        SELECT 'lineitem.parquet' AS file_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
               CAST(MAX(l_orderkey) AS BIGINT) AS max_orderkey
        FROM lineitem
        -- a 0-row file yields no per-file groups on the Spark side; drop
        -- the oracle's synthetic global row in that case (no-op otherwise)
        HAVING COUNT(*) > 0
    """,
    tags=("scan", "connector", "metadata"),
)
def scan_file_metadata(spark: SparkSession, sf: str) -> DataFrame:
    """Hidden ``_metadata`` file columns on file-source scans: every row
    carries its provenance (file name, modification time, size) without
    any schema change — the lineage/debugging primitive behind "which
    input file produced this bad row", and the grouping key for
    per-file audit counts as here (rows + key span per file). The
    oracle reads the same parquet with DuckDB's ``filename=true``.
    Metadata is constant per file split, so Catalyst treats it like a
    partition column — no per-row cost, no shuffle beyond the file-count
    aggregate."""
    df = load_table(spark, sf, "lineitem")
    return df.groupBy(
        F.col("_metadata.file_name").alias("file_name")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("l_orderkey").cast("bigint").alias("min_orderkey"),
        F.max("l_orderkey").cast("bigint").alias("max_orderkey"),
    )


@query(
    "workload_cdc_apply",
    oracle="""
        WITH feed AS (
            SELECT user_id,
                   CASE event_type WHEN 'error' THEN 'D'
                                   WHEN 'signup' THEN 'I'
                                   ELSE 'U' END AS op,
                   CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS cents,
                   ts, event_id
            FROM events
        ),
        latest AS (
            SELECT user_id, op, cents, event_id,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn,
                   COUNT(*) OVER (PARTITION BY user_id) AS n_changes
            FROM feed
        )
        SELECT user_id, cents AS final_cents,
               CAST(n_changes AS BIGINT) AS n_changes,
               event_id AS last_event_id
        FROM latest
        WHERE rn = 1 AND op <> 'D'
    """,
    tags=("workload", "cdc"),
)
def workload_cdc_apply(spark: SparkSession, sf: str) -> DataFrame:
    """CDC change-feed application, latest-wins: a stream of keyed
    Insert/Update/Delete changes (derived deterministically from the
    events table) collapses to the current snapshot — keep each key's
    most recent non-delete payload, drop keys whose last change is a
    delete. This is the read-side of `merge_upsert_emulated`: MERGE
    applies one batch against a target; CDC-apply compacts an entire
    ordered feed in one pass. One shuffle on the key; the version
    window and per-key change count share the partitioning. Ordering is
    total (ts, event_id), so the snapshot is replay-order invariant —
    the property that makes the operation idempotent, which at scale is
    what lets you re-run a failed compaction without a diff."""
    e = load_table(spark, sf, "events")
    feed = e.select(
        "user_id",
        F.when(F.col("event_type") == "error", "D")
        .when(F.col("event_type") == "signup", "I")
        .otherwise("U")
        .alias("op"),
        F.floor(F.col("value") * 100.0 + 0.5).cast("bigint").alias("cents"),
        "ts",
        "event_id",
    )
    w = W.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    latest = feed.select(
        "user_id",
        "op",
        "cents",
        "event_id",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("user_id")).alias("n_changes"),
    )
    return latest.filter((F.col("rn") == 1) & (F.col("op") != "D")).select(
        "user_id",
        F.col("cents").alias("final_cents"),
        F.col("n_changes").cast("bigint").alias("n_changes"),
        F.col("event_id").alias("last_event_id"),
    )


@query(
    "ml_logistic_newton",
    oracle=f"""
        WITH base AS (
            SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
                   CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS c
            FROM orders
        ),
        s1 AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(c) AS HUGEINT) AS sc,
                   SUM(CAST(c AS HUGEINT) * c) AS scc,
                   SUM(CAST(c AS HUGEINT) * y) AS scy
            FROM base
        ),
        b1 AS (
            SELECT n, sy,
                   CAST(sc AS DOUBLE) / 1e7 AS sx,
                   CAST(scc AS DOUBLE) / 1e14 AS sxx,
                   CAST(scy AS DOUBLE) / 1e7 AS sxy
            FROM s1
        ),
        beta1 AS (
            SELECT n, sy,
                   4.0 * (sxx * (sy - n / 2.0) - sx * (sxy - sx / 2.0))
                       / (n * sxx - sx * sx) AS b0,
                   4.0 * (n * (sxy - sx / 2.0) - sx * (sy - n / 2.0))
                       / (n * sxx - sx * sx) AS b1
            FROM b1
        ),
        scored AS (
            SELECT base.y, base.c / 1e7 AS x, beta1.b0, beta1.b1, beta1.n,
                   beta1.sy,
                   1.0 / (1.0 + EXP(-(beta1.b0 + beta1.b1 * (base.c / 1e7))))
                       AS p
            FROM base, beta1
        ),
        s2 AS (
            SELECT MAX(n) AS n, MAX(sy) AS sy, MAX(b0) AS b0, MAX(b1) AS b1,
                   {sql_dsum("y - p")} AS g0,
                   {sql_dsum("x * (y - p)")} AS g1,
                   {sql_dsum("p * (1.0 - p)")} AS w0,
                   {sql_dsum("x * p * (1.0 - p)")} AS w1,
                   {sql_dsum("x * x * p * (1.0 - p)")} AS w2
            FROM scored
        )
        SELECT n AS n_orders, sy AS n_pos,
               {sql_round4(
                   "b0 + (w2 * g0 - w1 * g1) / (w0 * w2 - w1 * w1)"
               )} AS beta0,
               {sql_round4(
                   "b1 + (w0 * g1 - w1 * g0) / (w0 * w2 - w1 * w1)"
               )} AS beta1
        FROM s2
    """,
    tags=("ml", "iterative"),
)
def ml_logistic_newton(spark: SparkSession, sf: str) -> DataFrame:
    """Logistic regression by two Newton-Raphson steps, relationally:
    P(status='F' | price). The first step from β=0 is CLOSED FORM — at
    β=0 every p=½, so the Hessian is ¼·X'X and the update is
    4·(X'X)⁻¹X'(y−½) with X'X built from exact integer power sums of
    price-cents (HUGEINT/decimal(38,0); cents² overflows int64). The
    second step must evaluate σ(β·x) per row — the one transcendental —
    and its five weighted sums are stabilized by the dsum convention
    (cast to decimal(38,8) per row, then sum), making them order- and
    partition-invariant; cross-engine exp() ulp noise is absorbed by the
    8-decimal quantization and final round4. Both Newton solves are
    symbolic 2×2 inversions, the same pattern as `ml_linreg_multi`.
    Two scans + two scalar reduces — no collect, the β¹ row rides a
    broadcast cross-join into the second pass, so the whole fit is ONE
    Catalyst plan that scales exactly like two aggregate queries."""
    o = load_table(spark, sf, "orders")
    dec0 = "decimal(38,0)"
    base = o.select(
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5)
        .cast("bigint")
        .alias("c"),
    )
    s1 = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("c").cast(dec0)).alias("sc"),
        F.sum(F.col("c").cast(dec0) * F.col("c")).alias("scc"),
        F.sum(F.col("c").cast(dec0) * F.col("y")).alias("scy"),
    )
    b1 = s1.select(
        "n",
        "sy",
        (F.col("sc").cast("double") / 1e7).alias("sx"),
        (F.col("scc").cast("double") / 1e14).alias("sxx"),
        (F.col("scy").cast("double") / 1e7).alias("sxy"),
    )
    n, sy = F.col("n"), F.col("sy")
    sx, sxx, sxy = F.col("sx"), F.col("sxx"), F.col("sxy")
    det1 = n * sxx - sx * sx
    beta1 = b1.select(
        "n",
        "sy",
        (4.0 * (sxx * (sy - n / 2.0) - sx * (sxy - sx / 2.0)) / det1).alias(
            "b0"
        ),
        (4.0 * (n * (sxy - sx / 2.0) - sx * (sy - n / 2.0)) / det1).alias(
            "b1"
        ),
    )
    x = F.col("c") / 1e7
    p = 1.0 / (1.0 + F.exp(-(F.col("b0") + F.col("b1") * x)))
    scored = base.crossJoin(F.broadcast(beta1)).select(
        "y",
        x.alias("x"),
        "b0",
        "b1",
        "n",
        "sy",
        p.alias("p"),
    )
    yv, pv, xv = F.col("y"), F.col("p"), F.col("x")
    s2 = scored.agg(
        F.max("n").alias("n"),
        F.max("sy").alias("sy"),
        F.max("b0").alias("b0"),
        F.max("b1").alias("b1"),
        dsum(yv - pv).alias("g0"),
        dsum(xv * (yv - pv)).alias("g1"),
        dsum(pv * (1.0 - pv)).alias("w0"),
        dsum(xv * pv * (1.0 - pv)).alias("w1"),
        dsum(xv * xv * pv * (1.0 - pv)).alias("w2"),
    )
    g0, g1 = F.col("g0"), F.col("g1")
    w0, w1, w2 = F.col("w0"), F.col("w1"), F.col("w2")
    det2 = w0 * w2 - w1 * w1
    return s2.select(
        F.col("n").alias("n_orders"),
        F.col("sy").alias("n_pos"),
        round4(F.col("b0") + (w2 * g0 - w1 * g1) / det2).alias("beta0"),
        round4(F.col("b1") + (w0 * g1 - w1 * g0) / det2).alias("beta1"),
    )


@query(
    "ml_gbt_stumps",
    oracle=f"""
        WITH base AS (
            SELECT CAST(l_quantity AS BIGINT) AS y,
                   CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS x1,
                   CAST(FLOOR(l_discount * 100.0 + 0.5) AS BIGINT) AS x2
            FROM lineitem
        ),
        pts1 AS (
            SELECT x1, CAST(COUNT(*) AS BIGINT) AS c,
                   CAST(SUM(y) AS BIGINT) AS s
            FROM base GROUP BY x1
        ),
        cum1 AS (
            SELECT x1,
                   SUM(c) OVER (ORDER BY x1) AS cl,
                   SUM(s) OVER (ORDER BY x1) AS sl,
                   SUM(c) OVER () AS n,
                   SUM(s) OVER () AS st
            FROM pts1
        ),
        best1 AS (
            SELECT x1 AS t1,
                   CAST(sl * 1000000 // cl AS BIGINT) AS leaf_l1,
                   CAST((st - sl) * 1000000 // (n - cl) AS BIGINT) AS leaf_r1,
                   CAST(cl AS BIGINT) AS nl1, CAST(n - cl AS BIGINT) AS nr1,
                   CAST(n AS BIGINT) AS n
            FROM cum1 WHERE cl < n
            ORDER BY (CAST(sl AS DOUBLE) * sl / cl
                      + CAST(st - sl AS DOUBLE) * (st - sl) / (n - cl)) DESC,
                     x1 ASC
            LIMIT 1
        ),
        resid AS (
            SELECT b.x2,
                   b.y * 1000000
                       - CASE WHEN b.x1 <= best1.t1 THEN best1.leaf_l1
                              ELSE best1.leaf_r1 END AS r
            FROM base b, best1
        ),
        mse1 AS (
            SELECT SUM(CAST(r AS HUGEINT) * r) AS sse FROM resid
        ),
        pts2 AS (
            SELECT x2, CAST(COUNT(*) AS BIGINT) AS c,
                   CAST(SUM(r) AS BIGINT) AS s
            FROM resid GROUP BY x2
        ),
        cum2 AS (
            SELECT x2,
                   SUM(c) OVER (ORDER BY x2) AS cl,
                   SUM(s) OVER (ORDER BY x2) AS sl,
                   SUM(c) OVER () AS n,
                   SUM(s) OVER () AS st
            FROM pts2
        ),
        best2 AS (
            SELECT x2 AS t2,
                   CAST(CASE WHEN sl >= 0 THEN sl * 1000000 // cl
                        ELSE -((-sl) * 1000000 // cl)
                        END AS BIGINT) AS leaf_l2,
                   CAST(CASE WHEN st - sl >= 0
                        THEN (st - sl) * 1000000 // (n - cl)
                        ELSE -((sl - st) * 1000000 // (n - cl))
                        END AS BIGINT) AS leaf_r2,
                   CAST(cl AS BIGINT) AS nl2, CAST(n - cl AS BIGINT) AS nr2
            FROM cum2 WHERE cl < n
            ORDER BY (CAST(sl AS DOUBLE) * sl / cl
                      + CAST(st - sl AS DOUBLE) * (st - sl) / (n - cl)) DESC,
                     x2 ASC
            LIMIT 1
        ),
        resid2 AS (
            SELECT r - (CASE WHEN resid.x2 <= best2.t2
                             THEN best2.leaf_l2 ELSE best2.leaf_r2 END)
                       / 1000000.0 * 1000000 AS r2d,
                   r, resid.x2, best2.t2, best2.leaf_l2, best2.leaf_r2
            FROM resid, best2
        ),
        mse2 AS (
            SELECT SUM(CAST(CAST(r - CASE WHEN x2 <= t2 THEN leaf_l2
                                     ELSE leaf_r2 END AS BIGINT) AS HUGEINT)
                       * CAST(r - CASE WHEN x2 <= t2 THEN leaf_l2
                              ELSE leaf_r2 END AS BIGINT)) AS sse
            FROM resid2
        )
        SELECT 1 AS round, 'price_cents' AS feature,
               best1.t1 AS threshold,
               best1.leaf_l1 AS leaf_left_micro,
               best1.leaf_r1 AS leaf_right_micro,
               best1.nl1 AS n_left, best1.nr1 AS n_right,
               {sql_round4(
                   "CAST(CAST(mse1.sse AS VARCHAR) AS DOUBLE)"
                   " / best1.n / 1e12"
               )} AS mse_after
        FROM best1, mse1
        UNION ALL
        SELECT 2, 'discount_cents', best2.t2, best2.leaf_l2, best2.leaf_r2,
               best2.nl2, best2.nr2,
               {sql_round4(
                   "CAST(CAST(mse2.sse AS VARCHAR) AS DOUBLE)"
                   " / best1.n / 1e12"
               )}
        FROM best2, mse2, best1
    """,
    tags=("ml", "iterative", "tree"),
)
def ml_gbt_stumps(spark: SparkSession, sf: str) -> DataFrame:
    """Gradient-boosted regression stumps, two rounds, fully relational
    and integer-exact: round 1 fits the variance-minimizing split of
    quantity on price (same deduped-candidates + cumulative-window
    recipe as `ml_decision_stump`, objective S²_L/C_L + S²_R/C_R from
    integer sums); leaf predictions are quantized to exact micro-units
    by INTEGER DIVISION (floor-toward-zero on both engines — negative
    leaf values are handled by an explicit sign-split so Spark's DIV and
    DuckDB's // agree), making every residual an exact integer that the
    second stump (on discount) fits with the same machinery. Squared-
    error sums ride HUGEINT/decimal(38,0). Output: both stumps + the
    post-round train MSE — boosting's monotone-improvement contract,
    checkable bit-for-bit. The fact table is touched three times (two
    candidate aggregates + one residual pass); the windows run over
    deduped candidate axes only."""
    # spread measured-and-REJECTED here (r11): the lineitem scan appears
    # three times in this plan (two candidate aggregates + the residual
    # pass), so a keyed fan-out is also TRIPLED — plan grew 46 → 64
    # Exchanges and the wall went 2.36 → 3.10 s (30 partitions) /
    # 2.48 s (8 partitions), same-harness min-of-4. The existing
    # candidate-aggregate exchanges already distribute the real work;
    # the serial segment is just casts feeding a map-side partial agg.
    li = load_table(spark, sf, "lineitem")
    dec0 = "decimal(38,0)"
    base = li.select(
        F.col("l_quantity").cast("bigint").alias("y"),
        F.floor(F.col("l_extendedprice") * 100.0 + 0.5)
        .cast("bigint")
        .alias("x1"),
        F.floor(F.col("l_discount") * 100.0 + 0.5).cast("bigint").alias("x2"),
    )

    def best_split(pts: DataFrame, xcol: str):
        w_cum = W.orderBy(xcol).rangeBetween(W.unboundedPreceding, W.currentRow)
        w_all = W.partitionBy()
        cum = pts.select(
            xcol,
            F.sum("c").over(w_cum).alias("cl"),
            F.sum("s").over(w_cum).alias("sl"),
            F.sum("c").over(w_all).alias("n"),
            F.sum("s").over(w_all).alias("st"),
        ).filter(F.col("cl") < F.col("n"))
        sl, cl = F.col("sl"), F.col("cl")
        st, n = F.col("st"), F.col("n")
        score = sl.cast("double") * sl / cl + (st - sl).cast("double") * (
            st - sl
        ) / (n - cl)
        rn = F.row_number().over(W.orderBy(F.desc("score"), F.asc(xcol)))
        # Leaf division must floor TOWARD ZERO to match DuckDB's // on
        # negative sums (Spark's DIV floors toward -inf): explicit
        # sign-split below.
        return (
            cum.withColumn("score", score)
            .withColumn("rn", rn)
            .filter(F.col("rn") == 1)
            .select(
                F.col(xcol).alias("t"),
                F.when(sl >= 0, F.expr("sl * 1000000 DIV cl"))
                .otherwise(-F.expr("(-sl) * 1000000 DIV cl"))
                .cast("bigint")
                .alias("leaf_l"),
                F.when(
                    st - sl >= 0, F.expr("(st - sl) * 1000000 DIV (n - cl)")
                )
                .otherwise(-F.expr("(sl - st) * 1000000 DIV (n - cl)"))
                .cast("bigint")
                .alias("leaf_r"),
                cl.cast("bigint").alias("nl"),
                (n - cl).cast("bigint").alias("nr"),
                n.cast("bigint").alias("n"),
            )
        )

    pts1 = base.groupBy("x1").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.sum("y").cast("bigint").alias("s"),
    )
    best1 = best_split(pts1, "x1")
    resid = base.crossJoin(F.broadcast(best1)).select(
        "x2",
        (
            F.col("y") * 1000000
            - F.when(F.col("x1") <= F.col("t"), F.col("leaf_l")).otherwise(
                F.col("leaf_r")
            )
        ).alias("r"),
        F.col("n").alias("n"),
    )
    stats1 = resid.agg(
        F.sum(F.col("r").cast(dec0) * F.col("r")).alias("sse"),
        F.max("n").alias("n"),
    )
    pts2 = resid.groupBy("x2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.sum("r").cast("bigint").alias("s"),
    )
    best2 = best_split(pts2, "x2")
    resid2 = resid.crossJoin(F.broadcast(best2.drop("n"))).select(
        (
            F.col("r")
            - F.when(F.col("x2") <= F.col("t"), F.col("leaf_l")).otherwise(
                F.col("leaf_r")
            )
        ).alias("r2"),
        F.col("n"),
    )
    stats2 = resid2.agg(
        F.sum(F.col("r2").cast(dec0) * F.col("r2")).alias("sse"),
        F.max("n").alias("n"),
    )
    row1 = best1.crossJoin(stats1.select("sse")).select(
        F.lit(1).alias("round"),
        F.lit("price_cents").alias("feature"),
        F.col("t").alias("threshold"),
        F.col("leaf_l").alias("leaf_left_micro"),
        F.col("leaf_r").alias("leaf_right_micro"),
        F.col("nl").alias("n_left"),
        F.col("nr").alias("n_right"),
        round4(F.col("sse").cast("double") / F.col("n") / 1e12).alias(
            "mse_after"
        ),
    )
    row2 = best2.crossJoin(stats2.select("sse")).select(
        F.lit(2).alias("round"),
        F.lit("discount_cents").alias("feature"),
        F.col("t").alias("threshold"),
        F.col("leaf_l").alias("leaf_left_micro"),
        F.col("leaf_r").alias("leaf_right_micro"),
        F.col("nl").alias("n_left"),
        F.col("nr").alias("n_right"),
        round4(F.col("sse").cast("double") / F.col("n") / 1e12).alias(
            "mse_after"
        ),
    )
    return row1.unionByName(row2)


@query(
    "graph_ann_edge_table",
    oracle=f"""
        WITH {ANN.sql}
        SELECT u, v, c AS cosine, rank FROM topk
    """,
    tags=("workload", "graph", "similarity", "ann"),
)
def graph_ann_edge_table(spark: SparkSession, sf: str) -> DataFrame:
    """The 100 TB kNN candidate path, registered and oracle-checked: banded
    sign-LSH (8 bands x 6 sign bits) candidate generation -> exact cosine
    on candidates only -> per-u top-5. This is the edge table every
    ``*_ann`` consumer rides at scale (the exact ``_cosine_pairs`` is the
    fixture-scale formulation; see its docstring for the recall trade on
    these isotropic fixtures). Candidate compute is Σ bucket-occupancy² —
    at 1000 executors the (band, bucket) equi-join shuffles each vector 8
    times and never builds the n² product."""
    return ANN.top5(spark, sf).select(
        "u", "v", F.col("c").alias("cosine"), "rank"
    )


@knn_twins(
    "graph_kcore",
    """
        deg1 AS (
            SELECT node, COUNT(*) AS d FROM (
                SELECT u AS node FROM mutual
                UNION ALL SELECT v FROM mutual
            ) GROUP BY node
        ),
        keep1 AS MATERIALIZED (SELECT node FROM deg1 WHERE d >= 2),
        e1 AS MATERIALIZED (
            SELECT m.u, m.v FROM mutual m
            JOIN keep1 a ON m.u = a.node
            JOIN keep1 b ON m.v = b.node
        ),
        deg2 AS (
            SELECT node, COUNT(*) AS d FROM (
                SELECT u AS node FROM e1
                UNION ALL SELECT v FROM e1
            ) GROUP BY node
        ),
        keep2 AS MATERIALIZED (SELECT node FROM deg2 WHERE d >= 2),
        e2 AS (
            SELECT e.u, e.v FROM e1 e
            JOIN keep2 a ON e.u = a.node
            JOIN keep2 b ON e.v = b.node
        )
        SELECT CAST(0 AS BIGINT) AS peel_round,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM nv) AS n_nodes,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM mutual) AS n_edges
        UNION ALL
        SELECT CAST(1 AS BIGINT),
               (SELECT CAST(COUNT(*) AS BIGINT) FROM keep1),
               (SELECT CAST(COUNT(*) AS BIGINT) FROM e1)
        UNION ALL
        SELECT CAST(2 AS BIGINT),
               (SELECT CAST(COUNT(*) AS BIGINT) FROM keep2),
               (SELECT CAST(COUNT(*) AS BIGINT) FROM e2)
    """,
    ("workload", "graph", "similarity"),
)
def graph_kcore(spark: SparkSession, sf: str, src: EdgeSource) -> DataFrame:
    """2-core peeling of the mutual-5-NN cosine graph, two unrolled
    rounds: drop nodes of degree < 2, recompute degrees on the induced
    subgraph, drop again — per-round (nodes, edges) counts show how much
    of the corpus sits in locally dense neighborhoods vs dangling
    chains (the dedup-cluster / community-core diagnostic). Each round
    is a groupBy degree count + two semi-joins back onto the edge list,
    so cost is O(|E|) per round with shuffles keyed on node id — the
    textbook distributed k-core step, and at 100 TB the edge list comes
    from the ANN source (``graph_kcore_ann``), never the exact source's
    O(n²) pair product. Peeling to a FIXED round count (not
    convergence) keeps the plan static and oracle-replayable.

    Each round's keep-set and induced edge list is referenced 3× by the
    next round + its own report row, and Catalyst inlines a fresh copy of
    the subtree per reference (SCALE.md §5) — unchecked, this plan held
    302 Exchanges and recomputed round 1 ~8×. Lazy ``localCheckpoint``
    on the per-round frames truncates the lineage exactly where the
    oracle's MATERIALIZED CTEs do: each round computes once, every
    reference rides the materialized result (32 Exchanges executed).
    Even ``eager=False`` truncates the logical plan immediately — only
    the materialization job is deferred — so plan audits see the same
    truncated shape that executes."""
    mutual = src.mutual(spark, sf)
    nv = load_table(spark, sf, "embeddings").select("vec_id")

    def degrees(edges: DataFrame) -> DataFrame:
        return (
            edges.select(F.col("u").alias("node"))
            .unionAll(edges.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )

    keep1 = (
        degrees(mutual).filter(F.col("d") >= 2).select("node")
        .localCheckpoint(eager=False)
    )
    e1 = (
        mutual.join(keep1.withColumnRenamed("node", "u"), "u", "left_semi")
        .join(keep1.withColumnRenamed("node", "v"), "v", "left_semi")
        .select("u", "v")
        .localCheckpoint(eager=False)
    )
    keep2 = (
        degrees(e1).filter(F.col("d") >= 2).select("node")
        .localCheckpoint(eager=False)
    )
    e2 = (
        e1.join(keep2.withColumnRenamed("node", "u"), "u", "left_semi")
        .join(keep2.withColumnRenamed("node", "v"), "v", "left_semi")
        .select("u", "v")
    )

    def row(r: int, nodes: DataFrame, edges: DataFrame) -> DataFrame:
        n = nodes.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
        e = edges.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
        return n.crossJoin(e).select(
            F.lit(r).cast("bigint").alias("peel_round"), "n_nodes", "n_edges"
        )

    return row(0, nv, mutual).unionByName(row(1, keep1, e1)).unionByName(
        row(2, keep2, e2)
    )


@query(
    "workload_snapshot_diff",
    oracle=f"""
        WITH v1 AS (
            SELECT o_orderkey, o_totalprice AS price
            FROM orders WHERE o_orderkey % 7 <> 0
        ),
        v2 AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1.0
                        ELSE o_totalprice END AS price
            FROM orders WHERE o_orderkey % 5 <> 0
        ),
        d AS (
            SELECT CASE
                       WHEN v1.o_orderkey IS NULL THEN 'added'
                       WHEN v2.o_orderkey IS NULL THEN 'removed'
                       WHEN v1.price <> v2.price THEN 'changed'
                       ELSE 'unchanged' END AS change,
                   COALESCE(v2.price, 0.0) - COALESCE(v1.price, 0.0) AS delta
            FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
        )
        SELECT change, CAST(COUNT(*) AS BIGINT) AS n_rows,
               {sql_dsum('delta')} AS net_delta
        FROM d GROUP BY change
    """,
    tags=("workload", "versioning"),
)
def workload_snapshot_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Snapshot diff between two table versions — the audit behind every
    'what changed since yesterday's load' question and the verification
    step of a lakehouse time-travel story. Versions are carved
    deterministically from orders (v1 drops key%7=0; v2 drops key%5=0
    and bumps key%3=0 prices), then ONE full outer join on the key
    classifies every row added / removed / changed / unchanged and nets
    the monetary delta per class (decimal-summed). At 100 TB both
    snapshots shuffle once on the same join key — or zero times if the
    versions are bucketed on it — and the classification is pure
    projection; no row ever reaches the driver."""
    o = load_table(spark, sf, "orders")
    v1 = o.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey", F.col("o_totalprice").alias("price")
    )
    v2 = o.filter(F.col("o_orderkey") % 5 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 3 == 0, F.col("o_totalprice") + 1.0)
        .otherwise(F.col("o_totalprice"))
        .alias("price"),
    )
    j = v1.alias("a").join(
        v2.alias("b"), F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full"
    )
    d = j.select(
        F.when(F.col("a.o_orderkey").isNull(), "added")
        .when(F.col("b.o_orderkey").isNull(), "removed")
        .when(F.col("a.price") != F.col("b.price"), "changed")
        .otherwise("unchanged")
        .alias("change"),
        (
            F.coalesce(F.col("b.price"), F.lit(0.0))
            - F.coalesce(F.col("a.price"), F.lit(0.0))
        ).alias("delta"),
    )
    return d.groupBy("change").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        dsum(F.col("delta")).alias("net_delta"),
    )


def _holt_sql() -> str:
    """Build the chained-CTE Holt recursion (shared step algebra with the
    Spark loop in workload_holt_linear — one template, two dialects)."""
    ys = ", ".join(f"y{i}" for i in range(1, 10))
    dsum_day = (
        "COALESCE(CAST(CAST(SUM(CASE WHEN d = {d} THEN "
        "CAST(value AS DECIMAL(38,8)) END) AS VARCHAR) AS DOUBLE), 0.0)"
    )
    piv_cols = ", ".join(
        f"FLOOR({dsum_day.format(d=d)} * 100.0 + 0.5) AS y{d}" for d in range(1, 10)
    )
    ctes = [
        "base AS (SELECT event_type, date_part('day', ts) AS d, value"
        " FROM events WHERE ts < TIMESTAMP '2024-01-10 00:00:00')",
        f"piv AS (SELECT event_type, {piv_cols} FROM base GROUP BY event_type)",
        f"s1 AS (SELECT event_type, {ys}, y1 AS l1, y2 - y1 AS b1 FROM piv)",
    ]
    for t in range(2, 10):
        lexpr = f"0.5 * y{t} + 0.5 * (l{t-1} + b{t-1})"
        bexpr = f"0.5 * (({lexpr}) - l{t-1}) + 0.5 * b{t-1}"
        ctes.append(
            f"s{t} AS (SELECT event_type, {ys}, {lexpr} AS l{t},"
            f" {bexpr} AS b{t} FROM s{t-1})"
        )
    return (
        "WITH " + ",\n".join(ctes) + """
        SELECT event_type,
               l9 / 100.0 AS level_final,
               b9 / 100.0 AS trend_final,
               (l9 + b9) / 100.0 AS forecast_1,
               (l9 + 2.0 * b9) / 100.0 AS forecast_2
        FROM s9
    """
    )


@query(
    "workload_holt_linear",
    oracle=_holt_sql(),
    tags=("workload", "timeseries", "forecast"),
)
def workload_holt_linear(spark: SparkSession, sf: str) -> DataFrame:
    """Holt's linear-trend (double exponential) smoothing over the first
    9 days of per-type daily revenue, α = β = ½, recursion unrolled as
    8 chained projections (Catalyst collapses them into one) — level,
    trend, and 1/2-step-ahead forecasts per series. The ½ smoothing
    weights keep every state dyadic-rational in integer cents, so the
    doubles are bit-exact on both engines with NO rounding at all —
    the same power-of-two trick as workload_ewma_smoothing, extended
    to coupled two-state recursions. The heavy part (daily decimal
    sums) is one map-side-combined aggregate over the events stream;
    the recursion then runs on |event_types| rows. At 100 TB: same
    plan, or swap the fixed 9-day pivot for a windowed scan when the
    horizon is long (the recursion itself stays O(series) tiny)."""
    ev = load_table(spark, sf, "events")
    base = ev.filter(F.col("ts") < F.lit("2024-01-10 00:00:00").cast("timestamp")).select(
        "event_type", F.dayofmonth("ts").alias("d"), "value"
    )
    piv = base.groupBy("event_type").agg(
        *[
            F.floor(
                F.coalesce(
                    F.sum(F.when(F.col("d") == d, F.col("value").cast(DEC)))
                    .cast("double"),
                    F.lit(0.0),
                )
                * 100.0
                + 0.5
            ).cast("double").alias(f"y{d}")
            for d in range(1, 10)
        ]
    )
    ys = [f"y{i}" for i in range(1, 10)]
    cur = piv.selectExpr("event_type", *ys, "y1 AS l1", "y2 - y1 AS b1")
    for t in range(2, 10):
        lexpr = f"0.5 * y{t} + 0.5 * (l{t-1} + b{t-1})"
        bexpr = f"0.5 * (({lexpr}) - l{t-1}) + 0.5 * b{t-1}"
        cur = cur.selectExpr(
            "event_type", *ys, f"{lexpr} AS l{t}", f"{bexpr} AS b{t}"
        )
    return cur.selectExpr(
        "event_type",
        "l9 / 100.0 AS level_final",
        "b9 / 100.0 AS trend_final",
        "(l9 + b9) / 100.0 AS forecast_1",
        "(l9 + 2.0 * b9) / 100.0 AS forecast_2",
    )


@knn_twins(
    "graph_modularity",
    f"""
        lab AS (SELECT vec_id, label FROM embeddings),
        el AS (
            SELECT m.u, m.v, la.label AS lu, lb.label AS lv
            FROM mutual m
            JOIN lab la ON m.u = la.vec_id
            JOIN lab lb ON m.v = lb.vec_id
        ),
        mm AS (SELECT CAST(COUNT(*) AS DOUBLE) AS m FROM el),
        ew AS (
            SELECT lu AS label, COUNT(*) AS e_within
            FROM el WHERE lu = lv GROUP BY lu
        ),
        dg AS (
            SELECT label, COUNT(*) AS d_sum FROM (
                SELECT lu AS label FROM el
                UNION ALL SELECT lv FROM el
            ) GROUP BY label
        )
        SELECT CAST(dg.label AS INT) AS label,
               CAST(COALESCE(ew.e_within, 0) AS BIGINT) AS e_within,
               CAST(dg.d_sum AS BIGINT) AS degree_sum,
               {sql_round4(
                   'COALESCE(ew.e_within, 0) / mm.m'
                   ' - (dg.d_sum / (2.0 * mm.m)) * (dg.d_sum / (2.0 * mm.m))')}
                   AS q_contrib
        FROM dg LEFT JOIN ew ON dg.label = ew.label
        CROSS JOIN mm
    """,
    ("workload", "graph", "similarity"),
)
def graph_modularity(spark: SparkSession, sf: str, src: EdgeSource) -> DataFrame:
    """Newman modularity of the label partition on the mutual-5-NN
    cosine graph, per community: Q_c = e_c/m − (d_c/2m)² — do the
    embedding labels line up with the geometry? (Σ Q_c near 0 ⇒ labels
    are orthogonal to neighborhood structure => don't trust
    cluster-based curation decisions.) The edge list joins the node
    labels twice (key = vec_id, the natural co-partition), then
    everything is label-alphabet-bounded: within-edges count, degree
    sums, one scalar edge total broadcast back. Integer counts →
    row-wise IEEE contribution → round4 (``try_divide``: an empty edge
    list yields no rows, never a division error). At 100 TB the edge
    list again comes from the ANN source; this op adds two hash joins
    and two tiny aggregates on top of it."""
    mutual = src.mutual(spark, sf)
    lab = load_table(spark, sf, "embeddings").select("vec_id", "label")
    el = (
        mutual.join(lab.withColumnRenamed("vec_id", "u").withColumnRenamed("label", "lu"), "u")
        .join(lab.withColumnRenamed("vec_id", "v").withColumnRenamed("label", "lv"), "v")
        .select("u", "v", "lu", "lv")
    )
    mm = el.agg(F.count(F.lit(1)).cast("double").alias("m"))
    ew = (
        el.filter(F.col("lu") == F.col("lv"))
        .groupBy(F.col("lu").alias("label"))
        .agg(F.count(F.lit(1)).alias("e_within"))
    )
    dg = (
        el.select(F.col("lu").alias("label"))
        .unionAll(el.select(F.col("lv").alias("label")))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("d_sum"))
    )
    ewc = F.coalesce(F.col("e_within"), F.lit(0))
    return (
        dg.join(ew, "label", "left")
        .crossJoin(F.broadcast(mm))
        .select(
            F.col("label").cast("int").alias("label"),
            ewc.cast("bigint").alias("e_within"),
            F.col("d_sum").cast("bigint").alias("degree_sum"),
            round4(
                F.try_divide(ewc, F.col("m"))
                - (F.col("d_sum") / (2.0 * F.col("m")))
                * (F.col("d_sum") / (2.0 * F.col("m")))
            ).alias("q_contrib"),
        )
    )


@query(
    "workload_skyline_pareto_front",
    oracle="""
        WITH pts AS (
            -- rows with a NULL dimension are incomparable under
            -- dominance and are excluded off the front on both sides
            SELECT o_orderkey, o_totalprice,
                   CAST(o_orderdate AS DATE) AS od
            FROM orders
            WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
        ),
        ranked AS (
            SELECT o_orderkey, o_totalprice, od,
                   MAX(o_totalprice) OVER (
                       ORDER BY od DESC, o_totalprice DESC, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS best_price_more_recent
            FROM pts
        )
        SELECT o_orderkey, o_totalprice, od AS order_date
        FROM ranked
        WHERE best_price_more_recent IS NULL
           OR o_totalprice > best_price_more_recent
    """,
    tags=("workload", "skyline"),
)
def workload_skyline_pareto_front(spark: SparkSession, sf: str) -> DataFrame:
    """2-D skyline (Pareto front): orders not dominated on (recency,
    price) — no other order is both more recent and pricier. The
    classic O(n²) dominance test collapses to ONE window: sort by date
    desc, keep a row iff its price beats the running max of everything
    more recent (ties broken deterministically). One sort-shuffle,
    no self-join — at 100 TB this is the difference between a skyline
    that runs and one that doesn't; for k-D skylines the same
    sort-and-sweep runs per grid cell after a space-partitioning
    shuffle. Output is the front itself (dates exposed as DATE so both
    engines hash the same type).

    Scale refinement: before the single-partition sweep, a month-grain
    prefilter drops every row beaten by a strictly-later month's max
    price (a broadcast join against an ~|months|-row cummax table).
    Provably result-identical — any row dominated by a dropped row is
    transitively dominated by a surviving later-month witness — and it
    shrinks the global window's input from the corpus to the candidate
    sliver, which is what makes a 100 TB skyline runnable."""
    o = load_table(spark, sf, "orders")
    # NULL-dimension rows are incomparable under dominance: exclude them
    # explicitly (the month-prefilter join would otherwise drop them
    # silently via its NULL join key — same result, wrong reason)
    pts = o.filter(
        F.col("o_totalprice").isNotNull() & F.col("o_orderdate").isNotNull()
    ).select(
        "o_orderkey", "o_totalprice", F.col("o_orderdate").cast("date").alias("od")
    )
    month = F.date_trunc("month", F.col("od")).cast("date")
    mmax = pts.groupBy(month.alias("mo")).agg(
        F.max("o_totalprice").alias("mo_max")
    )
    wmo = W.orderBy(F.desc("mo")).rowsBetween(W.unboundedPreceding, -1)
    later = mmax.select("mo", F.max("mo_max").over(wmo).alias("best_later"))
    cand = (
        pts.join(F.broadcast(later), month == F.col("mo"))
        .filter(
            F.col("best_later").isNull()
            | (F.col("o_totalprice") > F.col("best_later"))
        )
        .select("o_orderkey", "o_totalprice", "od")
    )
    w = (
        W.orderBy(F.desc("od"), F.desc("o_totalprice"), F.asc("o_orderkey"))
        .rowsBetween(W.unboundedPreceding, -1)
    )
    ranked = cand.withColumn("best", F.max("o_totalprice").over(w))
    return ranked.filter(
        F.col("best").isNull() | (F.col("o_totalprice") > F.col("best"))
    ).select("o_orderkey", "o_totalprice", F.col("od").alias("order_date"))


@query(
    "sql_named_parameters",
    oracle=f"""
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               {sql_dsum('o_totalprice')} AS revenue
        FROM orders
        WHERE o_totalprice > 100000.0
          AND o_orderdate >= TIMESTAMP '1995-01-01'
        GROUP BY o_orderpriority
    """,
    tags=("sql", "spark4"),
)
def sql_named_parameters(spark: SparkSession, sf: str) -> DataFrame:
    """Spark 4 parameterized SQL: the query text carries ``:named``
    parameter markers and values bind at execution via
    ``spark.sql(sql, args={...})`` — injection-safe templated queries
    without string splicing, the API every query-service front end
    should use. Binding happens in the parser, so the bound literal
    constant-folds and pushes down exactly like an inline one (the
    min-price predicate reaches the parquet scan). Oracle is the
    inlined twin."""
    o = load_table(spark, sf, "orders")
    o.createOrReplaceTempView("_param_orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,8))) AS DOUBLE)
                   AS revenue
        FROM _param_orders
        WHERE o_totalprice > :min_price
          AND o_orderdate >= :cutoff
        GROUP BY o_orderpriority
        """,
        args={
            "min_price": 100000.0,
            "cutoff": "1995-01-01 00:00:00",
        },
    )


@query(
    "sql_variables",
    oracle=f"""
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
        FROM lineitem
        WHERE l_quantity BETWEEN 10.0 AND 40.0
        GROUP BY l_returnflag
    """,
    tags=("sql", "spark4"),
)
def sql_variables(spark: SparkSession, sf: str) -> DataFrame:
    """Spark 4 SQL session variables: DECLARE VARIABLE + SET VARIABLE
    define session-scoped typed state that subsequent queries reference
    as ``system.session.<name>`` (or bare) — the SQL-native way to
    thread thresholds through a multi-statement job (dbt-style configs)
    without client-side templating. Variables resolve to literals at
    analysis time, so pushdown/folding are identical to inline
    constants; the oracle is the inlined twin."""
    li = load_table(spark, sf, "lineitem")
    li.createOrReplaceTempView("_var_lineitem")
    spark.sql("DECLARE OR REPLACE VARIABLE qty_lo DOUBLE DEFAULT 0.0")
    spark.sql("DECLARE OR REPLACE VARIABLE qty_hi DOUBLE DEFAULT 50.0")
    spark.sql("SET VARIABLE qty_lo = 10.0")
    spark.sql("SET VARIABLE qty_hi = 40.0")
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(38,8))) AS DOUBLE) AS revenue
        FROM _var_lineitem
        WHERE l_quantity BETWEEN qty_lo AND qty_hi
        GROUP BY l_returnflag
        """
    )


@query(
    "workload_medallion",
    oracle=f"""
        WITH bronze AS (
            SELECT event_id, ts, user_id, event_type, value, props
            FROM events
        ),
        silver AS (
            SELECT event_id, ts, user_id, event_type, value,
                   CASE WHEN json_valid(props) THEN
                       json_extract_string(props, '$.device') END AS device
            FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY event_id ORDER BY ts, user_id) AS rn
                FROM bronze
            ) d
            WHERE rn = 1 AND value IS NOT NULL AND value >= 0.0
        ),
        gold AS (
            SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                   event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
                   {sql_dsum('value')} AS sum_value,
                   CAST(COUNT(device) AS BIGINT) AS n_with_device
            FROM silver
            GROUP BY day, event_type
        )
        SELECT * FROM gold
    """,
    tags=("workload", "pipeline"),
)
def workload_medallion(spark: SparkSession, sf: str) -> DataFrame:
    """Bronze → silver → gold medallion pipeline as ONE Catalyst plan:
    bronze is the raw stream; silver deduplicates on event_id
    (first-by-ts survivor), quarantines null/negative measures, and
    extracts the typed device field from the JSON props; gold is the
    day × type serving aggregate with exact distinct users. The layers
    are views over each other, not materializations — Catalyst pushes
    the silver filters into the bronze scan and fuses the whole
    lineage, so 'three-layer architecture' costs two shuffles (dedup
    window by event_id, gold group-by), not three jobs + two
    intermediate tables. At 100 TB you materialize silver/gold only at
    layer boundaries consumed by OTHER jobs — each materialization is
    this same plan cut at a CTE — and the dedup window rides the
    event_id bucketing of the bronze layout."""
    ev = load_table(spark, sf, "events")
    wdup = W.partitionBy("event_id").orderBy("ts", "user_id")
    silver = (
        ev.withColumn("rn", F.row_number().over(wdup))
        .filter(
            (F.col("rn") == 1)
            & F.col("value").isNotNull()
            & (F.col("value") >= 0.0)
        )
        .select(
            "event_id", "ts", "user_id", "event_type", "value",
            F.get_json_object("props", "$.device").alias("device"),
        )
    )
    return silver.groupBy(
        F.col("ts").cast("date").cast("string").alias("day"), "event_type"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        dsum(F.col("value")).alias("sum_value"),
        F.count("device").cast("bigint").alias("n_with_device"),
    )


@query(
    "workload_fifo_allocation",
    oracle="""
        WITH base AS (
            SELECT user_id, event_type, ts, event_id,
                   CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS cents
            FROM events WHERE user_id % 97 = 0
        ),
        g AS (
            SELECT user_id,
                   ROW_NUMBER() OVER w AS grant_seq,
                   SUM(cents) OVER w - cents AS lo,
                   SUM(cents) OVER w AS hi
            FROM base WHERE event_type = 'signup'
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        c AS (
            SELECT user_id,
                   ROW_NUMBER() OVER w AS cons_seq,
                   SUM(cents) OVER w - cents AS lo,
                   SUM(cents) OVER w AS hi
            FROM base WHERE event_type = 'purchase'
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        )
        SELECT g.user_id,
               CAST(g.grant_seq AS BIGINT) AS grant_seq,
               CAST(c.cons_seq AS BIGINT) AS cons_seq,
               -- CAST: the SUM() OVER running totals are HUGEINT in DuckDB,
               -- so their difference is too → float64 via pandas fetchdf()
               CAST(LEAST(g.hi, c.hi) - GREATEST(g.lo, c.lo) AS BIGINT)
                   AS matched_cents
        FROM g JOIN c
          ON g.user_id = c.user_id AND g.lo < c.hi AND c.lo < g.hi
    """,
    tags=("workload", "ledger", "fifo"),
)
def workload_fifo_allocation(spark: SparkSession, sf: str) -> DataFrame:
    """FIFO ledger allocation — signup events grant credit, purchases
    consume it, and every consumption is matched to the EARLIEST
    unconsumed grants (cost-basis matching, prepaid-credit burn-down,
    inventory FIFO — the classic 'hard in SQL' problem). The procedural
    queue vanishes under the cumulative-interval identity: each grant
    owns [cum−amt, cum) of the user's lifetime credit line, each
    consumption owns the same interval on its own axis, and FIFO
    matching IS interval overlap — one equi-join on user with a range
    residual, matched amount = overlap length. Exact integer cents;
    per-user windows and the join share the user_id partitioning (ONE
    shuffle at scale with co-bucketed layout); overlap fan-out is
    bounded by grants+consumptions per user, never their product.
    Users subset (%97) keeps the fixture output compact."""
    ev = load_table(spark, sf, "events")
    base = ev.filter(F.col("user_id") % 97 == 0).select(
        "user_id", "event_type", "ts", "event_id",
        F.floor(F.col("value") * 100.0 + 0.5).cast("bigint").alias("cents"),
    )
    wspec = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wrn = W.partitionBy("user_id").orderBy("ts", "event_id")

    def ledger(etype: str, seq_name: str) -> DataFrame:
        side = base.filter(F.col("event_type") == etype)
        return side.select(
            "user_id",
            F.row_number().over(wrn).cast("bigint").alias(seq_name),
            (F.sum("cents").over(wspec) - F.col("cents")).alias("lo"),
            F.sum("cents").over(wspec).alias("hi"),
        )

    g = ledger("signup", "grant_seq")
    c = ledger("purchase", "cons_seq")
    ga, ca = g.alias("g"), c.alias("c")
    return (
        ga.join(
            ca,
            (F.col("g.user_id") == F.col("c.user_id"))
            & (F.col("g.lo") < F.col("c.hi"))
            & (F.col("c.lo") < F.col("g.hi")),
        )
        .select(
            F.col("g.user_id").alias("user_id"),
            "grant_seq",
            "cons_seq",
            (
                F.least(F.col("g.hi"), F.col("c.hi"))
                - F.greatest(F.col("g.lo"), F.col("c.lo"))
            ).alias("matched_cents"),
        )
    )


@query(
    "workload_interval_union",
    oracle="""
        WITH iv AS (
            SELECT user_id,
                   CAST(FLOOR(epoch(ts)) AS BIGINT) AS lo,
                   CAST(FLOOR(epoch(ts)) AS BIGINT) + 300 AS hi
            FROM events WHERE user_id % 199 = 0
        ),
        flagged AS (
            SELECT user_id, lo, hi,
                   CASE WHEN lo > COALESCE(MAX(hi) OVER (
                            PARTITION BY user_id ORDER BY lo, hi
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                        ), -1) THEN 1 ELSE 0 END AS new_block
            FROM iv
        ),
        blocks AS (
            SELECT user_id, lo, hi,
                   SUM(new_block) OVER (
                       PARTITION BY user_id ORDER BY lo, hi
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS block_id
            FROM flagged
        )
        SELECT user_id,
               CAST(COUNT(DISTINCT block_id) AS BIGINT) AS n_blocks,
               CAST(SUM(span) AS BIGINT) AS covered_seconds,
               CAST(SUM(n) AS BIGINT) AS n_intervals
        FROM (
            SELECT user_id, block_id,
                   MAX(hi) - MIN(lo) AS span, COUNT(*) AS n
            FROM blocks GROUP BY user_id, block_id
        ) b
        GROUP BY user_id
    """,
    tags=("workload", "interval"),
)
def workload_interval_union(spark: SparkSession, sf: str) -> DataFrame:
    """Interval union (merge overlapping intervals): each event opens a
    5-minute activity window; per user, overlapping windows merge into
    maximal blocks and the op reports block count + total covered
    seconds — the 'actual active time' metric that naive
    count×duration overstates wherever activity overlaps, and the twin
    of workload_queue_depth (which counts concurrency instead of
    merging it). The procedural merge loop vanishes under the
    running-max identity: a window starts a new block iff its lo
    exceeds the max hi of every earlier window; the cumulative flag
    sum IS the block id (same islands trick as sessionization, but on
    interval geometry, not gaps). Two windows + two aggregates, all
    partitioned by user — one shuffle end to end at any scale."""
    ev = load_table(spark, sf, "events")
    ep = F.unix_timestamp(F.col("ts")).cast("bigint")
    iv = ev.filter(F.col("user_id") % 199 == 0).select(
        "user_id", ep.alias("lo"), (ep + 300).alias("hi")
    )
    worder = W.partitionBy("user_id").orderBy("lo", "hi")
    prevmax = F.max("hi").over(worder.rowsBetween(W.unboundedPreceding, -1))
    flagged = iv.select(
        "user_id", "lo", "hi",
        F.when(F.col("lo") > F.coalesce(prevmax, F.lit(-1)), 1)
        .otherwise(0)
        .alias("new_block"),
    )
    blocks = flagged.select(
        "user_id", "lo", "hi",
        F.sum("new_block")
        .over(worder.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("block_id"),
    )
    per_block = blocks.groupBy("user_id", "block_id").agg(
        (F.max("hi") - F.min("lo")).alias("span"),
        F.count(F.lit(1)).alias("n"),
    )
    return per_block.groupBy("user_id").agg(
        F.countDistinct("block_id").cast("bigint").alias("n_blocks"),
        F.sum("span").cast("bigint").alias("covered_seconds"),
        F.sum("n").cast("bigint").alias("n_intervals"),
    )


@query(
    "workload_bitemporal",
    oracle="""
        WITH base AS (
            SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od, o_totalprice
            FROM orders WHERE o_orderkey % 50 = 0
        ),
        versions AS (
            SELECT o_orderkey, o_totalprice AS price,
                   od AS valid_from, od + INTERVAL 90 DAY AS valid_to,
                   od AS tx_from,
                   CASE WHEN o_orderkey % 3 = 0
                        THEN od + INTERVAL 10 DAY
                        ELSE DATE '9999-12-31' END AS tx_to
            FROM base
            UNION ALL
            SELECT o_orderkey, o_totalprice + 5.0,
                   od, od + INTERVAL 90 DAY,
                   od + INTERVAL 10 DAY, DATE '9999-12-31'
            FROM base WHERE o_orderkey % 3 = 0
        ),
        q AS (
            SELECT o_orderkey, od + INTERVAL 1 DAY AS v_q,
                   od + INTERVAL 5 DAY AS tx_early,
                   od + INTERVAL 15 DAY AS tx_late
            FROM base
        )
        SELECT q.o_orderkey,
               MIN(CASE WHEN v.tx_from <= q.tx_early AND q.tx_early < v.tx_to
                        THEN v.price END) AS price_known_at_5d,
               MIN(CASE WHEN v.tx_from <= q.tx_late AND q.tx_late < v.tx_to
                        THEN v.price END) AS price_known_at_15d,
               q.o_orderkey % 3 = 0 AS was_corrected
        FROM q JOIN versions v
          ON q.o_orderkey = v.o_orderkey
         AND v.valid_from <= q.v_q AND q.v_q < v.valid_to
        GROUP BY q.o_orderkey
    """,
    tags=("workload", "versioning", "temporal"),
)
def workload_bitemporal(spark: SparkSession, sf: str) -> DataFrame:
    """Bitemporal versioning — VALID time (when the fact was true in the
    world) × TRANSACTION time (when the database learned it): every
    third order receives a price correction 10 days after entry, and
    the query answers 'what price did we believe at +5d vs +15d for
    the validity instant +1d' — the audit/restatement question SCD2
    (valid-time only, workload_scd2) cannot answer, because a
    correction rewrites history without changing validity. Versions
    live as rows with two closed-open intervals; an as-of point query
    is one key-equi join with interval residuals on both axes. At
    100 TB the key join co-partitions exactly like join_temporal_dim
    and the tx-axis CASE rides the aggregate, not a second join."""
    o = load_table(spark, sf, "orders")
    base = o.filter(F.col("o_orderkey") % 50 == 0).select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("od"),
        "o_totalprice",
    ).persist()  # versions (×2 branches) and the query table all read it
    inf = F.lit("9999-12-31").cast("date")
    v1 = base.select(
        "o_orderkey",
        F.col("o_totalprice").alias("price"),
        F.col("od").alias("valid_from"),
        F.date_add("od", 90).alias("valid_to"),
        F.col("od").alias("tx_from"),
        F.when(F.col("o_orderkey") % 3 == 0, F.date_add("od", 10))
        .otherwise(inf)
        .alias("tx_to"),
    )
    v2 = base.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") + 5.0).alias("price"),
        F.col("od").alias("valid_from"),
        F.date_add("od", 90).alias("valid_to"),
        F.date_add("od", 10).alias("tx_from"),
        inf.alias("tx_to"),
    )
    versions = v1.unionByName(v2)
    q = base.select(
        "o_orderkey",
        F.date_add("od", 1).alias("v_q"),
        F.date_add("od", 5).alias("tx_early"),
        F.date_add("od", 15).alias("tx_late"),
    )
    j = q.join(
        versions,
        (q["o_orderkey"] == versions["o_orderkey"])
        & (versions["valid_from"] <= q["v_q"])
        & (q["v_q"] < versions["valid_to"]),
    )
    known = lambda t: F.min(
        F.when(
            (F.col("tx_from") <= F.col(t)) & (F.col(t) < F.col("tx_to")),
            F.col("price"),
        )
    )
    return j.groupBy(q["o_orderkey"].alias("o_orderkey")).agg(
        known("tx_early").alias("price_known_at_5d"),
        known("tx_late").alias("price_known_at_15d"),
        F.min((q["o_orderkey"] % 3 == 0).cast("boolean")).alias("was_corrected"),
    )


@query(
    "workload_shapley_attribution",
    oracle=f"""
        WITH exposure AS (
            SELECT user_id,
                   CAST(SUM(DISTINCT CASE event_type
                        WHEN 'view' THEN 1 WHEN 'click' THEN 2
                        WHEN 'signup' THEN 4 WHEN 'error' THEN 8
                        ELSE 0 END) AS INT) AS mask,
                   MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       AS conv
            FROM events GROUP BY user_id
        ),
        v AS (
            SELECT mask, {sql_round4(sql_davg('CAST(conv AS DOUBLE)'))} AS v,
                   COUNT(*) AS n
            FROM exposure GROUP BY mask
        ),
        chans AS (
            SELECT * FROM (VALUES (1, 'view'), (2, 'click'),
                                  (4, 'signup'), (8, 'error')) AS t(bit, channel)
        ),
        masks AS (SELECT CAST(UNNEST(range(0, 16)) AS INT) AS s),
        terms AS (
            SELECT c.channel, c.bit,
                   CASE bit_count(CAST(m.s AS BIGINT))
                        WHEN 0 THEN 6.0/24.0 WHEN 1 THEN 2.0/24.0
                        WHEN 2 THEN 2.0/24.0 ELSE 6.0/24.0 END
                       * (COALESCE(vi.v, 0.0) - COALESCE(vs.v, 0.0)) AS term
            FROM chans c
            JOIN masks m ON (m.s // c.bit) % 2 = 0
            LEFT JOIN v vs ON vs.mask = m.s
            LEFT JOIN v vi ON vi.mask = m.s + c.bit
        ),
        expo_n AS (
            SELECT c.channel, CAST(COALESCE(SUM(v.n), 0) AS BIGINT) AS n_exposed
            FROM chans c LEFT JOIN v ON (v.mask // c.bit) % 2 = 1
            GROUP BY c.channel
        )
        SELECT t.channel,
               {sql_round4(sql_dsum('term'))} AS shapley_value,
               e.n_exposed
        FROM terms t JOIN expo_n e ON t.channel = e.channel
        GROUP BY t.channel, e.n_exposed
    """,
    tags=("workload", "attribution", "ml"),
)
def workload_shapley_attribution(spark: SparkSession, sf: str) -> DataFrame:
    """Shapley-value marketing attribution: each non-purchase channel's
    fair share of conversion lift, computed EXACTLY over the 16-subset
    coalition lattice — v(S) is the conversion rate of users exposed to
    exactly channel-set S, and φ(channel) sums weighted marginals
    w(|S|)·(v(S∪i)−v(S)) — the game-theoretic answer to 'which channel
    earns the credit' that last-touch (workload_attribution_last_touch)
    systematically distorts. The corpus collapses in ONE pass to a
    16-row coalition table (mask = OR of channel bits per user); the
    Shapley sum is a 4×8-row join on that table — exact attribution at
    any corpus size, exponential only in CHANNELS (sample coalitions
    past ~15, same md5 trick as ml_subsample_ci). Coalition rates are
    round4-pinned so both engines hold identical v before the
    marginal algebra."""
    ev = load_table(spark, sf, "events")
    bit = (
        F.when(F.col("event_type") == "view", 1)
        .when(F.col("event_type") == "click", 2)
        .when(F.col("event_type") == "signup", 4)
        .when(F.col("event_type") == "error", 8)
        .otherwise(0)
    )
    exposure = ev.groupBy("user_id").agg(
        F.sum_distinct(bit).cast("int").alias("mask"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("conv"),
    )
    v = exposure.groupBy("mask").agg(
        round4(davg(F.col("conv").cast("double"))).alias("v"),
        F.count(F.lit(1)).alias("n"),
    ).persist()  # Shapley terms (two joins) + exposure counts read it
    chans = spark.createDataFrame(
        [(1, "view"), (2, "click"), (4, "signup"), (8, "error")],
        ["bit", "channel"],
    )
    masks = spark.range(16).select(F.col("id").cast("int").alias("s"))
    wgt = (
        F.when(F.bit_count(F.col("s").cast("bigint")) == 0, 6.0 / 24.0)
        .when(F.bit_count(F.col("s").cast("bigint")) == 1, 2.0 / 24.0)
        .when(F.bit_count(F.col("s").cast("bigint")) == 2, 2.0 / 24.0)
        .otherwise(6.0 / 24.0)
    )
    vs = v.select(F.col("mask").alias("ms"), F.col("v").alias("v_s"))
    vi = v.select(F.col("mask").alias("mi"), F.col("v").alias("v_i"))
    terms = (
        chans.join(masks, F.expr("(s DIV bit) % 2 = 0"))
        .join(F.broadcast(vs), F.col("s") == F.col("ms"), "left")
        .join(F.broadcast(vi), (F.col("s") + F.col("bit")) == F.col("mi"), "left")
        .select(
            "channel", "bit",
            (
                wgt
                * (F.coalesce(F.col("v_i"), F.lit(0.0)) - F.coalesce(F.col("v_s"), F.lit(0.0)))
            ).alias("term"),
        )
    )
    expo_n = (
        chans.join(F.broadcast(v), F.expr("(mask DIV bit) % 2 = 1"), "left")
        .groupBy("channel")
        .agg(F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("n_exposed"))
    )
    phi = terms.groupBy("channel", "bit").agg(
        round4(dsum(F.col("term"))).alias("shapley_value")
    )
    return phi.join(expo_n, "channel").select(
        "channel", "shapley_value", "n_exposed"
    )


@query(
    "workload_rate_limit_replay",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_id,
                   ROW_NUMBER() OVER w AS rn,
                   COALESCE(CAST(FLOOR(epoch(ts)) AS BIGINT)
                            - LAG(CAST(FLOOR(epoch(ts)) AS BIGINT)) OVER w,
                            0) AS dt
            FROM events WHERE user_id % 97 = 0
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        walk AS (
            SELECT user_id, event_id, rn,
                   SUM(1000 - 2 * dt) OVER (
                       PARTITION BY user_id ORDER BY rn
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS s
            FROM seq
        ),
        lvl AS (
            SELECT user_id, event_id,
                   s - LEAST(MIN(s) OVER (
                       PARTITION BY user_id ORDER BY rn
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ), 0) AS backlog
            FROM walk
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_requests,
               CAST(SUM(CASE WHEN backlog > 5000 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_throttled,
               CAST(MAX(backlog) AS BIGINT) AS max_backlog
        FROM lvl GROUP BY user_id
    """,
    tags=("workload", "ratelimit"),
)
def workload_rate_limit_replay(spark: SparkSession, sf: str) -> DataFrame:
    """Leaky-bucket rate-limiter replay: each request adds 1000
    millitokens of debt, the bucket drains 2/sec, and a request is
    throttled when the backlog exceeds a 5000 burst allowance — replayed
    over the event log per user to answer 'which users WOULD a proposed
    limit throttle'. The sequential recursion
    x_t = max(0, x_{t-1} + a_t) dissolves under the reflection identity
    x_t = S_t − min(0, min_{j≤t} S_j): one cumulative sum and one
    running-min over it — two stacked windows on the SAME user
    partition (one shuffle, one sort), no recursion, exact integers.
    The same identity powers workload_cusum; here it prices a real
    config change offline at any traffic volume."""
    ev = load_table(spark, sf, "events")
    wseq = W.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.unix_timestamp("ts").cast("bigint")
    seq = ev.filter(F.col("user_id") % 97 == 0).select(
        "user_id", "event_id",
        F.row_number().over(wseq).alias("rn"),
        F.coalesce(sec - F.lag(sec).over(wseq), F.lit(0)).alias("dt"),
    )
    wrun = W.partitionBy("user_id").orderBy("rn").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    walk = seq.select(
        "user_id", "event_id", "rn",
        F.sum(1000 - 2 * F.col("dt")).over(wrun).alias("s"),
    )
    lvl = walk.select(
        "user_id", "event_id",
        (F.col("s") - F.least(F.min("s").over(wrun), F.lit(0))).alias("backlog"),
    )
    return lvl.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_requests"),
        F.sum(F.when(F.col("backlog") > 5000, 1).otherwise(0))
        .cast("bigint")
        .alias("n_throttled"),
        F.max("backlog").cast("bigint").alias("max_backlog"),
    )


@query(
    "workload_twap_vwap",
    oracle=f"""
        WITH base AS (
            SELECT event_type,
                   DATE_TRUNC('day', ts) AS day,
                   ts, event_id, value,
                   CAST(CASE WHEN json_valid(props) THEN
                        json_extract_string(props, '$.k') END AS BIGINT) AS qty
            FROM events
        ),
        seq AS (
            SELECT *,
                   LEAD(epoch_us(ts)) OVER (
                       PARTITION BY event_type, day ORDER BY ts, event_id
                   ) - epoch_us(ts) AS dt_us
            FROM base
        )
        SELECT event_type, day,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               {sql_round4(sql_dsum('value * qty') + ' / SUM(qty)')} AS vwap,
               {sql_round4(
                   sql_dsum('value * dt_us') + ' / NULLIF(SUM(dt_us), 0)'
               )} AS twap
        FROM seq
        GROUP BY event_type, day
    """,
    tags=("workload", "timeseries"),
)
def workload_twap_vwap(spark: SparkSession, sf: str) -> DataFrame:
    """Volume- and time-weighted average price per (event_type, day):
    VWAP weights each tick's price (``value``) by its size (the JSON
    ``props.k``), TWAP weights it by how long the price "held" — the
    micros until the next tick in the same series (last tick holds zero).
    The lead() runs inside a (type, day) window so state is bounded per
    partition key, and both averages ride the decimal-sum convention so
    results are partition-order independent — the difference between the
    two surfaces wash-trade-like bursts (many tiny ticks move VWAP, not
    TWAP). Groups with one tick have no held time: TWAP is NULL on both
    engines via NULLIF."""
    e = load_table(spark, sf, "events")
    base = e.select(
        "event_type",
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        "ts",
        "event_id",
        "value",
        F.get_json_object("props", "$.k").cast("bigint").alias("qty"),
    )
    w = W.partitionBy("event_type", "day").orderBy("ts", "event_id")
    seq = base.withColumn(
        "dt_us",
        F.lead(F.unix_micros(F.col("ts"))).over(w) - F.unix_micros(F.col("ts")),
    )
    return seq.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        round4(
            dsum(F.col("value") * F.col("qty")) / F.sum("qty")
        ).alias("vwap"),
        round4(
            dsum(F.col("value") * F.col("dt_us"))
            / F.nullif(F.sum("dt_us"), F.lit(0))
        ).alias("twap"),
    )


@query(
    "workload_feature_snapshot",
    oracle="""
        WITH pre AS (
            SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-20 00:00:00'
        ),
        feats AS (
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
                   CAST(CAST(SUM(CASE WHEN event_type = 'purchase'
                                      THEN CAST(value AS DECIMAL(38,8))
                                      ELSE CAST(0 AS DECIMAL(38,8)) END)
                             AS VARCHAR) AS DOUBLE) AS monetary,
                   CAST(DATE_DIFF('day', MAX(CAST(ts AS DATE)),
                                  DATE '2024-01-20') AS INT) AS recency_days
            FROM pre
            GROUP BY user_id
        ),
        labels AS (
            SELECT DISTINCT user_id
            FROM events
            WHERE ts >= TIMESTAMP '2024-01-20 00:00:00'
              AND event_type = 'purchase'
        )
        SELECT f.user_id, f.n_events, f.n_types, f.monetary, f.recency_days,
               CAST(CASE WHEN l.user_id IS NOT NULL THEN 1 ELSE 0 END AS INT)
                   AS label
        FROM feats f LEFT JOIN labels l ON f.user_id = l.user_id
    """,
    tags=("workload", "ml", "features"),
)
def workload_feature_snapshot(spark: SparkSession, sf: str) -> DataFrame:
    """Point-in-time training-set assembly — the feature-store snapshot
    pattern: features are computed ONLY from events before the cutoff
    (2024-01-20), the label ONLY from events at/after it, so there is no
    target leakage by construction. Per user: RFM-style frequency,
    breadth, purchase monetary (decimal-exact) and recency in days,
    left-joined to a future-purchase label. Both passes are single
    hash aggregates keyed on user_id; at 100 TB the cutoff predicates
    push into the scan so each side reads only its time slice."""
    cutoff = F.lit("2024-01-20 00:00:00").cast("timestamp")
    e = load_table(spark, sf, "events")
    pre = e.filter(F.col("ts") < cutoff)
    feats = pre.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct("event_type").cast("bigint").alias("n_types"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value"))
            .otherwise(F.lit(0.0))
            .cast(DEC)
        )
        .cast("double")
        .alias("monetary"),
        F.datediff(F.lit("2024-01-20").cast("date"), F.max(F.col("ts").cast("date")))
        .cast("int")
        .alias("recency_days"),
    )
    labels = (
        e.filter((F.col("ts") >= cutoff) & (F.col("event_type") == "purchase"))
        .select("user_id")
        .distinct()
        .withColumn("future_buyer", F.lit(1))
    )
    return (
        feats.join(labels, "user_id", "left")
        .select(
            "user_id",
            "n_events",
            "n_types",
            "monetary",
            "recency_days",
            F.coalesce(F.col("future_buyer"), F.lit(0)).cast("int").alias("label"),
        )
    )


@query(
    "sql_scalar_udf",
    oracle=f"""
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')}
                   AS net_revenue
        FROM lineitem
        GROUP BY l_returnflag
    """,
    tags=("sql", "udf"),
)
def sql_scalar_udf(spark: SparkSession, sf: str) -> DataFrame:
    """Spark 4 SQL scalar UDF: ``CREATE TEMPORARY FUNCTION ... RETURNS
    DOUBLE RETURN <expr>``. Unlike Python UDFs, a SQL UDF is *inlined
    into the Catalyst plan* — the body participates in whole-stage
    codegen, constant folding, and pushdown exactly like a hand-written
    expression, so it's the zero-cost way to share business logic
    (here: the net-revenue formula) across queries. The oracle inlines
    the same expression by hand; the decimal-sum convention rides on
    top of the UDF call unchanged."""
    li = load_table(spark, sf, "lineitem")
    li.createOrReplaceTempView("_sqludf_lineitem")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION _net_rev(p DOUBLE, d DOUBLE,"
        " t DOUBLE) RETURNS DOUBLE RETURN p * (1 - d) * (1 + t)"
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(CAST(_net_rev(l_extendedprice, l_discount, l_tax)
                             AS DECIMAL(38,8))) AS DOUBLE) AS net_revenue
        FROM _sqludf_lineitem
        GROUP BY l_returnflag
        """
    )


@query(
    "sql_table_udf",
    oracle="""
        SELECT 'BUILDING' AS segment, c_custkey, c_acctbal
        FROM customer
        WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 5000
        UNION ALL
        SELECT 'MACHINERY', c_custkey, c_acctbal
        FROM customer
        WHERE c_mktsegment = 'MACHINERY' AND c_acctbal > 5000
    """,
    tags=("sql", "udf"),
)
def sql_table_udf(spark: SparkSession, sf: str) -> DataFrame:
    """Spark 4 SQL *table* function: ``CREATE TEMPORARY FUNCTION ...
    RETURNS TABLE(...) RETURN SELECT ...`` — a parameterized view.
    Each call site is expanded inline (the segment parameter becomes a
    pushable literal predicate on the scan), so a table UDF gives the
    reuse of a view with per-call parameters and none of the
    lateral-join cost a correlated subquery would imply. Two call
    sites UNION'd here prove the function is re-entrant."""
    c = load_table(spark, sf, "customer")
    c.createOrReplaceTempView("_tf_customer")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION _seg_rich(seg STRING)"
        " RETURNS TABLE(c_custkey BIGINT, c_acctbal DOUBLE)"
        " RETURN SELECT c_custkey, c_acctbal FROM _tf_customer"
        " WHERE c_mktsegment = seg AND c_acctbal > 5000"
    )
    return spark.sql(
        """
        SELECT 'BUILDING' AS segment, * FROM _seg_rich('BUILDING')
        UNION ALL
        SELECT 'MACHINERY', * FROM _seg_rich('MACHINERY')
        """
    )


@query(
    "workload_price_elasticity",
    oracle=f"""
        WITH obs AS (
            SELECT p.p_brand,
                   LN(l.l_extendedprice / l.l_quantity) AS x,
                   LN(l.l_quantity) AS y
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        ),
        s AS (
            SELECT p_brand,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   {sql_dsum('x')} AS sx,
                   {sql_dsum('y')} AS sy,
                   {sql_dsum('x * y')} AS sxy,
                   {sql_dsum('x * x')} AS sxx
            FROM obs GROUP BY p_brand
        )
        SELECT p_brand, n,
               {sql_round4('(n * sxy - sx * sy) / (n * sxx - sx * sx)')}
                   AS elasticity
        FROM s
    """,
    tags=("workload", "ml", "regression"),
)
def workload_price_elasticity(spark: SparkSession, sf: str) -> DataFrame:
    """Own-price elasticity of demand per brand: the log-log OLS slope
    of quantity on unit price (β = %Δqty / %Δprice — the pricing-team
    dial). Same closed-form power-sum machinery as ``ml_ols_regression``
    but on log-transformed observations: the LN is a row-wise IEEE
    projection (identical bits both engines), the four power sums are
    decimal-exact, and the slope is one float expression per brand. The
    part side joins broadcast (dims are small); the fact table is
    scanned once and reduced map-side to 25 brands × 5 numbers."""
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part")
    obs = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "p_brand",
        F.log(F.col("l_extendedprice") / F.col("l_quantity")).alias("x"),
        F.log(F.col("l_quantity")).alias("y"),
    )
    x, y = F.col("x"), F.col("y")
    s = obs.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        dsum(x).alias("sx"),
        dsum(y).alias("sy"),
        dsum(x * y).alias("sxy"),
        dsum(x * x).alias("sxx"),
    )
    n, sx, sy, sxy, sxx = (F.col(c) for c in ("n", "sx", "sy", "sxy", "sxx"))
    return s.select(
        "p_brand", "n",
        round4((n * sxy - sx * sy) / (n * sxx - sx * sx)).alias("elasticity"),
    )


@query(
    "workload_user_ltv_cohort",
    oracle=f"""
        WITH firsts AS (
            SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
            FROM events GROUP BY user_id
        ),
        cohort_sizes AS (
            SELECT cohort_day, COUNT(*) AS n_users
            FROM firsts GROUP BY cohort_day
        ),
        rev AS (
            SELECT f.cohort_day,
                   DATE_DIFF('day', f.cohort_day, CAST(e.ts AS DATE))
                       AS age_day,
                   CAST(e.value AS DECIMAL(38,8)) AS v
            FROM events e JOIN firsts f ON e.user_id = f.user_id
            WHERE e.event_type = 'purchase'
        ),
        per_age AS (
            SELECT cohort_day, age_day,
                   SUM(v) AS rev_day
            FROM rev GROUP BY cohort_day, age_day
        ),
        cum AS (
            SELECT cohort_day, CAST(age_day AS INT) AS age_day,
                   CAST(CAST(SUM(rev_day) OVER (
                       PARTITION BY cohort_day ORDER BY age_day
                       ROWS UNBOUNDED PRECEDING) AS VARCHAR) AS DOUBLE)
                       AS cum_revenue
            FROM per_age
        )
        SELECT c.cohort_day, c.age_day, CAST(s.n_users AS BIGINT) AS n_users,
               {sql_round4('c.cum_revenue')} AS cum_revenue,
               {sql_round4('c.cum_revenue / s.n_users')} AS ltv_per_user
        FROM cum c JOIN cohort_sizes s ON c.cohort_day = s.cohort_day
    """,
    tags=("workload", "cohort"),
)
def workload_user_ltv_cohort(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort LTV curves: users are cohorted by first-seen day, purchase
    revenue lands at its cohort-relative age, and the running decimal-
    exact cumulative divided by cohort size gives LTV-per-user at every
    age — the curve growth teams extrapolate to justify acquisition
    spend. The twin of ``workload_cohort_retention`` (presence → money).
    Scale shape: the first-seen table is users-sized and joins back
    broadcast-or-shuffle on user_id; the running sum's window is per
    cohort over day-grain aggregates (≤ a few hundred rows each), never
    over raw events."""
    e = load_table(spark, sf, "events")
    firsts = e.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("cohort_day")
    ).persist()  # read by the revenue join AND the cohort-size rollup
    sizes = firsts.groupBy("cohort_day").agg(F.count(F.lit(1)).alias("n_users"))
    rev = (
        e.filter(F.col("event_type") == "purchase")
        .join(firsts, "user_id")
        .select(
            "cohort_day",
            F.datediff(F.col("ts").cast("date"), F.col("cohort_day")).alias(
                "age_day"
            ),
            F.col("value").cast(DEC).alias("v"),
        )
    )
    per_age = rev.groupBy("cohort_day", "age_day").agg(F.sum("v").alias("rev_day"))
    w_cum = W.partitionBy("cohort_day").orderBy("age_day").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    cum = per_age.select(
        "cohort_day",
        F.col("age_day").cast("int").alias("age_day"),
        F.sum("rev_day").over(w_cum).cast("double").alias("cum_revenue"),
    )
    return cum.join(sizes, "cohort_day").select(
        "cohort_day",
        "age_day",
        F.col("n_users").cast("bigint").alias("n_users"),
        round4(F.col("cum_revenue")).alias("cum_revenue"),
        round4(F.col("cum_revenue") / F.col("n_users")).alias("ltv_per_user"),
    )


@query(
    "sql_group_by_all",
    oracle=f"""
        SELECT o_orderstatus, o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               {sql_dsum('o_totalprice')} AS revenue
        FROM orders
        GROUP BY o_orderstatus, o_orderpriority
    """,
    tags=("sql", "sugar"),
)
def sql_group_by_all(spark: SparkSession, sf: str) -> DataFrame:
    """Modern SQL sugar, Spark 4 parser surface: ``GROUP BY ALL`` (every
    non-aggregate select item becomes a key — no drift between the
    select list and the grouping list) and ``* EXCEPT`` column
    subtraction in the inner projection. Both are resolved at analysis
    time into exactly the classic plan the oracle writes out — zero
    runtime cost, pure ergonomics — so this pins that the sugar keeps
    pushdown and two-phase aggregation intact."""
    o = load_table(spark, sf, "orders")
    o.createOrReplaceTempView("_gba_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,8))) AS DOUBLE)
                   AS revenue
        FROM (SELECT * EXCEPT (o_orderdate, o_custkey) FROM _gba_orders)
        GROUP BY ALL
        """
    )


@query(
    "workload_gdpr_erasure",
    oracle=f"""
        WITH flagged AS (
            SELECT CAST(ts AS DATE) AS day,
                   CASE WHEN CAST(('0x' || SUBSTRING(MD5(
                            CAST(user_id AS VARCHAR) || ':erasure'), 1, 8))
                            ::BIGINT % 20 AS INT) = 0
                        THEN 1 ELSE 0 END AS erase
            FROM events
        )
        SELECT day,
               CAST(COUNT(*) AS BIGINT) AS partition_rows,
               CAST(SUM(erase) AS BIGINT) AS rows_to_erase,
               {sql_round4('CAST(SUM(erase) AS DOUBLE) / COUNT(*)')}
                   AS rewrite_fraction
        FROM flagged
        GROUP BY day
        HAVING SUM(erase) > 0
    """,
    tags=("workload", "governance"),
)
def workload_gdpr_erasure(spark: SparkSession, sf: str) -> DataFrame:
    """Right-to-be-forgotten impact plan: a deterministic 5% erasure
    batch (md5-keyed user sample, replayable by the oracle) is costed
    against the day-partitioned fact table — per partition, how many
    rows die and what fraction of the partition a copy-on-write rewrite
    touches. This is the *planning* half of GDPR deletion at 100 TB:
    partitions with a tiny rewrite_fraction are candidates for deletion
    vectors / merge-on-read, near-1.0 partitions for full rewrite, and
    the write path is exactly ``sink_dynamic_partition_overwrite`` —
    only touched partitions get replaced. One map-side-combined
    aggregate; the erasure flag is a pure projection."""
    e = load_table(spark, sf, "events")
    erase = (
        F.when(
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.col("user_id").cast("string"), F.lit(":erasure"))),
                        1, 8,
                    ),
                    16, 10,
                ).cast("bigint")
                % 20
            )
            == 0,
            1,
        ).otherwise(0)
    )
    flagged = e.select(F.col("ts").cast("date").alias("day"), erase.alias("erase"))
    return (
        flagged.groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("partition_rows"),
            F.sum("erase").cast("bigint").alias("rows_to_erase"),
            round4(
                F.sum("erase").cast("double") / F.count(F.lit(1))
            ).alias("rewrite_fraction"),
        )
        .filter(F.col("rows_to_erase") > 0)
    )


@query(
    "workload_late_arriving_facts",
    oracle=f"""
        WITH arrivals AS (
            SELECT CAST(ts AS DATE) AS event_day,
                   CAST(('0x' || SUBSTRING(MD5(
                        CAST(event_id AS VARCHAR) || ':ingest'), 1, 8))
                        ::BIGINT % 721 AS BIGINT) AS delay_min,
                   CAST(ts + INTERVAL 1 MINUTE * CAST(('0x' || SUBSTRING(MD5(
                        CAST(event_id AS VARCHAR) || ':ingest'), 1, 8))
                        ::BIGINT % 721 AS BIGINT) AS DATE) AS ingest_day
            FROM events
        )
        SELECT event_day,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(CASE WHEN ingest_day > event_day THEN 1 END)
                    AS BIGINT) AS n_late,
               {sql_round4(
                   'CAST(COUNT(CASE WHEN ingest_day > event_day THEN 1 END) AS DOUBLE)'
                   ' / COUNT(*)'
               )} AS late_fraction,
               CAST(MAX(CASE WHEN ingest_day > event_day
                             THEN delay_min END) AS BIGINT) AS max_late_min
        FROM arrivals
        GROUP BY event_day
    """,
    tags=("workload", "lakehouse"),
)
def workload_late_arriving_facts(spark: SparkSession, sf: str) -> DataFrame:
    """Late-arriving-fact audit: each event gets a deterministic synth
    ingest delay (md5-keyed, 0–720 min — replayed exactly by the
    oracle), and the op reports, per event-day partition, how many rows
    physically land AFTER their partition's day closed. This number
    drives two scale decisions: the reprocessing window (how many
    trailing partitions each incremental run must rewrite — see
    ``workload_incremental_rollup``) and the streaming watermark delay
    (late_fraction at the chosen horizon IS the data-loss budget a
    watermark accepts). Pure projection + one aggregate."""
    e = load_table(spark, sf, "events")
    delay = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("event_id").cast("string"), F.lit(":ingest"))),
                1, 8,
            ),
            16, 10,
        ).cast("bigint")
        % 721
    )
    arrivals = e.select(
        F.col("ts").cast("date").alias("event_day"),
        delay.alias("delay_min"),
        (
            F.col("ts")
            + (delay * F.expr("INTERVAL 1 MINUTE"))
        ).cast("date").alias("ingest_day"),
    )
    is_late = F.col("ingest_day") > F.col("event_day")
    return arrivals.groupBy("event_day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.count(F.when(is_late, 1)).cast("bigint").alias("n_late"),
        round4(
            F.count(F.when(is_late, 1)).cast("double") / F.count(F.lit(1))
        ).alias("late_fraction"),
        F.max(F.when(is_late, F.col("delay_min"))).cast("bigint").alias(
            "max_late_min"
        ),
    )


@query(
    "workload_ohlc_bars",
    oracle=f"""
        WITH keyed AS (
            SELECT event_type,
                   DATE_TRUNC('hour', ts) AS bar_hour,
                   value,
                   LPAD(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                       || LPAD(CAST(event_id AS VARCHAR), 12, '0') AS ordkey,
                   CAST(CASE WHEN json_valid(props) THEN
                        json_extract_string(props, '$.k') END AS BIGINT) AS qty
            FROM events
        )
        SELECT event_type,
               CAST(bar_hour AS TIMESTAMP) AS bar_hour,
               ARG_MIN(value, ordkey) AS open,
               MAX(value) AS high,
               MIN(value) AS low,
               ARG_MAX(value, ordkey) AS close,
               CAST(SUM(qty) AS BIGINT) AS volume,
               CAST(COUNT(*) AS BIGINT) AS n_ticks
        FROM keyed
        GROUP BY event_type, bar_hour
    """,
    tags=("workload", "timeseries"),
)
def workload_ohlc_bars(spark: SparkSession, sf: str) -> DataFrame:
    """OHLC resampling — hourly open/high/low/close/volume bars per
    series, the candlestick primitive: open/close are ``min_by``/
    ``max_by`` against a zero-padded (epoch_us, event_id) string key
    (total order even under timestamp ties, identical lexicographic
    comparison on both engines), high/low/volume are plain aggregates.
    Everything is ONE map-side-combinable hash aggregate — no window,
    no sort: at 100 TB the shuffle carries (series × hours) fixed-width
    bars, never raw ticks. The string ordkey trades a few bytes for
    engine-portable argmin semantics (DuckDB arg_min takes one ordering
    expression; a struct key is Spark-only)."""
    e = load_table(spark, sf, "events")
    ordkey = F.concat(
        F.lpad(F.unix_micros(F.col("ts")).cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    keyed = e.select(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("bar_hour"),
        "value",
        ordkey.alias("ordkey"),
        F.get_json_object("props", "$.k").cast("bigint").alias("qty"),
    )
    return keyed.groupBy("event_type", "bar_hour").agg(
        F.min_by("value", "ordkey").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", "ordkey").alias("close"),
        F.sum("qty").cast("bigint").alias("volume"),
        F.count(F.lit(1)).cast("bigint").alias("n_ticks"),
    )


@query(
    "workload_skew_audit",
    oracle=f"""
        WITH key_counts AS (
            SELECT 'orders.o_custkey' AS join_key, o_custkey AS k, COUNT(*) AS c
            FROM orders GROUP BY o_custkey
            UNION ALL
            SELECT 'lineitem.l_partkey', l_partkey, COUNT(*)
            FROM lineitem GROUP BY l_partkey
            UNION ALL
            SELECT 'events.user_id', user_id, COUNT(*)
            FROM events GROUP BY user_id
        )
        SELECT join_key,
               CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(c) AS BIGINT) AS n_rows,
               CAST(MAX(c) AS BIGINT) AS max_key_rows,
               {sql_round4('CAST(SUM(c) AS DOUBLE) / COUNT(*)')}
                   AS mean_key_rows,
               {sql_round4('CAST(MAX(c) AS DOUBLE) * COUNT(*) / SUM(c)')}
                   AS skew_factor,
               CAST(ARG_MAX(k, c * 10000000 - k) AS BIGINT) AS heaviest_key
        FROM key_counts
        GROUP BY join_key
    """,
    tags=("workload", "ops", "skew"),
)
def workload_skew_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Join-key skew audit — the diagnostic that decides between a plain
    shuffle join, AQE skew splitting, and explicit salting
    (``join_skew_salted``): for each candidate join key, the key count,
    max-key row count, and skew factor (max/mean — 1.0 is uniform; a
    key 100× the mean means one straggler task does 100× the work).
    Two-level aggregation, both map-side combinable; the heaviest key is
    surfaced via argmax with a deterministic low-key tie-break so the
    report itself is engine-exact. At 100 TB this runs as a cheap
    pre-flight on a sample or on the first partition-grain rollup —
    the audit's own shuffle is keys-sized, not rows-sized."""
    def key_counts(df: DataFrame, label: str, col: str) -> DataFrame:
        return df.groupBy(F.col(col).alias("k")).agg(
            F.count(F.lit(1)).alias("c")
        ).select(F.lit(label).alias("join_key"), "k", "c")

    kc = (
        key_counts(load_table(spark, sf, "orders"), "orders.o_custkey", "o_custkey")
        .unionByName(
            key_counts(
                load_table(spark, sf, "lineitem"), "lineitem.l_partkey", "l_partkey"
            )
        )
        .unionByName(
            key_counts(load_table(spark, sf, "events"), "events.user_id", "user_id")
        )
    )
    return kc.groupBy("join_key").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("c").cast("bigint").alias("n_rows"),
        F.max("c").cast("bigint").alias("max_key_rows"),
        round4(F.sum("c").cast("double") / F.count(F.lit(1))).alias(
            "mean_key_rows"
        ),
        round4(
            F.max("c").cast("double") * F.count(F.lit(1)) / F.sum("c")
        ).alias("skew_factor"),
        F.max_by("k", F.col("c") * 10000000 - F.col("k"))
        .cast("bigint")
        .alias("heaviest_key"),
    )


@query(
    "workload_mtbf_mttr",
    oracle=f"""
        WITH seq AS (
            SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
                   FIRST_VALUE(CASE WHEN event_type <> 'error'
                                    THEN epoch_us(ts) END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN 1 FOLLOWING
                             AND UNBOUNDED FOLLOWING) AS recover_us
            FROM events
        ),
        errors AS (
            SELECT user_id, us, recover_us,
                   us - LAG(us) OVER (PARTITION BY user_id ORDER BY us,
                                      event_id) AS gap_us
            FROM seq WHERE event_type = 'error'
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_errors,
               {sql_round4(
                   'CAST(CAST(SUM(CAST(gap_us AS DECIMAL(38,8))) AS VARCHAR)'
                   ' AS DOUBLE) / COUNT(gap_us) / 1000000.0'
               )} AS mtbf_s,
               {sql_round4(
                   'CAST(CAST(SUM(CAST(recover_us - us AS DECIMAL(38,8)))'
                   ' AS VARCHAR) AS DOUBLE) / COUNT(recover_us - us) / 1000000.0'
               )} AS mttr_s,
               CAST(COUNT(CASE WHEN recover_us IS NULL THEN 1 END) AS BIGINT)
                   AS n_unrecovered
        FROM errors
        GROUP BY user_id
    """,
    tags=("workload", "reliability"),
)
def workload_mtbf_mttr(spark: SparkSession, sf: str) -> DataFrame:
    """Reliability metrics per user-stream: MTBF (mean micros between
    consecutive error events, the failure-rate dial) and MTTR (mean time
    from an error to the stream's next non-error activity — the recovery
    signal), plus errors that never recover inside the observation
    window. One per-user window sort serves both the forward recovery
    scan (frame-bounded FIRST IGNORE NULLS) and the error-to-error LAG;
    the means ride the decimal convention over exact integer micros.
    Errors-only state after the window: shuffle is error-sized. The SLO
    companion to ``workload_error_bursts`` (bursts) and
    ``workload_interarrival`` (all-event gaps)."""
    e = load_table(spark, sf, "events")
    w_fwd = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        1, W.unboundedFollowing
    )
    seq = e.select(
        "user_id", "event_id", "event_type",
        F.unix_micros(F.col("ts")).alias("us"),
        F.first(
            F.when(F.col("event_type") != "error", F.unix_micros(F.col("ts"))),
            ignorenulls=True,
        ).over(w_fwd).alias("recover_us"),
    )
    w_lag = W.partitionBy("user_id").orderBy("us", "event_id")
    errors = seq.filter(F.col("event_type") == "error").select(
        "user_id", "us", "recover_us",
        (F.col("us") - F.lag("us").over(w_lag)).alias("gap_us"),
    )
    repair_us = F.col("recover_us") - F.col("us")
    return errors.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_errors"),
        round4(
            F.sum(F.col("gap_us").cast(DEC)).cast("double")
            / F.count("gap_us") / 1000000.0
        ).alias("mtbf_s"),
        round4(
            F.sum(repair_us.cast(DEC)).cast("double")
            / F.count(repair_us) / 1000000.0
        ).alias("mttr_s"),
        F.count(F.when(F.col("recover_us").isNull(), 1)).cast("bigint").alias(
            "n_unrecovered"
        ),
    )


@query(
    "sql_values_table",
    oracle="""
        SELECT r.r_name, t.target_revenue, t.tier,
               CAST(COUNT(n.n_nationkey) AS BIGINT) AS n_nations
        FROM region r
        JOIN (VALUES ('AFRICA', 1000000.0, 'emerging'),
                     ('AMERICA', 2500000.0, 'core'),
                     ('ASIA', 2000000.0, 'core'),
                     ('EUROPE', 1800000.0, 'core'),
                     ('MIDDLE EAST', 900000.0, 'emerging'))
             AS t(r_name, target_revenue, tier)
          ON r.r_name = t.r_name
        LEFT JOIN nation n ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name, t.target_revenue, t.tier
    """,
    tags=("sql", "inline-table"),
)
def sql_values_table(spark: SparkSession, sf: str) -> DataFrame:
    """Inline VALUES table — configuration data (per-region revenue
    targets and tier labels) expressed directly in the query and joined
    against real tables, the idiomatic alternative to creating a 5-row
    physical table or collecting to the driver. Catalyst folds the
    VALUES into a LocalRelation and broadcasts it into the join; the
    twin generated-source path is ``scan_range_source``. DuckDB shares
    the VALUES syntax almost verbatim."""
    r = load_table(spark, sf, "region")
    n = load_table(spark, sf, "nation")
    r.createOrReplaceTempView("_vt_region")
    n.createOrReplaceTempView("_vt_nation")
    return spark.sql(
        """
        SELECT r.r_name, t.target_revenue, t.tier,
               CAST(COUNT(n.n_nationkey) AS BIGINT) AS n_nations
        FROM _vt_region r
        JOIN VALUES ('AFRICA', 1000000.0, 'emerging'),
                    ('AMERICA', 2500000.0, 'core'),
                    ('ASIA', 2000000.0, 'core'),
                    ('EUROPE', 1800000.0, 'core'),
                    ('MIDDLE EAST', 900000.0, 'emerging')
             AS t(r_name, target_revenue, tier)
          ON r.r_name = t.r_name
        LEFT JOIN _vt_nation n ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name, t.target_revenue, t.tier
        """
    )


@knn_twins(
    "ml_oversample_interpolate",
    f"""
        labeled AS (
            SELECT m.u, m.v, ea.label,
                   list_transform(list_zip(ea.embedding, eb.embedding),
                                  s -> (CAST(s[1] AS DOUBLE) + s[2]) / 2.0)
                       AS mid
            FROM mutual m
            JOIN embeddings ea ON m.u = ea.vec_id
            JOIN embeddings eb ON m.v = eb.vec_id
            WHERE ea.label = eb.label
        ),
        normed AS (
            SELECT label,
                   SQRT(list_reduce(list_prepend(0.0,
                       list_transform(list_zip(mid, mid),
                                      s -> s[1] * s[2])),
                       (acc, x) -> acc + x)) AS mid_norm
            FROM labeled
        )
        SELECT label,
               CAST(COUNT(*) AS BIGINT) AS n_synthetic,
               {sql_round4(sql_davg('mid_norm'))} AS mean_mid_norm
        FROM normed
        GROUP BY label
    """,
    ("ml", "sampling", "embedding"),
)
def ml_oversample_interpolate(spark: SparkSession, sf: str, src: EdgeSource) -> DataFrame:
    """SMOTE-style minority oversampling in embedding space: every
    mutual-5NN edge whose endpoints share a label yields one synthetic
    midpoint vector ((a+b)/2 per dimension — interpolation INSIDE the
    class manifold, the property random duplication lacks). Consumes the
    session-cached kNN edge list (the same artifact the graph ops
    share), so the O(n²)/ANN neighbor search is never re-run; the
    midpoint and its norm are array-local zip_with/fold projections.
    Per-label synthetic counts directly expose class imbalance (few
    same-label edges ⇒ a class too sparse to interpolate safely)."""
    from datapipelines_python_spark.operators.llm import dot

    edges = src.mutual(spark, sf)
    emb = load_table(spark, sf, "embeddings")
    ea = emb.select(
        F.col("vec_id").alias("u"),
        F.col("embedding").alias("emb_a"),
        F.col("label").alias("label_a"),
    )
    eb = emb.select(
        F.col("vec_id").alias("v"),
        F.col("embedding").alias("emb_b"),
        F.col("label").alias("label_b"),
    )
    labeled = (
        edges.join(ea, "u")
        .join(eb, "v")
        .filter(F.col("label_a") == F.col("label_b"))
        .select(
            F.col("label_a").alias("label"),
            F.zip_with(
                F.col("emb_a").cast("array<double>"),
                F.col("emb_b").cast("array<double>"),
                lambda x, y: (x + y) / 2.0,
            ).alias("mid"),
        )
    )
    normed = labeled.select(
        "label", F.sqrt(dot("mid", "mid")).alias("mid_norm")
    )
    return normed.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_synthetic"),
        round4(davg(F.col("mid_norm"))).alias("mean_mid_norm"),
    )


@query(
    "sql_distribute_cluster_by",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               {sql_dsum('l_quantity')} AS sum_qty
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
    """,
    tags=("sql", "partitioning"),
)
def sql_distribute_cluster_by(spark: SparkSession, sf: str) -> DataFrame:
    """``CLUSTER BY`` (≡ DISTRIBUTE BY + SORT BY) — explicit control of
    the physical layout of a query's output: rows are hash-distributed
    on the key and sorted *within* each partition, with NO global sort
    barrier — exactly what you want before a partitioned/clustered write
    (``sink_sorted_clustered`` is the DataFrame twin via
    repartitionByRange+sortWithinPartitions). Values are layout-
    invariant, so the oracle is the plain aggregate; the point pinned
    here is that the clause parses, plans an Exchange+local-Sort, and
    leaves results untouched."""
    li = load_table(spark, sf, "lineitem")
    li.createOrReplaceTempView("_cb_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(CAST(l_quantity AS DECIMAL(38,8))) AS DOUBLE)
                   AS sum_qty
        FROM _cb_lineitem
        GROUP BY l_returnflag, l_linestatus
        CLUSTER BY l_returnflag
        """
    )


@query(
    "workload_cart_abandonment",
    oracle=f"""
        WITH seq AS (
            SELECT user_id, ts, event_id, event_type,
                   CASE WHEN LAG(epoch_us(ts)) OVER (
                            PARTITION BY user_id ORDER BY ts, event_id
                        ) IS NULL
                     OR epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                            PARTITION BY user_id ORDER BY ts, event_id
                        ) > 1800000000
                        THEN 1 ELSE 0 END AS new_session
            FROM events
        ),
        sessions AS (
            SELECT user_id, ts, event_type,
                   SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING
                   ) AS session_id
            FROM seq
        ),
        per_session AS (
            SELECT user_id, session_id,
                   CAST(MIN(ts) AS DATE) AS day,
                   MAX(CASE WHEN event_type IN ('view', 'click')
                            THEN 1 ELSE 0 END) AS engaged,
                   MAX(CASE WHEN event_type = 'purchase'
                            THEN 1 ELSE 0 END) AS purchased
            FROM sessions
            GROUP BY user_id, session_id
        )
        SELECT day,
               CAST(COUNT(*) AS BIGINT) AS n_sessions,
               CAST(SUM(CASE WHEN engaged = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_engaged,
               CAST(SUM(CASE WHEN engaged = 1 AND purchased = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_abandoned,
               {sql_round4(
                   'CAST(SUM(CASE WHEN engaged = 1 AND purchased = 0 THEN 1'
                   ' ELSE 0 END) AS DOUBLE)'
                   ' / NULLIF(SUM(CASE WHEN engaged = 1 THEN 1 ELSE 0 END), 0)'
               )} AS abandonment_rate
        FROM per_session
        GROUP BY day
    """,
    tags=("workload", "funnel"),
)
def workload_cart_abandonment(spark: SparkSession, sf: str) -> DataFrame:
    """Cart abandonment by day: sessionize each user's stream with the
    30-minute-gap islands trick (the batch twin of
    ``stream_session_window``), classify every session as engaged
    (view/click) and/or converted (purchase), and report the fraction of
    engaged sessions that never purchased — the e-commerce funnel's
    headline leak metric. One per-user window sort produces the session
    ids; everything after is session-grain aggregation (shuffle carries
    sessions, not events). Day attribution is the session's START day —
    pinned, because sessions straddle midnight."""
    e = load_table(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    new_session = F.when(
        F.lag(us).over(w).isNull() | ((us - F.lag(us).over(w)) > 1800000000), 1
    ).otherwise(0)
    seq = e.select(
        "user_id", "ts", "event_id", "event_type",
        new_session.alias("new_session"),
    )
    w_run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    sessions = seq.select(
        "user_id", "ts", "event_type",
        F.sum("new_session").over(w_run).alias("session_id"),
    )
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.min(F.col("ts")).cast("date").alias("day"),
        F.max(
            F.when(F.col("event_type").isin("view", "click"), 1).otherwise(0)
        ).alias("engaged"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("purchased"),
    )
    abandoned = F.sum(
        F.when((F.col("engaged") == 1) & (F.col("purchased") == 0), 1).otherwise(0)
    )
    engaged = F.sum(F.when(F.col("engaged") == 1, 1).otherwise(0))
    return per_session.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        engaged.cast("bigint").alias("n_engaged"),
        abandoned.cast("bigint").alias("n_abandoned"),
        round4(
            abandoned.cast("double") / F.nullif(engaged, F.lit(0))
        ).alias("abandonment_rate"),
    )


@query(
    "workload_sla_burn_rate",
    oracle=f"""
        WITH hourly AS (
            SELECT DATE_TRUNC('hour', ts) AS hour,
                   COUNT(*) AS n_total,
                   SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                       AS n_errors
            FROM events
            GROUP BY 1
        ),
        burn AS (
            SELECT hour, n_total, n_errors,
                   (CAST(n_errors AS DOUBLE) / n_total) / 0.05 AS burn_rate,
                   (CAST(SUM(n_errors) OVER w AS DOUBLE)
                    / SUM(n_total) OVER w) / 0.05 AS burn_rate_6h
            FROM hourly
            WINDOW w AS (ORDER BY hour
                         ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
        )
        SELECT CAST(hour AS TIMESTAMP) AS hour,
               CAST(n_total AS BIGINT) AS n_total,
               CAST(n_errors AS BIGINT) AS n_errors,
               {sql_round4('burn_rate')} AS burn_rate,
               {sql_round4('burn_rate_6h')} AS burn_rate_6h,
               CAST(burn_rate_6h > 1.0 AS BOOLEAN) AS budget_alarm
        FROM burn
    """,
    tags=("workload", "reliability", "slo"),
)
def workload_sla_burn_rate(spark: SparkSession, sf: str) -> DataFrame:
    """SLO error-budget burn rate (the Google SRE multi-window alert
    shape): against a 95% success objective, burn = error_rate / 5%
    budget — burn 1.0 spends the budget exactly at period end, burn > 1
    on the smoothed 6-hour window trips the alarm (the long window
    suppresses single-spike pages, the hourly rate shows the spike
    itself). Events reduce to hour-grain counts FIRST (map-side), so
    the rolling window slides over ~720 rows/month regardless of event
    volume — the same aggregate-then-window discipline as
    ``workload_dau_rolling``. Integer counts; two float divisions."""
    e = load_table(spark, sf, "events")
    hourly = e.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour")).agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
            "n_errors"
        ),
    )
    w6 = W.orderBy("hour").rowsBetween(-5, W.currentRow)
    burn = F.col("n_errors").cast("double") / F.col("n_total") / 0.05
    burn6 = (
        F.sum("n_errors").over(w6).cast("double") / F.sum("n_total").over(w6)
    ) / 0.05
    return hourly.select(
        "hour",
        F.col("n_total").cast("bigint").alias("n_total"),
        F.col("n_errors").cast("bigint").alias("n_errors"),
        round4(burn).alias("burn_rate"),
        round4(burn6).alias("burn_rate_6h"),
        (burn6 > 1.0).alias("budget_alarm"),
    )


@query(
    "workload_file_pruning_stats",
    oracle=f"""
        WITH bucketed AS (
            SELECT l_shipdate,
                   NTILE(8) OVER (ORDER BY l_shipdate, l_orderkey,
                                  l_linenumber) AS file_id
            FROM lineitem
        ),
        stats AS (
            SELECT file_id,
                   COUNT(*) AS n_rows,
                   MIN(l_shipdate) AS min_key,
                   MAX(l_shipdate) AS max_key
            FROM bucketed GROUP BY file_id
        ),
        judged AS (
            SELECT *,
                   CASE WHEN max_key < TIMESTAMP '1997-01-01'
                          OR min_key > TIMESTAMP '1997-12-31 23:59:59'
                        THEN 1 ELSE 0 END AS pruned
            FROM stats
        )
        SELECT CAST(file_id AS INT) AS file_id,
               CAST(n_rows AS BIGINT) AS n_rows,
               min_key, max_key,
               CAST(pruned AS INT) AS pruned,
               {sql_round4(
                   'CAST(SUM(pruned) OVER () AS DOUBLE) / COUNT(*) OVER ()'
               )} AS prune_fraction
        FROM judged
    """,
    tags=("workload", "lakehouse", "pruning"),
)
def workload_file_pruning_stats(spark: SparkSession, sf: str) -> DataFrame:
    """File-skipping economics of a range-clustered layout: rows are
    assigned to 8 'files' exactly as ``repartitionByRange`` would
    (NTILE over the cluster key — the deterministic stand-in for the
    writer's range split), per-file min/max zone maps are computed, and
    a ship-year-1997 predicate is evaluated against the maps: files
    whose [min,max] misses the range are PRUNED without being read.
    prune_fraction is the number a table-format manifest (or parquet
    row-group stats) delivers for free on clustered data and cannot
    deliver on unclustered data — the measurable payoff of
    ``sink_sorted_clustered``. The NTILE is a one-sort simulation;
    everything downstream is an 8-row frame."""
    li = load_table(spark, sf, "lineitem")
    w = W.orderBy("l_shipdate", "l_orderkey", "l_linenumber")
    bucketed = li.select(
        "l_shipdate", F.ntile(8).over(w).alias("file_id")
    )
    stats = bucketed.groupBy("file_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("l_shipdate").alias("min_key"),
        F.max("l_shipdate").alias("max_key"),
    )
    lo = F.lit("1997-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1997-12-31 23:59:59").cast("timestamp")
    judged = stats.withColumn(
        "pruned",
        F.when((F.col("max_key") < lo) | (F.col("min_key") > hi), 1).otherwise(0),
    )
    w_all = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return judged.select(
        F.col("file_id").cast("int").alias("file_id"),
        F.col("n_rows").cast("bigint").alias("n_rows"),
        "min_key", "max_key",
        F.col("pruned").cast("int").alias("pruned"),
        round4(
            F.sum("pruned").over(w_all).cast("double")
            / F.count(F.lit(1)).over(w_all)
        ).alias("prune_fraction"),
    )


@query(
    "workload_attribution_linear",
    oracle=f"""
        WITH purchases AS (
            SELECT event_id AS p_id, user_id, ts AS p_ts, value
            FROM events WHERE event_type = 'purchase'
        ),
        touches AS (
            SELECT event_id AS t_id, user_id, ts AS t_ts, event_type
            FROM events WHERE event_type IN ('view', 'click')
        ),
        pairs AS (
            SELECT p.p_id, p.value, t.event_type
            FROM purchases p JOIN touches t
              ON p.user_id = t.user_id
             AND t.t_ts >= p.p_ts - INTERVAL 1 DAY AND t.t_ts < p.p_ts
        ),
        credited AS (
            SELECT p_id, event_type,
                   value / COUNT(*) OVER (PARTITION BY p_id) AS credit
            FROM pairs
        )
        SELECT event_type AS channel,
               CAST(COUNT(*) AS BIGINT) AS n_touches,
               CAST(COUNT(DISTINCT p_id) AS BIGINT) AS n_conversions,
               {sql_round4(sql_dsum('credit'))} AS credited_revenue
        FROM credited
        GROUP BY event_type
    """,
    tags=("workload", "attribution"),
)
def workload_attribution_linear(spark: SparkSession, sf: str) -> DataFrame:
    """Linear multi-touch attribution: every view/click in the 24 h
    before a purchase shares that purchase's value equally — the
    even-split counterweight to ``workload_attribution_last_touch``
    (and the uniform special case of ``workload_shapley_attribution``).
    The interval join is user-keyed (the 100 TB path bucketizes it —
    ``join_range_bucketed``); the per-conversion touch count is a
    window over each purchase's own touch group, so credit never
    requires a second join; sums ride the decimal convention. Channels
    with no assisted conversions simply don't appear — honest zeros."""
    e = load_table(spark, sf, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        "value",
    )
    touches = e.filter(F.col("event_type").isin("view", "click")).select(
        F.col("event_id").alias("t_id"),
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
        "event_type",
    )
    pairs = purchases.join(
        touches,
        (F.col("p_user") == F.col("t_user"))
        & (F.col("t_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 DAY"))
        & (F.col("t_ts") < F.col("p_ts")),
    ).select("p_id", "value", "event_type")
    w_conv = W.partitionBy("p_id")
    credited = pairs.select(
        "p_id", "event_type",
        (F.col("value") / F.count(F.lit(1)).over(w_conv)).alias("credit"),
    )
    return credited.groupBy(F.col("event_type").alias("channel")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_touches"),
        F.countDistinct("p_id").cast("bigint").alias("n_conversions"),
        round4(dsum(F.col("credit"))).alias("credited_revenue"),
    )


@query(
    "workload_budget_pacing",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   SUM(CAST(value AS DECIMAL(38,8))) AS spend
            FROM events WHERE event_type = 'click'
            GROUP BY 1
        ),
        paced AS (
            SELECT day, spend,
                   ROW_NUMBER() OVER (ORDER BY day) AS day_idx,
                   COUNT(*) OVER () AS n_days,
                   CAST(CAST(SUM(spend) OVER (ORDER BY day
                       ROWS UNBOUNDED PRECEDING) AS VARCHAR) AS DOUBLE)
                       AS cum_spend,
                   CAST(CAST(SUM(spend) OVER () AS VARCHAR) AS DOUBLE)
                       AS total_spend
            FROM daily
        )
        SELECT day,
               {sql_round4('CAST(CAST(spend AS VARCHAR) AS DOUBLE)')}
                   AS spend,
               {sql_round4('cum_spend / total_spend')} AS cum_share,
               {sql_round4('CAST(day_idx AS DOUBLE) / n_days')}
                   AS linear_pace,
               {sql_round4(
                   '(cum_spend / total_spend) / (CAST(day_idx AS DOUBLE) / n_days)'
               )} AS pacing_index,
               CAST((cum_spend / total_spend)
                    / (CAST(day_idx AS DOUBLE) / n_days) > 1.1 AS BOOLEAN)
                   AS overpacing
        FROM paced
    """,
    tags=("workload", "adtech"),
)
def workload_budget_pacing(spark: SparkSession, sf: str) -> DataFrame:
    """Budget pacing: cumulative click spend share vs the linear pace
    line (day k of n should have spent k/n of budget) — a pacing index
    above 1.1 flags a campaign burning budget early (frequency-cap or
    bid-down territory), below ~0.9 one that will underdeliver. The
    classic marketing-ops dashboard readout. Events reduce to day grain
    FIRST; both windows then run over ~30 rows (the aggregate-then-
    window discipline), cumulative sums decimal-exact, the index one
    float division, the 1.1 threshold compared on bit-identical
    doubles."""
    e = load_table(spark, sf, "events")
    daily = (
        e.filter(F.col("event_type") == "click")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.sum(F.col("value").cast(DEC)).alias("spend"))
    )
    w_cum = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    w_all = W.orderBy("day").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    w_idx = W.orderBy("day")
    paced = daily.select(
        "day",
        F.col("spend").cast("double").alias("spend_d"),
        F.row_number().over(w_idx).alias("day_idx"),
        F.count(F.lit(1)).over(w_all).alias("n_days"),
        F.sum("spend").over(w_cum).cast("double").alias("cum_spend"),
        F.sum("spend").over(w_all).cast("double").alias("total_spend"),
    )
    cum_share = F.col("cum_spend") / F.col("total_spend")
    pace = F.col("day_idx").cast("double") / F.col("n_days")
    return paced.select(
        "day",
        round4(F.col("spend_d")).alias("spend"),
        round4(cum_share).alias("cum_share"),
        round4(pace).alias("linear_pace"),
        round4(cum_share / pace).alias("pacing_index"),
        (cum_share / pace > 1.1).alias("overpacing"),
    )


@query(
    "workload_otif",
    oracle=f"""
        WITH per_order AS (
            SELECT o.o_orderkey, o.o_orderpriority,
                   COUNT(*) AS n_lines,
                   MAX(DATE_DIFF('day', o.o_orderdate, l.l_shipdate))
                       AS worst_lag,
                   SUM(CASE WHEN DATE_DIFF('day', o.o_orderdate, l.l_shipdate)
                                 <= 30 THEN 1 ELSE 0 END) AS on_time_lines
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            GROUP BY o.o_orderkey, o.o_orderpriority
        )
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CASE WHEN on_time_lines = n_lines THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_otif,
               {sql_round4(
                   'CAST(SUM(CASE WHEN on_time_lines = n_lines THEN 1 ELSE 0 END)'
                   ' AS DOUBLE) / COUNT(*)'
               )} AS otif_rate,
               CAST(MAX(worst_lag) AS BIGINT) AS worst_lag_days
        FROM per_order
        GROUP BY o_orderpriority
    """,
    tags=("workload", "supply-chain"),
)
def workload_otif(spark: SparkSession, sf: str) -> DataFrame:
    """OTIF (On-Time-In-Full) — the supply-chain service-level KPI: an
    order counts only if EVERY line shipped within the 30-day promise
    (conjunctive across lines — the property that makes OTIF stricter
    than ``workload_ship_lag``'s per-line averages, and why operators
    who report mean lag look better than they deliver). Two-level
    aggregation: lineitem reduces to order grain (on-time line count vs
    line count), then order grain to priority class — both shuffles
    are key-sized and map-side combinable; integer day lags throughout."""
    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    lag = F.datediff(
        F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    )
    per_order = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.max(lag).alias("worst_lag"),
            F.sum(F.when(lag <= 30, 1).otherwise(0)).alias("on_time_lines"),
        )
    )
    otif = F.sum(
        F.when(F.col("on_time_lines") == F.col("n_lines"), 1).otherwise(0)
    )
    return per_order.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        otif.cast("bigint").alias("n_otif"),
        round4(otif.cast("double") / F.count(F.lit(1))).alias("otif_rate"),
        F.max("worst_lag").cast("bigint").alias("worst_lag_days"),
    )


@query(
    "workload_reorder_point",
    oracle=f"""
        WITH daily AS (
            SELECT l_partkey,
                   CAST(l_shipdate AS DATE) AS day,
                   SUM(CAST(l_quantity AS DECIMAL(38,8))) AS qty
            FROM lineitem
            GROUP BY 1, 2
        ),
        stats AS (
            SELECT l_partkey,
                   CAST(COUNT(*) AS BIGINT) AS n_days,
                   {sql_dsum('CAST(qty AS DOUBLE)')} AS s1,
                   {sql_dsum('CAST(qty AS DOUBLE) * CAST(qty AS DOUBLE)')}
                       AS s2
            FROM daily
            GROUP BY l_partkey
            HAVING COUNT(*) >= 20
        )
        SELECT l_partkey, n_days,
               {sql_round4('s1 / n_days')} AS mean_daily_demand,
               {sql_round4(
                   'SQRT((s2 - s1 * s1 / n_days) / (n_days - 1))'
               )} AS sd_daily_demand,
               {sql_round4(
                   '(s1 / n_days) * 7.0'
                   ' + 1.645 * SQRT((s2 - s1 * s1 / n_days) / (n_days - 1))'
                   ' * SQRT(7.0)'
               )} AS reorder_point
        FROM stats
    """,
    tags=("workload", "supply-chain", "inventory"),
)
def workload_reorder_point(spark: SparkSession, sf: str) -> DataFrame:
    """Reorder point per part: ROP = demand over the 7-day lead time +
    95% safety stock (z=1.645 · σ_daily · √LT) — the formula that turns
    demand history into a replenishment trigger. Demand reduces to
    (part, day) grain first (decimal-exact), per-part mean/σ come from
    two power sums (one more map-side-combinable aggregate — never a
    window over raw lines), and parts with under 20 demand days are
    excluded rather than given garbage σ. The two SQRT calls sit on
    identical doubles (decimal-sourced sums), so the safety stock is
    engine-exact under round4."""
    li = load_table(spark, sf, "lineitem")
    daily = li.groupBy(
        "l_partkey", F.col("l_shipdate").cast("date").alias("day")
    ).agg(F.sum(F.col("l_quantity").cast(DEC)).alias("qty"))
    q = F.col("qty").cast("double")
    stats = (
        daily.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            dsum(q).alias("s1"),
            dsum(q * q).alias("s2"),
        )
        .filter(F.col("n_days") >= 20)
    )
    n, s1, s2 = F.col("n_days"), F.col("s1"), F.col("s2")
    mean = s1 / n
    sd = F.sqrt((s2 - s1 * s1 / n) / (n - 1))
    return stats.select(
        "l_partkey", "n_days",
        round4(mean).alias("mean_daily_demand"),
        round4(sd).alias("sd_daily_demand"),
        round4(mean * 7.0 + 1.645 * sd * F.sqrt(F.lit(7.0))).alias(
            "reorder_point"
        ),
    )


@query(
    "sql_hint_rebalance",
    oracle=f"""
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               {sql_dsum('l_extendedprice')} AS revenue
        FROM lineitem
        GROUP BY l_returnflag
    """,
    tags=("sql", "aqe", "partitioning"),
)
def sql_hint_rebalance(spark: SparkSession, sf: str) -> DataFrame:
    """The AQE REBALANCE hint: asks the engine to even out partition
    sizes at this point in the plan — splitting oversized partitions
    AND coalescing tiny ones at runtime (unlike REPARTITION's fixed
    count). The canonical placement is exactly here: before a write or
    an expensive stage downstream of a skewed aggregate, where it turns
    a straggler-bound stage into uniform tasks. Results are
    layout-invariant, so the oracle is the plain aggregate; the hint's
    presence is pinned via the plan (RebalancePartitions node under
    AQE)."""
    li = load_table(spark, sf, "lineitem")
    li.createOrReplaceTempView("_rb_lineitem")
    return spark.sql(
        """
        SELECT /*+ REBALANCE(l_returnflag) */
               l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,8))) AS DOUBLE)
                   AS revenue
        FROM _rb_lineitem
        GROUP BY l_returnflag
        """
    )


@query(
    "sql_identifier_clause",
    oracle="""
        SELECT c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_customers
        FROM customer
        GROUP BY c_mktsegment
    """,
    tags=("sql", "parameterized"),
)
def sql_identifier_clause(spark: SparkSession, sf: str) -> DataFrame:
    """Spark 4's ``IDENTIFIER()`` clause: table and column NAMES as
    bind-parameters — the injection-safe way to template "group table X
    by column Y" jobs (string-concatenated identifiers are the SQL-
    injection vector parameter markers can't fix, because markers only
    bind VALUES). The identifier resolves at analysis time, so the plan
    is byte-identical to the hand-written query — pure parser surface,
    pinned against the classic form as oracle."""
    c = load_table(spark, sf, "customer")
    c.createOrReplaceTempView("_id_customer")
    return spark.sql(
        """
        SELECT IDENTIFIER(:col),
               CAST(COUNT(*) AS BIGINT) AS n_customers
        FROM IDENTIFIER(:tbl)
        GROUP BY IDENTIFIER(:col)
        """,
        args={"col": "c_mktsegment", "tbl": "_id_customer"},
    )


@query(
    "workload_sales_mix_variance",
    oracle=f"""
        WITH periods AS (
            SELECT p.p_brand,
                   CASE WHEN YEAR(l.l_shipdate) <= 1997 THEN 'base'
                        ELSE 'cur' END AS period,
                   SUM(CAST(l.l_quantity AS DECIMAL(38,8))) AS qty,
                   SUM(CAST(l.l_extendedprice AS DECIMAL(38,8))) AS rev
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            GROUP BY 1, 2
        ),
        wide AS (
            SELECT p_brand,
                   CAST(CAST(MAX(CASE WHEN period = 'base' THEN qty END)
                        AS VARCHAR) AS DOUBLE) AS q0,
                   CAST(CAST(MAX(CASE WHEN period = 'base' THEN rev END)
                        AS VARCHAR) AS DOUBLE) AS r0,
                   CAST(CAST(MAX(CASE WHEN period = 'cur' THEN qty END)
                        AS VARCHAR) AS DOUBLE) AS q1,
                   CAST(CAST(MAX(CASE WHEN period = 'cur' THEN rev END)
                        AS VARCHAR) AS DOUBLE) AS r1
            FROM periods GROUP BY p_brand
            HAVING MAX(CASE WHEN period = 'base' THEN qty END) IS NOT NULL
               AND MAX(CASE WHEN period = 'cur' THEN qty END) IS NOT NULL
        )
        SELECT p_brand,
               {sql_round4('r1 - r0')} AS revenue_delta,
               {sql_round4('(q1 - q0) * (r0 / q0)')} AS volume_effect,
               {sql_round4('(r1 / q1 - r0 / q0) * q1')} AS price_effect,
               {sql_round4(
                   '(r1 - r0) - ((q1 - q0) * (r0 / q0))'
                   ' - ((r1 / q1 - r0 / q0) * q1)'
               )} AS residual_check
        FROM wide
    """,
    tags=("workload", "finance"),
)
def workload_sales_mix_variance(spark: SparkSession, sf: str) -> DataFrame:
    """Price/volume variance decomposition per brand — the FP&A bridge
    chart: the period-over-period revenue delta splits into a volume
    effect (quantity change at old unit price) and a price effect (unit
    price change at new volume), with the algebraic residual emitted as
    a built-in audit row (it must be ~0 by construction — a non-zero
    residual means someone changed the decomposition order). Everything
    reduces to (brand, period) grain in one decimal-exact aggregate;
    the 2-period pivot and the bridge algebra run on 25 brand rows."""
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part")
    period = F.when(F.year("l_shipdate") <= 1997, "base").otherwise("cur")
    periods = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", period.alias("period"))
        .agg(
            F.sum(F.col("l_quantity").cast(DEC)).alias("qty"),
            F.sum(F.col("l_extendedprice").cast(DEC)).alias("rev"),
        )
    )
    wide = (
        periods.groupBy("p_brand")
        .agg(
            F.max(F.when(F.col("period") == "base", F.col("qty"))).cast("double").alias("q0"),
            F.max(F.when(F.col("period") == "base", F.col("rev"))).cast("double").alias("r0"),
            F.max(F.when(F.col("period") == "cur", F.col("qty"))).cast("double").alias("q1"),
            F.max(F.when(F.col("period") == "cur", F.col("rev"))).cast("double").alias("r1"),
        )
        .filter(F.col("q0").isNotNull() & F.col("q1").isNotNull())
    )
    q0, r0, q1, r1 = (F.col(c) for c in ("q0", "r0", "q1", "r1"))
    volume = (q1 - q0) * (r0 / q0)
    price = (r1 / q1 - r0 / q0) * q1
    return wide.select(
        "p_brand",
        round4(r1 - r0).alias("revenue_delta"),
        round4(volume).alias("volume_effect"),
        round4(price).alias("price_effect"),
        round4((r1 - r0) - volume - price).alias("residual_check"),
    )


@knn_twins(
    "graph_local_clustering",
    f"""
        adj AS (
            SELECT u AS v, v AS nb FROM mutual
            UNION ALL
            SELECT v AS v, u AS nb FROM mutual
        ),
        deg AS (
            SELECT v, COUNT(*) AS d FROM adj GROUP BY v
        ),
        wedges AS (
            SELECT a.v, a.nb AS x, b.nb AS y
            FROM adj a JOIN adj b ON a.v = b.v AND a.nb < b.nb
        ),
        closed AS (
            SELECT w.v, COUNT(*) AS n_closed
            FROM wedges w JOIN mutual m ON w.x = m.u AND w.y = m.v
            GROUP BY w.v
        )
        SELECT deg.v AS vec_id,
               CAST(deg.d AS BIGINT) AS degree,
               CAST(COALESCE(closed.n_closed, 0) AS BIGINT) AS closed_wedges,
               {sql_round4(
                   'CAST(COALESCE(closed.n_closed, 0) AS DOUBLE)'
                   ' / (deg.d * (deg.d - 1) / 2)'
               )} AS local_cc
        FROM deg LEFT JOIN closed ON deg.v = closed.v
        WHERE deg.d >= 2
    """,
    ("graph",),
)
def graph_local_clustering(spark: SparkSession, sf: str, src: EdgeSource) -> DataFrame:
    """Per-node local clustering coefficient over the shared mutual-5NN
    graph: the fraction of a node's neighbor pairs that are themselves
    connected — the LOCAL texture the global ``graph_triangle_count``
    averages away (high-CC nodes sit inside tight semantic clumps;
    CC≈0 nodes bridge between them — exactly the boundary documents a
    curriculum or dedup sweep treats differently). Degree ≤ k=5 bounds
    each node's wedge fan-out at C(5,2)=10, so the wedge self-join is
    edges × 10 regardless of corpus size — the degree-bounded property
    that makes kNN-graph analytics tractable where general-graph
    clustering is not. Consumes the session-cached edge list."""
    edges = src.mutual(spark, sf)
    adj = edges.select(F.col("u").alias("v"), F.col("v").alias("nb")).unionByName(
        edges.select(F.col("v").alias("v"), F.col("u").alias("nb"))
    )
    deg = adj.groupBy("v").agg(F.count(F.lit(1)).alias("d"))
    a = adj.select("v", F.col("nb").alias("x"))
    b = adj.select(F.col("v").alias("v2"), F.col("nb").alias("y"))
    wedges = a.join(
        b, (F.col("v") == F.col("v2")) & (F.col("x") < F.col("y"))
    ).select("v", "x", "y")
    e2 = edges.select(F.col("u").alias("eu"), F.col("v").alias("ev"))
    closed = (
        wedges.join(
            e2, (F.col("x") == F.col("eu")) & (F.col("y") == F.col("ev")),
        )
        .groupBy(F.col("v").alias("node"))
        .agg(F.count(F.lit(1)).alias("n_closed"))
    )
    out = deg.filter(F.col("d") >= 2).join(
        closed, deg.v == closed.node, "left"
    )
    nc = F.coalesce(F.col("n_closed"), F.lit(0))
    return out.select(
        deg.v.alias("vec_id"),
        F.col("d").cast("bigint").alias("degree"),
        nc.cast("bigint").alias("closed_wedges"),
        round4(
            nc.cast("double") / (F.col("d") * (F.col("d") - 1) / 2)
        ).alias("local_cc"),
    )


@query(
    "workload_amortization_schedule",
    oracle=f"""
        WITH loans AS (
            SELECT o_orderkey AS loan_id,
                   CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) / 100.0
                       AS principal
            FROM orders WHERE o_orderkey % 100 = 0
        ),
        sched AS (
            SELECT loan_id, principal,
                   CAST(k AS INT) AS period,
                   principal * POW(1.005, k)
                       - (principal * 0.005 / (1.0 - POW(1.005, -36.0)))
                         * (POW(1.005, k) - 1.0) / 0.005 AS balance
            FROM loans, UNNEST(RANGE(1, 37)) AS t(k)
        )
        SELECT loan_id, period,
               {sql_round4(
                   'principal * 0.005 / (1.0 - POW(1.005, -36.0))'
               )} AS payment,
               {sql_round4('balance')} AS remaining_balance,
               CAST(balance < 0.01 AS BOOLEAN) AS paid_off
        FROM sched
    """,
    tags=("workload", "finance"),
)
def workload_amortization_schedule(spark: SparkSession, sf: str) -> DataFrame:
    """36-month amortization schedules (0.5%/month) for a 1% loan
    sample: the balance after period k has the CLOSED FORM
    P(1+r)^k − pmt·((1+r)^k−1)/r, so the whole schedule is a
    ``sequence``+``explode`` fan-out with per-row arithmetic — never
    the naive month-by-month recursion that would need 36 chained
    self-joins or a sequential UDF (the same kill-the-recursion move
    as ``workload_holt_linear`` and ``workload_cusum``). Principals are
    cents-normalized first so both engines exponentiate identical
    doubles; round4 absorbs pow()'s last-ulp."""
    o = load_table(spark, sf, "orders")
    loans = o.filter(F.col("o_orderkey") % 100 == 0).select(
        F.col("o_orderkey").alias("loan_id"),
        (
            F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("bigint") / 100.0
        ).alias("principal"),
    )
    sched = loans.select(
        "loan_id", "principal",
        F.explode(F.sequence(F.lit(1), F.lit(36))).alias("k"),
    )
    r = F.lit(0.005)
    pmt = F.col("principal") * r / (1.0 - F.pow(F.lit(1.005), F.lit(-36.0)))
    growth = F.pow(F.lit(1.005), F.col("k"))
    balance = F.col("principal") * growth - pmt * (growth - 1.0) / r
    return sched.select(
        "loan_id",
        F.col("k").cast("int").alias("period"),
        round4(pmt).alias("payment"),
        round4(balance).alias("remaining_balance"),
        (balance < 0.01).alias("paid_off"),
    )


@query(
    "workload_local_day_rollup",
    oracle="""
        WITH localized AS (
            SELECT 'utc' AS market, CAST(ts AS DATE) AS local_day
            FROM events
            UNION ALL
            SELECT 'new_york',
                   CAST(CAST(ts AT TIME ZONE 'UTC'
                        AT TIME ZONE 'America/New_York' AS TIMESTAMP) AS DATE)
            FROM events
            UNION ALL
            SELECT 'tokyo',
                   CAST(CAST(ts AT TIME ZONE 'UTC'
                        AT TIME ZONE 'Asia/Tokyo' AS TIMESTAMP) AS DATE)
            FROM events
        )
        SELECT market, local_day,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM localized
        GROUP BY market, local_day
    """,
    tags=("workload", "timezone"),
)
def workload_local_day_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Per-market LOCAL-day rollup — the analytic consequence of
    timezones that scalar conversion (``fn_timezone_convert``) only
    hints at: the same UTC event stream yields three different daily
    series (a Tokyo 'day' starts 9h earlier; midnight-UTC spikes split
    differently per market), which is why 'daily active users' must
    name its timezone to be a number at all. Storage stays UTC; the
    conversion is a projection applied at aggregation time, one
    map-side-combined rollup per market — never three materialized
    copies of the fact table."""
    e = load_table(spark, sf, "events")

    def market(name: str, day_col):
        return e.select(
            F.lit(name).alias("market"), day_col.alias("local_day")
        )

    localized = (
        market("utc", F.col("ts").cast("date"))
        .unionByName(
            market(
                "new_york",
                F.from_utc_timestamp(F.col("ts"), "America/New_York").cast("date"),
            )
        )
        .unionByName(
            market(
                "tokyo",
                F.from_utc_timestamp(F.col("ts"), "Asia/Tokyo").cast("date"),
            )
        )
    )
    return localized.groupBy("market", "local_day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events")
    )


@query(
    "sql_pivot_unpivot_clause",
    oracle=f"""
        WITH agg AS (
            SELECT o_orderstatus,
                   o_orderpriority,
                   {sql_dsum('o_totalprice')} AS revenue
            FROM orders
            WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
            GROUP BY o_orderstatus, o_orderpriority
        )
        SELECT o_orderstatus,
               CASE o_orderpriority WHEN '1-URGENT' THEN 'urgent'
                    ELSE 'low' END AS priority,
               revenue
        FROM agg
    """,
    tags=("sql", "reshape"),
)
def sql_pivot_unpivot_clause(spark: SparkSession, sf: str) -> DataFrame:
    """SQL-native ``PIVOT`` and ``UNPIVOT`` clauses round-tripped: the
    long aggregate pivots to one column per priority, then unpivots
    straight back to long form — proving the two clauses are exact
    inverses (modulo NULL cells, absent here) and pinning the parser
    surface next to the DataFrame twins (``llm_lang_distribution`` /
    ``reshape_unpivot``). The oracle is simply the long-form aggregate
    the roundtrip must reproduce; Catalyst plans the pivot as the
    standard two-phase aggregate and the unpivot as a shuffle-free
    Expand."""
    o = load_table(spark, sf, "orders")
    o.createOrReplaceTempView("_pu_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, priority, revenue
        FROM (
            SELECT * FROM (
                SELECT o_orderstatus, o_orderpriority,
                       CAST(o_totalprice AS DECIMAL(38,8)) AS p
                FROM _pu_orders
            )
            PIVOT (
                CAST(SUM(p) AS DOUBLE)
                FOR o_orderpriority IN ('1-URGENT' AS urgent, '5-LOW' AS low)
            )
        )
        UNPIVOT (
            revenue FOR priority IN (urgent, low)
        )
        """
    )


@query(
    "workload_percent_of_parent",
    oracle=f"""
        WITH nat_rev AS (
            SELECT r.r_name AS region, n.n_name AS nation,
                   SUM(CAST(o.o_totalprice AS DECIMAL(38,8))) AS rev
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY r.r_name, n.n_name
        ),
        shared AS (
            SELECT region, nation,
                   CAST(CAST(rev AS VARCHAR) AS DOUBLE) AS rev_d,
                   CAST(CAST(SUM(rev) OVER (PARTITION BY region) AS VARCHAR)
                        AS DOUBLE) AS region_rev,
                   CAST(CAST(SUM(rev) OVER () AS VARCHAR) AS DOUBLE)
                       AS total_rev
            FROM nat_rev
        )
        SELECT region, nation,
               {sql_round4('rev_d')} AS revenue,
               {sql_round4('rev_d / region_rev')} AS pct_of_region,
               {sql_round4('region_rev / total_rev')} AS region_pct_of_total,
               {sql_round4('rev_d / total_rev')} AS pct_of_total
        FROM shared
    """,
    tags=("workload", "olap", "hierarchy"),
)
def workload_percent_of_parent(spark: SparkSession, sf: str) -> DataFrame:
    """Percent-of-parent in a dimension hierarchy (nation ⊂ region ⊂
    total) — the drill-down report where every row carries its share at
    each ancestor level, and shares must reconcile exactly (nations sum
    to their region's 100%, regions to the grand 100% — guaranteed here
    because every numerator and denominator is the SAME decimal-exact
    sum, not separately-rounded floats). One fact aggregation to the
    leaf grain (25 rows), then parent denominators as windows over that
    tiny frame — never re-aggregations of the fact table per level
    (the ``workload_hypertable_rollup`` lesson applied to shares)."""
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region")
    nat_rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum(F.col("o_totalprice").cast(DEC)).alias("rev"))
    )
    w_region = W.partitionBy("region")
    w_all = W.partitionBy()
    shared = nat_rev.select(
        "region", "nation",
        F.col("rev").cast("double").alias("rev_d"),
        F.sum("rev").over(w_region).cast("double").alias("region_rev"),
        F.sum("rev").over(w_all).cast("double").alias("total_rev"),
    )
    return shared.select(
        "region", "nation",
        round4(F.col("rev_d")).alias("revenue"),
        round4(F.col("rev_d") / F.col("region_rev")).alias("pct_of_region"),
        round4(F.col("region_rev") / F.col("total_rev")).alias(
            "region_pct_of_total"
        ),
        round4(F.col("rev_d") / F.col("total_rev")).alias("pct_of_total"),
    )


@query(
    "workload_dead_stock",
    oracle=f"""
        WITH last_sold AS (
            SELECT l_partkey, MAX(l_shipdate) AS last_ship
            FROM lineitem GROUP BY l_partkey
        ),
        judged AS (
            SELECT p.p_partkey, p.p_brand, p.p_retailprice,
                   ls.last_ship,
                   CASE WHEN ls.l_partkey IS NULL THEN 'never_sold'
                        WHEN ls.last_ship < TIMESTAMP '2000-01-01'
                        THEN 'dead'
                        ELSE 'active' END AS status
            FROM part p LEFT JOIN last_sold ls ON p.p_partkey = ls.l_partkey
        )
        SELECT p_brand, status,
               CAST(COUNT(*) AS BIGINT) AS n_parts,
               {sql_round4(sql_dsum('p_retailprice'))} AS capital_at_risk
        FROM judged
        GROUP BY p_brand, status
    """,
    tags=("workload", "inventory"),
)
def workload_dead_stock(spark: SparkSession, sf: str) -> DataFrame:
    """Dead-stock audit: every part classified as active / dead (last
    shipment before the 2000 cutoff) / never_sold (the anti-join
    class), with retail value as capital-at-risk per brand — the
    working-capital report that drives clearance decisions. The fact
    table reduces to one last-ship row per part (map-side MAX), the
    part dimension LEFT-joins against it so never-sold parts survive
    with NULLs, and the rollup is brand×status cells. At 100 TB the
    last-sold table is the incremental artifact: maintain it with a
    MERGE (``merge_upsert_emulated``) instead of rescanning history."""
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part")
    last_sold = li.groupBy("l_partkey").agg(F.max("l_shipdate").alias("last_ship"))
    cutoff = F.lit("2000-01-01 00:00:00").cast("timestamp")
    judged = p.join(last_sold, p.p_partkey == last_sold.l_partkey, "left").select(
        "p_brand", "p_retailprice",
        F.when(F.col("l_partkey").isNull(), "never_sold")
        .when(F.col("last_ship") < cutoff, "dead")
        .otherwise("active")
        .alias("status"),
    )
    return judged.groupBy("p_brand", "status").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        round4(dsum(F.col("p_retailprice"))).alias("capital_at_risk"),
    )


@query(
    "workload_abc_classification",
    oracle=f"""
        WITH part_rev AS (
            SELECT l_partkey,
                   SUM(CAST(l_extendedprice AS DECIMAL(38,8))) AS rev
            FROM lineitem GROUP BY l_partkey
        ),
        ranked AS (
            SELECT l_partkey,
                   CAST(CAST(rev AS VARCHAR) AS DOUBLE) AS rev_d,
                   CAST(CAST(SUM(rev) OVER (ORDER BY rev DESC, l_partkey
                       ROWS UNBOUNDED PRECEDING) AS VARCHAR) AS DOUBLE)
                       AS cum_rev,
                   CAST(CAST(SUM(rev) OVER () AS VARCHAR) AS DOUBLE)
                       AS total_rev
            FROM part_rev
        ),
        classed AS (
            SELECT l_partkey, rev_d,
                   CASE WHEN cum_rev / total_rev <= 0.80 THEN 'A'
                        WHEN cum_rev / total_rev <= 0.95 THEN 'B'
                        ELSE 'C' END AS abc_class
            FROM ranked
        )
        SELECT abc_class,
               CAST(COUNT(*) AS BIGINT) AS n_parts,
               {sql_round4(sql_dsum('rev_d'))} AS class_revenue,
               {sql_round4(
                   sql_dsum('rev_d')
                   + ' / (SELECT ' + sql_dsum('rev_d') + ' FROM classed)'
               )} AS revenue_share
        FROM classed
        GROUP BY abc_class
    """,
    tags=("workload", "inventory", "pareto"),
)
def workload_abc_classification(spark: SparkSession, sf: str) -> DataFrame:
    """ABC inventory classification — the 80/15/5 Pareto cut: parts are
    ranked by revenue, the running cumulative share assigns A (first
    80% of revenue), B (to 95%), C (the long tail), and the class
    rollup shows the working-capital asymmetry (A is few parts, most
    money — count them per class). The cumulative window runs over the
    part-grain aggregate (20k rows at sf0.1), never raw lineitem, with
    a deterministic (rev DESC, partkey) tie order; boundary membership
    is decided on decimal-exact cumulative sums so the class labels are
    engine-identical even AT the 80%/95% cuts. The quintile cousin is
    ``workload_pareto_share``; this is the named-class operational
    variant."""
    li = load_table(spark, sf, "lineitem")
    part_rev = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast(DEC)).alias("rev")
    )
    w_cum = W.orderBy(F.desc("rev"), F.asc("l_partkey")).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    w_all = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    ranked = part_rev.select(
        "l_partkey",
        F.col("rev").cast("double").alias("rev_d"),
        F.sum("rev").over(w_cum).cast("double").alias("cum_rev"),
        F.sum("rev").over(w_all).cast("double").alias("total_rev"),
    )
    share = F.col("cum_rev") / F.col("total_rev")
    classed = ranked.select(
        "l_partkey", "rev_d",
        F.when(share <= 0.80, "A").when(share <= 0.95, "B").otherwise("C")
        .alias("abc_class"),
    ).persist()  # read by the rollup AND the grand-total denominator
    total = classed.agg(dsum(F.col("rev_d")).alias("grand"))
    out = classed.groupBy("abc_class").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        round4(dsum(F.col("rev_d"))).alias("class_revenue"),
        dsum(F.col("rev_d")).alias("_raw"),
    )
    return out.crossJoin(F.broadcast(total)).select(
        "abc_class", "n_parts", "class_revenue",
        round4(F.col("_raw") / F.col("grand")).alias("revenue_share"),
    )


@query(
    "workload_hhi_concentration",
    oracle=f"""
        WITH cust_rev AS (
            SELECT c.c_nationkey,
                   o.o_custkey,
                   SUM(CAST(o.o_totalprice AS DECIMAL(38,8))) AS rev
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY c.c_nationkey, o.o_custkey
        ),
        shares AS (
            SELECT c_nationkey,
                   CAST(CAST(rev AS VARCHAR) AS DOUBLE)
                       / CAST(CAST(SUM(rev) OVER (PARTITION BY c_nationkey)
                                   AS VARCHAR) AS DOUBLE) AS share
            FROM cust_rev
        )
        SELECT c_nationkey,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               {sql_round4('10000.0 * ' + sql_dsum('share * share'))}
                   AS hhi,
               CAST(10000.0 * {sql_dsum('share * share')} > 2500.0
                    AS BOOLEAN) AS highly_concentrated
        FROM shares
        GROUP BY c_nationkey
    """,
    tags=("workload", "economics"),
)
def workload_hhi_concentration(spark: SparkSession, sf: str) -> DataFrame:
    """Herfindahl–Hirschman concentration per market (nation): the sum
    of squared customer revenue shares on the standard 0–10,000 scale,
    with the DOJ's 2,500 'highly concentrated' line — the antitrust/
    key-account-risk complement to ``workload_gini`` (HHI weights the
    head quadratically; Gini integrates the whole curve). Shares come
    from one customer-grain aggregate plus a per-market window
    denominator (decimal-exact on both ends), the HHI is one squared-
    share sum riding the decimal convention — no sort anywhere."""
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    cust_rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast(DEC)).alias("rev"))
    )
    w_nat = W.partitionBy("c_nationkey")
    shares = cust_rev.select(
        "c_nationkey",
        (
            F.col("rev").cast("double")
            / F.sum("rev").over(w_nat).cast("double")
        ).alias("share"),
    )
    hhi = 10000.0 * dsum(F.col("share") * F.col("share"))
    return shares.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        round4(hhi).alias("hhi"),
        (hhi > 2500.0).alias("highly_concentrated"),
    )


@query(
    "workload_segment_migration",
    oracle=f"""
        WITH spend AS (
            SELECT o_custkey,
                   SUM(CASE WHEN YEAR(o_orderdate) <= 1997
                            THEN CAST(o_totalprice AS DECIMAL(38,8))
                            ELSE CAST(0 AS DECIMAL(38,8)) END) AS s1,
                   SUM(CASE WHEN YEAR(o_orderdate) > 1997
                            THEN CAST(o_totalprice AS DECIMAL(38,8))
                            ELSE CAST(0 AS DECIMAL(38,8)) END) AS s2
            FROM orders GROUP BY o_custkey
        ),
        tiers AS (
            SELECT o_custkey,
                   CASE WHEN s1 = 0 THEN 0
                        ELSE NTILE(3) OVER (PARTITION BY (s1 > 0)
                            ORDER BY s1, o_custkey) END AS tier_before,
                   CASE WHEN s2 = 0 THEN 0
                        ELSE NTILE(3) OVER (PARTITION BY (s2 > 0)
                            ORDER BY s2, o_custkey) END AS tier_after
            FROM spend
        )
        SELECT CAST(tier_before AS INT) AS tier_before,
               CAST(tier_after AS INT) AS tier_after,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               {sql_round4(
                   'CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER ()'
               )} AS share
        FROM tiers
        GROUP BY tier_before, tier_after
    """,
    tags=("workload", "crm"),
)
def workload_segment_migration(spark: SparkSession, sf: str) -> DataFrame:
    """Customer segment migration matrix: each customer's spend tier
    (terciles among active spenders; 0 = inactive) is computed for the
    pre-1998 and post-1998 periods and the 4×4 transition counts show
    churn (high→0), upgrades, and the inactive→active win-backs — the
    longitudinal view a point-in-time ``workload_rfm_segmentation``
    can't give. The NTILE ranks only the active slice of the
    customer-grain frame (zeros pinned to tier 0 — ranking them would
    let ties leak across the activity boundary); spends are
    decimal-exact; everything after the one customer-grain aggregate
    runs on customers-sized data."""
    o = load_table(spark, sf, "orders")
    period1 = F.when(
        F.year("o_orderdate") <= 1997, F.col("o_totalprice")
    ).otherwise(0.0)
    period2 = F.when(
        F.year("o_orderdate") > 1997, F.col("o_totalprice")
    ).otherwise(0.0)
    spend = o.groupBy("o_custkey").agg(
        F.sum(period1.cast(DEC)).alias("s1"),
        F.sum(period2.cast(DEC)).alias("s2"),
    )
    w1 = W.partitionBy(F.col("s1") > 0).orderBy("s1", "o_custkey")
    w2 = W.partitionBy(F.col("s2") > 0).orderBy("s2", "o_custkey")
    tiers = spend.select(
        F.when(F.col("s1") == 0, 0).otherwise(F.ntile(3).over(w1)).alias(
            "tier_before"
        ),
        F.when(F.col("s2") == 0, 0).otherwise(F.ntile(3).over(w2)).alias(
            "tier_after"
        ),
    )
    w_all = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return tiers.groupBy("tier_before", "tier_after").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        (F.count(F.lit(1))).alias("_n"),
    ).select(
        F.col("tier_before").cast("int").alias("tier_before"),
        F.col("tier_after").cast("int").alias("tier_after"),
        "n_customers",
        round4(
            F.col("_n").cast("double") / F.sum("_n").over(w_all)
        ).alias("share"),
    )


@query(
    "workload_littlewood_yield",
    oracle=f"""
        WITH demand AS (
            SELECT o_orderpriority,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   {sql_dsum('o_totalprice')} AS rev
            FROM orders
            WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
            GROUP BY o_orderpriority
        ),
        wide AS (
            SELECT
                MAX(CASE WHEN o_orderpriority = '1-URGENT'
                         THEN rev / n END) AS fare_high,
                MAX(CASE WHEN o_orderpriority = '5-LOW'
                         THEN rev / n END) AS fare_low,
                MAX(CASE WHEN o_orderpriority = '1-URGENT'
                         THEN n END) AS n_high
            FROM demand
        )
        SELECT {sql_round4('fare_high')} AS fare_high,
               {sql_round4('fare_low')} AS fare_low,
               {sql_round4('fare_low / fare_high')} AS critical_ratio,
               CAST(n_high AS BIGINT) AS high_fare_demand,
               CAST(CAST(FLOOR(n_high * (1.0 - fare_low / fare_high))
                    AS BIGINT) AS BIGINT) AS protection_level
        FROM wide
    """,
    tags=("workload", "revenue-management"),
)
def workload_littlewood_yield(spark: SparkSession, sf: str) -> DataFrame:
    """Littlewood's rule — the revenue-management primitive behind every
    airline/hotel yield system: sell a discounted seat only while the
    probability of later selling it full-fare is below fare_low /
    fare_high (the critical ratio); with the fixture's empirical
    demand as the forecast, the protection level ≈ demand_high ×
    (1 − ratio) seats held back from the low fare. Two tiers from one
    aggregate, decimal-exact average fares, the ratio and protection
    level pure closed forms — the operational twin of the elasticity
    and pacing dials (``workload_price_elasticity``,
    ``workload_budget_pacing``)."""
    o = load_table(spark, sf, "orders")
    demand = (
        o.filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            dsum(F.col("o_totalprice")).alias("rev"),
        )
    )
    wide = demand.agg(
        F.max(
            F.when(F.col("o_orderpriority") == "1-URGENT", F.col("rev") / F.col("n"))
        ).alias("fare_high"),
        F.max(
            F.when(F.col("o_orderpriority") == "5-LOW", F.col("rev") / F.col("n"))
        ).alias("fare_low"),
        F.max(
            F.when(F.col("o_orderpriority") == "1-URGENT", F.col("n"))
        ).alias("n_high"),
    )
    ratio = F.col("fare_low") / F.col("fare_high")
    return wide.select(
        round4(F.col("fare_high")).alias("fare_high"),
        round4(F.col("fare_low")).alias("fare_low"),
        round4(ratio).alias("critical_ratio"),
        F.col("n_high").cast("bigint").alias("high_fare_demand"),
        F.floor(F.col("n_high") * (1.0 - ratio)).cast("bigint").alias(
            "protection_level"
        ),
    )


@query(
    "workload_newsvendor",
    oracle=f"""
        WITH daily AS (
            SELECT p.p_brand, CAST(l.l_shipdate AS DATE) AS day,
                   SUM(CAST(l.l_quantity AS DECIMAL(38,8))) AS qty
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            GROUP BY 1, 2
        )
        SELECT p_brand,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               {sql_round4(
                   'quantile_cont(CAST(qty AS DOUBLE), 0.75)'
               )} AS order_up_to,
               {sql_round4(sql_davg('CAST(qty AS DOUBLE)'))}
                   AS mean_daily_demand,
               {sql_round4(
                   'quantile_cont(CAST(qty AS DOUBLE), 0.75) / ('
                   + sql_davg('CAST(qty AS DOUBLE)') + ')'
               )} AS buffer_ratio
        FROM daily
        GROUP BY p_brand
    """,
    tags=("workload", "inventory", "or"),
)
def workload_newsvendor(spark: SparkSession, sf: str) -> DataFrame:
    """The newsvendor solution per brand: with underage cost 3× overage
    (critical fractile 0.75), the profit-maximizing stocking level is
    the 75th percentile of daily demand — read off the EMPIRICAL
    distribution directly, no normality assumption (contrast
    ``workload_reorder_point``'s z·σ, which under-protects whenever
    demand is skewed — the buffer_ratio vs mean shows exactly how much
    the distribution's shape matters per brand). Demand reduces to
    (brand, day) grain decimal-exact; the exact percentile is
    sketch-swappable at scale."""
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part")
    daily = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", F.col("l_shipdate").cast("date").alias("day"))
        .agg(F.sum(F.col("l_quantity").cast(DEC)).alias("qty"))
    )
    q = F.col("qty").cast("double")
    return daily.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        round4(F.percentile(q, F.lit(0.75))).alias("order_up_to"),
        round4(davg(q)).alias("mean_daily_demand"),
        round4(F.percentile(q, F.lit(0.75)) / davg(q)).alias("buffer_ratio"),
    )


@query(
    "workload_changepoint",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(FLOOR({sql_dsum('value')} * 100.0 + 0.5) AS BIGINT)
                       AS y
            FROM events GROUP BY 1
        ),
        idx AS (
            SELECT day, y,
                   CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i,
                   CAST(SUM(y) OVER (ORDER BY day) AS BIGINT) AS p1,
                   {'CAST(CAST(SUM(CAST(CAST(y AS DOUBLE) * y AS DECIMAL(38,8))) OVER (ORDER BY day) AS VARCHAR) AS DOUBLE)'} AS p2,
                   CAST(COUNT(*) OVER () AS BIGINT) AS n,
                   CAST(SUM(y) OVER () AS BIGINT) AS t1,
                   {'CAST(CAST(SUM(CAST(CAST(y AS DOUBLE) * y AS DECIMAL(38,8))) OVER () AS VARCHAR) AS DOUBLE)'} AS t2
            FROM daily
        ),
        scored AS (
            SELECT day, i, n, t1, t2,
                   (p2 - CAST(p1 AS DOUBLE) * p1 / i)
                 + ((t2 - p2) - (CAST(t1 - p1 AS DOUBLE) * (t1 - p1)) / (n - i))
                       AS split_sse,
                   CAST(p1 AS DOUBLE) / i AS left_mean,
                   CAST(t1 - p1 AS DOUBLE) / (n - i) AS right_mean
            FROM idx WHERE i < n
        )
        SELECT day AS split_day,
               i AS n_left,
               n - i AS n_right,
               {sql_round4('left_mean')} AS left_mean_cents,
               {sql_round4('right_mean')} AS right_mean_cents,
               {sql_round4('(t2 - CAST(t1 AS DOUBLE) * t1 / n) - split_sse')}
                   AS sse_reduction
        FROM scored
        ORDER BY split_sse ASC, day ASC
        LIMIT 1
    """,
    tags=("workload", "timeseries", "changepoint"),
)
def workload_changepoint(spark: SparkSession, sf: str) -> DataFrame:
    """Single mean-shift changepoint on the daily-revenue series — the
    binary-segmentation step under every changepoint detector: pick the
    split minimizing SSE_left + SSE_right. Prefix power sums via one
    cumulative window make every candidate split O(1), so scoring all
    n−1 splits is one pass over the ≤31-row day grain (never the
    quadratic re-aggregation of the naive form, and never a second scan
    of the raw events). Integer-cents prefix sums are exact; each
    split's SSE is a single float expression, ties break on day.
    Recursing on each side yields full binary segmentation — same plan
    shape per level."""
    e = load_table(spark, sf, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.floor(dsum(F.col("value")) * 100.0 + 0.5).cast("bigint").alias("y")
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    wall = W.orderBy("day").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    y = F.col("y")
    y2 = y.cast("double") * y
    idx = daily.select(
        "day",
        F.row_number().over(W.orderBy("day")).cast("bigint").alias("i"),
        F.sum(y).over(w).cast("bigint").alias("p1"),
        F.sum(y2.cast(DEC)).over(w).cast("double").alias("p2"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("n"),
        F.sum(y).over(wall).cast("bigint").alias("t1"),
        F.sum(y2.cast(DEC)).over(wall).cast("double").alias("t2"),
    )
    i, n = F.col("i"), F.col("n")
    p1, p2, t1, t2 = F.col("p1"), F.col("p2"), F.col("t1"), F.col("t2")
    sse = (p2 - p1.cast("double") * p1 / i) + (
        (t2 - p2) - (t1 - p1).cast("double") * (t1 - p1) / (n - i)
    )
    scored = idx.filter(i < n).select(
        "day", "i", "n",
        sse.alias("split_sse"),
        (p1.cast("double") / i).alias("left_mean"),
        ((t1 - p1).cast("double") / (n - i)).alias("right_mean"),
        (t2 - t1.cast("double") * t1 / n - sse).alias("reduction"),
    )
    return (
        scored.orderBy(F.col("split_sse").asc(), F.col("day").asc())
        .limit(1)
        .select(
            F.col("day").alias("split_day"),
            F.col("i").alias("n_left"),
            (F.col("n") - F.col("i")).alias("n_right"),
            round4(F.col("left_mean")).alias("left_mean_cents"),
            round4(F.col("right_mean")).alias("right_mean_cents"),
            round4(F.col("reduction")).alias("sse_reduction"),
        )
    )


@query(
    "workload_mann_kendall",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(FLOOR({sql_dsum('value')} * 100.0 + 0.5) AS BIGINT)
                       AS y
            FROM events GROUP BY 1
        ),
        pairs AS (
            SELECT CAST(SUM(CASE WHEN b.y > a.y THEN 1
                                 WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT)
                       AS s,
                   CAST(COUNT(*) AS BIGINT) AS n_pairs
            FROM daily a JOIN daily b ON a.day < b.day
        ),
        nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily)
        SELECT n.n AS n_days,
               p.s AS s_stat,
               {sql_round4(
                   '(p.s - CASE WHEN p.s > 0 THEN 1 WHEN p.s < 0 THEN -1'
                   ' ELSE 0 END)'
                   ' / SQRT(n.n * (n.n - 1.0) * (2.0 * n.n + 5.0) / 18.0)'
               )} AS z_score
        FROM pairs p CROSS JOIN nn n
    """,
    tags=("workload", "timeseries", "test"),
)
def workload_mann_kendall(spark: SparkSession, sf: str) -> DataFrame:
    """Mann–Kendall monotone-trend test on daily revenue: S = Σ_{i<j}
    sign(y_j − y_i), continuity-corrected normal z with the no-ties
    variance n(n−1)(2n+5)/18 — the nonparametric 'is revenue actually
    trending' answer that complements ``ml_theil_sen``'s slope estimate
    (Sen's slope is the magnitude, MK the significance, on the same
    series). Pairwise comparison is quadratic but on the ≤31-row day
    grain only — the reduction-first rule — so 100 TB of events costs
    one scan plus a ≤465-pair in-memory join; comparisons are exact
    integer cents, engine-identical by construction."""
    e = load_table(spark, sf, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.floor(dsum(F.col("value")) * 100.0 + 0.5).cast("bigint").alias("y")
    )
    a = daily.select(F.col("day").alias("day_a"), F.col("y").alias("y_a"))
    b = daily.select(F.col("day").alias("day_b"), F.col("y").alias("y_b"))
    pairs = a.join(b, F.col("day_a") < F.col("day_b")).agg(
        F.sum(
            F.when(F.col("y_b") > F.col("y_a"), 1)
            .when(F.col("y_b") < F.col("y_a"), -1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
    )
    nn = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    s = F.col("s")
    cc = F.when(s > 0, 1).when(s < 0, -1).otherwise(0)
    return pairs.crossJoin(F.broadcast(nn)).select(
        F.col("n").alias("n_days"),
        s.alias("s_stat"),
        round4(
            (s - cc)
            / F.sqrt(F.col("n") * (F.col("n") - 1.0) * (2.0 * F.col("n") + 5.0) / 18.0)
        ).alias("z_score"),
    )


@query(
    "workload_streak_runs",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(FLOOR({sql_dsum('value')} * 100.0 + 0.5) AS BIGINT)
                       AS y
            FROM events GROUP BY 1
        ),
        flagged AS (
            SELECT day, y,
                   CASE WHEN CAST(y AS DOUBLE)
                             > CAST(SUM(y) OVER () AS DOUBLE)
                               / COUNT(*) OVER ()
                        THEN 1 ELSE 0 END AS above,
                   CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i
            FROM daily
        ),
        islands AS (
            SELECT above,
                   i - ROW_NUMBER() OVER (PARTITION BY above ORDER BY i)
                       AS grp
            FROM flagged
        ),
        runs AS (
            SELECT above, grp, CAST(COUNT(*) AS BIGINT) AS run_len
            FROM islands GROUP BY above, grp
        )
        SELECT above,
               CAST(COUNT(*) AS BIGINT) AS n_runs,
               CAST(MAX(run_len) AS BIGINT) AS longest_run,
               {sql_davg('CAST(run_len AS DOUBLE)')} AS avg_run
        FROM runs GROUP BY above
    """,
    tags=("workload", "timeseries", "gaps-islands"),
)
def workload_streak_runs(spark: SparkSession, sf: str) -> DataFrame:
    """Gaps-and-islands run-length analysis: consecutive-day streaks of
    above-mean vs below-mean revenue (longest winning/losing streak, run
    counts, average run length — a serial-dependence readout that pairs
    with ``ml_durbin_watson``). The classic islands trick: row_number
    minus per-flag row_number is constant within a run, so runs fall out
    of one groupBy with no self-join or iteration. The above/below
    threshold is the exact-integer mean compared in doubles —
    deterministic on both engines; windows run on the reduced ≤31-row
    series."""
    e = load_table(spark, sf, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.floor(dsum(F.col("value")) * 100.0 + 0.5).cast("bigint").alias("y")
    )
    wall = W.orderBy("day").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    flagged = daily.select(
        "day",
        F.when(
            F.col("y").cast("double")
            > F.sum("y").over(wall).cast("double") / F.count(F.lit(1)).over(wall),
            1,
        )
        .otherwise(0)
        .alias("above"),
        F.row_number().over(W.orderBy("day")).cast("bigint").alias("i"),
    )
    islands = flagged.select(
        "above",
        (
            F.col("i")
            - F.row_number().over(W.partitionBy("above").orderBy("i"))
        ).alias("grp"),
    )
    runs = islands.groupBy("above", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("run_len")
    )
    return runs.groupBy("above").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_runs"),
        F.max("run_len").cast("bigint").alias("longest_run"),
        davg(F.col("run_len").cast("double")).alias("avg_run"),
    )


@knn_twins(
    "graph_degree_distribution",
    f"""
        deg AS (
            SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
                SELECT u AS node FROM mutual
                UNION ALL SELECT v FROM mutual
            ) GROUP BY node
        )
        SELECT d AS degree,
               CAST(COUNT(*) AS BIGINT) AS n_nodes,
               {sql_round4(
                   'CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM deg)'
               )} AS share,
               {sql_round4(
                   'CAST(SUM(COUNT(*)) OVER (ORDER BY d DESC) AS DOUBLE)'
                   ' / (SELECT COUNT(*) FROM deg)'
               )} AS ccdf
        FROM deg GROUP BY d
    """,
    ("graph", "stats"),
)
def graph_degree_distribution(spark: SparkSession, sf: str, src: EdgeSource) -> DataFrame:
    """Degree distribution of the mutual-5-NN cosine graph with the
    complementary CDF P(D ≥ d) — the first thing to plot before trusting
    any graph algorithm's cost model: a heavy CCDF tail predicts skewed
    shuffle keys in triangle counting / PageRank (and argues for the
    high-degree-vertex mirroring that GraphX/Pregel systems apply). One
    degree count over the shared session-cached edge list, then a
    histogram over the tiny degree domain (mutual-kNN caps degree at
    k=5, which the output verifies). CCDF via a cumulative window on
    ≤6 rows."""
    mutual = src.mutual(spark, sf)
    deg = (
        mutual.select(F.col("u").alias("node"))
        .unionAll(mutual.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    n_nodes_total = deg.count()
    wc = W.orderBy(F.desc("degree")).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    hist = deg.groupBy(F.col("d").alias("degree")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )
    return hist.select(
        "degree",
        "n_nodes",
        round4(F.col("n_nodes").cast("double") / F.lit(float(n_nodes_total))).alias(
            "share"
        ),
        round4(
            F.sum("n_nodes").over(wc).cast("double") / F.lit(float(n_nodes_total))
        ).alias("ccdf"),
    )


@query(
    "workload_var_cvar",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(FLOOR({sql_dsum('value')} * 100.0 + 0.5) AS BIGINT)
                       AS y
            FROM events GROUP BY 1
        ),
        rets AS (
            SELECT day,
                   CAST(y - LAG(y) OVER (ORDER BY day) AS DOUBLE)
                       / LAG(y) OVER (ORDER BY day) AS r
            FROM daily
        ),
        live AS (SELECT r FROM rets WHERE r IS NOT NULL),
        q AS (SELECT quantile_cont(r, 0.05) AS var95 FROM live)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
               {sql_round4('MIN(q.var95)')} AS var_95,
               {sql_round4(sql_davg('CASE WHEN l.r <= q.var95 THEN l.r END'))}
                   AS cvar_95,
               CAST(SUM(CASE WHEN l.r <= q.var95 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_tail_days
        FROM live l CROSS JOIN q
    """,
    tags=("workload", "finance", "risk"),
)
def workload_var_cvar(spark: SparkSession, sf: str) -> DataFrame:
    """Value-at-Risk and conditional VaR (expected shortfall) on daily
    revenue returns: the 5th-percentile return and the mean of returns
    at or below it — 'how bad is a bad day, and how bad is the average
    bad day'. Returns come from a lag window on the day grain; the
    exact-interpolating percentile threshold is computed once and
    broadcast back over the series (never a per-row subquery), and the
    tail mean uses the decimal-sum convention. ES is the coherent risk
    measure Basel moved to precisely because it composes under
    aggregation — the same property that makes it computable with one
    extra conditional average here."""
    e = load_table(spark, sf, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.floor(dsum(F.col("value")) * 100.0 + 0.5).cast("bigint").alias("y")
    )
    rets = daily.select(
        "day",
        (
            (F.col("y") - F.lag("y").over(W.orderBy("day"))).cast("double")
            / F.lag("y").over(W.orderBy("day"))
        ).alias("r"),
    ).filter(F.col("r").isNotNull())
    q = rets.agg(F.percentile(F.col("r"), F.lit(0.05)).alias("var95"))
    joined = rets.crossJoin(F.broadcast(q))
    return joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        round4(F.min("var95")).alias("var_95"),
        round4(
            davg(F.when(F.col("r") <= F.col("var95"), F.col("r")))
        ).alias("cvar_95"),
        F.sum(F.when(F.col("r") <= F.col("var95"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_tail_days"),
    )


@query(
    "workload_drawdown",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(FLOOR({sql_dsum('value')} * 100.0 + 0.5) AS BIGINT)
                       AS y
            FROM events GROUP BY 1
        ),
        eq AS (
            SELECT day,
                   CAST(SUM(y) OVER (ORDER BY day) AS BIGINT) AS equity
            FROM daily
        ),
        curve AS (
            SELECT day, equity,
                   CAST(MAX(equity) OVER (ORDER BY day) AS BIGINT) AS peak
            FROM eq
        ),
        dd AS (
            SELECT day, equity, peak,
                   CAST(peak - equity AS DOUBLE) / peak AS drawdown
            FROM curve
        )
        SELECT CAST((SELECT COUNT(*) FROM daily) AS BIGINT) AS n_days,
               day AS trough_day,
               equity AS equity_cents,
               peak AS peak_cents,
               {sql_round4('drawdown')} AS max_drawdown
        FROM dd
        ORDER BY drawdown DESC, day ASC
        LIMIT 1
    """,
    tags=("workload", "finance", "timeseries"),
)
def workload_drawdown(spark: SparkSession, sf: str) -> DataFrame:
    """Maximum drawdown of the cumulative-revenue equity curve: running
    peak via a max-over-cumulative-sum window, drawdown = (peak −
    equity)/peak, report the worst trough with full tie-breaks. Two
    stacked cumulative windows over the ≤31-row day grain — the whole
    point is that the 100 TB event scan reduces FIRST and the
    inherently sequential windows run on the tiny series (same
    discipline as every *_daily op; a year of days is still only 365
    rows). Equity and peak stay exact integer cents; the ratio is the
    single float step."""
    e = load_table(spark, sf, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.floor(dsum(F.col("value")) * 100.0 + 0.5).cast("bigint").alias("y")
    )
    wc = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    curve = daily.select(
        "day",
        F.sum("y").over(wc).cast("bigint").alias("equity"),
    )
    curve = curve.select(
        "day", "equity",
        F.max("equity").over(wc).cast("bigint").alias("peak"),
    )
    n = daily.count()
    dd = curve.select(
        "day", "equity", "peak",
        ((F.col("peak") - F.col("equity")).cast("double") / F.col("peak")).alias(
            "drawdown"
        ),
    )
    return (
        dd.orderBy(F.col("drawdown").desc(), F.col("day").asc())
        .limit(1)
        .select(
            F.lit(n).cast("bigint").alias("n_days"),
            F.col("day").alias("trough_day"),
            F.col("equity").alias("equity_cents"),
            F.col("peak").alias("peak_cents"),
            round4(F.col("drawdown")).alias("max_drawdown"),
        )
    )


@query(
    "workload_rsi",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(FLOOR({sql_dsum('value')} * 100.0 + 0.5) AS BIGINT)
                       AS y
            FROM events GROUP BY 1
        ),
        delta AS (
            SELECT day,
                   CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i,
                   CAST(GREATEST(y - LAG(y) OVER (ORDER BY day), 0)
                        AS BIGINT) AS gain,
                   CAST(GREATEST(LAG(y) OVER (ORDER BY day) - y, 0)
                        AS BIGINT) AS loss
            FROM daily
        ),
        win AS (
            SELECT day, i,
                   CAST(SUM(gain) OVER (ORDER BY i
                        ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS g14,
                   CAST(SUM(loss) OVER (ORDER BY i
                        ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS l14
            FROM delta WHERE i >= 2
        )
        SELECT day,
               {sql_round4(
                   'CASE WHEN l14 = 0 THEN 100.0 ELSE '
                   '100.0 - 100.0 / (1.0 + CAST(g14 AS DOUBLE) / l14) END'
               )} AS rsi14
        FROM win WHERE i >= 15
    """,
    tags=("workload", "finance", "timeseries"),
)
def workload_rsi(spark: SparkSession, sf: str) -> DataFrame:
    """14-day RSI (simple-average Cutler variant — Wilder's recursive
    smoothing trades partition-invariance for path dependence, so the
    SMA form is the distributed-systems choice) on daily revenue:
    up-moves and down-moves from a lag window, 14-row rolling sums,
    RSI = 100 − 100/(1+RS). Gains/losses stay exact integer cents all
    the way into the rolling sums; only RS and the final index are
    float. Emits only days with a full 14-sample window, plus the
    division-by-zero guard (all-gain fortnight ⇒ RSI 100) evaluated
    identically on both engines."""
    e = load_table(spark, sf, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.floor(dsum(F.col("value")) * 100.0 + 0.5).cast("bigint").alias("y")
    )
    wd = W.orderBy("day")
    delta = daily.select(
        "day",
        F.row_number().over(wd).cast("bigint").alias("i"),
        F.greatest(F.col("y") - F.lag("y").over(wd), F.lit(0))
        .cast("bigint")
        .alias("gain"),
        F.greatest(F.lag("y").over(wd) - F.col("y"), F.lit(0))
        .cast("bigint")
        .alias("loss"),
    ).filter(F.col("i") >= 2)
    w14 = W.orderBy("i").rowsBetween(-13, 0)
    win = delta.select(
        "day", "i",
        F.sum("gain").over(w14).cast("bigint").alias("g14"),
        F.sum("loss").over(w14).cast("bigint").alias("l14"),
    ).filter(F.col("i") >= 15)
    rsi = F.when(F.col("l14") == 0, F.lit(100.0)).otherwise(
        100.0 - 100.0 / (1.0 + F.col("g14").cast("double") / F.col("l14"))
    )
    return win.select("day", round4(rsi).alias("rsi14"))


@query(
    "workload_power_users",
    oracle="""
        WITH act AS (
            SELECT user_id,
                   CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT)
                       AS days_active
            FROM events GROUP BY user_id
        )
        SELECT days_active,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               FLOOR(CAST(COUNT(*) AS DOUBLE)
                     / (SELECT COUNT(*) FROM act) * 10000.0 + 0.5) / 10000.0
                   AS share
        FROM act GROUP BY days_active
    """,
    tags=("workload", "product", "engagement"),
)
def workload_power_users(spark: SparkSession, sf: str) -> DataFrame:
    """The L28-style engagement histogram: users bucketed by number of
    distinct active days in the fixture month — the curve whose shape
    (smile vs decay) is the canonical habit-formation readout, and the
    denominator behind DAU/MAU stickiness. Two hash aggregates: distinct
    days per user (partial distinct on (user, day) rides the shuffle),
    then the tiny histogram; the share denominator reuses the first
    aggregate rather than rescanning events. At 100 TB the (user, day)
    distinct is the textbook case for a two-level aggregate — exact
    here, sketch (HLL) when users stop fitting."""
    e = load_table(spark, sf, "events")
    act = e.groupBy("user_id").agg(
        F.countDistinct(F.col("ts").cast("date")).cast("bigint").alias(
            "days_active"
        )
    )
    n_users = act.count()
    return act.groupBy("days_active").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        (
            F.floor(
                F.count(F.lit(1)).cast("double") / F.lit(float(n_users)) * 10000.0
                + 0.5
            )
            / 10000.0
        ).alias("share"),
    )


@query(
    "workload_key_discovery",
    oracle=f"""
        SELECT 'lineitem(l_orderkey)' AS candidate,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_distinct,
               {sql_round4('CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE)'
                           ' / COUNT(*)')} AS uniqueness,
               COUNT(DISTINCT l_orderkey) = COUNT(*) AS is_key
        FROM lineitem
        UNION ALL
        SELECT 'lineitem(l_orderkey,l_linenumber)',
               CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(DISTINCT l_orderkey * 16 + l_linenumber)
                    AS BIGINT),
               {sql_round4('CAST(COUNT(DISTINCT l_orderkey * 16 + l_linenumber)'
                           ' AS DOUBLE) / COUNT(*)')},
               COUNT(DISTINCT l_orderkey * 16 + l_linenumber) = COUNT(*)
        FROM lineitem
        UNION ALL
        SELECT 'orders(o_orderkey)',
               CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(DISTINCT o_orderkey) AS BIGINT),
               {sql_round4('CAST(COUNT(DISTINCT o_orderkey) AS DOUBLE)'
                           ' / COUNT(*)')},
               COUNT(DISTINCT o_orderkey) = COUNT(*)
        FROM orders
        UNION ALL
        SELECT 'events(user_id)',
               CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(DISTINCT user_id) AS BIGINT),
               {sql_round4('CAST(COUNT(DISTINCT user_id) AS DOUBLE)'
                           ' / COUNT(*)')},
               COUNT(DISTINCT user_id) = COUNT(*)
        FROM events
    """,
    tags=("workload", "profiling"),
)
def workload_key_discovery(spark: SparkSession, sf: str) -> DataFrame:
    """Candidate-key discovery: uniqueness ratio (|distinct|/|rows|) for
    proposed keys across four tables, flagging exact keys — the first
    profiling pass before choosing join, bucketing, and dedup keys
    (a 0.999 ratio that LOOKS like a key is exactly how silent fan-out
    joins are born). The composite candidate is tested through a
    collision-free packing (orderkey·16 + linenumber, linenumber < 16 —
    cheaper than a struct distinct and identical on both engines). Each
    candidate is one count-distinct aggregate; at 100 TB swap exact
    distinct for HLL with the same plan shape. Lineitem's lone orderkey
    shows ~0.25 (4 lines/order): a near-key miss the ratio exposes."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    e = load_table(spark, sf, "events")

    def probe(df: DataFrame, name: str, col: F.Column) -> DataFrame:
        return df.agg(
            F.lit(name).alias("candidate"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct(col).cast("bigint").alias("n_distinct"),
        ).select(
            "candidate", "n_rows", "n_distinct",
            round4(
                F.try_divide(F.col("n_distinct").cast("double"), F.col("n_rows"))
            ).alias("uniqueness"),
            (F.col("n_distinct") == F.col("n_rows")).alias("is_key"),
        )

    return (
        probe(li, "lineitem(l_orderkey)", F.col("l_orderkey"))
        .unionAll(
            probe(
                li,
                "lineitem(l_orderkey,l_linenumber)",
                F.col("l_orderkey") * 16 + F.col("l_linenumber"),
            )
        )
        .unionAll(probe(o, "orders(o_orderkey)", F.col("o_orderkey")))
        .unionAll(probe(e, "events(user_id)", F.col("user_id")))
    )


@query(
    "workload_fd_violations",
    oracle=f"""
        WITH fd1 AS (
            SELECT source AS lhs, lang AS rhs FROM documents
        ),
        c1 AS (
            SELECT lhs, rhs, CAST(COUNT(*) AS BIGINT) AS n
            FROM fd1 GROUP BY lhs, rhs
        ),
        g1 AS (
            SELECT lhs, CAST(SUM(n) AS BIGINT) AS tot,
                   CAST(MAX(n) AS BIGINT) AS keep
            FROM c1 GROUP BY lhs
        ),
        fd2 AS (
            SELECT lang AS lhs, source AS rhs FROM documents
        ),
        c2 AS (
            SELECT lhs, rhs, CAST(COUNT(*) AS BIGINT) AS n
            FROM fd2 GROUP BY lhs, rhs
        ),
        g2 AS (
            SELECT lhs, CAST(SUM(n) AS BIGINT) AS tot,
                   CAST(MAX(n) AS BIGINT) AS keep
            FROM c2 GROUP BY lhs
        ),
        fd3 AS (
            SELECT user_id AS lhs, event_type AS rhs FROM events
        ),
        c3 AS (
            SELECT lhs, rhs, CAST(COUNT(*) AS BIGINT) AS n
            FROM fd3 GROUP BY lhs, rhs
        ),
        g3 AS (
            SELECT lhs, CAST(SUM(n) AS BIGINT) AS tot,
                   CAST(MAX(n) AS BIGINT) AS keep
            FROM c3 GROUP BY lhs
        )
        SELECT 'documents: source -> lang' AS fd,
               CAST(COUNT(*) AS BIGINT) AS n_lhs,
               CAST(SUM(tot) AS BIGINT) AS n_rows,
               CAST(SUM(tot) - SUM(keep) AS BIGINT) AS n_violating_rows,
               {sql_round4('CAST(SUM(tot) - SUM(keep) AS DOUBLE) / SUM(tot)')}
                   AS g3_error,
               SUM(tot) = SUM(keep) AS holds
        FROM g1
        UNION ALL
        SELECT 'documents: lang -> source',
               CAST(COUNT(*) AS BIGINT), CAST(SUM(tot) AS BIGINT),
               CAST(SUM(tot) - SUM(keep) AS BIGINT),
               {sql_round4('CAST(SUM(tot) - SUM(keep) AS DOUBLE) / SUM(tot)')},
               SUM(tot) = SUM(keep)
        FROM g2
        UNION ALL
        SELECT 'events: user_id -> event_type',
               CAST(COUNT(*) AS BIGINT), CAST(SUM(tot) AS BIGINT),
               CAST(SUM(tot) - SUM(keep) AS BIGINT),
               {sql_round4('CAST(SUM(tot) - SUM(keep) AS DOUBLE) / SUM(tot)')},
               SUM(tot) = SUM(keep)
        FROM g3
    """,
    tags=("workload", "profiling"),
)
def workload_fd_violations(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate functional-dependency audit with the g3 error measure
    (Kivinen–Mannila: the minimum fraction of rows to delete for
    X→Y to hold exactly): Σ(group − argmax) over LHS groups, from a
    two-level aggregate — count (lhs, rhs) cells, then per-lhs total
    and max. Three candidate FDs probed in one result; g3 = 0 certifies
    a dependency you may exploit (e.g., denormalize or prune a join),
    high g3 kills it. Both aggregation levels are map-side combinable
    and the cell table is tiny after level 1 — the 100 TB cost is one
    scan per base table, shared across the FDs probed on it."""

    def g3(df: DataFrame, lhs: str, rhs: str, name: str) -> DataFrame:
        cells = df.groupBy(
            F.col(lhs).alias("lhs"), F.col(rhs).alias("rhs")
        ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        grp = cells.groupBy("lhs").agg(
            F.sum("n").cast("bigint").alias("tot"),
            F.max("n").cast("bigint").alias("keep"),
        )
        return grp.agg(
            F.lit(name).alias("fd"),
            F.count(F.lit(1)).cast("bigint").alias("n_lhs"),
            F.sum("tot").cast("bigint").alias("n_rows"),
            (F.sum("tot") - F.sum("keep")).cast("bigint").alias(
                "n_violating_rows"
            ),
            round4(
                (F.sum("tot") - F.sum("keep")).cast("double") / F.sum("tot")
            ).alias("g3_error"),
            (F.sum("tot") == F.sum("keep")).alias("holds"),
        )

    d = load_table(spark, sf, "documents")
    e = load_table(spark, sf, "events")
    return (
        g3(d, "source", "lang", "documents: source -> lang")
        .unionAll(g3(d, "lang", "source", "documents: lang -> source"))
        .unionAll(g3(e, "user_id", "event_type", "events: user_id -> event_type"))
    )


@query(
    "workload_k_anonymity",
    oracle=f"""
        WITH qi AS (
            SELECT c_nationkey, c_mktsegment,
                   CAST(COUNT(*) AS BIGINT) AS grp_size,
                   CAST(COUNT(DISTINCT CASE WHEN c_acctbal < 0
                                            THEN 'neg' ELSE 'nonneg' END)
                        AS BIGINT) AS l_div
            FROM customer
            GROUP BY c_nationkey, c_mktsegment
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
               CAST(SUM(grp_size) AS BIGINT) AS n_rows,
               CAST(MIN(grp_size) AS BIGINT) AS k_anonymity,
               CAST(SUM(CASE WHEN grp_size < 5 THEN grp_size ELSE 0 END)
                    AS BIGINT) AS rows_below_k5,
               {sql_round4(
                   'CAST(SUM(CASE WHEN grp_size < 5 THEN grp_size ELSE 0 END)'
                   ' AS DOUBLE) / SUM(grp_size)'
               )} AS share_below_k5,
               CAST(MIN(l_div) AS BIGINT) AS l_diversity_min,
               {sql_round4(sql_davg('CAST(l_div AS DOUBLE)'))}
                   AS l_diversity_avg
        FROM qi
    """,
    tags=("workload", "privacy", "audit"),
)
def workload_k_anonymity(spark: SparkSession, sf: str) -> DataFrame:
    """k-anonymity / l-diversity audit before a data release: group the
    customer table by its quasi-identifiers (nation × market segment),
    report the minimum equivalence-class size k, how much of the
    population sits in classes below the k=5 publishing floor, and the
    diversity of the sensitive attribute (account-balance sign) within
    classes — k protects re-identification, l protects attribute
    disclosure when an attacker knows the class (homogeneity attack).
    One aggregate over the QI key with a distinct-within-group rider;
    the audit's 100 TB shape is identical, and the small-class rows it
    flags are the ones generalization/suppression must fold before
    release (``workload_gdpr_erasure``'s sibling)."""
    c = load_table(spark, sf, "customer")
    qi = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("grp_size"),
        F.countDistinct(
            F.when(F.col("c_acctbal") < 0, "neg").otherwise("nonneg")
        )
        .cast("bigint")
        .alias("l_div"),
    )
    return qi.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum("grp_size").cast("bigint").alias("n_rows"),
        F.min("grp_size").cast("bigint").alias("k_anonymity"),
        F.sum(F.when(F.col("grp_size") < 5, F.col("grp_size")).otherwise(0))
        .cast("bigint")
        .alias("rows_below_k5"),
        round4(
            F.sum(
                F.when(F.col("grp_size") < 5, F.col("grp_size")).otherwise(0)
            ).cast("double")
            / F.sum("grp_size")
        ).alias("share_below_k5"),
        F.min("l_div").cast("bigint").alias("l_diversity_min"),
        round4(davg(F.col("l_div").cast("double"))).alias("l_diversity_avg"),
    )


@query(
    "workload_dp_clipping",
    oracle=f"""
        WITH per_user AS (
            SELECT user_id, {sql_dsum('value')} AS contrib
            FROM events GROUP BY user_id
        ),
        c AS (SELECT quantile_cont(contrib, 0.95) AS clip_c FROM per_user)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
               {sql_round4('MIN(c.clip_c)')} AS clip_c,
               CAST(SUM(CASE WHEN p.contrib > c.clip_c THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_clipped,
               {sql_round4(sql_dsum('p.contrib'))} AS raw_sum,
               {sql_round4(sql_dsum('LEAST(p.contrib, c.clip_c)'))}
                   AS clipped_sum,
               {sql_round4(
                   f"({sql_dsum('p.contrib')}"
                   f" - {sql_dsum('LEAST(p.contrib, c.clip_c)')})"
                   f" / {sql_dsum('p.contrib')}"
               )} AS mass_clipped
        FROM per_user p CROSS JOIN c
    """,
    tags=("workload", "privacy", "llm"),
)
def workload_dp_clipping(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user contribution bounding — the deterministic half of a
    differentially-private aggregate (and of DP-SGD's gradient step):
    total contribution per user, clip threshold C at the p95 of the
    contribution distribution, then the clipped sum whose sensitivity
    is exactly C (the noise that would be added downstream scales with
    C — this op quantifies the bias/sensitivity trade the threshold
    buys). The user-grain reduction comes first (100 TB of events →
    one row per user), the broadcast scalar C clips, and both raw and
    clipped decimal sums ride one final aggregate. Reports the clipped
    user count and the fraction of mass removed."""
    e = load_table(spark, sf, "events")
    per_user = e.groupBy("user_id").agg(dsum(F.col("value")).alias("contrib"))
    c = per_user.agg(F.percentile(F.col("contrib"), F.lit(0.95)).alias("clip_c"))
    j = per_user.crossJoin(F.broadcast(c))
    clipped = F.least(F.col("contrib"), F.col("clip_c"))
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        round4(F.min("clip_c")).alias("clip_c"),
        F.sum(F.when(F.col("contrib") > F.col("clip_c"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_clipped"),
        round4(dsum(F.col("contrib"))).alias("raw_sum"),
        round4(dsum(clipped)).alias("clipped_sum"),
        round4(
            (dsum(F.col("contrib")) - dsum(clipped)) / dsum(F.col("contrib"))
        ).alias("mass_clipped"),
    )


@query(
    "sql_window_clause",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day, event_type,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2
        )
        SELECT day, event_type, n,
               CAST(SUM(n) OVER w7 AS BIGINT) AS n_7d,
               {sql_round4('CAST(n AS DOUBLE) / SUM(n) OVER wt')} AS day_share
        FROM daily
        WINDOW w7 AS (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
               wt AS (PARTITION BY event_type)
    """,
    tags=("sql", "window", "sugar"),
)
def sql_window_clause(spark: SparkSession, sf: str) -> DataFrame:
    """The named ``WINDOW`` clause — one definition, many over-clauses —
    exercised through ``spark.sql`` with two shared windows (a 7-day
    trailing frame and a whole-partition frame) over per-type daily
    counts. Beyond ergonomics there is a planning property worth
    pinning: both windows share the partitioning key, so Catalyst
    evaluates them with ONE exchange and sort (check the single Window
    node pair in `.explain`); the day-grain input means the sequential
    frames run on a reduced series, per this repo's windows-after-
    reduction rule."""
    e = load_table(spark, sf, "events")
    e.groupBy(
        F.col("ts").cast("date").alias("day"), F.col("event_type")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n")).createOrReplaceTempView(
        "_wc_daily"
    )
    return spark.sql(
        """
        SELECT day, event_type, n,
               CAST(SUM(n) OVER w7 AS BIGINT) AS n_7d,
               FLOOR(CAST(n AS DOUBLE) / SUM(n) OVER wt * 1e4 + 0.5)
                   / 1e4 AS day_share
        FROM _wc_daily
        WINDOW w7 AS (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
               wt AS (PARTITION BY event_type)
        """
    )


@query(
    "sql_order_by_all",
    oracle="""
        SELECT o_orderstatus, o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders
        GROUP BY ALL
        ORDER BY ALL
    """,
    tags=("sql", "sugar", "sort"),
)
def sql_order_by_all(spark: SparkSession, sf: str) -> DataFrame:
    """``ORDER BY ALL`` (sort by every select item, left to right — the
    DuckDB-originated sugar Spark 4 adopted) paired with GROUP BY ALL:
    a fully name-free aggregate-and-present query. Pins two things: the
    parser surface itself, and that the resulting global sort is the
    plan you expect (a range-partitioned exchange over the full select
    list — on a 12-row aggregate output this is trivial, which is
    exactly when ORDER BY ALL is legitimate; on raw 100 TB it would be
    the bottleneck and the right call is no sort at all)."""
    o = load_table(spark, sf, "orders")
    o.createOrReplaceTempView("_oba_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM _oba_orders
        GROUP BY ALL
        ORDER BY ALL
        """
    )


@query(
    "agg_mad",
    oracle=f"""
        WITH med AS (
            SELECT o_orderstatus,
                   quantile_cont(o_totalprice, 0.5) AS m
            FROM orders GROUP BY o_orderstatus
        ),
        dev AS (
            SELECT o.o_orderstatus,
                   ABS(o.o_totalprice - med.m) AS ad,
                   med.m
            FROM orders o JOIN med ON o.o_orderstatus = med.o_orderstatus
        )
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n,
               {sql_round4('MIN(m)')} AS median_price,
               {sql_round4('quantile_cont(ad, 0.5)')} AS mad,
               {sql_round4('quantile_cont(ad, 0.5) * 1.4826')} AS mad_sigma
        FROM dev GROUP BY o_orderstatus
    """,
    tags=("agg", "stats", "robust"),
)
def agg_mad(spark: SparkSession, sf: str) -> DataFrame:
    """Median absolute deviation per order status — the 50%-breakdown
    robust scale estimate (stddev's breakdown point is a single bad
    row; at ingest scale you WILL have bad rows), reported raw and as
    the normal-consistent σ̂ = 1.4826·MAD. Two passes by definition
    (median, then median of deviations) with the 3-row median table
    broadcast back — never a re-shuffle of the fact table. The exact
    interpolating percentile is the sf-scale tool; at 100 TB both
    medians become fixed-error approx_percentile with the identical
    two-pass plan, the same evolution as ``agg_percentile``."""
    o = load_table(spark, sf, "orders")
    med = o.groupBy("o_orderstatus").agg(
        F.percentile(F.col("o_totalprice"), F.lit(0.5)).alias("m")
    )
    dev = o.join(F.broadcast(med), "o_orderstatus").select(
        "o_orderstatus",
        F.abs(F.col("o_totalprice") - F.col("m")).alias("ad"),
        "m",
    )
    mad = F.percentile(F.col("ad"), F.lit(0.5))
    return dev.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        round4(F.min("m")).alias("median_price"),
        round4(mad).alias("mad"),
        round4(mad * 1.4826).alias("mad_sigma"),
    )


@query(
    "workload_watermark_sizing",
    oracle=f"""
        WITH seq AS (
            SELECT event_id, ts,
                   MAX(ts) OVER (ORDER BY event_id) AS high_water
            FROM events
        ),
        lateness AS (
            SELECT CAST(date_diff('millisecond', ts, high_water) AS BIGINT)
                       AS late_ms
            FROM seq
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN late_ms > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_out_of_order,
               {sql_round4(
                   'CAST(SUM(CASE WHEN late_ms > 0 THEN 1 ELSE 0 END)'
                   ' AS DOUBLE) / COUNT(*)'
               )} AS ooo_share,
               {sql_round4('quantile_cont(late_ms, 0.95) / 1000.0')}
                   AS p95_lateness_s,
               {sql_round4('quantile_cont(late_ms, 0.99) / 1000.0')}
                   AS p99_lateness_s,
               {sql_round4('CAST(MAX(late_ms) AS DOUBLE) / 1000.0')}
                   AS max_lateness_s
        FROM lateness
    """,
    tags=("workload", "streaming", "audit"),
)
def workload_watermark_sizing(spark: SparkSession, sf: str) -> DataFrame:
    """Watermark-delay sizing from history — THE question to answer
    before writing ``withWatermark``: replay events in arrival order
    (event_id is the ingest sequence), track the event-time high-water
    mark, and measure each event's lateness against it. The p95/p99/max
    lateness quantiles ARE the candidate watermark delays, and
    ooo_share says how much state a zero-delay watermark would drop.
    The running max is a global-order window — unavoidable for a
    global watermark and fine after noting its 100 TB form: per-
    partition maxima + broadcast prefix maxima (two passes), or
    per-source-partition watermarks exactly as Spark's own
    ``EventTimeWatermarkExec`` tracks them. Lateness lands in integer
    milliseconds before the float quantiles."""
    e = load_table(spark, sf, "events")
    wseq = W.orderBy("event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    seq = e.select(
        "ts", F.max("ts").over(wseq).alias("high_water")
    )
    late_ms = (
        F.col("high_water").cast("double") * 1000.0
        - F.col("ts").cast("double") * 1000.0
    ).cast("bigint")
    lateness = seq.select(late_ms.alias("late_ms"))
    return lateness.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.when(F.col("late_ms") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_out_of_order"),
        round4(
            F.sum(F.when(F.col("late_ms") > 0, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("ooo_share"),
        round4(F.percentile(F.col("late_ms"), F.lit(0.95)) / 1000.0).alias(
            "p95_lateness_s"
        ),
        round4(F.percentile(F.col("late_ms"), F.lit(0.99)) / 1000.0).alias(
            "p99_lateness_s"
        ),
        round4(F.max("late_ms").cast("double") / 1000.0).alias(
            "max_lateness_s"
        ),
    )


@query(
    "graph_bipartite_projection",
    oracle=f"""
        WITH ue AS (
            SELECT DISTINCT user_id, event_type FROM events
        ),
        type_n AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users
            FROM ue GROUP BY event_type
        ),
        proj AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   CAST(COUNT(*) AS BIGINT) AS n_common
            FROM ue a JOIN ue b
              ON a.user_id = b.user_id AND a.event_type < b.event_type
            GROUP BY a.event_type, b.event_type
        ),
        tot AS (
            SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n FROM ue
        )
        SELECT p.type_a, p.type_b, p.n_common,
               {sql_round4(
                   'CAST(p.n_common AS DOUBLE) * t.n'
                   ' / (na.n_users * nb.n_users)'
               )} AS lift,
               {sql_round4(
                   'CAST(p.n_common AS DOUBLE)'
                   ' / (na.n_users + nb.n_users - p.n_common)'
               )} AS jaccard
        FROM proj p
        JOIN type_n na ON p.type_a = na.event_type
        JOIN type_n nb ON p.type_b = nb.event_type
        CROSS JOIN tot t
    """,
    tags=("graph", "workload"),
)
def graph_bipartite_projection(spark: SparkSession, sf: str) -> DataFrame:
    """One-mode projection of the user×event-type bipartite graph:
    co-engagement edges between event types weighted by shared-user
    count, with lift (vs independence) and Jaccard — the same
    projection that turns user×item into item-item similarity for
    co-visitation recommenders. The plan is the scalable shape: dedup
    to the bipartite incidence list FIRST (distinct on (user, type) —
    at 100 TB this is the shuffle that matters and it's
    map-side-combinable), then self-join on user. Degree tables and the
    user total are broadcast back onto the 10-edge projection. Skew
    note: a power user touching all types contributes O(k²) pairs —
    bounded here by k=5 types; unbounded catalogs cap per-user fan-out
    before the self-join (the co-visit trick)."""
    e = load_table(spark, sf, "events")
    ue = e.select("user_id", "event_type").distinct()
    type_n = ue.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    a = ue.select("user_id", F.col("event_type").alias("type_a"))
    b = ue.select("user_id", F.col("event_type").alias("type_b"))
    proj = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    tot = ue.agg(F.countDistinct("user_id").cast("bigint").alias("n"))
    na = type_n.select(
        F.col("event_type").alias("type_a"), F.col("n_users").alias("na")
    )
    nb = type_n.select(
        F.col("event_type").alias("type_b"), F.col("n_users").alias("nb")
    )
    return (
        proj.join(F.broadcast(na), "type_a")
        .join(F.broadcast(nb), "type_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "type_a", "type_b", "n_common",
            round4(
                F.col("n_common").cast("double") * F.col("n")
                / (F.col("na") * F.col("nb"))
            ).alias("lift"),
            round4(
                F.col("n_common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )


@query(
    "workload_queueing_mm1",
    oracle=f"""
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS h,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM events GROUP BY 1
        ),
        s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_hours,
                   {sql_davg('CAST(c AS DOUBLE)')} AS lam,
                   CAST(MAX(c) AS DOUBLE) AS lam_peak
            FROM hourly
        ),
        m AS (
            SELECT n_hours, lam, lam_peak,
                   1.25 * lam_peak AS mu
            FROM s
        )
        SELECT n_hours,
               {sql_round4('lam')} AS lambda_mean,
               {sql_round4('lam_peak')} AS lambda_peak,
               {sql_round4('mu')} AS mu_capacity,
               {sql_round4('lam / mu')} AS rho,
               {sql_round4('(lam / mu) * (lam / mu) / (1.0 - lam / mu)')}
                   AS lq_queue_len,
               {sql_round4('3600.0 * (lam / mu) / (mu - lam)')}
                   AS wq_wait_seconds
        FROM m
    """,
    tags=("workload", "capacity", "ops"),
)
def workload_queueing_mm1(spark: SparkSession, sf: str) -> DataFrame:
    """M/M/1 capacity planning from observed traffic: estimate the
    hourly arrival rate λ (mean and peak), provision service capacity
    µ = 1.25·peak (a 25% headroom rule), and report the closed-form
    steady-state utilization ρ, expected queue length Lq = ρ²/(1−ρ) and
    expected wait Wq = ρ/(µ−λ) — the arithmetic behind 'how many
    workers does this ingest queue need', joining the ops-research
    closed forms (``workload_newsvendor``, ``workload_littlewood_yield``)
    that turn one aggregate pass into a sizing decision. The nonlinear
    blow-up of Lq as ρ→1 is the whole lesson: mean-rate provisioning
    (ρ≈0.8 here) already queues; the 1/(1−ρ) wall is why."""
    e = load_table(spark, sf, "events")
    hourly = e.groupBy(F.date_trunc("hour", F.col("ts")).alias("h")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    s = hourly.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        davg(F.col("c").cast("double")).alias("lam"),
        F.max("c").cast("double").alias("lam_peak"),
    )
    lam, peak = F.col("lam"), F.col("lam_peak")
    mu = 1.25 * peak
    rho = lam / mu
    return s.select(
        "n_hours",
        round4(lam).alias("lambda_mean"),
        round4(peak).alias("lambda_peak"),
        round4(mu).alias("mu_capacity"),
        round4(rho).alias("rho"),
        round4(rho * rho / (1.0 - rho)).alias("lq_queue_len"),
        round4(3600.0 * rho / (mu - lam)).alias("wq_wait_seconds"),
    )


@query(
    "workload_price_index",
    oracle=f"""
        WITH yearly AS (
            SELECT l_partkey,
                   date_part('year', l_shipdate) AS yr,
                   {sql_dsum('l_quantity')} AS q,
                   {sql_dsum('l_extendedprice')} AS v
            FROM lineitem
            WHERE date_part('year', l_shipdate) IN (1995, 1998)
            GROUP BY 1, 2
        ),
        base AS (SELECT l_partkey, q AS q0, v / q AS p0
                 FROM yearly WHERE yr = 1995),
        comp AS (SELECT l_partkey, q AS q1, v / q AS p1
                 FROM yearly WHERE yr = 1998),
        matched AS (
            SELECT b.l_partkey, b.q0, b.p0, c.q1, c.p1
            FROM base b JOIN comp c ON b.l_partkey = c.l_partkey
        ),
        s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
                   {sql_dsum('p1 * q0')} AS l_num,
                   {sql_dsum('p0 * q0')} AS l_den,
                   {sql_dsum('p1 * q1')} AS p_num,
                   {sql_dsum('p0 * q1')} AS p_den
            FROM matched
        )
        SELECT n_parts,
               {sql_round4('l_num / l_den')} AS laspeyres,
               {sql_round4('p_num / p_den')} AS paasche,
               {sql_round4('SQRT((l_num / l_den) * (p_num / p_den))')}
                   AS fisher
        FROM s
    """,
    tags=("workload", "economics"),
)
def workload_price_index(spark: SparkSession, sf: str) -> DataFrame:
    """Bilateral price indices between 1995 and 1998 over the matched
    part basket: Laspeyres (base-quantity weights — overstates
    inflation via substitution bias), Paasche (current weights —
    understates), and their geometric mean, Fisher's ideal index. Unit
    prices are value/quantity per (part, year); only parts traded in
    BOTH years enter (the matched-model rule that dodges quality
    drift). One scan with a year-pair predicate pushed to parquet, a
    part-grain self-match, and four weighted decimal sums — at 100 TB
    the part-year aggregate is the only shuffle and the index itself
    is a 4-accumulator reduce."""
    li = load_table(spark, sf, "lineitem")
    yearly = (
        li.filter(F.year("l_shipdate").isin(1995, 1998))
        .groupBy("l_partkey", F.year("l_shipdate").alias("yr"))
        .agg(
            dsum(F.col("l_quantity")).alias("q"),
            dsum(F.col("l_extendedprice")).alias("v"),
        )
    )
    base = yearly.filter(F.col("yr") == 1995).select(
        "l_partkey", F.col("q").alias("q0"), (F.col("v") / F.col("q")).alias("p0")
    )
    comp = yearly.filter(F.col("yr") == 1998).select(
        "l_partkey", F.col("q").alias("q1"), (F.col("v") / F.col("q")).alias("p1")
    )
    m = base.join(comp, "l_partkey")
    s = m.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        dsum(F.col("p1") * F.col("q0")).alias("l_num"),
        dsum(F.col("p0") * F.col("q0")).alias("l_den"),
        dsum(F.col("p1") * F.col("q1")).alias("p_num"),
        dsum(F.col("p0") * F.col("q1")).alias("p_den"),
    )
    lasp = F.col("l_num") / F.col("l_den")
    paas = F.col("p_num") / F.col("p_den")
    return s.select(
        "n_parts",
        round4(lasp).alias("laspeyres"),
        round4(paas).alias("paasche"),
        round4(F.sqrt(lasp * paas)).alias("fisher"),
    )


@query(
    "workload_supplier_scorecard",
    oracle=f"""
        WITH per_supp AS (
            SELECT l.l_suppkey,
                   CAST(COUNT(*) AS BIGINT) AS n_lines,
                   {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')}
                       AS revenue,
                   CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
                        AS DOUBLE) / COUNT(*) AS return_rate,
                   {sql_davg(
                       "CAST(date_diff('day', o.o_orderdate, l.l_shipdate)"
                       " AS DOUBLE)"
                   )} AS avg_ship_lag
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            GROUP BY l.l_suppkey
        ),
        g AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS k,
                   {sql_dsum('return_rate')} AS r1,
                   {sql_dsum('return_rate * return_rate')} AS r2,
                   {sql_dsum('avg_ship_lag')} AS h1,
                   {sql_dsum('avg_ship_lag * avg_ship_lag')} AS h2
            FROM per_supp
        ),
        scored AS (
            SELECT p.l_suppkey, p.n_lines, p.revenue, p.return_rate,
                   p.avg_ship_lag,
                   (p.return_rate - g.r1 / g.k)
                       / SQRT((g.k * g.r2 - g.r1 * g.r1) / (g.k * (g.k - 1.0)))
                 + (p.avg_ship_lag - g.h1 / g.k)
                       / SQRT((g.k * g.h2 - g.h1 * g.h1) / (g.k * (g.k - 1.0)))
                       AS risk_score
            FROM per_supp p CROSS JOIN g
        )
        SELECT l_suppkey, n_lines,
               {sql_round4('revenue')} AS revenue,
               {sql_round4('return_rate')} AS return_rate,
               {sql_round4('avg_ship_lag')} AS avg_ship_lag,
               {sql_round4('risk_score')} AS risk_score
        FROM scored
        ORDER BY risk_score DESC, l_suppkey ASC
        LIMIT 10
    """,
    tags=("workload", "retail", "scorecard"),
)
def workload_supplier_scorecard(spark: SparkSession, sf: str) -> DataFrame:
    """Supplier risk scorecard: per-supplier return rate and average
    ship lag standardized against the supplier-peer distribution and
    summed into a z-composite; the 10 worst suppliers surface with
    their raw KPIs alongside (a score without its inputs is an
    argument, not a report). The fact-side join keys on orderkey — the
    fact table never reshuffles twice: one join, one supplier-grain
    aggregate, then the peer stats (one row) broadcast back over the
    supplier frame. Peer z-scores use decimal-exact power sums; the
    composite is float but identically computed, so the top-10 cut is
    engine-stable with the suppkey tie-break."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    per = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
            (
                F.sum(
                    F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1))
            ).alias("return_rate"),
            davg(
                F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).cast(
                    "double"
                )
            ).alias("avg_ship_lag"),
        )
    )
    g = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        dsum(F.col("return_rate")).alias("r1"),
        dsum(F.col("return_rate") * F.col("return_rate")).alias("r2"),
        dsum(F.col("avg_ship_lag")).alias("h1"),
        dsum(F.col("avg_ship_lag") * F.col("avg_ship_lag")).alias("h2"),
    )
    j = per.crossJoin(F.broadcast(g))
    k = F.col("k")
    sd_r = F.sqrt(
        F.try_divide(k * F.col("r2") - F.col("r1") * F.col("r1"), k * (k - 1.0))
    )
    sd_h = F.sqrt(
        F.try_divide(k * F.col("h2") - F.col("h1") * F.col("h1"), k * (k - 1.0))
    )
    score = F.try_divide(F.col("return_rate") - F.col("r1") / k, sd_r) + (
        F.try_divide(F.col("avg_ship_lag") - F.col("h1") / k, sd_h)
    )
    return (
        j.select(
            "l_suppkey", "n_lines",
            round4(F.col("revenue")).alias("revenue"),
            round4(F.col("return_rate")).alias("return_rate"),
            round4(F.col("avg_ship_lag")).alias("avg_ship_lag"),
            round4(score).alias("risk_score"),
            score.alias("_s"),
        )
        .orderBy(F.col("_s").desc(), F.col("l_suppkey").asc())
        .limit(10)
        .drop("_s")
    )


@query(
    "workload_stickiness",
    oracle=f"""
        WITH du AS (
            SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
        ),
        days AS (SELECT DISTINCT day FROM du),
        dau AS (
            SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM du GROUP BY day
        ),
        wau AS (
            SELECT d.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS wau
            FROM days d JOIN du u
              ON u.day BETWEEN d.day - 6 AND d.day
            GROUP BY d.day
        )
        SELECT a.day, a.dau, w.wau,
               {sql_round4('CAST(a.dau AS DOUBLE) / w.wau')} AS stickiness
        FROM dau a JOIN wau w ON a.day = w.day
        WHERE a.day >= (SELECT MIN(day) FROM days) + 6
    """,
    tags=("workload", "product", "engagement"),
)
def workload_stickiness(spark: SparkSession, sf: str) -> DataFrame:
    """DAU/WAU stickiness per day — the engagement ratio product teams
    track (1/7 = once-a-week users, →1 = daily habit). WAU needs a
    trailing-7-day DISTINCT user count, which no window frame computes
    (distinct doesn't decompose over sliding frames): the exact form is
    a day×(day,user) range join re-deduplicated per anchor day, done
    here after reducing events to the distinct (day,user) incidence
    list. Warm-up days without a full window are trimmed. At 100 TB
    the exact range join is the thing you DON'T do — per-day HLL
    sketches unioned over the trailing 7 give WAU within ~2% with a
    7-sketch merge per day (``agg_hll_sketch`` is the building block);
    the plan here is the exactness oracle for that approximation."""
    e = load_table(spark, sf, "events")
    du = e.select(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).distinct()
    days = du.select("day").distinct()
    dau = du.groupBy("day").agg(F.count(F.lit(1)).cast("bigint").alias("dau"))
    anchor = days.select(F.col("day").alias("aday"))
    wau = (
        anchor.join(
            du,
            (F.col("day") >= F.date_sub(F.col("aday"), 6))
            & (F.col("day") <= F.col("aday")),
        )
        .groupBy("aday")
        .agg(F.countDistinct("user_id").cast("bigint").alias("wau"))
    )
    min_day = days.agg(F.min("day").alias("d0"))
    return (
        dau.join(wau, dau["day"] == wau["aday"])
        .crossJoin(F.broadcast(min_day))
        .filter(F.col("day") >= F.date_add(F.col("d0"), 6))
        .select(
            "day", "dau", "wau",
            round4(F.col("dau").cast("double") / F.col("wau")).alias(
                "stickiness"
            ),
        )
    )


@query(
    "workload_forecast_backtest",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(FLOOR({sql_dsum('value')} * 100.0 + 0.5) AS BIGINT)
                       AS y
            FROM events GROUP BY 1
        ),
        preds AS (
            SELECT day, y,
                   LAG(y, 1) OVER (ORDER BY day) AS naive1,
                   LAG(y, 7) OVER (ORDER BY day) AS naive7
            FROM daily
        ),
        live AS (SELECT * FROM preds WHERE naive7 IS NOT NULL)
        SELECT 'naive_1' AS model,
               CAST(COUNT(*) AS BIGINT) AS n_folds,
               {sql_round4(sql_davg('ABS(CAST(y - naive1 AS DOUBLE))'))}
                   AS mae_cents,
               {sql_round4(sql_davg(
                   'ABS(CAST(y - naive1 AS DOUBLE)) / y * 100.0'
               ))} AS mape_pct,
               {sql_round4(sql_davg('CAST(y - naive1 AS DOUBLE)'))}
                   AS bias_cents
        FROM live
        UNION ALL
        SELECT 'seasonal_naive_7',
               CAST(COUNT(*) AS BIGINT),
               {sql_round4(sql_davg('ABS(CAST(y - naive7 AS DOUBLE))'))},
               {sql_round4(sql_davg(
                   'ABS(CAST(y - naive7 AS DOUBLE)) / y * 100.0'
               ))},
               {sql_round4(sql_davg('CAST(y - naive7 AS DOUBLE)'))}
        FROM live
    """,
    tags=("workload", "timeseries", "forecast"),
)
def workload_forecast_backtest(spark: SparkSession, sf: str) -> DataFrame:
    """Rolling-origin backtest of the two benchmark forecasters every
    model must beat — naive-1 (tomorrow = today) and seasonal-naive-7
    (tomorrow = same weekday last week) — scored on identical folds
    (days where both predictions exist) with MAE, MAPE and signed bias.
    The backtest 'loop' is just lag windows on the day grain: each row
    IS a fold, so one pass scores every origin — the pattern that keeps
    backtesting O(series) instead of O(series × folds) at any scale. If
    ``workload_holt_linear``'s errors don't beat seasonal-naive here,
    ship the naive (the M-competition lesson)."""
    e = load_table(spark, sf, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.floor(dsum(F.col("value")) * 100.0 + 0.5).cast("bigint").alias("y")
    )
    wd = W.orderBy("day")
    live = daily.select(
        "day", "y",
        F.lag("y", 1).over(wd).alias("naive1"),
        F.lag("y", 7).over(wd).alias("naive7"),
    ).filter(F.col("naive7").isNotNull())

    def score(pred: str, name: str) -> DataFrame:
        err = (F.col("y") - F.col(pred)).cast("double")
        return live.agg(
            F.lit(name).alias("model"),
            F.count(F.lit(1)).cast("bigint").alias("n_folds"),
            round4(davg(F.abs(err))).alias("mae_cents"),
            round4(davg(F.abs(err) / F.col("y") * 100.0)).alias("mape_pct"),
            round4(davg(err)).alias("bias_cents"),
        )

    return score("naive1", "naive_1").unionAll(
        score("naive7", "seasonal_naive_7")
    )


@query(
    "workload_session_gap_sweep",
    oracle=f"""
        WITH gaps AS (
            SELECT user_id,
                   date_diff('second',
                             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts,
                                           event_id),
                             ts) AS gap_s
            FROM events
        ),
        counts AS (
            SELECT CAST(COUNT(*) FILTER (WHERE gap_s IS NULL) AS BIGINT)
                       AS n_users,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(CASE WHEN gap_s IS NULL OR gap_s > 300
                                 THEN 1 ELSE 0 END) AS BIGINT) AS s300,
                   CAST(SUM(CASE WHEN gap_s IS NULL OR gap_s > 900
                                 THEN 1 ELSE 0 END) AS BIGINT) AS s900,
                   CAST(SUM(CASE WHEN gap_s IS NULL OR gap_s > 1800
                                 THEN 1 ELSE 0 END) AS BIGINT) AS s1800,
                   CAST(SUM(CASE WHEN gap_s IS NULL OR gap_s > 3600
                                 THEN 1 ELSE 0 END) AS BIGINT) AS s3600
            FROM gaps
        )
        SELECT t.timeout_s, c.n_events,
               CASE t.timeout_s WHEN 300 THEN c.s300 WHEN 900 THEN c.s900
                    WHEN 1800 THEN c.s1800 ELSE c.s3600 END AS n_sessions,
               {sql_round4(
                   'CAST(c.n_events AS DOUBLE) / CASE t.timeout_s'
                   ' WHEN 300 THEN c.s300 WHEN 900 THEN c.s900'
                   ' WHEN 1800 THEN c.s1800 ELSE c.s3600 END'
               )} AS events_per_session
        FROM counts c
        CROSS JOIN (VALUES (CAST(300 AS BIGINT)), (CAST(900 AS BIGINT)),
                           (CAST(1800 AS BIGINT)), (CAST(3600 AS BIGINT)))
             AS t(timeout_s)
    """,
    tags=("workload", "sessionization"),
)
def workload_session_gap_sweep(spark: SparkSession, sf: str) -> DataFrame:
    """Session-timeout sensitivity sweep: session counts under gap
    thresholds of 5/15/30/60 minutes from ONE pass — compute each
    event's inter-arrival gap per user once (the lag window keyed by
    user, fully distributed), then every candidate timeout is just a
    different COUNT(gap > τ), four indicator sums sharing the same
    shuffle. This is how you pick the timeout ``win_sessionize_batch``
    then hardcodes: the count-vs-τ curve's knee is the natural session
    boundary, and re-running full sessionization per candidate τ (the
    naive sweep) costs 4 extra scans this op provably doesn't need."""
    e = load_table(spark, sf, "events")
    wl = W.partitionBy("user_id").orderBy("ts", "event_id")
    # whole-second gaps (timestamp -> epoch-second truncation), matching
    # the oracle's date_diff('second', ...) boundary-count semantics — a
    # fractional-second gap landing exactly on a threshold diverged at
    # sf0.1 when this used cast(double)
    gaps = e.select(
        (
            F.col("ts").cast("long") - F.lag(F.col("ts")).over(wl).cast("long")
        ).alias("gap_s")
    )
    counts = gaps.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        *[
            F.sum(
                F.when(
                    F.col("gap_s").isNull() | (F.col("gap_s") > tau), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias(f"s{tau}")
            for tau in (300, 900, 1800, 3600)
        ],
    )
    taus = spark.createDataFrame(
        [(300,), (900,), (1800,), (3600,)], "timeout_s bigint"
    )
    j = counts.crossJoin(taus)
    n_sessions = (
        F.when(F.col("timeout_s") == 300, F.col("s300"))
        .when(F.col("timeout_s") == 900, F.col("s900"))
        .when(F.col("timeout_s") == 1800, F.col("s1800"))
        .otherwise(F.col("s3600"))
    )
    return j.select(
        "timeout_s",
        "n_events",
        n_sessions.alias("n_sessions"),
        round4(F.col("n_events").cast("double") / n_sessions).alias(
            "events_per_session"
        ),
    )


@query(
    "workload_histogram2d",
    oracle="""
        SELECT CAST(FLOOR(l_quantity / 10.0) AS BIGINT) AS qty_bin,
               CAST(FLOOR(l_discount / 0.02) AS BIGINT) AS disc_bin,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,8)))
                         AS VARCHAR) AS DOUBLE) AS revenue
        FROM lineitem
        GROUP BY 1, 2
    """,
    tags=("workload", "profiling", "viz"),
)
def workload_histogram2d(spark: SparkSession, sf: str) -> DataFrame:
    """2-D fixed-width histogram (quantity deciles × discount bands)
    with a revenue measure per cell — the heatmap aggregate behind
    price/volume scatter summaries, and the bin-then-aggregate pattern
    that replaces shipping raw points to a plotting client (100 TB of
    points → ≤ 30 cells; the data-viz rule is bin server-side, always).
    Bin ids via floor division so edges are exact on both engines
    (contrast ``fn_width_bucket``'s builtin form); counts exact, money
    decimal-summed. Trivially map-side-combinable — the shuffle carries
    only cells."""
    li = load_table(spark, sf, "lineitem")
    return (
        li.groupBy(
            F.floor(F.col("l_quantity") / 10.0).cast("bigint").alias("qty_bin"),
            F.floor(F.col("l_discount") / 0.02).cast("bigint").alias(
                "disc_bin"
            ),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            dsum(F.col("l_extendedprice")).alias("revenue"),
        )
    )


@query(
    "workload_wilson_ranking",
    oracle=f"""
        WITH per_part AS (
            SELECT l_partkey,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN l_returnflag <> 'R' THEN 1 ELSE 0 END)
                        AS BIGINT) AS kept
            FROM lineitem GROUP BY l_partkey
            HAVING COUNT(*) >= 20
        ),
        scored AS (
            SELECT l_partkey, n, kept,
                   CAST(kept AS DOUBLE) / n AS p_hat,
                   (CAST(kept AS DOUBLE) / n + 3.8415888 / (2.0 * n)
                    - 1.96 * SQRT((CAST(kept AS DOUBLE) / n)
                                  * (1.0 - CAST(kept AS DOUBLE) / n) / n
                                  + 3.8415888 / (4.0 * n * n)))
                   / (1.0 + 3.8415888 / n) AS wilson_lb
            FROM per_part
        )
        SELECT l_partkey, n, kept,
               {sql_round4('p_hat')} AS kept_rate,
               {sql_round4('wilson_lb')} AS wilson_lower
        FROM scored
        ORDER BY wilson_lb DESC, l_partkey ASC
        LIMIT 10
    """,
    tags=("workload", "ranking", "stats"),
)
def workload_wilson_ranking(spark: SparkSession, sf: str) -> DataFrame:
    """Rank parts by the Wilson score LOWER bound of their kept-rate
    (share of lines not returned) — the 'how not to sort by average
    rating' fix: a 20/20 part outranks a 200/210 part on raw rate but
    not on the lower confidence bound, which prices in sample size.
    Minimum-volume filter, then one closed-form expression per part
    (z²=3.8415888 inlined) — no per-part inference loop, which is why
    this ranking runs over a billion SKUs as one aggregate + one
    expression + top-k. The top-10 cut breaks ties on partkey;
    ``ml_bayes_ab``'s Beta posterior is the Bayesian cousin with the
    same shape."""
    li = load_table(spark, sf, "lineitem")
    per = (
        li.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(F.col("l_returnflag") != "R", 1).otherwise(0))
            .cast("bigint")
            .alias("kept"),
        )
        .filter(F.col("n") >= 20)
    )
    n = F.col("n")
    p = F.col("kept").cast("double") / n
    z2 = 3.8415888
    lb = (
        p + z2 / (2.0 * n)
        - 1.96 * F.sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n))
    ) / (1.0 + z2 / n)
    return (
        per.select(
            "l_partkey", "n", "kept",
            round4(p).alias("kept_rate"),
            round4(lb).alias("wilson_lower"),
            lb.alias("_lb"),
        )
        .orderBy(F.col("_lb").desc(), F.col("l_partkey").asc())
        .limit(10)
        .drop("_lb")
    )


@query(
    "workload_abc_xyz",
    oracle=f"""
        WITH per_part AS (
            SELECT l_partkey,
                   {sql_dsum('l_extendedprice')} AS revenue
            FROM lineitem GROUP BY l_partkey
        ),
        weekly AS (
            SELECT l_partkey, date_trunc('week', l_shipdate) AS wk,
                   {sql_dsum('l_quantity')} AS q
            FROM lineitem GROUP BY 1, 2
        ),
        vari AS (
            SELECT l_partkey,
                   CAST(COUNT(*) AS BIGINT) AS n_weeks,
                   {sql_dsum('q')} AS s1,
                   {sql_dsum('q * q')} AS s2
            FROM weekly GROUP BY l_partkey
        ),
        xyz AS (
            SELECT l_partkey,
                   CASE WHEN n_weeks < 2 THEN 'Z'
                        WHEN SQRT((n_weeks * s2 - s1 * s1)
                                  / (n_weeks * (n_weeks - 1.0)))
                             / (s1 / n_weeks) < 0.5 THEN 'X'
                        WHEN SQRT((n_weeks * s2 - s1 * s1)
                                  / (n_weeks * (n_weeks - 1.0)))
                             / (s1 / n_weeks) < 1.0 THEN 'Y'
                        ELSE 'Z' END AS xyz_class
            FROM vari
        ),
        ranked AS (
            SELECT p.l_partkey, p.revenue,
                   SUM(p.revenue) OVER (ORDER BY p.revenue DESC,
                                        p.l_partkey ASC) AS cum_rev,
                   SUM(p.revenue) OVER () AS tot_rev
            FROM per_part p
        ),
        abc AS (
            SELECT l_partkey, revenue,
                   CASE WHEN cum_rev / tot_rev <= 0.8 THEN 'A'
                        WHEN cum_rev / tot_rev <= 0.95 THEN 'B'
                        ELSE 'C' END AS abc_class
            FROM ranked
        )
        SELECT a.abc_class, x.xyz_class,
               CAST(COUNT(*) AS BIGINT) AS n_parts,
               {sql_round4(f"{sql_dsum('a.revenue')} / MIN(a2.tot)")}
                   AS revenue_share
        FROM abc a
        JOIN xyz x ON a.l_partkey = x.l_partkey
        CROSS JOIN (SELECT {sql_dsum('revenue')} AS tot FROM per_part) a2
        GROUP BY a.abc_class, x.xyz_class
    """,
    tags=("workload", "inventory"),
)
def workload_abc_xyz(spark: SparkSession, sf: str) -> DataFrame:
    """The ABC–XYZ inventory matrix: revenue concentration classes
    (A/B/C by cumulative-share cutoffs at 80/95%) crossed with demand-
    variability classes (X/Y/Z by the CV of weekly demand; <2 weeks of
    history ⇒ Z by definition) — the 9-cell grid that decides stocking
    policy per SKU (AX: automate, CZ: make-to-order). Extends
    ``workload_abc_classification`` with the variability axis computed
    from the SAME fact scan's week-grain aggregate. The cumulative-share
    window is part-grain (already reduced); CV from power sums. At
    100 TB both classification axes are one shuffle each on partkey —
    then the matrix is a 9-row aggregate."""
    li = load_table(spark, sf, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        dsum(F.col("l_extendedprice")).alias("revenue")
    )
    weekly = li.groupBy(
        "l_partkey", F.date_trunc("week", F.col("l_shipdate")).alias("wk")
    ).agg(dsum(F.col("l_quantity")).alias("q"))
    vari = weekly.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_weeks"),
        dsum(F.col("q")).alias("s1"),
        dsum(F.col("q") * F.col("q")).alias("s2"),
    )
    nw = F.col("n_weeks")
    cv = F.sqrt(
        (nw * F.col("s2") - F.col("s1") * F.col("s1")) / (nw * (nw - 1.0))
    ) / (F.col("s1") / nw)
    xyz = vari.select(
        "l_partkey",
        F.when(nw < 2, "Z")
        .when(cv < 0.5, "X")
        .when(cv < 1.0, "Y")
        .otherwise("Z")
        .alias("xyz_class"),
    )
    wcum = W.orderBy(F.col("revenue").desc(), F.col("l_partkey").asc())
    wall = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    ranked = per_part.select(
        "l_partkey", "revenue",
        F.sum("revenue").over(wcum).alias("cum_rev"),
        F.sum("revenue").over(wall).alias("tot_rev"),
    )
    abc = ranked.select(
        "l_partkey", "revenue",
        F.when(F.col("cum_rev") / F.col("tot_rev") <= 0.8, "A")
        .when(F.col("cum_rev") / F.col("tot_rev") <= 0.95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    tot = per_part.agg(dsum(F.col("revenue")).alias("tot"))
    return (
        abc.join(xyz, "l_partkey")
        .crossJoin(F.broadcast(tot))
        .groupBy("abc_class", "xyz_class")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            round4(dsum(F.col("revenue")) / F.min("tot")).alias(
                "revenue_share"
            ),
        )
    )


@query(
    "workload_littles_law",
    oracle=f"""
        WITH pts AS (
            SELECT CAST(o_orderdate AS DATE) AS day, 1 AS d FROM orders
            UNION ALL
            SELECT CAST(o_orderdate AS DATE) + 30, -1 FROM orders
        ),
        depth AS (
            SELECT day, CAST(SUM(SUM(d)) OVER (ORDER BY day) AS BIGINT)
                       AS open_orders
            FROM pts GROUP BY day
        ),
        horizon AS (
            SELECT CAST(MIN(CAST(o_orderdate AS DATE)) AS DATE) AS d0,
                   CAST(MAX(CAST(o_orderdate AS DATE)) AS DATE) AS d1,
                   CAST(COUNT(*) AS BIGINT) AS n_orders
            FROM orders
        ),
        l_avg AS (
            SELECT {sql_davg('CAST(dd.open_orders AS DOUBLE)')} AS big_l
            FROM depth dd
            JOIN horizon h ON dd.day BETWEEN h.d0 + 30 AND h.d1
        )
        SELECT h.n_orders,
               {sql_round4('MIN(l.big_l)')} AS l_avg_open,
               {sql_round4(
                   "CAST(h.n_orders AS DOUBLE)"
                   " / (date_diff('day', h.d0, h.d1) + 1)"
               )} AS lambda_per_day,
               CAST(30 AS BIGINT) AS w_days,
               {sql_round4(
                   "MIN(l.big_l) / (CAST(h.n_orders AS DOUBLE)"
                   " / (date_diff('day', h.d0, h.d1) + 1) * 30.0)"
               )} AS littles_ratio
        FROM horizon h CROSS JOIN l_avg l
        GROUP BY h.n_orders, h.d0, h.d1
    """,
    tags=("workload", "capacity", "ops"),
)
def workload_littles_law(spark: SparkSession, sf: str) -> DataFrame:
    """Little's law cross-check L = λ·W on the 30-day-open order model:
    measure average WIP (L, from the ``workload_queue_depth``
    difference-array curve, restricted to the steady-state window past
    the 30-day ramp), arrival rate (λ = orders per day over the
    horizon) and the known residence time (W = 30 days) INDEPENDENTLY,
    and report L/(λW) — a ratio near 1 validates both the depth
    machinery and the stationarity assumption; drift from 1 localizes
    which measurement lies (edge effects, non-stationary arrivals).
    The law needs no distributional assumptions, which is exactly why
    it's the first sanity invariant to assert over any queue-shaped
    100 TB dataset."""
    o = load_table(spark, sf, "orders")
    day = F.col("o_orderdate").cast("date")
    pts = o.select(day.alias("day"), F.lit(1).alias("d")).unionAll(
        o.select(F.date_add(day, 30).alias("day"), F.lit(-1).alias("d"))
    )
    agg = pts.groupBy("day").agg(F.sum("d").alias("delta"))
    wc = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    depth = agg.select(
        "day", F.sum("delta").over(wc).cast("bigint").alias("open_orders")
    )
    horizon = o.agg(
        F.min(day).alias("d0"),
        F.max(day).alias("d1"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
    )
    dj = depth.crossJoin(F.broadcast(horizon)).filter(
        (F.col("day") >= F.date_add(F.col("d0"), 30))
        & (F.col("day") <= F.col("d1"))
    )
    lam = F.col("n_orders").cast("double") / (
        F.datediff(F.col("d1"), F.col("d0")) + 1
    )
    # global agg for L, then crossJoin the 1-row horizon (not groupBy over
    # the joined frame): identical on nonempty input, and still emits the
    # single stats row when orders is empty, matching the oracle's
    # horizon-driven shape (lam's NULL datediff propagates NULL, no /0)
    l_avg = dj.agg(davg(F.col("open_orders").cast("double")).alias("big_l"))
    return horizon.crossJoin(F.broadcast(l_avg)).select(
        "n_orders",
        round4(F.col("big_l")).alias("l_avg_open"),
        round4(lam).alias("lambda_per_day"),
        F.lit(30).cast("bigint").alias("w_days"),
        round4(F.col("big_l") / (lam * 30.0)).alias("littles_ratio"),
    )


@query(
    "workload_retention_curve_fit",
    oracle=f"""
        WITH first_seen AS (
            SELECT user_id, MIN(CAST(ts AS DATE)) AS d0 FROM events
            GROUP BY user_id
        ),
        activity AS (
            SELECT DISTINCT e.user_id,
                   date_diff('day', f.d0, CAST(e.ts AS DATE)) AS k
            FROM events e JOIN first_seen f ON e.user_id = f.user_id
        ),
        cohort AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n0 FROM first_seen
        ),
        curve AS (
            SELECT k,
                   CAST(COUNT(*) AS DOUBLE) / MIN(c.n0) AS retention
            FROM activity a CROSS JOIN cohort c
            WHERE k >= 1
            GROUP BY k
        ),
        loglog AS (
            SELECT LN(CAST(k AS DOUBLE)) AS x, LN(retention) AS y
            FROM curve WHERE retention > 0
        ),
        s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   {sql_dsum('x')} AS sx, {sql_dsum('y')} AS sy,
                   {sql_dsum('x * x')} AS sxx, {sql_dsum('x * y')} AS sxy
            FROM loglog
        )
        SELECT n AS n_points,
               {sql_round4(
                   '(n * sxy - sx * sy) / (n * sxx - sx * sx)'
               )} AS power_law_slope,
               {sql_round4(
                   'EXP(sy / n - (n * sxy - sx * sy) / (n * sxx - sx * sx)'
                   ' * sx / n)'
               )} AS day1_level
        FROM s
    """,
    tags=("workload", "product", "retention"),
)
def workload_retention_curve_fit(spark: SparkSession, sf: str) -> DataFrame:
    """Power-law fit of the retention curve: day-k retention (share of
    the cohort active k days after first touch) regressed as log r ~
    log k — the shape parameter that separates a leaky product (steep
    slope, retention → 0) from one with a plateau-forming habit (slope
    → 0; the 'smile' every growth team hunts). Extends
    ``workload_cohort_retention``'s triangle with a two-number summary
    fit in closed form: distinct (user, day-offset) incidence, a ≤30-
    row curve, then OLS on the log-log pairs via the power-sum pattern.
    Day-1 level and slope TOGETHER forecast long-run DAU by Σ n·r(k)."""
    e = load_table(spark, sf, "events")
    first_seen = e.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("d0")
    )
    activity = (
        e.join(first_seen, "user_id")
        .select(
            "user_id",
            F.datediff(F.col("ts").cast("date"), F.col("d0")).alias("k"),
        )
        .distinct()
    )
    cohort = first_seen.agg(F.count(F.lit(1)).cast("bigint").alias("n0"))
    curve = (
        activity.filter(F.col("k") >= 1)
        .crossJoin(F.broadcast(cohort))
        .groupBy("k")
        .agg((F.count(F.lit(1)).cast("double") / F.min("n0")).alias("retention"))
    )
    loglog = curve.filter(F.col("retention") > 0).select(
        F.log(F.col("k").cast("double")).alias("x"),
        F.log("retention").alias("y"),
    )
    s = loglog.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        dsum(F.col("x")).alias("sx"),
        dsum(F.col("y")).alias("sy"),
        dsum(F.col("x") * F.col("x")).alias("sxx"),
        dsum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        n.alias("n_points"),
        round4(slope).alias("power_law_slope"),
        round4(F.exp(F.col("sy") / n - slope * F.col("sx") / n)).alias(
            "day1_level"
        ),
    )


@query(
    "workload_adstock",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(COUNT(*) FILTER (WHERE event_type = 'click')
                        AS BIGINT) AS clicks,
                   CAST(FLOOR(CAST(CAST(SUM(CAST(value AS DECIMAL(38,8)))
                       FILTER (WHERE event_type = 'purchase') AS VARCHAR)
                       AS DOUBLE) * 100.0 + 0.5) AS BIGINT) AS rev_cents
            FROM events GROUP BY 1
        ),
        lagged AS (
            SELECT day, rev_cents,
                   clicks
                   + 0.5 * COALESCE(LAG(clicks, 1) OVER (ORDER BY day), 0)
                   + 0.25 * COALESCE(LAG(clicks, 2) OVER (ORDER BY day), 0)
                   + 0.125 * COALESCE(LAG(clicks, 3) OVER (ORDER BY day), 0)
                       AS adstock
            FROM daily
        ),
        s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   {sql_dsum('adstock')} AS sx,
                   {sql_dsum('CAST(rev_cents AS DOUBLE)')} AS sy,
                   {sql_dsum('adstock * adstock')} AS sxx,
                   {sql_dsum('CAST(rev_cents AS DOUBLE) * rev_cents')} AS syy,
                   {sql_dsum('adstock * rev_cents')} AS sxy
            FROM lagged
        )
        SELECT n AS n_days,
               {sql_round4(
                   '(n * sxy - sx * sy)'
                   ' / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy))'
               )} AS corr_adstock_revenue
        FROM s
    """,
    tags=("workload", "marketing", "timeseries"),
)
def workload_adstock(spark: SparkSession, sf: str) -> DataFrame:
    """Adstock (advertising carryover) transform: today's effective
    click pressure = clicks_t + λ·clicks_{t−1} + λ²·clicks_{t−2} + …,
    truncated at 3 lags with λ=0.5 — the geometric-decay memory that
    marketing-mix models apply before regressing sales on spend,
    because impressions act with a tail, not instantaneously. The
    truncated form is deliberate: the textbook recursive a_t = x_t +
    λa_{t−1} is path-dependent and order-serial, while fixed lags are
    a window expression any engine parallelizes (same trade as
    ``workload_rsi``'s SMA-for-Wilder swap). Output: correlation of
    adstocked clicks with purchase revenue on the day grain."""
    e = load_table(spark, sf, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.when(F.col("event_type") == "click", 1))
        .cast("bigint")
        .alias("clicks"),
        F.floor(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.col("value").cast(DEC),
                )
            ).cast("double")
            * 100.0
            + 0.5
        )
        .cast("bigint")
        .alias("rev_cents"),
    )
    wd = W.orderBy("day")
    adstock = (
        F.col("clicks")
        + 0.5 * F.coalesce(F.lag("clicks", 1).over(wd), F.lit(0))
        + 0.25 * F.coalesce(F.lag("clicks", 2).over(wd), F.lit(0))
        + 0.125 * F.coalesce(F.lag("clicks", 3).over(wd), F.lit(0))
    )
    lagged = daily.select(
        "rev_cents", adstock.alias("adstock")
    )
    s = lagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        dsum(F.col("adstock")).alias("sx"),
        dsum(F.col("rev_cents").cast("double")).alias("sy"),
        dsum(F.col("adstock") * F.col("adstock")).alias("sxx"),
        dsum(F.col("rev_cents").cast("double") * F.col("rev_cents")).alias(
            "syy"
        ),
        dsum(F.col("adstock") * F.col("rev_cents")).alias("sxy"),
    )
    n = F.col("n")
    corr = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select(n.alias("n_days"), round4(corr).alias("corr_adstock_revenue"))


@query(
    "workload_survivorship",
    oracle="""
        WITH keyed AS (
            -- CONCAT_WS, not '||': the Spark side's concat_ws skips NULL
            -- parts, so half-missing rows still get a (degenerate)
            -- blocking key instead of a NULL one
            SELECT doc_id, n_chars,
                   CONCAT_WS('|', STRING_SPLIT(text, ' ')[1],
                             CAST(LEN(STRING_SPLIT(text, ' ')) AS VARCHAR),
                             lang) AS match_key
            FROM documents
        ),
        ranked AS (
            SELECT doc_id, match_key,
                   ROW_NUMBER() OVER (
                       PARTITION BY match_key
                       ORDER BY n_chars DESC, doc_id ASC) AS rn,
                   CAST(COUNT(*) OVER (PARTITION BY match_key) AS BIGINT)
                       AS cluster_size
            FROM keyed
        )
        SELECT cluster_size,
               CAST(COUNT(DISTINCT match_key) AS BIGINT) AS n_clusters,
               CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_survivors,
               CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_retired
        FROM ranked
        GROUP BY cluster_size
    """,
    tags=("workload", "dedup", "mdm"),
)
def workload_survivorship(spark: SparkSession, sf: str) -> DataFrame:
    """Survivorship (golden-record selection) — the step AFTER match/
    dedup that MDM pipelines actually ship: within each match cluster
    (blocking key = first token | token count | lang, standing in for
    ``llm_dedup_clusters``' connected components), elect one canonical
    record by an explicit rule stack (most content wins, doc_id breaks
    ties) and retire the rest. One rank window per cluster — Spark
    pushes the rn=1 survivor filter as a window-group-limit when only
    survivors are kept; here both sides of the verdict are reported as
    a cluster-size histogram (survivors + retired = corpus, your
    conservation check). The rule stack being DECLARED in ORDER BY is
    the point: survivorship must be deterministic and auditable."""
    d = load_table(spark, sf, "documents")
    toks = F.split("text", " ")
    keyed = d.select(
        "doc_id", "n_chars",
        F.concat_ws(
            "|", toks[0], F.size(toks).cast("string"), F.col("lang")
        ).alias("match_key"),
    )
    wr = W.partitionBy("match_key").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    wc = W.partitionBy("match_key")
    ranked = keyed.select(
        "match_key",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wc).cast("bigint").alias("cluster_size"),
    )
    return ranked.groupBy("cluster_size").agg(
        F.countDistinct("match_key").cast("bigint").alias("n_clusters"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_survivors"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_retired"),
    )


@query(
    "workload_ledger_reconciliation",
    oracle=f"""
        WITH line_totals AS (
            SELECT l_orderkey,
                   CAST(FLOOR({sql_dsum('l_extendedprice')} * 100.0 + 0.5)
                        AS BIGINT) AS lines_cents,
                   CAST(COUNT(*) AS BIGINT) AS n_lines
            FROM lineitem GROUP BY l_orderkey
        ),
        recon AS (
            SELECT o.o_orderkey,
                   CAST(FLOOR(o.o_totalprice * 100.0 + 0.5) AS BIGINT)
                       AS header_cents,
                   COALESCE(l.lines_cents, 0) AS lines_cents,
                   l.l_orderkey IS NULL AS headless
            FROM orders o LEFT JOIN line_totals l
              ON o.o_orderkey = l.l_orderkey
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CASE WHEN headless THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_orders_without_lines,
               CAST(SUM(CASE WHEN NOT headless
                              AND header_cents = lines_cents
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_match,
               CAST(SUM(CASE WHEN NOT headless
                              AND header_cents <> lines_cents
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
               CAST(SUM(header_cents - lines_cents) AS BIGINT)
                   AS net_drift_cents,
               CAST(SUM(ABS(header_cents - lines_cents)) AS BIGINT)
                   AS gross_drift_cents
        FROM recon
    """,
    tags=("workload", "finance", "data-quality"),
)
def workload_ledger_reconciliation(spark: SparkSession, sf: str) -> DataFrame:
    """Header-vs-detail ledger reconciliation: every order's header
    total against the exact-cents sum of its lines, reporting exact
    matches, mismatches, headless orders, and both NET drift (signed —
    offsetting errors hide here) and GROSS drift (absolute — the audit
    number; net ≈ 0 with gross ≫ 0 is the classic sign of systematic
    compensating errors, not cleanliness). All money flows through the
    integer-cents path so 'match' means match, not within-epsilon. One
    fact-side aggregate + one left join keyed on orderkey — the shape
    of every control-totals job; at 100 TB the join is the co-
    partitioned kind bucketing makes shuffle-free
    (``join_bucketed_colocated``)."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    line_totals = li.groupBy("l_orderkey").agg(
        F.floor(dsum(F.col("l_extendedprice")) * 100.0 + 0.5)
        .cast("bigint")
        .alias("lines_cents"),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
    )
    recon = o.join(
        line_totals, o["o_orderkey"] == line_totals["l_orderkey"], "left"
    ).select(
        F.floor(F.col("o_totalprice") * 100.0 + 0.5)
        .cast("bigint")
        .alias("header_cents"),
        F.coalesce(F.col("lines_cents"), F.lit(0)).alias("lines_cents"),
        F.col("l_orderkey").isNull().alias("headless"),
    )
    match = (~F.col("headless")) & (
        F.col("header_cents") == F.col("lines_cents")
    )
    mismatch = (~F.col("headless")) & (
        F.col("header_cents") != F.col("lines_cents")
    )
    return recon.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.when(F.col("headless"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_orders_without_lines"),
        F.sum(F.when(match, 1).otherwise(0)).cast("bigint").alias(
            "n_exact_match"
        ),
        F.sum(F.when(mismatch, 1).otherwise(0)).cast("bigint").alias(
            "n_mismatch"
        ),
        F.sum(F.col("header_cents") - F.col("lines_cents"))
        .cast("bigint")
        .alias("net_drift_cents"),
        F.sum(F.abs(F.col("header_cents") - F.col("lines_cents")))
        .cast("bigint")
        .alias("gross_drift_cents"),
    )


@query(
    "workload_seasonal_index",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(FLOOR({sql_dsum('value')} * 100.0 + 0.5) AS BIGINT)
                       AS y
            FROM events GROUP BY 1
        ),
        ma AS (
            SELECT day, y,
                   CASE WHEN COUNT(*) OVER w = 7
                        THEN CAST(SUM(y) OVER w AS DOUBLE) / 7.0 END AS m7
            FROM daily
            WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING
                         AND 3 FOLLOWING)
        ),
        ratios AS (
            SELECT dayofweek(day) + 1 AS dow, y / m7 AS ratio
            FROM ma WHERE m7 IS NOT NULL
        ),
        raw_idx AS (
            SELECT dow,
                   CAST(COUNT(*) AS BIGINT) AS n_obs,
                   {sql_davg('ratio')} AS raw_index
            FROM ratios GROUP BY dow
        ),
        norm AS (
            SELECT {sql_davg('raw_index')} AS grand FROM raw_idx
        )
        SELECT r.dow, r.n_obs,
               {sql_round4('r.raw_index')} AS raw_index,
               {sql_round4('r.raw_index / n.grand')} AS seasonal_index
        FROM raw_idx r CROSS JOIN norm n
    """,
    tags=("workload", "timeseries", "seasonality"),
)
def workload_seasonal_index(spark: SparkSession, sf: str) -> DataFrame:
    """Classical ratio-to-moving-average seasonal indices: detrend each
    day by its CENTERED 7-day moving average (full windows only — the
    half-window edges would bias the ratio), average the ratios per
    day-of-week, normalize so the indices mean 1. This is the textbook
    multiplicative-decomposition step — index 1.15 reads directly as
    'Mondays run 15% above trend' — where ``workload_seasonality_dow``
    compares raw DOW means (confounded by any trend). The centered
    window and the day grain keep all sequential work on the reduced
    series; ratios and indices are single float expressions off exact
    cents."""
    e = load_table(spark, sf, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.floor(dsum(F.col("value")) * 100.0 + 0.5).cast("bigint").alias("y")
    )
    w7 = W.orderBy("day").rowsBetween(-3, 3)
    ma = daily.select(
        "day", "y",
        F.when(
            F.count(F.lit(1)).over(w7) == 7,
            F.sum("y").over(w7).cast("double") / 7.0,
        ).alias("m7"),
    ).filter(F.col("m7").isNotNull())
    ratios = ma.select(
        F.dayofweek("day").alias("dow"),
        (F.col("y") / F.col("m7")).alias("ratio"),
    )
    raw_idx = ratios.groupBy("dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        davg(F.col("ratio")).alias("raw_index"),
    )
    norm = raw_idx.agg(davg(F.col("raw_index")).alias("grand"))
    return raw_idx.crossJoin(F.broadcast(norm)).select(
        "dow", "n_obs",
        round4(F.col("raw_index")).alias("raw_index"),
        round4(F.col("raw_index") / F.col("grand")).alias("seasonal_index"),
    )


@query(
    "sql_execute_immediate",
    oracle=f"""
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n,
               {sql_dsum('o_totalprice')} AS revenue
        FROM orders
        WHERE o_orderstatus = 'O' AND o_totalprice > 100000.0
        GROUP BY o_orderpriority
    """,
    tags=("sql", "dynamic"),
)
def sql_execute_immediate(spark: SparkSession, sf: str) -> DataFrame:
    """Dynamic SQL done safely: ``EXECUTE IMMEDIATE ... USING`` (Spark
    4) runs a query TEMPLATE with bound parameter markers — the
    injection-proof form of the string-concatenation dynamic SQL every
    BI layer eventually grows. Bound here: a status filter and a price
    floor against a template built once. The plan compiled is identical
    to the static query (the oracle), parameters reach Catalyst as
    literals AFTER parse, so pushdown still sees them — dynamic
    dispatch costs nothing at execution. Complements
    ``sql_named_parameters`` (spark.sql kwargs) and ``sql_variables``
    (session vars): three binding surfaces, one semantics."""
    o = load_table(spark, sf, "orders")
    o.createOrReplaceTempView("_ei_orders")
    return spark.sql(
        """
        EXECUTE IMMEDIATE
          'SELECT o_orderpriority,
                  CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,8))) AS DOUBLE)
                      AS revenue
           FROM _ei_orders
           WHERE o_orderstatus = ? AND o_totalprice > ?
           GROUP BY o_orderpriority'
          USING 'O', 100000.0D
        """
    )


@query(
    "workload_metric_driver_tree",
    oracle=f"""
        WITH halves AS (
            SELECT CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                        THEN 'H1' ELSE 'H2' END AS half,
                   user_id, event_id, value, event_type
            FROM events
        ),
        m AS (
            SELECT half,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users,
                   CAST(COUNT(*) FILTER (WHERE event_type = 'purchase')
                        AS BIGINT) AS purchases,
                   CAST(CAST(SUM(CAST(value AS DECIMAL(38,8)))
                             FILTER (WHERE event_type = 'purchase')
                             AS VARCHAR) AS DOUBLE) AS revenue
            FROM halves GROUP BY half
        ),
        w AS (
            SELECT
                MAX(CASE WHEN half = 'H1' THEN users END) AS u1,
                MAX(CASE WHEN half = 'H1' THEN purchases END) AS p1,
                MAX(CASE WHEN half = 'H1' THEN revenue END) AS r1,
                MAX(CASE WHEN half = 'H2' THEN users END) AS u2,
                MAX(CASE WHEN half = 'H2' THEN purchases END) AS p2,
                MAX(CASE WHEN half = 'H2' THEN revenue END) AS r2
            FROM m
        )
        SELECT {sql_round4('LN(CAST(r2 AS DOUBLE) / r1)')} AS dlog_revenue,
               {sql_round4('LN(CAST(u2 AS DOUBLE) / u1)')} AS dlog_users,
               {sql_round4(
                   'LN((CAST(p2 AS DOUBLE) / u2) / (CAST(p1 AS DOUBLE) / u1))'
               )} AS dlog_freq,
               {sql_round4(
                   'LN((r2 / p2) / (r1 / p1))'
               )} AS dlog_aov,
               {sql_round4(
                   'LN(CAST(r2 AS DOUBLE) / r1) - LN(CAST(u2 AS DOUBLE) / u1)'
                   ' - LN((CAST(p2 AS DOUBLE) / u2) / (CAST(p1 AS DOUBLE) / u1))'
                   ' - LN((r2 / p2) / (r1 / p1))'
               )} AS decomposition_gap
        FROM w
    """,
    tags=("workload", "product", "growth"),
)
def workload_metric_driver_tree(spark: SparkSession, sf: str) -> DataFrame:
    """Multiplicative metric-driver tree: revenue ≡ users × (purchases/
    user) × (revenue/purchase), so Δlog revenue decomposes EXACTLY into
    Δlog users + Δlog frequency + Δlog AOV between the month's halves —
    the growth-accounting answer to 'revenue is down 8%: acquisition,
    engagement, or pricing?'. Log differences make the attribution
    additive and order-free (the percent-change version leaves
    interaction residue; here the decomposition_gap column proves the
    identity holds to rounding). One grouped pass for the three-metric
    pair, a 2-row pivot, five closed-form cells. This is the
    ``workload_sales_mix_variance`` idea applied down a metric tree
    instead of across a mix."""
    e = load_table(spark, sf, "events")
    halves = e.select(
        F.when(F.col("ts").cast("date") < F.lit("2024-01-16").cast("date"), "H1")
        .otherwise("H2")
        .alias("half"),
        "user_id", "value", "event_type",
    )
    m = halves.groupBy("half").agg(
        F.countDistinct("user_id").cast("bigint").alias("users"),
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .cast("bigint")
        .alias("purchases"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value").cast(DEC))
        )
        .cast("double")
        .alias("revenue"),
    )
    is1 = F.when(F.col("half") == "H1", 1).otherwise(0)
    w = m.agg(
        F.max(F.when(is1 == 1, F.col("users"))).alias("u1"),
        F.max(F.when(is1 == 1, F.col("purchases"))).alias("p1"),
        F.max(F.when(is1 == 1, F.col("revenue"))).alias("r1"),
        F.max(F.when(is1 == 0, F.col("users"))).alias("u2"),
        F.max(F.when(is1 == 0, F.col("purchases"))).alias("p2"),
        F.max(F.when(is1 == 0, F.col("revenue"))).alias("r2"),
    )
    u1, p1, r1 = F.col("u1"), F.col("p1"), F.col("r1")
    u2, p2, r2 = F.col("u2"), F.col("p2"), F.col("r2")
    # try_divide throughout: a half with zero purchases makes the freq/AOV
    # ratios 0/0 — the decomposition is undefined there (NULL), matching
    # DuckDB's NULL-on-zero-division (unistr hazard fixture rotated every
    # event_type away from 'purchase')
    dlog_rev = F.log(F.try_divide(r2, r1))
    dlog_users = F.log(F.try_divide(u2.cast("double"), u1))
    dlog_freq = F.log(
        F.try_divide(
            F.try_divide(p2.cast("double"), u2),
            F.try_divide(p1.cast("double"), u1),
        )
    )
    dlog_aov = F.log(F.try_divide(F.try_divide(r2, p2), F.try_divide(r1, p1)))
    return w.select(
        round4(dlog_rev).alias("dlog_revenue"),
        round4(dlog_users).alias("dlog_users"),
        round4(dlog_freq).alias("dlog_freq"),
        round4(dlog_aov).alias("dlog_aov"),
        round4(dlog_rev - dlog_users - dlog_freq - dlog_aov).alias(
            "decomposition_gap"
        ),
    )


@query(
    "workload_lorenz_deciles",
    oracle=f"""
        WITH rev AS (
            SELECT o_custkey,
                   {sql_dsum('o_totalprice')} AS r
            FROM orders GROUP BY o_custkey
        ),
        ranked AS (
            SELECT r,
                   NTILE(10) OVER (ORDER BY r ASC, o_custkey ASC) AS decile
            FROM rev
        ),
        by_dec AS (
            SELECT decile,
                   CAST(COUNT(*) AS BIGINT) AS n_customers,
                   {sql_dsum('r')} AS rev
            FROM ranked GROUP BY decile
        )
        SELECT decile, n_customers,
               {sql_round4('rev')} AS decile_revenue,
               {sql_round4(
                   'CAST(CAST(SUM(CAST(rev AS DECIMAL(38,8))) OVER '
                   '(ORDER BY decile) AS VARCHAR) AS DOUBLE)'
                   ' / CAST(CAST(SUM(CAST(rev AS DECIMAL(38,8))) OVER () '
                   'AS VARCHAR) AS DOUBLE)'
               )} AS cum_revenue_share
        FROM by_dec
    """,
    tags=("workload", "stats", "concentration"),
)
def workload_lorenz_deciles(spark: SparkSession, sf: str) -> DataFrame:
    """Lorenz curve at decile resolution: customers ranked by revenue
    into NTILE(10) buckets, cumulative revenue share per decile — the
    table behind 'the top 10% of customers drive X% of revenue', and
    the curve whose area doubles into ``workload_gini``'s coefficient
    (decile 10's share minus 10% is the top-decile concentration
    headline). NTILE's total order (revenue + custkey) keeps bucket
    assignment engine-identical; the cumulative share is a 10-row
    window over decimal-exact decile sums. Customer-grain reduction
    first, as always — the ranking never touches raw orders."""
    o = load_table(spark, sf, "orders")
    rev = o.groupBy("o_custkey").agg(dsum(F.col("o_totalprice")).alias("r"))
    ranked = rev.select(
        "r",
        F.ntile(10)
        .over(W.orderBy(F.col("r").asc(), F.col("o_custkey").asc()))
        .alias("decile"),
    )
    by_dec = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        dsum(F.col("r")).alias("rev"),
    )
    wc = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    wall = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return by_dec.select(
        "decile", "n_customers",
        round4(F.col("rev")).alias("decile_revenue"),
        round4(
            F.sum(F.col("rev").cast(DEC)).over(wc).cast("double")
            / F.sum(F.col("rev").cast(DEC)).over(wall).cast("double")
        ).alias("cum_revenue_share"),
    )


@query(
    "workload_net_revenue_retention",
    oracle=f"""
        WITH cohorts AS (
            SELECT o_custkey,
                   MIN(date_part('year', o_orderdate)) AS cohort_year
            FROM orders GROUP BY o_custkey
        ),
        rev AS (
            SELECT c.cohort_year,
                   date_part('year', o.o_orderdate) AS rev_year,
                   {sql_dsum('o.o_totalprice')} AS revenue
            FROM orders o JOIN cohorts c ON o.o_custkey = c.o_custkey
            GROUP BY 1, 2
        ),
        paired AS (
            SELECT a.cohort_year,
                   a.rev_year,
                   a.revenue,
                   b.revenue AS prev_revenue
            FROM rev a JOIN rev b
              ON a.cohort_year = b.cohort_year
             AND a.rev_year = b.rev_year + 1
            WHERE a.rev_year <= a.cohort_year + 3
        )
        SELECT CAST(cohort_year AS BIGINT) AS cohort_year,
               CAST(rev_year AS BIGINT) AS rev_year,
               {sql_round4('revenue')} AS revenue,
               {sql_round4('revenue / prev_revenue')} AS nrr
        FROM paired
    """,
    tags=("workload", "saas", "retention"),
)
def workload_net_revenue_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Net revenue retention by acquisition cohort: each cohort's
    year-over-year revenue ratio for its first three renewal years —
    the SaaS metric that separates 'growing by new logos' from
    'growing inside the base' (NRR > 1 means expansion outruns churn
    with zero acquisition). Cohort assignment is one min-aggregate,
    cohort×year revenue one grouped pass, and NRR a self-join on
    adjacent years of the TINY cohort-year frame — the fact table is
    touched twice total regardless of scale. The first-3-years cap
    keeps the output a stable parallelogram instead of a ragged
    triangle (``workload_cohort_retention`` shows the full triangle
    for counts)."""
    o = load_table(spark, sf, "orders")
    cohorts = o.groupBy("o_custkey").agg(
        F.min(F.year("o_orderdate")).alias("cohort_year")
    )
    rev = (
        o.join(cohorts, "o_custkey")
        .groupBy("cohort_year", F.year("o_orderdate").alias("rev_year"))
        .agg(dsum(F.col("o_totalprice")).alias("revenue"))
    )
    a = rev.select(
        "cohort_year", "rev_year", "revenue"
    )
    b = rev.select(
        F.col("cohort_year").alias("b_cy"),
        F.col("rev_year").alias("b_ry"),
        F.col("revenue").alias("prev_revenue"),
    )
    paired = a.join(
        b,
        (a["cohort_year"] == b["b_cy"]) & (a["rev_year"] == b["b_ry"] + 1),
    ).filter(F.col("rev_year") <= F.col("cohort_year") + 3)
    return paired.select(
        F.col("cohort_year").cast("bigint").alias("cohort_year"),
        F.col("rev_year").cast("bigint").alias("rev_year"),
        round4(F.col("revenue")).alias("revenue"),
        round4(F.col("revenue") / F.col("prev_revenue")).alias("nrr"),
    )


@knn_twins(
    "llm_hubness",
    f"""
        kocc AS (
            SELECT nv.vec_id,
                   CAST(COALESCE(t.cnt, 0) AS BIGINT) AS k_occ
            FROM nv LEFT JOIN (
                SELECT v, COUNT(*) AS cnt FROM topk GROUP BY v
            ) t ON nv.vec_id = t.v
        ),
        s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   {sql_dsum('CAST(k_occ AS DOUBLE)')} AS s1,
                   {sql_dsum('CAST(k_occ AS DOUBLE) * k_occ')} AS s2,
                   {sql_dsum('CAST(k_occ AS DOUBLE) * k_occ * k_occ')} AS s3,
                   CAST(MAX(k_occ) AS BIGINT) AS max_k_occ,
                   CAST(SUM(CASE WHEN k_occ = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_antihubs
            FROM kocc
        )
        SELECT n AS n_vecs, max_k_occ, n_antihubs,
               {sql_round4('s1 / n')} AS mean_k_occ,
               {sql_round4(
                   '(s3 / n - 3.0 * (s1 / n) * (s2 / n)'
                   ' + 2.0 * POWER(s1 / n, 3))'
                   ' / POWER(s2 / n - POWER(s1 / n, 2), 1.5)'
               )} AS k_occ_skewness
        FROM s
    """,
    ("llm", "embedding", "audit", "graph"),
)
def llm_hubness(spark: SparkSession, sf: str, src: EdgeSource) -> DataFrame:
    """Hubness audit of the 5-NN cosine graph: the k-occurrence
    distribution (how many points count ME among their 5 nearest) and
    its skewness — THE high-dimensional ANN pathology (Radovanović
    2010): as dimension grows, a few 'hub' points appear in everyone's
    neighbor lists while 'antihubs' appear in none, silently wrecking
    retrieval diversity and kNN classification. Mean k-occurrence is
    exactly k=5 by conservation (a built-in sanity row); the SKEW is
    the signal — near 0 benign, ≫1 says apply the centering this
    corpus's ``llm_embedding_isotropy`` motivates. Directed top-k lists
    come from the shared cached pair table; moments from power sums."""
    topk = src.top5(spark, sf).select("v")
    em = load_table(spark, sf, "embeddings").select("vec_id")
    cnt = topk.groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))
    kocc = em.join(cnt, em["vec_id"] == cnt["v"], "left").select(
        F.coalesce(F.col("cnt"), F.lit(0)).cast("bigint").alias("k_occ")
    )
    x = F.col("k_occ").cast("double")
    s = kocc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        dsum(x).alias("s1"),
        dsum(x * x).alias("s2"),
        dsum(x * x * x).alias("s3"),
        F.max("k_occ").cast("bigint").alias("max_k_occ"),
        F.sum(F.when(F.col("k_occ") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_antihubs"),
    )
    n = F.col("n")
    m1, m2, m3 = F.col("s1") / n, F.col("s2") / n, F.col("s3") / n
    skew = F.try_divide(
        m3 - 3.0 * m1 * m2 + 2.0 * F.pow(m1, 3),
        F.pow(m2 - F.pow(m1, 2), 1.5),
    )
    return s.select(
        n.alias("n_vecs"),
        "max_k_occ",
        "n_antihubs",
        round4(m1).alias("mean_k_occ"),
        round4(skew).alias("k_occ_skewness"),
    )


@query(
    "llm_rocchio_centroid",
    oracle=f"""
        WITH ex AS (
            SELECT vec_id, label,
                   GENERATE_SUBSCRIPTS(embedding, 1) AS dim,
                   CAST(UNNEST(embedding) AS DOUBLE) AS val
            FROM embeddings
        ),
        cent AS (
            SELECT label AS c_label, dim,
                   {sql_davg('val')} AS cval
            FROM ex GROUP BY label, dim
        ),
        cent_arr AS (
            SELECT c_label, list(cval ORDER BY dim) AS centroid
            FROM cent GROUP BY c_label
        ),
        scored AS (
            SELECT e.vec_id, e.label, c.c_label,
                   {sql_dot('e.embedding', 'c.centroid')}
                       / SQRT({sql_dot('c.centroid', 'c.centroid')}) AS score
            FROM embeddings e CROSS JOIN cent_arr c
        ),
        best AS (
            SELECT vec_id, label, c_label,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY score DESC, c_label ASC)
                       AS rn
            FROM scored
        )
        SELECT label,
               CAST(COUNT(*) AS BIGINT) AS n_vecs,
               CAST(SUM(CASE WHEN c_label = label THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_correct,
               {sql_round4(
                   'CAST(SUM(CASE WHEN c_label = label THEN 1 ELSE 0 END)'
                   ' AS DOUBLE) / COUNT(*)'
               )} AS accuracy
        FROM best WHERE rn = 1
        GROUP BY label
    """,
    tags=("llm", "embedding", "ml"),
)
def llm_rocchio_centroid(spark: SparkSession, sf: str) -> DataFrame:
    """Rocchio nearest-centroid classification of the embedding corpus:
    per-label centroids (64 per-dim means, one posexplode aggregate),
    then every vector scored against all 10 centroids by normalized dot
    product and assigned to the best — per-label accuracy out. The
    centroid classifier is the 10-vector broadcast alternative to
    ``ml_knn_classifier``'s O(n²) neighbor voting: at 100 TB the
    centroid table is bytes while the kNN pair pass is the budget, and
    centroid accuracy CLOSE to kNN accuracy is the green light for the
    cheap path (this is also exactly IVF's coarse quantizer —
    ``llm_ann_ivf`` reuses these centroids as its cell list). In-sample
    by design; the parity-split variant is one filter away."""
    em = load_table(spark, sf, "embeddings")
    ex = em.select(
        "label",
        F.posexplode("embedding").alias("dim0", "val0"),
    ).select(
        "label",
        (F.col("dim0") + 1).alias("dim"),
        F.col("val0").cast("double").alias("val"),
    )
    cent = ex.groupBy(F.col("label").alias("c_label"), "dim").agg(
        davg(F.col("val")).alias("cval")
    )
    cent_arr = cent.groupBy("c_label").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("dim", "cval"))),
            lambda s: s["cval"],
        ).alias("centroid")
    )
    from datapipelines_python_spark.operators.llm import dot

    scored = em.crossJoin(F.broadcast(cent_arr)).select(
        "vec_id", "label", "c_label",
        (
            dot("embedding", "centroid")
            / F.sqrt(dot("centroid", "centroid"))
        ).alias("score"),
    )
    best = scored.select(
        "vec_id", "label", "c_label",
        F.row_number()
        .over(
            W.partitionBy("vec_id").orderBy(
                F.col("score").desc(), F.col("c_label").asc()
            )
        )
        .alias("rn"),
    ).filter(F.col("rn") == 1)
    return best.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum(F.when(F.col("c_label") == F.col("label"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_correct"),
        round4(
            F.sum(
                F.when(F.col("c_label") == F.col("label"), 1).otherwise(0)
            ).cast("double")
            / F.count(F.lit(1))
        ).alias("accuracy"),
    )


@query(
    "workload_eoq",
    oracle=f"""
        WITH demand AS (
            SELECT p.p_brand,
                   {sql_dsum('l.l_quantity')} / 7.0 AS annual_demand,
                   {sql_davg('p.p_retailprice')} AS avg_unit_cost
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            GROUP BY p.p_brand
        )
        SELECT p_brand,
               {sql_round4('annual_demand')} AS annual_demand,
               {sql_round4('avg_unit_cost')} AS avg_unit_cost,
               {sql_round4(
                   'SQRT(2.0 * annual_demand * 75.0'
                   ' / (0.2 * avg_unit_cost))'
               )} AS eoq_units,
               {sql_round4(
                   'annual_demand / SQRT(2.0 * annual_demand * 75.0'
                   ' / (0.2 * avg_unit_cost))'
               )} AS orders_per_year
        FROM demand
    """,
    tags=("workload", "inventory", "ops"),
)
def workload_eoq(spark: SparkSession, sf: str) -> DataFrame:
    """Economic order quantity per brand: EOQ = √(2DS/H) with annual
    demand D from the 7-year fact history, fixed ordering cost S=$75,
    and holding cost H = 20% of the brand's average unit price — the
    1913 Harris square-root law that still sets batch sizes, plus the
    implied order frequency D/EOQ. Completes the inventory closed-form
    trio: ``workload_reorder_point`` answers WHEN to order,
    ``workload_newsvendor`` HOW MUCH for one perishable period, EOQ how
    much per batch under steady demand. One brand-grain aggregate off
    the part join; everything after is scalar arithmetic."""
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part").select(
        "p_partkey", "p_brand", "p_retailprice"
    )
    demand = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand")
        .agg(
            (dsum(F.col("l_quantity")) / 7.0).alias("annual_demand"),
            davg(F.col("p_retailprice")).alias("avg_unit_cost"),
        )
    )
    eoq = F.sqrt(
        2.0 * F.col("annual_demand") * 75.0 / (0.2 * F.col("avg_unit_cost"))
    )
    return demand.select(
        "p_brand",
        round4(F.col("annual_demand")).alias("annual_demand"),
        round4(F.col("avg_unit_cost")).alias("avg_unit_cost"),
        round4(eoq).alias("eoq_units"),
        round4(F.col("annual_demand") / eoq).alias("orders_per_year"),
    )


@query(
    "ml_youden_j",
    oracle=f"""
        WITH scored AS (
            SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS y,
                   value AS score
            FROM events
            WHERE event_type IN ('purchase', 'view')
        ),
        pos AS (
            SELECT CAST(SUM(y) AS BIGINT) AS n_pos,
                   CAST(SUM(1 - y) AS BIGINT) AS n_neg
            FROM scored
        ),
        cand AS (
            SELECT t.thr,
                   CAST(SUM(CASE WHEN s.score >= t.thr AND s.y = 1
                                 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                   CAST(SUM(CASE WHEN s.score >= t.thr AND s.y = 0
                                 THEN 1 ELSE 0 END) AS BIGINT) AS fp
            FROM scored s
            CROSS JOIN (VALUES (10.0), (20.0), (30.0), (40.0), (50.0),
                               (60.0), (70.0), (80.0), (90.0)) t(thr)
            GROUP BY t.thr
        )
        SELECT CAST(c.thr AS DOUBLE) AS threshold,
               {sql_round4('CAST(c.tp AS DOUBLE) / p.n_pos')} AS tpr,
               {sql_round4('CAST(c.fp AS DOUBLE) / p.n_neg')} AS fpr,
               {sql_round4(
                   'CAST(c.tp AS DOUBLE) / p.n_pos'
                   ' - CAST(c.fp AS DOUBLE) / p.n_neg'
               )} AS youden_j
        FROM cand c CROSS JOIN pos p
    """,
    tags=("ml", "eval", "threshold"),
)
def ml_youden_j(spark: SparkSession, sf: str) -> DataFrame:
    """Operating-point selection by Youden's J = TPR − FPR over nine
    candidate thresholds of the value score (purchase vs view as the
    label): the table a deployment review actually needs — ``ml_auc_roc``
    summarizes the whole curve, but a shipped classifier runs at ONE
    threshold, and J marks the one that maximizes informedness (the
    equal-cost choice; reweight the difference for asymmetric costs).
    All nine thresholds share a single scan: the candidate list is a
    9-row broadcast cross join and each (tp, fp) pair is a conditional
    count — the sweep costs one aggregate at any scale, same pattern
    as ``workload_session_gap_sweep``."""
    e = load_table(spark, sf, "events")
    scored = e.filter(F.col("event_type").isin("purchase", "view")).select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        F.col("value").alias("score"),
    )
    pos = scored.agg(
        F.sum("y").cast("bigint").alias("n_pos"),
        F.sum(1 - F.col("y")).cast("bigint").alias("n_neg"),
    )
    thrs = spark.createDataFrame(
        [(float(t),) for t in range(10, 100, 10)], "thr double"
    )
    cand = (
        scored.crossJoin(F.broadcast(thrs))
        .groupBy("thr")
        .agg(
            F.sum(
                F.when((F.col("score") >= F.col("thr")) & (F.col("y") == 1), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("tp"),
            F.sum(
                F.when((F.col("score") >= F.col("thr")) & (F.col("y") == 0), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("fp"),
        )
    )
    j = cand.crossJoin(F.broadcast(pos))
    tpr = F.col("tp").cast("double") / F.col("n_pos")
    fpr = F.col("fp").cast("double") / F.col("n_neg")
    return j.select(
        F.col("thr").alias("threshold"),
        round4(tpr).alias("tpr"),
        round4(fpr).alias("fpr"),
        round4(tpr - fpr).alias("youden_j"),
    )


@query(
    "workload_daily_kpi_report",
    oracle=f"""
        WITH base AS (
            SELECT CAST(ts AS DATE) AS day, user_id, event_type, value
            FROM events
        ),
        first_seen AS (
            SELECT user_id, MIN(day) AS d0 FROM base GROUP BY user_id
        )
        SELECT b.day,
               CAST(COUNT(DISTINCT b.user_id) AS BIGINT) AS dau,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(FLOOR(CAST(CAST(SUM(CAST(b.value AS DECIMAL(38,8)))
                    FILTER (WHERE b.event_type = 'purchase') AS VARCHAR)
                    AS DOUBLE) * 100.0 + 0.5) AS BIGINT) AS revenue_cents,
               {sql_round4(
                   'CAST(COUNT(*) FILTER (WHERE b.event_type = '
                   "'purchase') AS DOUBLE)"
                   " / NULLIF(COUNT(*) FILTER (WHERE b.event_type = 'view'),"
                   ' 0)'
               )} AS purchase_per_view,
               CAST(COUNT(DISTINCT CASE WHEN f.d0 = b.day
                                        THEN b.user_id END) AS BIGINT)
                   AS new_users,
               CAST(COUNT(*) FILTER (WHERE b.event_type = 'error')
                    AS BIGINT) AS n_errors
        FROM base b JOIN first_seen f ON b.user_id = f.user_id
        GROUP BY b.day
    """,
    tags=("workload", "reporting", "composite"),
)
def workload_daily_kpi_report(spark: SparkSession, sf: str) -> DataFrame:
    """The executive daily KPI row — DAU, event volume, purchase
    revenue, purchase-per-view conversion, NEW users (first-ever-seen
    that day), and error count — produced by ONE grouped pass plus a
    broadcast first-seen table, not six dashboard queries re-scanning
    the facts (conditional aggregation is the whole trick: FILTER
    clauses share the scan and the shuffle). The division guard
    (NULLIF) pins zero-view-day semantics identically on both engines.
    At 100 TB this exact plan, partitioned by day at the source, is
    the nightly report job — and ``workload_incremental_rollup`` shows
    how yesterday's rows avoid recomputation."""
    e = load_table(spark, sf, "events")
    base = e.select(
        F.col("ts").cast("date").alias("day"), "user_id", "event_type", "value"
    )
    first_seen = base.groupBy("user_id").agg(F.min("day").alias("d0"))
    j = base.join(F.broadcast(first_seen), "user_id")
    is_p = F.col("event_type") == "purchase"
    return j.groupBy("day").agg(
        F.countDistinct("user_id").cast("bigint").alias("dau"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.floor(
            F.sum(F.when(is_p, F.col("value").cast(DEC))).cast("double")
            * 100.0
            + 0.5
        )
        .cast("bigint")
        .alias("revenue_cents"),
        round4(
            F.count(F.when(is_p, 1)).cast("double")
            / F.nullif(
                F.count(F.when(F.col("event_type") == "view", 1)), F.lit(0)
            )
        ).alias("purchase_per_view"),
        F.countDistinct(
            F.when(F.col("d0") == F.col("day"), F.col("user_id"))
        )
        .cast("bigint")
        .alias("new_users"),
        F.count(F.when(F.col("event_type") == "error", 1))
        .cast("bigint")
        .alias("n_errors"),
    )


@query(
    "workload_growth_accounting",
    oracle="""
        WITH du AS (
            SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
        ),
        first_seen AS (
            SELECT user_id, MIN(day) AS d0 FROM du GROUP BY user_id
        ),
        days AS (SELECT DISTINCT day FROM du),
        flags AS (
            SELECT t.day, t.user_id,
                   f.d0 = t.day AS is_new,
                   y.user_id IS NOT NULL AS active_yesterday
            FROM du t
            JOIN first_seen f ON t.user_id = f.user_id
            LEFT JOIN du y
              ON y.user_id = t.user_id AND y.day = t.day - 1
        ),
        churn AS (
            SELECT y.day + 1 AS day,
                   CAST(COUNT(*) AS BIGINT) AS churned
            FROM du y
            LEFT JOIN du t
              ON t.user_id = y.user_id AND t.day = y.day + 1
            WHERE t.user_id IS NULL
            GROUP BY y.day + 1
        )
        SELECT f.day,
               CAST(SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT)
                   AS new_users,
               CAST(SUM(CASE WHEN NOT is_new AND active_yesterday
                             THEN 1 ELSE 0 END) AS BIGINT) AS retained,
               CAST(SUM(CASE WHEN NOT is_new AND NOT active_yesterday
                             THEN 1 ELSE 0 END) AS BIGINT) AS resurrected,
               CAST(COALESCE(MIN(c.churned), 0) AS BIGINT) AS churned
        FROM flags f LEFT JOIN churn c ON f.day = c.day
        GROUP BY f.day
    """,
    tags=("workload", "product", "growth"),
)
def workload_growth_accounting(spark: SparkSession, sf: str) -> DataFrame:
    """Daily growth accounting — every active user classified as NEW
    (first day ever), RETAINED (also active yesterday) or RESURRECTED
    (returning after a gap), plus yesterday's actives who went silent
    (CHURNED) — the conservation-law decomposition DAU(t) = new +
    retained + resurrected, with ΔDAU = new + resurrected − churned
    (the product-growth ledger; 'quick ratio' is (new+resurrected)/
    churned read off these columns). Built from the distinct (day,
    user) incidence with one self-join at lag-1 day and a broadcast
    first-seen table — at 100 TB both join sides are the REDUCED
    incidence list, co-partitioned on user."""
    e = load_table(spark, sf, "events")
    du = e.select(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).distinct()
    first_seen = du.groupBy("user_id").agg(F.min("day").alias("d0"))
    y = du.select(
        F.col("user_id").alias("y_uid"), F.col("day").alias("y_day")
    )
    flags = (
        du.join(F.broadcast(first_seen), "user_id")
        .join(
            y,
            (F.col("y_uid") == F.col("user_id"))
            & (F.col("y_day") == F.date_sub(F.col("day"), 1)),
            "left",
        )
        .select(
            "day",
            (F.col("d0") == F.col("day")).alias("is_new"),
            F.col("y_uid").isNotNull().alias("active_yesterday"),
        )
    )
    t = du.select(
        F.col("user_id").alias("t_uid"), F.col("day").alias("t_day")
    )
    churn = (
        du.join(
            t,
            (F.col("t_uid") == F.col("user_id"))
            & (F.col("t_day") == F.date_add(F.col("day"), 1)),
            "left",
        )
        .filter(F.col("t_uid").isNull())
        .groupBy(F.date_add(F.col("day"), 1).alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("churned"))
    )
    agg = flags.groupBy("day").agg(
        F.sum(F.when(F.col("is_new"), 1).otherwise(0))
        .cast("bigint")
        .alias("new_users"),
        F.sum(
            F.when(~F.col("is_new") & F.col("active_yesterday"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("retained"),
        F.sum(
            F.when(~F.col("is_new") & ~F.col("active_yesterday"), 1).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("resurrected"),
    )
    return agg.join(churn, "day", "left").select(
        "day", "new_users", "retained", "resurrected",
        F.coalesce(F.col("churned"), F.lit(0)).cast("bigint").alias("churned"),
    )


@query(
    "workload_backfill_planner",
    oracle="""
        WITH have AS (
            SELECT DISTINCT CAST(CAST(ts AS DATE) AS VARCHAR) AS day
            FROM events WHERE event_type <> 'error'
        ),
        cal AS (
            SELECT CAST(CAST(DATE '2024-01-01' + INTERVAL (i) DAY AS DATE) AS VARCHAR)
                       AS day
            FROM (SELECT UNNEST(RANGE(0, 35)) AS i)
        )
        SELECT c.day, have.day IS NOT NULL AS present
        FROM cal c LEFT JOIN have ON c.day = have.day
        ORDER BY 1
    """,
    tags=("workload", "ops", "backfill"),
)
def workload_backfill_planner(spark: SparkSession, sf: str) -> DataFrame:
    """Backfill planning: diff a target calendar (35 days from 2024-01-01)
    against the day-partitions actually present for the non-error feed →
    the work-list an orchestrator turns into per-partition backfill jobs.
    The present-set is a distinct over the date-truncated event time (at
    100 TB this reads the partition LISTING, not the data — the exact
    shape `scan_partition_pruned` pins); the calendar is a generated
    sequence (zero-input fan-out), and the diff is a broadcast left join
    of a 35-row frame — nothing here scales with fact size except the
    distinct, which is partition-metadata in a partitioned layout."""
    e = load_table(spark, sf, "events").filter(F.col("event_type") != "error")
    have = e.select(
        F.col("ts").cast("date").cast("string").alias("day")
    ).distinct()
    cal = spark.range(35).select(
        F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int"))
        .cast("string")
        .alias("day")
    )
    return (
        cal.join(have.withColumnRenamed("day", "have_day"),
                 cal.day == F.col("have_day"), "left")
        .select("day", F.col("have_day").isNotNull().alias("present"))
    )


@query(
    "workload_table_checksum",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               -- CONCAT_WS mirrors Spark's concat_ws (skips NULL parts):
               -- half-written rows still checksum instead of NULLing the
               -- whole table fingerprint
               CAST(CAST(SUM(('0x' || SUBSTRING(MD5(CONCAT_WS('|',
                        CAST(o_orderkey AS VARCHAR), o_orderstatus,
                        CAST(o_custkey AS VARCHAR), o_orderpriority)),
                    1, 15))::BIGINT) AS DECIMAL(38,0)) AS VARCHAR) AS content_sum,
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custkeys
        FROM orders
    """,
    tags=("workload", "ops", "integrity"),
)
def workload_table_checksum(spark: SparkSession, sf: str) -> DataFrame:
    """Order-independent table fingerprint: SUM of a per-row content hash
    (md5 of a delimited key projection; the sum accumulates in
    DECIMAL(38,0) — exact and overflow-proof at any row count, emitted as
    a string) + row count + key cardinality. Because SUM
    is commutative the checksum is invariant to partitioning, shuffle
    order, and file layout — the property that lets two clusters (or a
    migration source and target) compare 100 TB tables with one number
    each, no sort, one map-side-combinable pass. The engine/oracle pair
    doubles as a cross-engine md5 conformance check."""
    o = load_table(spark, sf, "orders")
    row_str = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_orderstatus"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderpriority"),
    )
    h = F.conv(F.substring(F.md5(row_str), 1, 15), 16, 10).cast("bigint")
    return o.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(h.cast("decimal(38,0)")).cast("string").alias("content_sum"),
        F.count_distinct(F.col("o_custkey")).cast("bigint").alias("n_custkeys"),
    )


@query(
    "workload_quarantine_split",
    oracle="""
        WITH flagged AS (
            SELECT event_id, value,
                   CASE WHEN value IS NULL OR ISNAN(value) THEN 'null_value'
                        WHEN value < 0 THEN 'negative_value'
                        WHEN value > 900 THEN 'outlier_value'
                        WHEN event_type NOT IN
                             ('click','view','purchase','signup','error')
                            THEN 'unknown_type'
                        ELSE 'clean' END AS reason
            FROM events
        )
        SELECT reason,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(MIN(event_id) AS BIGINT) AS first_event,
               CAST(MAX(event_id) AS BIGINT) AS last_event
        FROM flagged
        GROUP BY reason
    """,
    tags=("workload", "ops", "quality"),
)
def workload_quarantine_split(spark: SparkSession, sf: str) -> DataFrame:
    """Validation gate with quarantine routing: every row gets exactly one
    reason code (first failing rule wins — the deterministic policy that
    makes quarantine counts reconcilable) and the op reports per-reason
    volume + an event-id range for triage. In production the same single
    pass writes two sinks (clean → table, rest → quarantine with reason)
    via partitionBy(reason) — one scan, no re-validation; the CASE chain
    is whole-stage-codegen'd and costs nothing beyond the scan."""
    e = load_table(spark, sf, "events")
    reason = (
        F.when(F.col("value").isNull() | F.isnan("value"), "null_value")
        .when(F.col("value") < 0, "negative_value")
        .when(F.col("value") > 900, "outlier_value")
        .when(
            ~F.col("event_type").isin("click", "view", "purchase", "signup", "error"),
            "unknown_type",
        )
        .otherwise("clean")
    )
    return (
        e.select("event_id", reason.alias("reason"))
        .groupBy("reason")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("event_id").cast("bigint").alias("first_event"),
            F.max("event_id").cast("bigint").alias("last_event"),
        )
    )


@query(
    "workload_sequence_pattern",
    oracle=f"""
        WITH seq AS (
            SELECT user_id,
                   STRING_AGG(CASE event_type WHEN 'view' THEN 'v'
                                   WHEN 'click' THEN 'c'
                                   WHEN 'purchase' THEN 'p'
                                   WHEN 'signup' THEN 's'
                                   ELSE 'e' END, ''
                              ORDER BY ts, event_id) AS s
            FROM events
            GROUP BY user_id
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(CASE WHEN regexp_matches(s, 'v.*c.*p') THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_view_click_purchase,
               CAST(SUM(CASE WHEN regexp_matches(s, 'vc*p') THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_strict_funnel,
               CAST(SUM(CASE WHEN regexp_matches(s, 'p.*e') THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_purchase_then_error,
               CAST(SUM(CASE WHEN NOT regexp_matches(s, 'p') THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_never_purchased,
               {sql_round4("CAST(SUM(CASE WHEN regexp_matches(s, 'v.*c.*p') THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)")}
                   AS vcp_rate
        FROM seq
    """,
    tags=("workload", "sequence", "pattern"),
)
def workload_sequence_pattern(spark: SparkSession, sf: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequential pattern detection, relationally:
    each user's ordered event history is collapsed to a one-char-per-event
    symbol string (collect_list over a (ts, event_id)-ordered window →
    deterministic), and row-pattern queries become plain REGEXES on that
    string — subsequence funnels (``v.*c.*p``), strict adjacency
    (``vc*p``), negative patterns (never purchased). This is the standard
    Spark answer to SQL:2016 row-pattern matching (which Spark lacks):
    one shuffle by user, then per-user strings scanned by the JVM regex
    engine — no iterative joins, no UDAF state machine. At 100 TB the
    symbol string is bounded by events-per-user (cap with slice() for
    pathological actors); patterns stay POSIX-portable so the oracle
    replays them verbatim."""
    e = load_table(spark, sf, "events")
    sym = (
        F.when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "purchase", "p")
        .when(F.col("event_type") == "signup", "s")
        .otherwise("e")
    )
    # one ordered string per user in O(k): collect (ts, event_id, sym)
    # structs, sort array-locally, project the symbols — the repo's
    # standard ordered-collect shape (a cumulative window would carry
    # O(k²) prefix strings through the shuffle)
    seq = (
        e.select("user_id", F.struct("ts", "event_id", sym.alias("sym")).alias("ev"))
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list("ev")), lambda x: x["sym"]), ""
            ).alias("s")
        )
    )
    hit = lambda pat: F.sum(F.when(F.col("s").rlike(pat), 1).otherwise(0)).cast("bigint")  # noqa: E731
    return seq.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        hit("v.*c.*p").alias("n_view_click_purchase"),
        hit("vc*p").alias("n_strict_funnel"),
        hit("p.*e").alias("n_purchase_then_error"),
        F.sum(F.when(~F.col("s").rlike("p"), 1).otherwise(0)).cast("bigint")
        .alias("n_never_purchased"),
        round4(hit("v.*c.*p").cast("double") / F.count(F.lit(1))).alias("vcp_rate"),
    )


@query(
    "workload_ip_cidr_rollup",
    oracle="""
        WITH ips AS (
            SELECT event_id,
                   ('0x' || SUBSTRING(MD5(CAST(user_id AS VARCHAR) || ':ip'), 1, 8))::BIGINT
                       % 4294967296 AS ip,
                   value
            FROM events
        ),
        tagged AS (
            SELECT event_id, ip, value,
                   ip // 16777216 AS oct1,
                   ip // 65536 AS net16,
                   CASE WHEN ip // 16777216 = 10 THEN 'private_10'
                        WHEN ip // 16777216 = 127 THEN 'loopback'
                        WHEN ip // 1048576 = 2753 THEN 'private_172_16'
                        WHEN ip // 65536 = 49320 THEN 'private_192_168'
                        ELSE 'public' END AS ip_class
            FROM ips
        )
        SELECT ip_class,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(DISTINCT ip) AS BIGINT) AS n_ips,
               CAST(COUNT(DISTINCT net16) AS BIGINT) AS n_slash16,
               CAST(MIN(oct1) AS BIGINT) AS min_oct1,
               CAST(MAX(oct1) AS BIGINT) AS max_oct1
        FROM tagged
        GROUP BY ip_class
    """,
    tags=("workload", "network"),
)
def workload_ip_cidr_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Network-telemetry rollup: synthetic IPv4 addresses (md5-derived
    32-bit ints per user, replayed by the oracle) are classified into
    CIDR ranges with pure integer division — /8, /12 and /16 prefixes are
    ``ip div 2^(32-prefix)`` (10.0.0.0/8 → oct1=10; 172.16.0.0/12 →
    ip div 2^20 = 2753; 192.168.0.0/16 → ip div 2^16 = 49320) — then
    aggregated per class with event and distinct-prefix counts. All
    integer-exact, zero string parsing in the hot path (the classic trap
    is regex-splitting dotted quads per row); the prefix arithmetic is
    what lets 100 TB of flow logs group by network with plain
    map-side-combinable aggregates."""
    e = load_table(spark, sf, "events")
    ip = (
        F.conv(
            F.substring(F.md5(F.concat(F.col("user_id").cast("string"), F.lit(":ip"))), 1, 8),
            16, 10,
        ).cast("bigint")
        % F.lit(4294967296)
    )
    t = e.select("event_id", ip.alias("ip"), "value").select(
        "event_id", "ip", "value",
        (F.col("ip") / 16777216).cast("bigint").alias("oct1"),
        (F.col("ip") / 65536).cast("bigint").alias("net16"),
        # /12 prefix = ip div 2^(32-12) = 2^20; 172.16.0.0 -> 2753
        (F.col("ip") / 1048576).cast("bigint").alias("slash12"),
    )
    ip_class = (
        F.when(F.col("oct1") == 10, "private_10")
        .when(F.col("oct1") == 127, "loopback")
        .when(F.col("slash12") == 2753, "private_172_16")
        .when(F.col("net16") == 49320, "private_192_168")
        .otherwise("public")
    )
    return (
        t.select("event_id", "ip", "oct1", "net16", ip_class.alias("ip_class"))
        .groupBy("ip_class")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.count_distinct("ip").cast("bigint").alias("n_ips"),
            F.count_distinct("net16").cast("bigint").alias("n_slash16"),
            F.min("oct1").cast("bigint").alias("min_oct1"),
            F.max("oct1").cast("bigint").alias("max_oct1"),
        )
    )


@query(
    "workload_macd_signal",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                   CAST(CAST(SUM(CAST(value AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE)
                       AS close
            FROM events GROUP BY 1
        ),
        idx AS (
            SELECT day, close,
                   CAST(ROW_NUMBER() OVER (ORDER BY day) - 1 AS BIGINT) AS i
            FROM daily
        ),
        ema AS (
            SELECT day, i, close,
                   SUM(close * POW(11.0/13.0, -i)) OVER w * POW(11.0/13.0, i)
                     / (SUM(POW(11.0/13.0, -i)) OVER w * POW(11.0/13.0, i)) AS ema12,
                   SUM(close * POW(25.0/27.0, -i)) OVER w * POW(25.0/27.0, i)
                     / (SUM(POW(25.0/27.0, -i)) OVER w * POW(25.0/27.0, i)) AS ema26
            FROM idx
            WINDOW w AS (ORDER BY i ROWS UNBOUNDED PRECEDING)
        ),
        macd AS (SELECT day, i, ema12 - ema26 AS macd FROM ema),
        sig AS (
            SELECT day, i, macd,
                   SUM(macd * POW(0.8, -i)) OVER w * POW(0.8, i)
                     / (SUM(POW(0.8, -i)) OVER w * POW(0.8, i)) AS signal
            FROM macd
            WINDOW w AS (ORDER BY i ROWS UNBOUNDED PRECEDING)
        )
        SELECT day,
               {sql_round4('macd')} AS macd,
               {sql_round4('signal')} AS signal,
               {sql_round4('macd - signal')} AS histogram,
               macd > signal AS bullish
        FROM sig
    """,
    tags=("workload", "timeseries", "finance"),
)
def workload_macd_signal(spark: SparkSession, sf: str) -> DataFrame:
    """MACD (EMA12 − EMA26) + EMA9 signal line + histogram over the daily
    revenue series — the adjust=True EMA computed EXACTLY in closed form:
    EMA_i = Σ_j x_j·r^(i-j) / Σ_j r^(i-j) rewritten as cumulative sums of
    x_j·r^(−j) rescaled by r^i, so one ordered window produces the whole
    recursive series with no recursion and no UDF. The r^(−j) rescaling is
    numerically safe at day grain (r^(−35) ≈ 2e2); for year-long series
    chunk the index or switch to the truncated-lag form
    (``workload_ewma_smoothing``). Day-grain input means the global window
    rides a ~30-row frame — the windows-after-aggregation discipline."""
    e = load_table(spark, sf, "events")
    daily = e.groupBy(F.col("ts").cast("date").cast("string").alias("day")).agg(
        dsum(F.col("value")).alias("close")
    )
    idx = daily.withColumn(
        "i", (F.row_number().over(W.orderBy("day")) - 1).cast("bigint")
    )
    wcum = W.orderBy("i").rowsBetween(W.unboundedPreceding, W.currentRow)

    def ema(col, r):
        num = F.sum(col * F.pow(F.lit(r), -F.col("i"))).over(wcum) * F.pow(F.lit(r), F.col("i"))
        den = F.sum(F.pow(F.lit(r), -F.col("i"))).over(wcum) * F.pow(F.lit(r), F.col("i"))
        return num / den

    macd_df = idx.select(
        "day", "i", (ema(F.col("close"), 11.0 / 13.0) - ema(F.col("close"), 25.0 / 27.0)).alias("macd")
    )
    sig = macd_df.select(
        "day", "macd", ema(F.col("macd"), 0.8).alias("signal")
    )
    return sig.select(
        "day",
        round4(F.col("macd")).alias("macd"),
        round4(F.col("signal")).alias("signal"),
        round4(F.col("macd") - F.col("signal")).alias("histogram"),
        (F.col("macd") > F.col("signal")).alias("bullish"),
    )


@query(
    "workload_sharpe_sortino",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(CAST(SUM(CAST(value AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE)
                       AS close
            FROM events GROUP BY 1
        ),
        rets AS (
            SELECT close / LAG(close) OVER (ORDER BY day) - 1.0 AS r
            FROM daily
        ),
        s AS (
            SELECT CAST(COUNT(r) AS BIGINT) AS n,
                   AVG(r) AS mu,
                   STDDEV_SAMP(r) AS sd,
                   SQRT(AVG(POW(LEAST(r, 0.0), 2))) AS downside
            FROM rets WHERE r IS NOT NULL
        )
        SELECT n,
               {sql_round4('mu')} AS mean_daily_return,
               {sql_round4('sd')} AS sd_daily,
               {sql_round4('downside')} AS downside_dev,
               {sql_round4('mu / sd * SQRT(365.0)')} AS sharpe_annual,
               {sql_round4('CASE WHEN downside = 0 THEN 0.0 ELSE mu / downside * SQRT(365.0) END')}
                   AS sortino_annual
        FROM s
    """,
    tags=("workload", "finance", "risk"),
)
def workload_sharpe_sortino(spark: SparkSession, sf: str) -> DataFrame:
    """Annualized Sharpe and Sortino ratios of the daily revenue-return
    series: one day-grain aggregation, one lag for simple returns, then
    four scalar aggregates (mean, sample SD, downside deviation = RMS of
    negative returns, n). Sortino guards the zero-downside case (a
    monotone series) to 0 rather than a division error — the same
    empty-marginal discipline as ``ml_mcc_fbeta``. Everything after the
    first aggregation runs on ~30 rows; the risk surface of a 100 TB
    event store costs exactly one scan."""
    e = load_table(spark, sf, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        dsum(F.col("value")).alias("close")
    )
    rets = daily.select(
        (F.col("close") / F.lag("close").over(W.orderBy("day")) - 1.0).alias("r")
    ).filter(F.col("r").isNotNull())
    s = rets.agg(
        F.count("r").cast("bigint").alias("n"),
        F.avg("r").alias("mu"),
        F.stddev_samp("r").alias("sd"),
        F.sqrt(F.avg(F.pow(F.least(F.col("r"), F.lit(0.0)), 2))).alias("downside"),
    )
    mu, sd, dn = F.col("mu"), F.col("sd"), F.col("downside")
    return s.select(
        "n",
        round4(mu).alias("mean_daily_return"),
        round4(sd).alias("sd_daily"),
        round4(dn).alias("downside_dev"),
        round4(mu / sd * F.sqrt(F.lit(365.0))).alias("sharpe_annual"),
        round4(
            F.when(dn == 0, F.lit(0.0)).otherwise(mu / dn * F.sqrt(F.lit(365.0)))
        ).alias("sortino_annual"),
    )


@query(
    "workload_cross_correlation",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(CAST(SUM(CASE WHEN event_type = 'view'
                                      THEN CAST(value AS DECIMAL(38,8))
                                      ELSE CAST(0 AS DECIMAL(38,8)) END)
                        AS VARCHAR) AS DOUBLE) AS x,
                   CAST(CAST(SUM(CASE WHEN event_type = 'purchase'
                                      THEN CAST(value AS DECIMAL(38,8))
                                      ELSE CAST(0 AS DECIMAL(38,8)) END)
                        AS VARCHAR) AS DOUBLE) AS y
            FROM events GROUP BY 1
        ),
        c AS (
            SELECT x, y,
                   AVG(x) OVER () AS mx, AVG(y) OVER () AS my,
                   ROW_NUMBER() OVER (ORDER BY day) AS i
            FROM daily
        ),
        lagged AS (
            SELECT k.k,
                   (a.x - a.mx) * (c.y - c.my) AS num_term,
                   (a.x - a.mx) * (a.x - a.mx) AS denx_term,
                   (c.y - c.my) * (c.y - c.my) AS deny_term
            FROM c
            CROSS JOIN (SELECT UNNEST(RANGE(-7, 8)) AS k) k
            JOIN c a ON a.i = c.i - k.k
        )
        SELECT CAST(k AS INT) AS lag_days,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               {sql_round4('SUM(num_term) / SQRT(SUM(denx_term) * SUM(deny_term))')}
                   AS xcorr
        FROM lagged
        GROUP BY k
    """,
    tags=("workload", "timeseries", "causal"),
)
def workload_cross_correlation(spark: SparkSession, sf: str) -> DataFrame:
    """Lead-lag cross-correlation between the daily view-value and
    purchase-value series at lags −7..+7: positive-lag peaks say views
    LEAD purchases by that many days — the first causal-direction probe
    before anything heavier (Granger, adstock fitting: its sibling
    ``workload_adstock`` assumes the lag this op measures). Shape: one
    scan → two-column day grain, then a broadcast 15-row lag fan-out
    joined on shifted day index — all windows and joins ride ~30-row
    frames. Per-lag normalization uses only the overlapping pairs, so
    edge lags aren't biased toward zero."""
    e = load_table(spark, sf, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        dsum(F.when(F.col("event_type") == "view", F.col("value")).otherwise(F.lit(0.0))).alias("x"),
        dsum(F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(F.lit(0.0))).alias("y"),
    )
    wall = W.partitionBy()
    c = daily.select(
        "x", "y",
        F.avg("x").over(wall).alias("mx"),
        F.avg("y").over(wall).alias("my"),
        F.row_number().over(W.orderBy("day")).alias("i"),
    )
    ks = spark.range(-7, 8).select(F.col("id").cast("bigint").alias("k"))
    a = c.select(
        F.col("i").alias("ai"), (F.col("x") - F.col("mx")).alias("ax")
    )
    lagged = (
        c.crossJoin(F.broadcast(ks))
        .join(a, F.col("ai") == F.col("i") - F.col("k"))
        .select(
            "k",
            (F.col("ax") * (F.col("y") - F.col("my"))).alias("num_term"),
            (F.col("ax") * F.col("ax")).alias("denx_term"),
            ((F.col("y") - F.col("my")) * (F.col("y") - F.col("my"))).alias("deny_term"),
        )
    )
    return lagged.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        round4(
            F.try_divide(
                F.sum("num_term"),
                F.sqrt(F.sum("denx_term") * F.sum("deny_term")),
            )
        ).alias("xcorr"),
    ).select(F.col("k").cast("int").alias("lag_days"), "n_pairs", "xcorr")


@query(
    "workload_granger_causality",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(CAST(SUM(CASE WHEN event_type = 'view'
                                      THEN CAST(value AS DECIMAL(38,8))
                                      ELSE CAST(0 AS DECIMAL(38,8)) END)
                        AS VARCHAR) AS DOUBLE) AS x,
                   CAST(CAST(SUM(CASE WHEN event_type = 'purchase'
                                      THEN CAST(value AS DECIMAL(38,8))
                                      ELSE CAST(0 AS DECIMAL(38,8)) END)
                        AS VARCHAR) AS DOUBLE) AS y
            FROM events GROUP BY 1
        ),
        l AS (
            SELECT y AS z,
                   LAG(y) OVER (ORDER BY day) AS a,
                   LAG(x) OVER (ORDER BY day) AS b
            FROM daily
        ),
        o AS (SELECT * FROM l WHERE a IS NOT NULL AND b IS NOT NULL),
        cen AS (
            SELECT z - AVG(z) OVER () AS cz,
                   a - AVG(a) OVER () AS ca,
                   b - AVG(b) OVER () AS cb,
                   CAST(COUNT(*) OVER () AS BIGINT) AS n
            FROM o
        ),
        s AS (
            SELECT MAX(n) AS n,
                   SUM(ca * ca) AS saa, SUM(cb * cb) AS sbb, SUM(ca * cb) AS sab,
                   SUM(cz * ca) AS sza, SUM(cz * cb) AS szb, SUM(cz * cz) AS szz
            FROM cen
        ),
        fit AS (
            SELECT n, szz - sza * sza / saa AS ssr_r,
                   szz - ((sza * sbb - szb * sab) / (saa * sbb - sab * sab)) * sza
                       - ((szb * saa - sza * sab) / (saa * sbb - sab * sab)) * szb
                       AS ssr_u
            FROM s
        )
        SELECT n,
               {sql_round4('ssr_r')} AS ssr_restricted,
               {sql_round4('ssr_u')} AS ssr_unrestricted,
               {sql_round4('(ssr_r - ssr_u) * (n - 3) / ssr_u')} AS f_stat,
               (ssr_r - ssr_u) * (n - 3) / ssr_u > 4.2 AS x_granger_causes_y
        FROM fit
    """,
    tags=("workload", "timeseries", "causal"),
)
def workload_granger_causality(spark: SparkSession, sf: str) -> DataFrame:
    """Granger causality (1 lag) of daily view-value → purchase-value,
    fully closed-form: restricted model y_t ~ y_{t−1} vs unrestricted
    y_t ~ y_{t−1} + x_{t−1}, both solved from six centered second-moment
    sums (2×2 normal equations by Cramer's rule — no solver, no
    iteration), F = (SSR_r − SSR_u)(n−3)/SSR_u with the F(1, n−3) ≈ 4.2
    5% critical value inlined as the verdict bit. The follow-up to
    ``workload_cross_correlation``'s lead-lag scan: correlation at
    positive lag suggests, Granger's nested-model F formalizes. One scan
    to day grain; all regression algebra runs on one 6-number row."""
    e = load_table(spark, sf, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        dsum(F.when(F.col("event_type") == "view", F.col("value")).otherwise(F.lit(0.0))).alias("x"),
        dsum(F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(F.lit(0.0))).alias("y"),
    )
    wd = W.orderBy("day")
    o = daily.select(
        F.col("y").alias("z"), F.lag("y").over(wd).alias("a"), F.lag("x").over(wd).alias("b")
    ).filter(F.col("a").isNotNull() & F.col("b").isNotNull())
    wall = W.partitionBy()
    cen = o.select(
        (F.col("z") - F.avg("z").over(wall)).alias("cz"),
        (F.col("a") - F.avg("a").over(wall)).alias("ca"),
        (F.col("b") - F.avg("b").over(wall)).alias("cb"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("n"),
    )
    s = cen.agg(
        F.max("n").alias("n"),
        F.sum(F.col("ca") * F.col("ca")).alias("saa"),
        F.sum(F.col("cb") * F.col("cb")).alias("sbb"),
        F.sum(F.col("ca") * F.col("cb")).alias("sab"),
        F.sum(F.col("cz") * F.col("ca")).alias("sza"),
        F.sum(F.col("cz") * F.col("cb")).alias("szb"),
        F.sum(F.col("cz") * F.col("cz")).alias("szz"),
    )
    n = F.col("n")
    saa, sbb, sab = F.col("saa"), F.col("sbb"), F.col("sab")
    sza, szb, szz = F.col("sza"), F.col("szb"), F.col("szz")
    det = saa * sbb - sab * sab
    # try_divide: a constant regressor (e.g. every event_type rotated off
    # 'view'/'purchase' — unistr hazard fixture) makes the normal-equation
    # determinant 0; the fit is undefined (NULL), matching DuckDB's
    # NULL-on-zero-division
    b1 = F.try_divide(sza * sbb - szb * sab, det)
    b2 = F.try_divide(szb * saa - sza * sab, det)
    ssr_r = szz - F.try_divide(sza * sza, saa)
    ssr_u = szz - b1 * sza - b2 * szb
    f_stat = F.try_divide((ssr_r - ssr_u) * (n - 3), ssr_u)
    return s.select(
        "n",
        round4(ssr_r).alias("ssr_restricted"),
        round4(ssr_u).alias("ssr_unrestricted"),
        round4(f_stat).alias("f_stat"),
        (f_stat > 4.2).alias("x_granger_causes_y"),
    )


_MANIFEST_KEYS = (
    ("region", "r_regionkey"), ("nation", "n_nationkey"),
    ("customer", "c_custkey"), ("supplier", "s_suppkey"),
    ("part", "p_partkey"), ("orders", "o_orderkey"),
    ("lineitem", "l_orderkey"), ("events", "event_id"),
    ("documents", "doc_id"), ("embeddings", "vec_id"),
)


@query(
    "workload_warehouse_manifest",
    oracle="""
        {}
    """.format(
        "\nUNION ALL\n".join(
            f"SELECT '{t}' AS table_name, CAST(COUNT(*) AS BIGINT) AS n_rows,"
            f" CAST(COUNT(DISTINCT {k}) AS BIGINT) AS n_distinct_key,"
            f" CAST(MIN({k}) AS BIGINT) AS key_min,"
            f" CAST(MAX({k}) AS BIGINT) AS key_max FROM {t}"
            for t, k in _MANIFEST_KEYS
        )
    ),
    tags=("workload", "ops", "integrity"),
)
def workload_warehouse_manifest(spark: SparkSession, sf: str) -> DataFrame:
    """One-row-per-table warehouse manifest: rowcount, key cardinality and
    key range for every fixture table in a single frame — the snapshot a
    migration or replication job compares source-vs-target before anything
    value-level (``workload_table_checksum`` is the next, deeper gear).
    Ten independent scans union into one result; each is a
    map-side-combinable aggregate, so the whole manifest of a 100 TB
    warehouse is one pass over each table with no shuffle beyond ten
    singleton reductions — and Spark runs the ten scans CONCURRENTLY
    under one action since the union is one plan."""
    frames = []
    for t, k in _MANIFEST_KEYS:
        df = load_table(spark, sf, t)
        frames.append(
            df.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.count_distinct(F.col(k)).cast("bigint").alias("n_distinct_key"),
                F.min(k).cast("bigint").alias("key_min"),
                F.max(k).cast("bigint").alias("key_max"),
            ).select(F.lit(t).alias("table_name"), "*")
        )
    out = frames[0]
    for f_ in frames[1:]:
        out = out.unionByName(f_)
    return out


@query(
    "workload_l_diversity",
    oracle="""
        WITH sens AS (
            SELECT c_mktsegment, c_nationkey,
                   CASE WHEN c_acctbal < 0 THEN 'debt'
                        WHEN c_acctbal < 5000 THEN 'low' ELSE 'high' END AS s
            FROM customer
        ),
        groups AS (
            SELECT c_mktsegment, c_nationkey,
                   CAST(COUNT(*) AS BIGINT) AS group_size,
                   CAST(COUNT(DISTINCT s) AS BIGINT) AS l
            FROM sens GROUP BY 1, 2
        )
        SELECT l,
               CAST(COUNT(*) AS BIGINT) AS n_groups,
               CAST(MIN(group_size) AS BIGINT) AS min_group,
               CAST(MAX(group_size) AS BIGINT) AS max_group
        FROM groups
        GROUP BY l
    """,
    tags=("workload", "privacy"),
)
def workload_l_diversity(spark: SparkSession, sf: str) -> DataFrame:
    """ℓ-diversity audit — the attribute-disclosure companion to
    ``workload_k_anonymity``: within each quasi-identifier group
    (segment × nation), count DISTINCT sensitive values (account-balance
    class). k-anonymity alone leaves a group of 50 identical-sensitive
    rows fully disclosed; any group with l = 1 here is exactly that leak.
    Output is the l histogram with group-size bounds — the release gate
    reads 'no l = 1 rows' before publishing. Two grouped aggregates,
    map-side-combinable, one scan."""
    c = load_table(spark, sf, "customer")
    s = (
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
    )
    groups = (
        c.select("c_mktsegment", "c_nationkey", s.alias("s"))
        .groupBy("c_mktsegment", "c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("group_size"),
            F.count_distinct("s").cast("bigint").alias("l"),
        )
    )
    return groups.groupBy("l").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.min("group_size").cast("bigint").alias("min_group"),
        F.max("group_size").cast("bigint").alias("max_group"),
    )


@query(
    "workload_item_item_cf",
    oracle=f"""
        WITH inter AS (
            SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS i
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE l.l_partkey % 5 = 0
        ),
        freq AS (
            SELECT i, CAST(COUNT(*) AS BIGINT) AS n FROM inter GROUP BY i
        ),
        co AS (
            SELECT a.i AS i, b.i AS j, CAST(COUNT(*) AS BIGINT) AS c
            FROM inter a JOIN inter b ON a.u = b.u AND a.i <> b.i
            GROUP BY a.i, b.i
        ),
        scored AS (
            SELECT co.i, co.j, co.c,
                   co.c / SQRT(CAST(fi.n AS DOUBLE) * fj.n) AS sim
            FROM co
            JOIN freq fi ON fi.i = co.i
            JOIN freq fj ON fj.i = co.j
        )
        SELECT i, j, c AS n_co,
               {sql_round4('sim')} AS cosine_sim,
               CAST(rnk AS INT) AS rnk
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY i ORDER BY sim DESC, j) AS rnk
            FROM scored
        ) r WHERE rnk <= 3
    """,
    tags=("workload", "recsys"),
)
def workload_item_item_cf(spark: SparkSession, sf: str) -> DataFrame:
    """Item-item collaborative filtering on REAL purchase baskets
    (customer × part interactions from orders ⋈ lineitem, 20% catalog
    shard): co-occurrence counts normalized to cosine
    c_ij/√(n_i·n_j), top-3 neighbors per item — the precompute behind
    'customers also bought'. The pair stage self-joins on customer
    (Σ basket² work, the same block economics as
    ``workload_basket_affinity``'s order-level lift — different unit,
    different normalization: lift finds surprising pairs, cosine finds
    substitutable/co-preferred ones). At 100 TB the standard mitigations
    apply verbatim: cap basket size (a 10k-item account is a bot, not a
    signal) and shard the catalog exactly as the %5 predicate does."""
    li = load_table(spark, sf, "lineitem").filter(F.col("l_partkey") % 5 == 0)
    o = load_table(spark, sf, "orders")
    # One u-keyed exchange serves the whole pair stage (guide §2.4):
    # HashPartitioning(u) satisfies the (u, i) distinct clustering AND
    # both self-join sides' u clustering, so the interaction build, the
    # dedup and the Σ basket² co-occurrence join all run off this single
    # fan-out of the serial fixture scan (exact no-op on a parallel
    # layout, where the planner's own exchanges return). Sized from the
    # rows that reach it: the %5 catalog shard keeps a fifth of lineitem.
    inter = (
        spread(
            li.join(o, li.l_orderkey == o.o_orderkey)
            .select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("i")),
            "u", sf=sf, table="lineitem", cost="join_chain", weight=0.2,
        )
        .distinct()
    )
    freq = inter.groupBy("i").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    co = (
        inter.alias("a")
        .join(inter.alias("b"), (F.col("a.u") == F.col("b.u")) & (F.col("a.i") != F.col("b.i")))
        .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("j"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    scored = (
        co.join(freq.select(F.col("i"), F.col("n").alias("ni")), "i")
        .join(freq.select(F.col("i").alias("j"), F.col("n").alias("nj")), "j")
        .select(
            "i", "j", "c",
            (F.col("c") / F.sqrt(F.col("ni").cast("double") * F.col("nj"))).alias("sim"),
        )
    )
    wr = W.partitionBy("i").orderBy(F.desc("sim"), F.asc("j"))
    return (
        scored.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= 3)
        .select("i", "j", F.col("c").alias("n_co"), round4(F.col("sim")).alias("cosine_sim"),
                F.col("rnk").cast("int").alias("rnk"))
    )


@query(
    "workload_diff_in_diff",
    oracle=f"""
        WITH cells AS (
            SELECT CAST(('0x' || SUBSTRING(MD5(CAST(user_id AS VARCHAR) || ':did'), 1, 8))::BIGINT
                        % 2 AS INT) AS treated,
                   CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END
                       AS post,
                   CAST(value AS DOUBLE) AS v
            FROM events
            -- Spark's isnan(NULL) is FALSE (NULL rows survive
            -- ~isnan); DuckDB's ISNAN(NULL) is NULL — keep NULLs
            WHERE value IS NULL OR NOT ISNAN(value)
        ),
        s AS (
            SELECT treated, post,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(CAST(SUM(CAST(v AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE)
                       / COUNT(*) AS mu,
                   VAR_SAMP(v) AS s2
            FROM cells GROUP BY treated, post
        ),
        wide AS (
            SELECT
                MAX(CASE WHEN treated = 1 AND post = 1 THEN mu END) AS t1,
                MAX(CASE WHEN treated = 1 AND post = 0 THEN mu END) AS t0,
                MAX(CASE WHEN treated = 0 AND post = 1 THEN mu END) AS c1,
                MAX(CASE WHEN treated = 0 AND post = 0 THEN mu END) AS c0,
                MAX(CASE WHEN treated = 1 AND post = 1 THEN s2 / n END) AS v11,
                MAX(CASE WHEN treated = 1 AND post = 0 THEN s2 / n END) AS v10,
                MAX(CASE WHEN treated = 0 AND post = 1 THEN s2 / n END) AS v01,
                MAX(CASE WHEN treated = 0 AND post = 0 THEN s2 / n END) AS v00,
                CAST(SUM(n) AS BIGINT) AS n_total
            FROM s
        )
        SELECT n_total,
               {sql_round4('t1 - t0')} AS delta_treated,
               {sql_round4('c1 - c0')} AS delta_control,
               {sql_round4('(t1 - t0) - (c1 - c0)')} AS did_estimate,
               {sql_round4('SQRT(v11 + v10 + v01 + v00)')} AS did_se,
               ABS((t1 - t0) - (c1 - c0)) > 1.96 * SQRT(v11 + v10 + v01 + v00)
                   AS significant_95
        FROM wide
    """,
    tags=("workload", "experimentation", "causal"),
)
def workload_diff_in_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Difference-in-differences: hash-assigned treatment (deterministic
    md5 bucket — same discipline as ``workload_ab_test``) × pre/post
    2024-01-16 split → four cell means, DiD = (T_post−T_pre) −
    (C_post−C_pre), with the four-cell variance sum as its standard
    error and the 1.96 verdict bit. The panel-data answer to 'the
    treatment launched mid-window and seasonality moved everyone': the
    control delta absorbs the common time shock the single-period A/B
    test can't see. One scan → four cells; everything after is algebra
    on one row (cell means decimal-exact, variances engine-replayed)."""
    e = load_table(spark, sf, "events").filter(~F.isnan("value"))
    treated = (
        F.conv(F.substring(F.md5(F.concat(F.col("user_id").cast("string"), F.lit(":did"))), 1, 8), 16, 10)
        .cast("bigint") % 2
    ).cast("int")
    post = (F.col("ts") >= F.lit("2024-01-16 00:00:00").cast("timestamp")).cast("int")
    cells = e.select(treated.alias("treated"), post.alias("post"), F.col("value").cast("double").alias("v"))
    s = cells.groupBy("treated", "post").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        davg(F.col("v")).alias("mu"),
        F.var_samp("v").alias("s2"),
    )
    def cell(t, p, col):
        return F.max(F.when((F.col("treated") == t) & (F.col("post") == p), F.col(col)))
    wide = s.agg(
        cell(1, 1, "mu").alias("t1"), cell(1, 0, "mu").alias("t0"),
        cell(0, 1, "mu").alias("c1"), cell(0, 0, "mu").alias("c0"),
        F.max(F.when((F.col("treated") == 1) & (F.col("post") == 1), F.col("s2") / F.col("n"))).alias("v11"),
        F.max(F.when((F.col("treated") == 1) & (F.col("post") == 0), F.col("s2") / F.col("n"))).alias("v10"),
        F.max(F.when((F.col("treated") == 0) & (F.col("post") == 1), F.col("s2") / F.col("n"))).alias("v01"),
        F.max(F.when((F.col("treated") == 0) & (F.col("post") == 0), F.col("s2") / F.col("n"))).alias("v00"),
        F.sum("n").cast("bigint").alias("n_total"),
    )
    did = (F.col("t1") - F.col("t0")) - (F.col("c1") - F.col("c0"))
    se = F.sqrt(F.col("v11") + F.col("v10") + F.col("v01") + F.col("v00"))
    return wide.select(
        "n_total",
        round4(F.col("t1") - F.col("t0")).alias("delta_treated"),
        round4(F.col("c1") - F.col("c0")).alias("delta_control"),
        round4(did).alias("did_estimate"),
        round4(se).alias("did_se"),
        (F.abs(did) > 1.96 * se).alias("significant_95"),
    )


@query(
    "sample_neyman_allocation",
    oracle=f"""
        WITH strata AS (
            SELECT c_mktsegment,
                   CAST(COUNT(*) AS BIGINT) AS n_pop,
                   STDDEV_SAMP(c_acctbal) AS sd
            FROM customer GROUP BY c_mktsegment
        ),
        tot AS (
            SELECT SUM(n_pop * sd) AS t, CAST(SUM(n_pop) AS BIGINT) AS n_all
            FROM strata
        )
        SELECT s.c_mktsegment, s.n_pop,
               {sql_round4('s.sd')} AS sd_acctbal,
               {sql_round4('s.n_pop * s.sd / t.t')} AS neyman_share,
               CAST(FLOOR(1000.0 * s.n_pop * s.sd / t.t + 0.5) AS BIGINT)
                   AS n_neyman,
               CAST(FLOOR(1000.0 * s.n_pop / t.n_all + 0.5) AS BIGINT)
                   AS n_proportional
        FROM strata s CROSS JOIN tot t
    """,
    tags=("workload", "sampling", "design"),
)
def sample_neyman_allocation(spark: SparkSession, sf: str) -> DataFrame:
    """Neyman-optimal stratified sample allocation for a 1000-unit budget:
    n_h ∝ N_h·σ_h (big AND noisy strata get more), beside the
    proportional allocation it dominates — the survey-design pass that
    turns ``sample_stratified``'s mechanism into a variance-minimizing
    plan. One grouped aggregate for per-stratum (N_h, σ_h), one broadcast
    scalar for the normalizer; allocations round deterministically with
    the floor(+0.5) trick. At 100 TB the σ_h inputs come from the same
    scan a profiling pass already runs — allocation is free."""
    c = load_table(spark, sf, "customer")
    strata = c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pop"),
        F.stddev_samp("c_acctbal").alias("sd"),
    )
    tot = strata.agg(
        F.sum(F.col("n_pop") * F.col("sd")).alias("t"),
        F.sum("n_pop").cast("bigint").alias("n_all"),
    )
    share = F.try_divide(F.col("n_pop") * F.col("sd"), F.col("t"))
    return strata.crossJoin(F.broadcast(tot)).select(
        "c_mktsegment", "n_pop",
        round4(F.col("sd")).alias("sd_acctbal"),
        round4(share).alias("neyman_share"),
        F.floor(1000.0 * share + 0.5).cast("bigint").alias("n_neyman"),
        F.floor(1000.0 * F.col("n_pop") / F.col("n_all") + 0.5).cast("bigint")
        .alias("n_proportional"),
    )


@query(
    "workload_mix_shift_decompose",
    oracle=f"""
        WITH halves AS (
            SELECT event_type,
                   CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                        THEN 2 ELSE 1 END AS period,
                   CAST(value AS DOUBLE) AS v
            FROM events
            -- Spark's isnan(NULL) is FALSE (NULL rows survive
            -- ~isnan); DuckDB's ISNAN(NULL) is NULL — keep NULLs
            WHERE value IS NULL OR NOT ISNAN(value)
        ),
        seg AS (
            SELECT event_type, period,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(CAST(SUM(CAST(v AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE)
                       / COUNT(*) AS m
            FROM halves GROUP BY event_type, period
        ),
        tot AS (
            SELECT period, CAST(SUM(n) AS BIGINT) AS n_tot
            FROM seg GROUP BY period
        ),
        w AS (
            SELECT s.event_type,
                   MAX(CASE WHEN s.period = 1 THEN CAST(s.n AS DOUBLE) / t.n_tot END) AS w1,
                   MAX(CASE WHEN s.period = 2 THEN CAST(s.n AS DOUBLE) / t.n_tot END) AS w2,
                   MAX(CASE WHEN s.period = 1 THEN s.m END) AS m1,
                   MAX(CASE WHEN s.period = 2 THEN s.m END) AS m2
            FROM seg s JOIN tot t ON s.period = t.period
            GROUP BY s.event_type
        )
        SELECT event_type,
               {sql_round4('w1')} AS share_pre,
               {sql_round4('w2')} AS share_post,
               {sql_round4('m1')} AS mean_pre,
               {sql_round4('m2')} AS mean_post,
               {sql_round4('(w1 + w2) / 2 * (m2 - m1)')} AS within_effect,
               {sql_round4('(w2 - w1) * (m1 + m2) / 2')} AS mix_effect,
               {sql_round4('w2 * m2 - w1 * m1')} AS total_contribution
        FROM w
    """,
    tags=("workload", "decomposition", "bi"),
)
def workload_mix_shift_decompose(spark: SparkSession, sf: str) -> DataFrame:
    """Kitagawa mix-shift decomposition of the overall mean value between
    the two halves of the month: per segment (event type),
    Δcontribution = w̄·Δm (WITHIN effect: the segment's own rate moved) +
    Δw·m̄ (MIX effect: traffic shifted toward/away from the segment),
    using the symmetric midpoint weighting so the two effects sum exactly
    to w₂m₂ − w₁m₁ with no interaction residual. THE answer to 'the
    average moved — did behavior change or did the mix?', and the
    additive sibling of ``workload_metric_driver_tree``'s multiplicative
    Δlog decomposition. One scan → (segment × period) cells; algebra on
    a 5-row frame."""
    e = load_table(spark, sf, "events").filter(~F.isnan("value"))
    period = F.when(
        F.col("ts") >= F.lit("2024-01-16 00:00:00").cast("timestamp"), 2
    ).otherwise(1)
    seg = (
        e.select("event_type", period.alias("period"), F.col("value").cast("double").alias("v"))
        .groupBy("event_type", "period")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"), davg(F.col("v")).alias("m"))
    )
    tot = seg.groupBy("period").agg(F.sum("n").cast("bigint").alias("n_tot"))
    j = seg.join(tot, "period")
    w = j.groupBy("event_type").agg(
        F.max(F.when(F.col("period") == 1, F.col("n").cast("double") / F.col("n_tot"))).alias("w1"),
        F.max(F.when(F.col("period") == 2, F.col("n").cast("double") / F.col("n_tot"))).alias("w2"),
        F.max(F.when(F.col("period") == 1, F.col("m"))).alias("m1"),
        F.max(F.when(F.col("period") == 2, F.col("m"))).alias("m2"),
    )
    w1, w2, m1, m2 = (F.col(c) for c in ("w1", "w2", "m1", "m2"))
    return w.select(
        "event_type",
        round4(w1).alias("share_pre"),
        round4(w2).alias("share_post"),
        round4(m1).alias("mean_pre"),
        round4(m2).alias("mean_post"),
        round4((w1 + w2) / 2 * (m2 - m1)).alias("within_effect"),
        round4((w2 - w1) * (m1 + m2) / 2).alias("mix_effect"),
        round4(w2 * m2 - w1 * m1).alias("total_contribution"),
    )


@query(
    "workload_frequent_triples",
    oracle=f"""
        -- MATERIALIZED is load-bearing (round 7): inlined, DuckDB
        -- re-plans the distinct-basket scan into each of the three
        -- self-join arms and the composed plan runs 513 s at sf0.1;
        -- materialized once it runs 0.8 s, value-identical. This single
        -- member was the entire "~45-minute workload digest oracle".
        WITH basket AS MATERIALIZED (
            SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS b
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        ),
        n_orders AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n FROM basket),
        triples AS (
            SELECT a.b AS b1, c.b AS b2, d.b AS b3,
                   CAST(COUNT(*) AS BIGINT) AS support
            FROM basket a
            JOIN basket c ON a.o = c.o AND a.b < c.b
            JOIN basket d ON a.o = d.o AND c.b < d.b
            GROUP BY a.b, c.b, d.b
        ),
        pairs AS (
            SELECT a.b AS b1, c.b AS b2, CAST(COUNT(*) AS BIGINT) AS pair_support
            FROM basket a JOIN basket c ON a.o = c.o AND a.b < c.b
            GROUP BY a.b, c.b
        )
        SELECT t.b1, t.b2, t.b3, t.support,
               {sql_round4('CAST(t.support AS DOUBLE) / n_orders.n')} AS support_frac,
               {sql_round4('CAST(t.support AS DOUBLE) / p.pair_support')}
                   AS conf_b1b2_to_b3,
               CAST(rnk AS INT) AS rnk
        FROM (
            SELECT *, ROW_NUMBER() OVER (ORDER BY support DESC, b1, b2, b3) AS rnk
            FROM triples
        ) t
        JOIN pairs p ON p.b1 = t.b1 AND p.b2 = t.b2
        CROSS JOIN n_orders
        WHERE rnk <= 20
    """,
    tags=("workload", "mining", "association"),
)
def workload_frequent_triples(spark: SparkSession, sf: str) -> DataFrame:
    """Frequent 3-itemsets over order baskets at brand granularity, with
    the {b1,b2}→b3 rule confidence — association mining one level past
    ``workload_basket_affinity``'s pairs. The shape is a-priori's:
    baskets self-join under the b1<b2<b3 total order (each triple counted
    once, no permutation blowup), the combinatorics bounded by per-order
    basket size (Σ C(k,3) — cap k at scale, same bot-guard as the CF op).
    Brand granularity keeps the lattice dense enough to rank; the top-20
    by support + deterministic tiebreak is the reportable rule set."""
    # spread keyed on l_orderkey: HashPartitioning(o) satisfies the
    # (o, b) distinct clustering and every self-join's o clustering, so
    # the basket build and BOTH mining arms run off this one exchange
    # (guide §2.4) — and the serial fixture scan fans out with it.
    li = spread(
        load_table(spark, sf, "lineitem"), "l_orderkey", sf=sf, table="lineitem",
        cost="join_chain",
    )
    p = load_table(spark, sf, "part")
    basket = (
        li.join(p, li.l_partkey == p.p_partkey)
        .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("b"))
        .distinct()
    )
    n_orders = basket.select(F.count_distinct("o").cast("bigint").alias("n"))
    a, c, d = basket.alias("a"), basket.alias("c"), basket.alias("d")
    triples = (
        a.join(c, (F.col("a.o") == F.col("c.o")) & (F.col("a.b") < F.col("c.b")))
        .join(d, (F.col("a.o") == F.col("d.o")) & (F.col("c.b") < F.col("d.b")))
        .groupBy(F.col("a.b").alias("b1"), F.col("c.b").alias("b2"), F.col("d.b").alias("b3"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
    )
    pairs = (
        a.join(c, (F.col("a.o") == F.col("c.o")) & (F.col("a.b") < F.col("c.b")))
        .groupBy(F.col("a.b").alias("b1"), F.col("c.b").alias("b2"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("pair_support"))
    )
    wr = W.orderBy(F.desc("support"), "b1", "b2", "b3")
    ranked = triples.withColumn("rnk", F.row_number().over(wr)).filter(F.col("rnk") <= 20)
    return (
        ranked.join(pairs, ["b1", "b2"])
        .crossJoin(F.broadcast(n_orders))
        .select(
            "b1", "b2", "b3", "support",
            round4(F.col("support").cast("double") / F.col("n")).alias("support_frac"),
            round4(F.col("support").cast("double") / F.col("pair_support")).alias("conf_b1b2_to_b3"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


@knn_twins(
    "ml_lof_outliers",
    f"""
        t5 AS (SELECT u, v, 1.0 - c AS d FROM topk),
        kd AS (SELECT u, MAX(d) AS kdist FROM t5 GROUP BY u),
        reach AS (
            SELECT t5.u, t5.v, GREATEST(kd.kdist, t5.d) AS rd
            FROM t5 JOIN kd ON kd.u = t5.v
        ),
        lrd AS (
            SELECT u, 1.0 / (SUM(rd) / 5.0) AS lrd FROM reach GROUP BY u
        ),
        lof AS (
            SELECT t5.u,
                   (SUM(ln.lrd) / 5.0) / lu.lrd AS lof
            FROM t5
            JOIN lrd ln ON ln.u = t5.v
            JOIN lrd lu ON lu.u = t5.u
            GROUP BY t5.u, lu.lrd
        )
        SELECT lof.u AS vec_id,
               {sql_round4('kd.kdist')} AS kdist,
               {sql_round4('lof.lof')} AS lof,
               lof.lof > 1.5 AS is_outlier
        FROM lof JOIN kd ON kd.u = lof.u
    """,
    ("ml", "outlier", "density"),
)
def ml_lof_outliers(spark: SparkSession, sf: str, src: EdgeSource) -> DataFrame:
    """Local Outlier Factor (k=5) over the embedding corpus — density-
    based outlier detection that the global z-score/IQR family cannot do
    (a point can be normal globally but isolated from ITS OWN
    neighborhood): k-distance → reachability distance (max(kdist(v),
    d(u,v)) — the smoothing that makes LOF stable inside clusters) →
    local reachability density → LOF = mean neighbor-lrd / own lrd,
    > 1.5 flagged. Reads the source's top-5 table: every stage is a
    narrow join/agg on the 5n edge set, so LOF at 100 TB
    (``ml_lof_outliers_ann``) costs whatever the ANN candidate pass
    costs, plus noise. Distance = 1 − round4(cosine), matching the edge
    table's portable grid."""
    t5 = src.top5(spark, sf).select("u", "v", (1.0 - F.col("c")).alias("d"))
    kd = t5.groupBy("u").agg(F.max("d").alias("kdist"))
    reach = t5.join(
        kd.select(F.col("u").alias("v"), F.col("kdist").alias("kdist_v")), "v"
    ).select("u", "v", F.greatest(F.col("kdist_v"), F.col("d")).alias("rd"))
    lrd = reach.groupBy("u").agg((1.0 / (F.sum("rd") / 5.0)).alias("lrd"))
    lof = (
        t5.join(lrd.select(F.col("u").alias("v"), F.col("lrd").alias("lrd_v")), "v")
        .join(lrd, "u")
        .groupBy("u", "lrd")
        .agg(((F.sum("lrd_v") / 5.0) / F.first("lrd")).alias("lof"))
    )
    return lof.join(kd, "u").select(
        F.col("u").alias("vec_id"),
        round4(F.col("kdist")).alias("kdist"),
        round4(F.col("lof")).alias("lof"),
        (F.col("lof") > 1.5).alias("is_outlier"),
    )


@query(
    "workload_srm_check",
    oracle=f"""
        WITH assign AS (
            SELECT DISTINCT user_id,
                   CASE WHEN ('0x' || SUBSTRING(MD5(CAST(user_id AS VARCHAR) || ':srm'), 1, 8))::BIGINT
                             % 100 < 50 THEN 'A'
                        WHEN ('0x' || SUBSTRING(MD5(CAST(user_id AS VARCHAR) || ':srm'), 1, 8))::BIGINT
                             % 100 < 75 THEN 'B'
                        ELSE 'C' END AS variant
            FROM events
        ),
        counts AS (
            SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_obs
            FROM assign GROUP BY variant
        ),
        tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM counts),
        cells AS (
            SELECT c.variant, c.n_obs,
                   t.n * CASE c.variant WHEN 'A' THEN 0.50
                                        WHEN 'B' THEN 0.25 ELSE 0.25 END AS n_exp
            FROM counts c CROSS JOIN tot t
        )
        SELECT variant, n_obs,
               {sql_round4('n_exp')} AS n_expected,
               {sql_round4('(n_obs - n_exp) * (n_obs - n_exp) / n_exp')}
                   AS chi2_term,
               {sql_round4('SUM((n_obs - n_exp) * (n_obs - n_exp) / n_exp) OVER ()')}
                   AS chi2_total,
               SUM((n_obs - n_exp) * (n_obs - n_exp) / n_exp) OVER () > 13.8
                   AS srm_detected
        FROM cells
    """,
    tags=("workload", "experimentation", "guardrail"),
)
def workload_srm_check(spark: SparkSession, sf: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail for a 50/25/25 experiment: χ² of
    observed vs intended assignment counts over DISTINCT users, flagged
    at the χ²₂ 0.1% critical value — the pre-metric sanity every real
    A/B pipeline runs first, because a biased assignment (bot filtering,
    logging loss, redirect asymmetry) silently poisons every downstream
    metric no matter how careful the analysis. Assignment replays the
    deterministic md5 bucket; one distinct + one tiny agg; the χ² total
    is broadcast back onto the 3 variant rows by a frame-less window
    over the 3-row frame."""
    e = load_table(spark, sf, "events")
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.col("user_id").cast("string"), F.lit(":srm"))), 1, 8), 16, 10)
        .cast("bigint") % 100
    )
    variant = (
        F.when(bucket < 50, "A").when(bucket < 75, "B").otherwise("C")
    )
    assign = e.select("user_id", variant.alias("variant")).distinct()
    counts = assign.groupBy("variant").agg(F.count(F.lit(1)).cast("bigint").alias("n_obs"))
    tot = counts.agg(F.sum("n_obs").cast("bigint").alias("n"))
    exp_w = F.when(F.col("variant") == "A", 0.50).otherwise(0.25)
    cells = counts.crossJoin(F.broadcast(tot)).select(
        "variant", "n_obs", (F.col("n") * exp_w).alias("n_exp")
    )
    term = (F.col("n_obs") - F.col("n_exp")) * (F.col("n_obs") - F.col("n_exp")) / F.col("n_exp")
    wall = W.partitionBy()
    return cells.select(
        "variant", "n_obs",
        round4(F.col("n_exp")).alias("n_expected"),
        round4(term).alias("chi2_term"),
        round4(F.sum(term).over(wall)).alias("chi2_total"),
        (F.sum(term).over(wall) > 13.8).alias("srm_detected"),
    )


@query(
    "workload_winback_cohorts",
    oracle=f"""
        WITH acts AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        ),
        gaps AS (
            SELECT user_id,
                   DATE_DIFF('day',
                             LAG(day) OVER (PARTITION BY user_id ORDER BY day),
                             day) AS gap_days
            FROM acts
        ),
        marks AS (
            SELECT user_id,
                   CAST(SUM(CASE WHEN gap_days > 7 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_winbacks,
                   CAST(MAX(gap_days) AS BIGINT) AS longest_dormancy,
                   CAST(COUNT(*) AS BIGINT) AS n_active_days
            FROM gaps GROUP BY user_id
        )
        SELECT n_winbacks,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(MIN(n_active_days) AS BIGINT) AS min_active_days,
               CAST(MAX(longest_dormancy) AS BIGINT) AS max_dormancy_days,
               {sql_round4('AVG(CAST(longest_dormancy AS DOUBLE))')}
                   AS avg_longest_dormancy
        FROM marks
        GROUP BY n_winbacks
    """,
    tags=("workload", "lifecycle"),
)
def workload_winback_cohorts(spark: SparkSession, sf: str) -> DataFrame:
    """Win-back analysis: a user 'reactivates' when an active day follows
    a dormancy gap > 7 days; users cohort by how many such returns they
    made in the window, with dormancy depth per cohort. The lifecycle
    lens ``workload_new_vs_returning`` (binary per day) and
    ``workload_growth_accounting`` (period ledger) don't give: repeated
    resurrection is a different behavior class than steady retention, and
    the 1-winback cohort is THE win-back campaign target. One distinct,
    one user-keyed lag window on day grain, two aggregates — fully
    distributed by user."""
    e = load_table(spark, sf, "events")
    acts = e.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    wl = W.partitionBy("user_id").orderBy("day")
    gaps = acts.select(
        "user_id", F.datediff(F.col("day"), F.lag("day").over(wl)).alias("gap_days")
    )
    marks = gaps.groupBy("user_id").agg(
        F.sum(F.when(F.col("gap_days") > 7, 1).otherwise(0)).cast("bigint").alias("n_winbacks"),
        F.max("gap_days").cast("bigint").alias("longest_dormancy"),
        F.count(F.lit(1)).cast("bigint").alias("n_active_days"),
    )
    return marks.groupBy("n_winbacks").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.min("n_active_days").cast("bigint").alias("min_active_days"),
        F.max("longest_dormancy").cast("bigint").alias("max_dormancy_days"),
        round4(F.avg(F.col("longest_dormancy").cast("double"))).alias("avg_longest_dormancy"),
    )


@query(
    "workload_outage_windows",
    oracle=f"""
        WITH minutes AS (
            SELECT DATE_TRUNC('minute', CAST(ts AS TIMESTAMP)) AS m,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY 1
        ),
        gaps AS (
            SELECT m,
                   DATE_DIFF('minute', LAG(m) OVER (ORDER BY m), m) AS gap_min
            FROM minutes
        )
        SELECT CAST(gap_min AS BIGINT) AS gap_minutes,
               CAST(COUNT(*) AS BIGINT) AS n_gaps,
               CAST(MIN(CAST(m AS VARCHAR)) AS VARCHAR) AS first_resume,
               CAST(MAX(CAST(m AS VARCHAR)) AS VARCHAR) AS last_resume
        FROM gaps
        WHERE gap_min > 1
        GROUP BY gap_min
    """,
    tags=("workload", "sre", "availability"),
)
def workload_outage_windows(spark: SparkSession, sf: str) -> DataFrame:
    """Ingestion-silence detection: collapse the stream to minute-grain
    counts, lag over the minute axis, and every gap > 1 minute is a
    window with NO data at all — the outage signature per-metric
    monitors miss (they alert on values, not on absence). Grouped by
    gap length with the resume timestamps bounding each outage class.
    The global ordered window is SAFE here because it runs on the
    minute axis, whose cardinality is bounded by wall-clock time (43k
    rows/month) regardless of event volume — reduce-then-window, the
    same discipline as every day-grain op; the reduction is the only
    thing that touches the 100 TB."""
    e = load_table(spark, sf, "events")
    minutes = e.groupBy(F.date_trunc("minute", F.col("ts")).alias("m")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    wl = W.orderBy("m")
    gaps = minutes.select(
        "m",
        (
            (F.col("m").cast("long") - F.lag("m").over(wl).cast("long")) / 60
        ).cast("bigint").alias("gap_min"),
    )
    return (
        gaps.filter(F.col("gap_min") > 1)
        .groupBy("gap_min")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
            F.min(F.col("m").cast("string")).alias("first_resume"),
            F.max(F.col("m").cast("string")).alias("last_resume"),
        )
        .select(
            F.col("gap_min").alias("gap_minutes"), "n_gaps", "first_resume", "last_resume"
        )
    )


@query(
    "workload_burstiness_fano",
    oracle=f"""
        WITH mins AS (
            SELECT event_type, DATE_TRUNC('minute', CAST(ts AS TIMESTAMP)) AS m,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2
        ),
        s AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_minutes,
                   AVG(CAST(n AS DOUBLE)) AS mu,
                   VAR_SAMP(CAST(n AS DOUBLE)) AS v,
                   STDDEV_SAMP(CAST(n AS DOUBLE)) AS sd
            FROM mins GROUP BY event_type
        )
        SELECT event_type, n_minutes,
               {sql_round4('mu')} AS mean_per_min,
               {sql_round4('v / mu')} AS fano_factor,
               {sql_round4('(sd - mu) / (sd + mu)')} AS burstiness_b,
               v / mu > 1.5 AS overdispersed
        FROM s
    """,
    tags=("workload", "timeseries", "dispersion"),
)
def workload_burstiness_fano(spark: SparkSession, sf: str) -> DataFrame:
    """Burstiness diagnostics per event type over minute-grain counts:
    the Fano factor (variance/mean — 1 for a Poisson process, > 1
    overdispersed/bursty, < 1 regular) and the Goh-Barabási burstiness
    B = (σ−μ)/(σ+μ) ∈ [−1, 1]. The question behind capacity planning
    and anomaly thresholds — 'is this stream Poisson-like or does it
    clump?' — answered before ``workload_queueing_mm1``'s M/M/1 math
    (which ASSUMES Poisson arrivals; a Fano ≫ 1 here says those wait
    estimates are lower bounds). Counts-per-minute is active only for
    minutes WITH events: the zero-minute correction matters for sparse
    types and is documented rather than hidden (both engines see the
    same active-minute universe)."""
    e = load_table(spark, sf, "events")
    mins = e.groupBy(
        "event_type", F.date_trunc("minute", F.col("ts")).alias("m")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    s = mins.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_minutes"),
        F.avg(F.col("n").cast("double")).alias("mu"),
        F.var_samp(F.col("n").cast("double")).alias("v"),
        F.stddev_samp(F.col("n").cast("double")).alias("sd"),
    )
    mu, v, sd = F.col("mu"), F.col("v"), F.col("sd")
    return s.select(
        "event_type", "n_minutes",
        round4(mu).alias("mean_per_min"),
        round4(v / mu).alias("fano_factor"),
        round4((sd - mu) / (sd + mu)).alias("burstiness_b"),
        (v / mu > 1.5).alias("overdispersed"),
    )
