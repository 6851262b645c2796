"""Classic OLAP headline queries over the star schema.

These exercise the same operator classes the reference's REST endpoints
decompose into (scan/filter/join/aggregate/sort/top-k, SURVEY.md
sections 2.1-2.6) at full-table scale, and anchor the benchmark: each is
a whole-stage-codegen pipeline with map-side partial aggregation and
broadcast dimensions -- the plans that must survive a 100x scale-up.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import dsum, sql_dsum
from ..plans.registry import register
from ..sources.catalog import load_table


@register(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum("l_quantity")} AS sum_qty,
           {sql_dsum("l_extendedprice")} AS sum_base_price,
           {sql_dsum("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
           {sql_dsum("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
           {sql_dsum("l_quantity")} / COUNT(*) AS avg_qty,
           {sql_dsum("l_extendedprice")} / COUNT(*) AS avg_price,
           {sql_dsum("l_discount")} / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 shape: the canonical scan+8-aggregate groupBy; one "
        "shuffle over 6 groups, everything else map-side.",
    bench=True,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2001-09-02")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            (dsum("l_quantity") / F.count("*")).alias("avg_qty"),
            (dsum("l_extendedprice") / F.count("*")).alias("avg_price"),
            (dsum("l_discount") / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l.l_orderkey,
           {sql_dsum("l.l_extendedprice * (1 - l.l_discount)")} AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3 shape: selective broadcast dimension, fact-fact join on "
        "the bucketing key, aggregate, top-10 (TakeOrderedAndProject).",
    bench=True,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(revenue).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "q5_local_volume",
    oracle=f"""
    SELECT n.n_name AS nation,
           {sql_dsum("l.l_extendedprice * (1 - l.l_discount)")} AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND s.s_nationkey = c.c_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC, nation
    """,
    doc="TPC-H Q5 shape: star join with a same-nation theta condition; "
        "dimensions broadcast, facts co-partitioned on the join key.",
    bench=True,
)
def q5_local_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        # customer/supplier grow linearly with SF: shuffle-join them and let
        # AQE pick broadcast at runtime when a side really is small.  Only
        # the bounded dims (nation=25, region=5) are forced broadcast.
        o.join(c, o.o_custkey == c.c_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .join(
            s,
            (l.l_suppkey == s.s_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(dsum(revenue).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "nation")
    )


@register(
    "q6_forecast_revenue",
    oracle=f"""
    SELECT {sql_dsum("l_extendedprice * l_discount")} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6 shape: pure pushed-down filter + single aggregate -- "
        "the predicate-pushdown litmus test (all four conjuncts reach the "
        "parquet scan).",
    bench=True,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))
    )


@register(
    "q_market_share_pivot",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS status_o,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS status_f,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS status_p
    FROM orders GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="Pivot shape (stats counters by type/result family, "
        "aggregation/stats.js pivot reads): groupBy().pivot() with a "
        "bounded value list -- compiles to conditional aggregates, one "
        "shuffle.",
)
def q_market_share_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
        .select(
            "o_orderpriority",
            F.coalesce("O", F.lit(0)).alias("status_o"),
            F.coalesce("F", F.lit(0)).alias("status_f"),
            F.coalesce("P", F.lit(0)).alias("status_p"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="TPC-H Q4 shape (EXISTS decorrelated to a semi-join; adapted to "
        "this schema's columns: 'late' = shipped >60 days after order). "
        "The reference's implicit semi-join is the index-scan-then-multiget "
        "two-phase fetch (SURVEY 2.3); here Catalyst plans LeftSemi with "
        "the date filter pushed below the join.",
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    late = o.join(
        l,
        (l.l_orderkey == o.o_orderkey)
        & (l.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "q10_returned_items",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           {sql_dsum("l.l_extendedprice * (1 - l.l_discount)")} AS revenue,
           n.n_name AS nation
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-07-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10 shape: returned-item revenue per customer, global "
        "top-20.  Dimensions (customer, nation) broadcast; the returnflag "
        "and date filters push below the fact join; the final top-20 plans "
        "as TakeOrderedAndProject, not a total sort.",
    bench=True,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-07-01"))
    )
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        o.join(l, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(dsum(revenue).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "q14_promo_revenue",
    oracle=f"""
    SELECT 100.0 * {sql_dsum(
        "CASE WHEN p.p_type = 'PROMO' "
        "THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END")}
           / {sql_dsum("l.l_extendedprice * (1 - l.l_discount)")}
           AS promo_revenue_pct
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-09-01'
      AND l.l_shipdate < TIMESTAMP '1996-10-01'
    """,
    doc="TPC-H Q14 shape: promotion revenue share -- broadcast part join "
        "+ conditional aggregation into a single scalar; the month filter "
        "reaches the lineitem scan.",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01"))
        & (F.col("l_shipdate") < F.lit("1996-10-01"))
    )
    p = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .agg((100.0 * dsum(promo) / dsum(rev)).alias("promo_revenue_pct"))
    )


@register(
    "q18_large_orders",
    oracle=f"""
    WITH big AS (
        SELECT l_orderkey, {sql_dsum("l_quantity")} AS total_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING {sql_dsum("l_quantity")} > 300
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           o.o_totalprice, b.total_qty
    FROM big b
    JOIN orders o ON b.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
    doc="TPC-H Q18 shape: large-volume orders -- aggregate-then-join "
        "(the HAVING shrinks the fact side to a handful of keys before "
        "any join), then broadcast the surviving keys against orders/"
        "customer; top-100 as TakeOrderedAndProject.",
    bench=True,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(dsum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    return (
        # big is a post-HAVING key set (orders with >300 qty): tiny at any
        # SF, so broadcast stays.  Full customer is not -- shuffle join it.
        o.join(F.broadcast(big), big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "o_totalprice", "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


@register(
    "q22_dormant_customers",
    oracle="""
    WITH cutoff AS (
        SELECT AVG(c_acctbal) AS avg_bal FROM customer WHERE c_acctbal > 0
    )
    SELECT SUBSTR(c.c_name, 1, 9) AS name_prefix,
           COUNT(*) AS n_custs,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS total_bal
    FROM customer c, cutoff
    WHERE c.c_acctbal > cutoff.avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY 1 ORDER BY 1
    """,
    doc="TPC-H Q22 shape (adapted: 'no orders at all' is empty on this "
        "data, so dormancy = no order since 2000): above-average-balance "
        "customers with no recent orders.  Scalar subquery broadcasts a "
        "1-row threshold; NOT EXISTS decorrelates to LeftAnti with the "
        "date filter pushed into the anti-join build side.",
)
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01")
    )
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("avg_bal"))
    )
    rich = c.join(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    dormant = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return (
        dormant.groupBy(F.substring("c_name", 1, 9).alias("name_prefix"))
        .agg(
            F.count("*").alias("n_custs"),
            dsum("c_acctbal").alias("total_bal"),
        )
        .orderBy("name_prefix")
    )


@register(
    "q7_nation_volume",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
           {sql_dsum("volume")} AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               EXTRACT(year FROM l.l_shipdate) AS l_year,
               l.l_extendedprice * (1 - l.l_discount) AS volume
        FROM supplier s
        JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          AND l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate < TIMESTAMP '1998-01-01'
    )
    GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
    doc="TPC-H Q7 shape: bilateral nation-pair trade volume by year -- "
        "two broadcast nation joins with a disjunctive pair predicate "
        "pushed below the fact joins; grouping on (nation, nation, year).",
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(s, l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(dsum(vol).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "q8_market_share",
    oracle=f"""
    SELECT o_year,
           {sql_dsum("CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END")}
           / {sql_dsum("volume")} AS mkt_share
    FROM (
        SELECT EXTRACT(year FROM o.o_orderdate) AS o_year,
               l.l_extendedprice * (1 - l.l_discount) AS volume,
               n2.n_name AS supp_nation
        FROM part p
        JOIN lineitem l ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
        JOIN region r ON n1.n_regionkey = r.r_regionkey
        JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
        WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate < TIMESTAMP '1998-01-01'
    )
    GROUP BY o_year ORDER BY o_year
    """,
    doc="TPC-H Q8 shape: national market share within a region for one "
        "part class -- the deepest join tree in the suite (7 joins, all "
        "dimensions broadcast), conditional share numerator.",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    share = F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(F.lit(0.0))
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg((dsum(share) / dsum(vol)).alias("mkt_share"))
        .orderBy("o_year")
    )


@register(
    "q13_customer_distribution",
    oracle="""
    WITH per_cust AS (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                          AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    )
    SELECT c_count, COUNT(*) AS custdist
    FROM per_cust GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    doc="TPC-H Q13 shape: customer order-count distribution -- LEFT "
        "join (zero-order customers kept) with the filter in the join "
        "condition (NOT the WHERE, which would turn it inner), then a "
        "histogram of the aggregate.",
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey)
            & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy(c.c_custkey)
        .agg(F.count(o.o_orderkey).alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@register(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               {sql_dsum("l_extendedprice * (1 - l_discount)")} AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s.s_suppkey
    """,
    doc="TPC-H Q15 shape: supplier(s) with the maximum quarterly "
        "revenue -- aggregate, then a 1-row max broadcast back against "
        "the same aggregate (the 'view' of the original query).",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    s = load_table(spark, sf_dir, "supplier")
    revenue = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_revenue")
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    return (
        revenue.join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(s, F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "q17_small_quantity_revenue",
    oracle=f"""
    WITH part_avg AS (
        SELECT l_partkey, 0.2 * AVG(l_quantity) AS threshold
        FROM lineitem GROUP BY l_partkey
    )
    SELECT {sql_dsum("l.l_extendedprice")} / 7.0 AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN part_avg a ON a.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1' AND l.l_quantity < a.threshold
    """,
    doc="TPC-H Q17 shape: small-quantity-order revenue -- the "
        "correlated per-part average decorrelates to an aggregate join "
        "against the fact table (computed once, not per row).",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    part_avg = l.groupBy(F.col("l_partkey").alias("pa_key")).agg(
        (0.2 * F.avg("l_quantity")).alias("threshold")
    )
    return (
        # part and the per-partkey average both grow with SF: two shuffle
        # joins on l_partkey, which AQE co-plans (one exchange reused).
        l.join(p, l.l_partkey == p.p_partkey)
        .join(part_avg, l.l_partkey == F.col("pa_key"))
        .filter(F.col("l_quantity") < F.col("threshold"))
        .agg((dsum("l_extendedprice") / 7.0).alias("avg_yearly"))
    )


@register(
    "q19_disjunctive_revenue",
    oracle=f"""
    SELECT {sql_dsum("l.l_extendedprice * (1 - l.l_discount)")} AS revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
    doc="TPC-H Q19 shape: three-way disjunctive predicate spanning both "
        "join sides -- Catalyst extracts the common single-side "
        "conjuncts (brand/size sets, quantity range) below the join so "
        "the OR does not defeat pushdown.",
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
    )


@register(
    "q2_min_cost_supplier",
    oracle="""
    WITH cost AS (
        SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS supply_cost
        FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    regional AS (
        SELECT c.l_partkey, c.l_suppkey, c.supply_cost,
               s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
        FROM cost c
        JOIN supplier s ON s.s_suppkey = c.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'EUROPE'
    ),
    min_cost AS (
        SELECT l_partkey AS mc_key, MIN(supply_cost) AS mn
        FROM regional GROUP BY l_partkey
    )
    SELECT g.s_acctbal, g.s_name, g.n_name, p.p_partkey, p.p_name,
           g.s_suppkey, g.supply_cost
    FROM regional g
    JOIN part p ON p.p_partkey = g.l_partkey
    JOIN min_cost m ON m.mc_key = g.l_partkey AND g.supply_cost = m.mn
    WHERE p.p_size = 25
    ORDER BY g.s_acctbal DESC, g.n_name, g.s_name, p.p_partkey, g.s_suppkey
    LIMIT 100
    """,
    doc="TPC-H Q2 shape (adapted: the part-supplier association and its "
        "min cost come from lineitem, since the synthetic schema has no "
        "partsupp). The correlated MIN-cost subquery decorrelates into a "
        "per-part aggregate joined back on the same key -- both sides "
        "already partitioned by l_partkey, so the min-join adds no "
        "shuffle under AQE; dims (supplier+nation+region, filtered part) "
        "broadcast.",
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 25)

    cost = l.groupBy("l_partkey", "l_suppkey").agg(
        F.min("l_extendedprice").alias("supply_cost")
    )
    sn = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    # sn is supplier-sized (grows with SF): shuffle join, AQE may still
    # broadcast it at small scale.
    regional = cost.join(sn, cost.l_suppkey == F.col("s_suppkey"))
    min_cost = regional.groupBy(F.col("l_partkey").alias("mc_key")).agg(
        F.min("supply_cost").alias("mn")
    )
    return (
        regional.join(p, regional.l_partkey == p.p_partkey)
        .join(
            min_cost,
            (regional.l_partkey == F.col("mc_key"))
            & (F.col("supply_cost") == F.col("mn")),
        )
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_name",
            "s_suppkey", "supply_cost",
        )
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey", "s_suppkey"
        )
        .limit(100)
    )


@register(
    "q9_product_profit",
    oracle=f"""
    SELECT n.n_name AS nation,
           CAST(YEAR(o.o_orderdate) AS INTEGER) AS o_year,
           {sql_dsum("l.l_extendedprice * (1 - l.l_discount) - 0.1 * p.p_retailprice * l.l_quantity")} AS sum_profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
    doc="TPC-H Q9 shape (adapted: profit margin uses p_retailprice in "
        "place of the missing ps_supplycost). Five-way join where every "
        "dimension broadcasts and only the orders join shuffles on "
        "l_orderkey; the LIKE filter prunes part before broadcast.",
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.1 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(dsum(amount).alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


@register(
    "q11_important_parts",
    oracle=f"""
    WITH joined AS (
        SELECT l.l_partkey, l.l_extendedprice * l.l_quantity AS value
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        WHERE n.n_name = 'NATION_7'
    ),
    val AS (
        SELECT l_partkey AS p_key, {sql_dsum("value")} AS part_value
        FROM joined GROUP BY l_partkey
    ),
    total AS (
        SELECT {sql_dsum("value")} * 0.001 AS threshold FROM joined
    )
    SELECT v.p_key, v.part_value
    FROM val v, total t
    WHERE v.part_value > t.threshold
    ORDER BY v.part_value DESC, v.p_key
    """,
    doc="TPC-H Q11 shape (adapted: per-part inventory value comes from "
        "lineitem flows, no partsupp). The HAVING-over-scalar-subquery "
        "decorrelates to one extra reduce over the SAME filtered join "
        "output -- the base is computed once and reused, and the scalar "
        "threshold broadcasts into the filter.",
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    joined = (
        l.join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            "l_partkey",
            (F.col("l_extendedprice") * F.col("l_quantity")).alias("value"),
        )
    )
    val = joined.groupBy(F.col("l_partkey").alias("p_key")).agg(
        dsum("value").alias("part_value")
    )
    total = joined.agg((dsum("value") * 0.001).alias("threshold"))
    return (
        val.join(F.broadcast(total))
        .filter(F.col("part_value") > F.col("threshold"))
        .select("p_key", "part_value")
        .orderBy(F.col("part_value").desc(), "p_key")
    )


@register(
    "q12_late_shipment_priority",
    oracle="""
    SELECT l.l_linestatus AS ship_class,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
    GROUP BY ship_class
    ORDER BY ship_class
    """,
    doc="TPC-H Q12 shape (adapted: l_linestatus stands in for the "
        "missing l_shipmode, and lateness is ship-lag > 30 days since "
        "there is no commit/receipt date). Join + conditional CASE "
        "aggregation; the cross-side lateness predicate evaluates as a "
        "post-join filter while the single-side date range still pushes "
        "into the lineitem scan.",
)
def q12_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(l, l.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        .groupBy(F.col("l_linestatus").alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("ship_class")
    )


@register(
    "q16_supplier_part_counts",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#5'
      AND p.p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
      AND l.l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    """,
    doc="TPC-H Q16 shape (adapted: the part-supplier association comes "
        "from lineitem, and the excluded-supplier predicate is a low "
        "account balance instead of the missing s_comment). NOT IN over "
        "a non-nullable key plans as a broadcast anti-join, then a "
        "distinct aggregate over the surviving pairs.",
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    )
    excluded = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 1000)
        .select("s_suppkey")
    )
    return (
        # excluded/part both grow with SF -- no forced broadcast on either.
        l.join(excluded, l.l_suppkey == F.col("s_suppkey"), "left_anti")
        .join(p, F.col("l_partkey") == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


@register(
    "q20_excess_inventory_suppliers",
    oracle=f"""
    WITH qty AS (
        SELECT l_partkey, l_suppkey,
               {sql_dsum("l_quantity")} AS total_qty
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY l_partkey, l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, s.s_acctbal
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE n.n_name = 'NATION_3'
      AND s.s_suppkey IN (
          SELECT q.l_suppkey
          FROM qty q JOIN part p ON p.p_partkey = q.l_partkey
          WHERE p.p_name LIKE 'red%' AND q.total_qty > 50
      )
    ORDER BY s.s_name, s.s_suppkey
    """,
    doc="TPC-H Q20 shape (adapted: 'excess inventory' is shipped volume "
        "over a year exceeding a threshold, since there is no "
        "ps_availqty). Nested IN-subqueries decorrelate to a per-"
        "(part,supplier) aggregate, a broadcast join against the "
        "name-filtered part dim, and a semi-join into the supplier dim.",
)
def q20_excess_inventory_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    qty = l.groupBy("l_partkey", "l_suppkey").agg(dsum("l_quantity").alias("total_qty"))
    qualifying = (
        qty.join(p, qty.l_partkey == p.p_partkey)
        .filter(F.col("total_qty") > 50)
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(qualifying, s.s_suppkey == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name", "s_acctbal")
        .orderBy("s_name", "s_suppkey")
    )


@register(
    "q21_waiting_suppliers",
    oracle="""
    WITH late AS (
        SELECT l.l_orderkey, l.l_suppkey,
               MAX(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
                        THEN 1 ELSE 0 END) AS is_late
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderstatus = 'F'
        GROUP BY l.l_orderkey, l.l_suppkey
    ),
    per_order AS (
        SELECT l_orderkey, COUNT(*) AS n_supp, SUM(is_late) AS n_late
        FROM late GROUP BY l_orderkey
    )
    SELECT s.s_name, COUNT(*) AS numwait
    FROM late t
    JOIN per_order po ON po.l_orderkey = t.l_orderkey
    JOIN supplier s ON s.s_suppkey = t.l_suppkey
    WHERE t.is_late = 1 AND po.n_supp >= 2 AND po.n_late = 1
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 100
    """,
    doc="TPC-H Q21 shape (adapted: 'late' is shipping >90 days after the "
        "order date, since there is no commit/receipt date). The "
        "EXISTS / NOT EXISTS self-joins decorrelate to one per-(order,"
        "supplier) lateness rollup plus a per-order reduction over it -- "
        "lineitem is scanned ONCE instead of the textbook three times, "
        "and the rollup->reduce->join-back chain stays partitioned on "
        "l_orderkey with no extra shuffle.",
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    s = load_table(spark, sf_dir, "supplier")
    is_late = F.when(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"), 1
    ).otherwise(0)
    late = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(is_late).alias("is_late"))
    )
    per_order = late.groupBy(F.col("l_orderkey").alias("po_key")).agg(
        F.count("*").alias("n_supp"), F.sum("is_late").alias("n_late")
    )
    return (
        late.filter(F.col("is_late") == 1)
        .join(
            per_order.filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1)),
            F.col("l_orderkey") == F.col("po_key"),
        )
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )
