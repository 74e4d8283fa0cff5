"""Relational core over the star schema — SURVEY.md §2 Table B.

The reference has **no** joins/groupBy/sort (SURVEY.md §2 Table B preamble);
this module supplies the minimum relational core its product query and any
100 TB analytics use demand.

Scale notes:
* Dimension joins (`region`, `nation`, `supplier`, `part`, `customer`)
  are explicitly ``broadcast()``-hinted — at 100 TB the fact table never
  fits a shuffle-free strategy but every dim here stays < the 64 MB
  threshold, so the star join is a chain of broadcast hash joins with a
  single pass over lineitem, zero shuffles before the final aggregation.
* Fact-fact joins (lineitem ⋈ orders) are shuffle hash / sort-merge on the
  join key; with AQE, skewed order keys are split at runtime. For repeated
  workloads, bucketing both tables on the key removes this shuffle
  entirely (see big_data_streaming_spark/plans/layout.py).
* Aggregations use exact-decimal sums (see workload/common.py) — partial
  map-side combine still applies because decimal sum is associative.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_streaming_spark.plans.rank import global_order, global_rank
from big_data_streaming_spark.workload.common import (
    dec_avg,
    dec_sum,
    oracle_dec_avg,
    oracle_dec_sum,
    registry,
    t,
    tr,
)

QUERIES, ORACLES, _q = registry()


# --- A14 analog: projected + filtered scan (predicate pushdown) -----------
# At 100 TB the point is that BOTH the filter and the 4-column projection
# reach the parquet reader (PushedFilters / ReadSchema) — verified in
# tests/test_plans.py.
@_q(
    "q_scan_table",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_shipdate < TIMESTAMP '1996-01-01'
      AND l_discount > 0.05
    """,
)
def q_scan_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_discount") > 0.05)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")


# --- B1: grouped hash aggregation (TPC-H Q1 shape) ------------------------
@_q(
    "q_groupby_agg",
    f"""
    SELECT l_returnflag, l_linestatus,
           {oracle_dec_sum('l_quantity', 'sum_qty')},
           {oracle_dec_sum('l_extendedprice', 'sum_base_price')},
           {oracle_dec_sum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
           {oracle_dec_avg('l_quantity', 'avg_qty')},
           {oracle_dec_avg('l_discount', 'avg_disc')},
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_groupby_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tr(): same single-fused-scan-task decimal aggregation as q_tpch_q1
    # (round-11 profiler), unfrozen in round 12 under the re-baselined
    # box probe (bench.py pins probe runs to rebalance-off).
    li = tr(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum("l_quantity", "sum_qty"),
            dec_sum("l_extendedprice", "sum_base_price"),
            dec_sum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
                "sum_disc_price",
            ),
            dec_avg("l_quantity", "avg_qty"),
            dec_avg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --- B7: inner equi join, fact ⋈ fact (shuffle join on the key) -----------
@_q(
    "q_join_inner",
    f"""
    SELECT o.o_orderpriority,
           {oracle_dec_sum('l.l_extendedprice * (1 - l.l_discount)', 'revenue')},
           COUNT(*) AS n_items
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY o.o_orderpriority
    """,
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "inner")
        .groupBy("o_orderpriority")
        .agg(
            dec_sum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --- B7: broadcast star join — lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region
# (TPC-H Q5 shape). Every dimension side is broadcast; one scan of lineitem.
@_q(
    "q_join_broadcast",
    f"""
    SELECT n.n_name,
           {oracle_dec_sum('l.l_extendedprice * (1 - l.l_discount)', 'revenue')}
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name IN ('ASIA', 'EUROPE')
    GROUP BY n.n_name
    """,
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region").filter(F.col("r_name").isin("ASIA", "EUROPE"))
    dim = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "n_name")
    )
    return (
        li.join(orders.select("o_orderkey", "o_custkey"),
                li.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(dim), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("n_name")
        .agg(
            dec_sum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), "revenue"
            )
        )
    )


# --- B7: supplier-side star (TPC-H Q9 shape) — exercises part + supplier --
@_q(
    "q_join_star_supplier",
    f"""
    SELECT n.n_name, CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INTEGER) AS order_year,
           {oracle_dec_sum('l.l_extendedprice * (1 - l.l_discount)', 'profit')},
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN part p     ON l.l_partkey = p.p_partkey
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    WHERE p.p_type IN ('ECONOMY', 'PROMO')
    GROUP BY n.n_name, order_year
    """,
)
def q_join_star_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    part = t(spark, sf_dir, "part").filter(F.col("p_type").isin("ECONOMY", "PROMO"))
    orders = t(spark, sf_dir, "orders")
    return (
        li.join(F.broadcast(supp.select("s_suppkey", "s_nationkey")),
                li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(part.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .join(orders.select("o_orderkey", "o_orderdate"),
              li.l_orderkey == F.col("o_orderkey"))
        .groupBy("n_name", F.year("o_orderdate").alias("order_year"))
        .agg(
            dec_sum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), "profit"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --- B8: left outer join — keep customers with zero orders ----------------
@_q(
    "q_join_left",
    """
    SELECT c.c_custkey, c.c_name,
           COUNT(o.o_orderkey) AS n_orders
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


# --- B9: left semi — customers WITH a high-value order --------------------
@_q(
    "q_join_semi",
    """
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 150000.0)
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    big = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 150000.0)
    return cust.join(big, cust.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_acctbal"
    )


# --- B9: left anti — customers with no HIGH-VALUE order -------------------
# (every customer has *some* order at small SF, so the anti side is
# non-empty only with the price predicate — an empty result would make
# the correctness check vacuous)
@_q(
    "q_join_anti",
    """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 400000.0)
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    big = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000.0)
    return cust.join(big, cust.c_custkey == big.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


# --- B10: union by name — reassemble per-key slices (the reference splits
# its data into table-per-interval; union is how you put it back:
# reference spark/streaming-longtime-raw.py:29)
@_q(
    "q_union_all",
    """
    SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus, l_quantity
    FROM lineitem WHERE l_returnflag = 'R'
    UNION ALL
    SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus, l_quantity
    FROM lineitem WHERE l_linestatus = 'F'
    """,
)
def q_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    cols = ["l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus", "l_quantity"]
    a = li.filter(F.col("l_returnflag") == "R").select(*cols)
    b = li.filter(F.col("l_linestatus") == "F").select(*cols)
    return a.unionByName(b)


# --- TPC-H Q3 shape: join + agg + top-k (unshipped-revenue ranking) -------
@_q(
    "q_tpch_q3",
    f"""
    SELECT l.l_orderkey,
           {oracle_dec_sum('l.l_extendedprice * (1 - l.l_discount)', 'revenue')},
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust.select("c_custkey")), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            dec_sum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), "revenue"
            )
        )
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


# --- TPC-H Q6 shape: pure filter + global agg (the pushdown benchmark) ----
@_q(
    "q_tpch_q6",
    f"""
    SELECT {oracle_dec_sum('l_extendedprice * l_discount', 'revenue')},
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24.0
    """,
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24.0)
        )
        .agg(
            dec_sum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


# --- B10 extension: set operations (intersect / except) -------------------
@_q(
    "q_intersect",
    """
    SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
    INTERSECT
    SELECT l_orderkey FROM lineitem WHERE l_linestatus = 'F'
    """,
)
def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    b = li.filter(F.col("l_linestatus") == "F").select("l_orderkey")
    return a.intersect(b)


@_q(
    "q_except",
    """
    SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
    EXCEPT
    SELECT l_orderkey FROM lineitem WHERE l_linestatus = 'F'
    """,
)
def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    b = li.filter(F.col("l_linestatus") == "F").select("l_orderkey")
    return a.subtract(b)  # EXCEPT (distinct) semantics, same as the oracle


# --- B13: cube — all grouping-set combinations in one pass ----------------
@_q(
    "q_cube",
    f"""
    SELECT l_returnflag, l_linestatus,
           {oracle_dec_sum('l_extendedprice', 'sum_price')},
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        dec_sum("l_extendedprice", "sum_price"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# --- B11/B12 extension: analytic window pack (dense_rank / ntile /
# first-in-partition / running count) --------------------------------------
@_q(
    "q_window_analytics",
    """
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(dense_rank() OVER w AS INTEGER) AS price_dense_rank,
           CAST(ntile(4) OVER w AS INTEGER) AS price_quartile,
           first_value(o_orderkey) OVER w AS top_order,
           COUNT(*) OVER (PARTITION BY o_custkey
                          ORDER BY o_totalprice DESC, o_orderkey
                          ROWS UNBOUNDED PRECEDING) AS running_n
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def q_window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    )
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.dense_rank().over(w).alias("price_dense_rank"),
        F.ntile(4).over(w).alias("price_quartile"),
        F.first("o_orderkey").over(w).alias("top_order"),
        F.count(F.lit(1)).over(wrun).alias("running_n"),
    )


# --- B13: rollup — multi-resolution aggregates in one pass ----------------
@_q(
    "q_rollup",
    f"""
    SELECT l_returnflag, l_linestatus,
           {oracle_dec_sum('l_quantity', 'sum_qty')},
           COUNT(*) AS n_rows,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT)
             AS grouping_level
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        dec_sum("l_quantity", "sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
        F.grouping_id().alias("grouping_level"),
    )


# --- B1/B13 extension: pivot (wide aggregation) ---------------------------
# groupBy().pivot() with an explicit value list — the explicit list keeps
# the plan static (no extra distinct-scan job) and is mandatory at scale.
@_q(
    "q_pivot",
    f"""
    SELECT l_returnflag,
           {oracle_dec_sum("CASE WHEN l_linestatus = 'F' THEN l_quantity END", 'F')},
           {oracle_dec_sum("CASE WHEN l_linestatus = 'O' THEN l_quantity END", 'O')}
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.sum(F.col("l_quantity").cast("decimal(38,6)")).cast("double"))
    )


# --- B13 extension: unpivot (melt back to long form) ----------------------
@_q(
    "q_unpivot",
    """
    SELECT o_orderkey, kind, amount FROM (
        SELECT o_orderkey, 'total' AS kind, o_totalprice AS amount FROM orders
        UNION ALL
        SELECT o_orderkey, 'custkey_as_num' AS kind, CAST(o_custkey AS DOUBLE) FROM orders
    )
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").alias("total"),
        F.col("o_custkey").cast("double").alias("custkey_as_num"),
    )
    return o.unpivot(
        ids=["o_orderkey"],
        values=["total", "custkey_as_num"],
        variableColumnName="kind",
        valueColumnName="amount",
    )


# --- B15: array scalar pack ------------------------------------------------
# Array-valued columns are serialized with array_join/array_to_string so every
# output column is a hashable scalar (the driver's pandas canonicalizer cannot
# sort rows containing Python lists — CORRECTNESS_r01 `unhashable type: list`).
@_q(
    "q_scalar_array",
    """
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id,
           list_sort(list_distinct(toks))[1] AS first_token_sorted,
           CAST(list_contains(toks, 'spark') AS BOOLEAN) AS mentions_spark,
           array_to_string(toks[1:5], ' ') AS head_tokens,
           array_to_string(list_reverse(toks[1:5]), ' ') AS head_reversed,
           CAST(len(list_filter(toks, x -> length(x) > 5)) AS INTEGER) AS n_long_tokens
    FROM tok
    """,
)
def q_scalar_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return d.select(
        "doc_id",
        F.array_sort(F.array_distinct(toks))[0].alias("first_token_sorted"),
        F.array_contains(toks, "spark").alias("mentions_spark"),
        F.array_join(F.slice(toks, 1, 5), " ").alias("head_tokens"),
        F.array_join(F.reverse(F.slice(toks, 1, 5)), " ").alias("head_reversed"),
        F.size(F.filter(toks, lambda x: F.length(x) > 5)).alias("n_long_tokens"),
    )


# --- B1 extension: exact percentiles (interpolated) -----------------------
# Spark `percentile` and DuckDB `quantile_cont` share the linear-
# interpolation definition; verified bit-exact at sf0.01.
@_q(
    "q_percentiles",
    """
    SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.5) AS p50,
           quantile_cont(l_extendedprice, 0.9) AS p90,
           quantile_cont(l_extendedprice, 0.99) AS p99
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", 0.5).alias("p50"),
        F.percentile("l_extendedprice", 0.9).alias("p90"),
        F.percentile("l_extendedprice", 0.99).alias("p99"),
    )


# --- B1 extension: moment statistics, decimal-exact -----------------------
# Built-in stddev/variance use engine-specific streaming algorithms
# (Welford etc.) whose float results differ across engines; computing the
# two-pass textbook formula from exact decimal sums makes mean/var/std
# bit-identical to the oracle AND deterministic across partitionings —
# the same property the money-sum policy gives (SURVEY.md §4.3.7).
@_q(
    "q_stats_moments",
    f"""
    SELECT l_returnflag,
           COUNT(*) AS n,
           {oracle_dec_avg('l_quantity', 'mean_qty')},
           (CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE)
            - CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE)
              * CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*))
           / (COUNT(*) - 1) AS var_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    sum_q = F.sum(F.col("l_quantity").cast("decimal(38,6)")).cast("double")
    sum_q2 = F.sum(
        (F.col("l_quantity") * F.col("l_quantity")).cast("decimal(38,6)")
    ).cast("double")
    n = F.count(F.lit(1))
    return li.groupBy("l_returnflag").agg(
        n.alias("n"),
        dec_avg("l_quantity", "mean_qty"),
        ((sum_q2 - sum_q * sum_q / n) / (n - F.lit(1))).alias("var_qty"),
    )


# --- B13: explicit GROUPING SETS (beyond rollup/cube) ---------------------
@_q(
    "q_grouping_sets",
    f"""
    SELECT l_returnflag, l_linestatus,
           {oracle_dec_sum('l_quantity', 'sum_qty')},
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag"], ["l_linestatus"], []], "l_returnflag", "l_linestatus"
    ).agg(dec_sum("l_quantity", "sum_qty"), F.count(F.lit(1)).alias("n_rows"))


# --- B15: scalar string functions -----------------------------------------
@_q(
    "q_scalar_string",
    """
    SELECT p_partkey,
           lower(p_name) AS name_lower,
           upper(p_brand) AS brand_upper,
           substring(p_type, 1, 5) AS type_prefix,
           concat(p_brand, '#', p_type) AS brand_type,
           CAST(length(p_name) AS INTEGER) AS name_len,
           replace(p_name, ' ', '_') AS name_snake,
           CAST(contains(p_type, 'PROMO') AS BOOLEAN) AS is_promo
    FROM part
    """,
)
def q_scalar_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lower("p_name").alias("name_lower"),
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.concat_ws("#", "p_brand", "p_type").alias("brand_type"),
        F.length("p_name").alias("name_len"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
        F.col("p_type").contains("PROMO").alias("is_promo"),
    )


# --- B15: scalar math functions (exact-result ops only: sqrt is IEEE-exact,
# round/abs/floor/ceil/mod are integral — no libm 1-ulp divergence risk) ---
@_q(
    "q_scalar_math",
    """
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * l_discount, 4) AS disc_amount,
           round(l_quantity / 7.0, 2) AS qty_sevenths,
           abs(l_quantity - 25.0) AS qty_dev,
           CAST(floor(l_extendedprice / 1000.0) AS BIGINT) AS price_kbucket,
           CAST(ceil(l_quantity / 10.0) AS BIGINT) AS qty_decile,
           sqrt(l_quantity) AS qty_sqrt,
           CAST(l_linenumber % 2 AS INTEGER) AS ln_parity
    FROM lineitem
    """,
)
def q_scalar_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        # round at 4 dp: the 2dp×2dp product has exactly 4 decimals, so the
        # recovery is exact in both engines (2 dp would sit on the .xx5
        # knife edge for ~10% of rows and HALF_UP vs binary-scaling rounding
        # disagree there)
        F.round(F.col("l_extendedprice") * F.col("l_discount"), 4).alias("disc_amount"),
        F.round(F.col("l_quantity") / 7.0, 2).alias("qty_sevenths"),
        F.abs(F.col("l_quantity") - 25.0).alias("qty_dev"),
        F.floor(F.col("l_extendedprice") / 1000.0).alias("price_kbucket"),
        F.ceil(F.col("l_quantity") / 10.0).alias("qty_decile"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        (F.col("l_linenumber") % 2).alias("ln_parity"),
    )


# --- B15: scalar date functions -------------------------------------------
@_q(
    "q_scalar_date",
    """
    SELECT o_orderkey,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS order_year,
           CAST(EXTRACT(QUARTER FROM o_orderdate) AS INTEGER) AS order_quarter,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS INTEGER)
             AS days_since_1995,
           CAST(o_orderdate + INTERVAL 90 DAY AS TIMESTAMP) AS due_date
    FROM orders
    """,
)
def q_scalar_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.quarter("o_orderdate").alias("order_quarter"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date")).alias(
            "days_since_1995"
        ),
        (F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).alias("due_date"),
    )


# --- B15: null-handling scalar functions ----------------------------------
@_q(
    "q_scalar_null",
    """
    SELECT o_orderkey,
           NULLIF(o_orderstatus, 'F') AS status_or_null,
           COALESCE(NULLIF(o_orderstatus, 'F'), 'FINISHED') AS status_filled,
           CAST(NULLIF(o_orderstatus, 'F') IS NULL AS BOOLEAN) AS was_f,
           ifnull(NULLIF(o_orderpriority, '1-URGENT'), 'urgent!') AS prio_filled
    FROM orders
    """,
)
def q_scalar_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    status_null = F.nullif(F.col("o_orderstatus"), F.lit("F"))
    return o.select(
        "o_orderkey",
        status_null.alias("status_or_null"),
        F.coalesce(status_null, F.lit("FINISHED")).alias("status_filled"),
        status_null.isNull().alias("was_f"),
        F.ifnull(
            F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")), F.lit("urgent!")
        ).alias("prio_filled"),
    )


# --- B15: date formatting (dialect-mapped format strings) ------------------
@_q(
    "q_date_format",
    """
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS iso_day,
           strftime(o_orderdate, '%Y/%m') AS year_month,
           CAST(strftime(o_orderdate, '%Y%m%d') AS BIGINT) AS day_key
    FROM orders
    """,
)
def q_date_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("iso_day"),
        F.date_format("o_orderdate", "yyyy/MM").alias("year_month"),
        F.date_format("o_orderdate", "yyyyMMdd").cast("bigint").alias("day_key"),
    )


# --- B16: pandas UDF (Arrow-vectorized — the only sanctioned Python path;
# a row-at-a-time @udf would break codegen and serialize per row).
# Per-row double arithmetic is order-fixed, so it matches the oracle exactly.
@_q(
    "q_udf_roundtrip",
    """
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge
    FROM lineitem
    """,
)
def q_udf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def charge(
        price: pd.Series, discount: pd.Series, tax: pd.Series
    ) -> pd.Series:
        return price * (1.0 - discount) * (1.0 + tax)

    li = t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        charge("l_extendedprice", "l_discount", "l_tax").alias("charge"),
    )


# --- layout demo: bucketed co-located fact-fact join ----------------------
# The 100 TB answer to the lineitem ⋈ orders shuffle: both tables written
# ONCE as catalog tables bucketed (and sorted) on the join key, after
# which every join on that key is a zero-exchange zip of co-located
# buckets — Catalyst sees the hash-distribution requirement already
# satisfied by the scan (asserted in tests/test_plans.py). Table names are
# keyed by a digest of sf_dir so different scale factors never collide;
# the rewrite is idempotent (mode=overwrite).
def _bucketed_pair(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    import hashlib

    from big_data_streaming_spark.plans.layout import write_bucketed

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    li_tab, ord_tab = f"li_bkt_{tag}", f"ord_bkt_{tag}"
    # Bucketing is a one-time layout investment: if this session already
    # built both tables and they match the source row counts (testdata is
    # immutable), reuse them — subsequent invocations measure the join,
    # not the rewrite. Count probes on bucketed parquet are metadata-cheap.
    if spark.catalog.tableExists(li_tab) and spark.catalog.tableExists(ord_tab):
        try:
            if (
                spark.table(li_tab).count() == t(spark, sf_dir, "lineitem").count()
                and spark.table(ord_tab).count()
                == t(spark, sf_dir, "orders").count()
            ):
                return li_tab, ord_tab
        except Exception:
            # Catalog entry with missing/partial files (another local
            # process rebuilt the warehouse dir under us, or a killed
            # earlier run left debris) — fall through and rebuild.
            pass
    # A fresh session's metastore may not know the table while its
    # warehouse location survives from an earlier session — drop both.
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for tab in (li_tab, ord_tab):
        spark.sql(f"DROP TABLE IF EXISTS {tab}")
        loc = os.path.join(wh, tab)
        if os.path.isdir(loc):
            shutil.rmtree(loc)
    write_bucketed(
        t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        ),
        li_tab,
        "l_orderkey",
        num_buckets=8,
        sort_col="l_orderkey",
    )
    write_bucketed(
        t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority"),
        ord_tab,
        "o_orderkey",
        num_buckets=8,
        sort_col="o_orderkey",
    )
    return li_tab, ord_tab


@_q(
    "q_join_bucketed",
    f"""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_items,
           {oracle_dec_sum('l.l_extendedprice * (1 - l.l_discount)', 'revenue')}
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    li_tab, ord_tab = _bucketed_pair(spark, sf_dir)
    li, orders = spark.table(li_tab), spark.table(ord_tab)
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey)
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        dec_sum(
            F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")),
            "revenue",
        ),
    )


# --- TPC-H Q5 shape: multi-way star join with a region gate ----------------
# Five joins, one fact pass: lineitem joins orders (fact-fact shuffle),
# everything else — customer, supplier, nation, region — is a broadcast.
# The local-supplier condition (customer and supplier in the same nation)
# is the classic join-graph cycle; expressing it declaratively lets
# Catalyst pick the join order instead of hand-scheduling it.
@_q(
    "q_tpch_q5",
    f"""
    SELECT n.n_name,
           {oracle_dec_sum('l.l_extendedprice * (1 - l.l_discount)', 'revenue')}
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem")
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(supp),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            dec_sum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
                "revenue",
            )
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


# --- TPC-H Q18 shape: HAVING-gated semi-join into a detail report ---------
# "Large volume customers": orders whose total quantity clears a
# threshold, joined back to customer detail. The inner aggregate is the
# same relation as the outer fact — Spark computes the lineitem groupBy
# once and semi-joins orders against it; quantity sums are decimal-routed
# (exact, associative) so the HAVING cut is bit-stable at any partitioning.
@_q(
    "q_tpch_q18",
    """
    WITH big AS (
        SELECT l_orderkey,
               CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS total_qty
        FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(38,6))) > 250
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           o.o_totalprice, b.total_qty
    FROM big b
    JOIN orders o ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderdate, o.o_orderkey
    LIMIT 100
    """,
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(38,6)")).alias("_q"))
        .filter(F.col("_q") > 250)
        .select("l_orderkey", F.col("_q").cast("double").alias("total_qty"))
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderdate", "o_orderkey")
        .limit(100)
    )


# --- B16 extension: grouped-aggregate pandas UDF (UDAF) --------------------
# The Arrow-batched aggregation surface: revenue per return flag computed
# INSIDE pandas, but kept bit-exact and partition-order-independent by
# summing integer cents (TPC-H prices carry 2 decimals, so price*100
# rounds to an exact int64 — integer addition is associative, the same
# policy workload/common.py applies with DECIMAL(38,6) on the JVM side).
# A naive float .sum() here would drift with partitioning; the oracle
# mirrors the cents trick. DuckDB round() is half-away-from-zero and
# numpy rint half-to-even, but price*100 lands within 1e-9 of an integer,
# where both agree.
@_q(
    "q_udaf_grouped",
    """
    SELECT l_returnflag,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
             / 100.0 AS exact_revenue,
           COUNT(*) AS n_items
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_udaf_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def exact_revenue(price: pd.Series) -> float:
        cents = np.rint(price.to_numpy() * 100).astype("int64")
        return float(cents.sum()) / 100.0

    # Spark disallows mixing group-agg pandas UDFs with JVM aggregates in
    # one agg(), so the row count is a pandas UDAF too.
    @pandas_udf("long")
    def n_rows(price: pd.Series) -> int:
        return len(price)

    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        exact_revenue("l_extendedprice").alias("exact_revenue"),
        n_rows("l_extendedprice").alias("n_items"),
    )


# --- B15 completion: map-function scalar pack ------------------------------
# Exercises the map surface (create_map, map_concat, map_keys/values,
# element_at, map_contains_key) JVM-side. The oracle states the provably
# equivalent scalar values directly — the POINT is that Spark's map ops
# reduce to them; key order in map_keys/map_values follows insertion
# order (deterministic), pinned by the joined-keys column.
@_q(
    "q_scalar_map",
    """
    SELECT l_orderkey, l_linenumber,
           l_returnflag AS flag_val,
           CAST(3 AS INTEGER) AS n_keys,
           TRUE AS has_status,
           'flag,qty,status' AS keys_joined,
           l_returnflag || '|' || l_linestatus
             || '|' || CAST(CAST(l_quantity AS BIGINT) AS VARCHAR)
             AS vals_joined
    FROM lineitem
    WHERE l_orderkey % 1000 = 0
    """,
)
def q_scalar_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 1000 == 0)
    base = F.create_map(
        F.lit("flag"), F.col("l_returnflag"),
        F.lit("status"), F.col("l_linestatus"),
    )
    extra = F.create_map(
        F.lit("qty"), F.col("l_quantity").cast("bigint").cast("string")
    )
    m = F.map_concat(base, extra)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.element_at(m, "flag").alias("flag_val"),
        F.size(m).alias("n_keys"),
        F.map_contains_key(m, "status").alias("has_status"),
        F.array_join(F.sort_array(F.map_keys(m)), ",").alias("keys_joined"),
        F.array_join(F.map_values(m), "|").alias("vals_joined"),
    )


# --- TPC-H Q10 shape: returned-item ranking --------------------------------
# Revenue lost to returns per customer: fact filter (returnflag) → join
# orders (fact-fact) → broadcast customer/nation detail → top-20. The
# classic "report query" plan: one shuffle join, broadcast dims,
# TakeOrderedAndProject at the end.
@_q(
    "q_tpch_q10",
    f"""
    SELECT c.c_custkey, c.c_name,
           {oracle_dec_sum('l.l_extendedprice * (1 - l.l_discount)', 'revenue')},
           c.c_acctbal, n.n_name
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    cust = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    return (
        li.join(orders.select("o_orderkey", "o_custkey"),
                li.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            dec_sum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
                "revenue",
            )
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# --- TPC-H Q19 shape: disjunctive multi-attribute predicates ---------------
# OR-of-ANDs across two tables — the optimizer stress case: the common
# conjuncts (the join key, the per-branch part filter) must still reach
# the scans even though the top-level predicate is a disjunction
# (Catalyst's CNF extraction pushes the p_brand IN (...) superset down).
@_q(
    "q_tpch_q19",
    f"""
    SELECT {oracle_dec_sum('l.l_extendedprice * (1 - l.l_discount)', 'revenue')},
           COUNT(*) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1 AND l.l_quantity <= 21)
       OR (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity >= 10 AND l.l_quantity <= 30)
       OR (p.p_brand = 'Brand#20' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity >= 20 AND l.l_quantity <= 40)
    """,
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    qty, brand, size = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    branch = lambda b, smax, qlo, qhi: (  # noqa: E731
        (brand == b)
        & size.between(1, smax)
        & (qty >= qlo)
        & (qty <= qhi)
    )
    pred = (
        branch("Brand#1", 15, 1, 21)
        | branch("Brand#13", 25, 10, 30)
        | branch("Brand#20", 35, 20, 40)
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(pred)
        .agg(
            dec_sum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
                "revenue",
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --- format interop: ORC round-trip under the oracle gate ------------------
# The columnar-format story beyond parquet: project + filter lineitem,
# write ORC, read it back, aggregate — value-checked against the oracle
# computing the same aggregate straight from parquet. Proves the ORC
# writer/reader path preserves values exactly (types, nulls, decimals),
# not just that it "runs" (filter pushdown on the ORC scan is pinned
# separately in tests/test_formats.py).
@_q(
    "q_format_roundtrip",
    f"""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           {oracle_dec_sum('l_extendedprice', 'sum_price')}
    FROM lineitem
    WHERE l_discount > 0.05
    GROUP BY l_returnflag
    """,
)
def q_format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_streaming_spark.sources.staging import pid_scratch_dirs

    out, _ = pid_scratch_dirs("format_roundtrip", sf_dir)
    (
        t(spark, sf_dir, "lineitem")
        .where(F.col("l_discount") > 0.05)
        .select("l_returnflag", "l_extendedprice")
        .write.mode("overwrite")
        .orc(out)
    )
    back = spark.read.orc(out)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dec_sum("l_extendedprice", "sum_price"),
    )


# --- layout demo: Z-order clustering under the oracle gate -----------------
# Write lineitem z-ordered on (l_orderkey, l_quantity) — the Morton
# interleave of rank-quantized keys (plans/zorder.py, bounding-box
# tightening measured in tests/test_zorder.py) — read it back and
# aggregate; the plain-SQL oracle proves the clustered rewrite is
# value-neutral. Same temp-dir idempotence pattern as q_route_by_key.
@_q(
    "q_zorder_layout",
    f"""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           {oracle_dec_sum('l_extendedprice', 'sum_price')}
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_streaming_spark.plans.zorder import write_zordered
    from big_data_streaming_spark.sources.staging import pid_scratch_dirs

    out, _ = pid_scratch_dirs("zorder_layout", sf_dir)
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag", "l_extendedprice"
    )
    write_zordered(li, out, ["l_orderkey", "l_quantity"], bits=6, n_files=8)
    back = spark.read.parquet(out)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dec_sum("l_extendedprice", "sum_price"),
    )


# --- B8 completion: FULL OUTER join ---------------------------------------
# The join matrix needs the symmetric case: unmatched rows surviving from
# BOTH sides. The ON-clause status filter guarantees both kinds of
# unmatched rows exist. At scale: full outer cannot broadcast either side
# (outer rows must survive), so this is the one join shape that is always
# a shuffle sort-merge — worth pinning for exactly that reason.
@_q(
    "q_join_full",
    """
    SELECT c.c_custkey, c.c_mktsegment, o.o_orderkey, o.o_orderstatus
    FROM customer c
    FULL OUTER JOIN orders o
      ON c.c_custkey = o.o_custkey AND o.o_orderstatus = 'F'
    """,
)
def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    cond = (cust.c_custkey == orders.o_custkey) & (orders.o_orderstatus == "F")
    return cust.join(orders, cond, "full_outer").select(
        "c_custkey", "c_mktsegment", "o_orderkey", "o_orderstatus"
    )


# --- B7 completion: explicit cross join (bounded dims only) ---------------
# Engine rule §4.3: cartesian products are allowed ONLY between bounded
# dimension tables (|region| × |nation| = 125 rows at any SF). The query
# exists to pin that the engine *can* express one deliberately — and that
# nothing else in the registry does.
@_q(
    "q_join_cross",
    """
    SELECT r.r_name, n.n_name,
           (n.n_regionkey = r.r_regionkey) AS in_region
    FROM region r CROSS JOIN nation n
    """,
)
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = t(spark, sf_dir, "region")
    nation = t(spark, sf_dir, "nation")
    return region.crossJoin(F.broadcast(nation)).select(
        "r_name",
        "n_name",
        (F.col("n_regionkey") == F.col("r_regionkey")).alias("in_region"),
    )


# --- B7 completion: null-safe equality join (<=> / IS NOT DISTINCT FROM) --
# NULL join keys silently drop rows under plain equality; pipelines that
# key on optional attributes need the null-safe form where NULL matches
# NULL. Derived nullable keys via NULLIF exercise both the NULL and
# non-NULL match paths.
@_q(
    "q_join_nullsafe",
    """
    WITH a AS (SELECT NULLIF(c_nationkey % 5, 0) AS k, c_custkey FROM customer),
         b AS (SELECT NULLIF(s_nationkey % 5, 0) AS k, s_suppkey FROM supplier)
    SELECT a.k, COUNT(*) AS n_pairs
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    GROUP BY a.k
    """,
)
def q_join_nullsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer").select(
        F.nullif(F.col("c_nationkey") % 5, F.lit(0)).alias("k"), "c_custkey"
    )
    supp = t(spark, sf_dir, "supplier").select(
        F.nullif(F.col("s_nationkey") % 5, F.lit(0)).alias("sk"), "s_suppkey"
    )
    return (
        cust.join(supp, cust.k.eqNullSafe(supp.sk))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# --- graph analytics: triangle count (strong-tie co-supplier graph) -------
# Nodes = suppliers, edges = pairs sharing orders. Two density defenses,
# both required at 100 TB:
#   1. STRONG-TIE FILTER (round-4, VERDICT r3 task 5): keep only edges
#      whose co-occurrence weight exceeds 1.5x the mean weight. On a
#      near-complete co-occurrence graph (the sf0.1 fixture: 1,000
#      suppliers, 454k edges, ~125M wedges) exact triangle counts over
#      ALL ties are quadratic in degree and answer no real question —
#      dense components are exactly where the strong-tie census is the
#      meaningful statistic. The cut is ADAPTIVE (mean-relative, like
#      q_s_core's per-round threshold) because absolute weights grow
#      with scale factor; it is computed as one tiny aggregate and
#      broadcast, never collected. Exactness: integer SUM/COUNT are
#      exact in both engines, and both evaluate the identical
#      1.5 * (SUM/COUNT) expression tree, so the cut is bit-identical.
#   2. DEGREE ORIENTATION: surviving edges point low-degree ->
#      high-degree (id tie-break) so wedge fan-out is bounded by the
#      SMALLER endpoint's degree — hub-skew-safe. The oracle orients by
#      id (a<b<c); both count each triangle exactly once, so the values
#      match while the physical plans differ — which is the point.
@_q(
    "q_triangles",
    """
    WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    ew AS (SELECT a.l_suppkey AS u, b.l_suppkey AS v, COUNT(*) AS w
           FROM os a JOIN os b
             ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
           GROUP BY 1, 2),
    e AS (SELECT u, v FROM ew
          WHERE w > (SELECT 1.5 * (CAST(SUM(w) AS DOUBLE) / COUNT(*)) FROM ew)),
    tri AS (SELECT COUNT(*) AS n_triangles
            FROM e e1
            JOIN e e2 ON e2.u = e1.v
            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
    SELECT (SELECT COUNT(DISTINCT l_suppkey) FROM os) AS n_nodes,
           (SELECT COUNT(*) FROM e) AS n_edges,
           tri.n_triangles
    FROM tri
    """,
)
def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    # os_ feeds the edge build AND the node count; e feeds degree, three
    # oriented join legs and the edge count. Without persist each
    # consumer re-derives the whole subtree (measured: 62 exchanges in
    # the unpersisted plan vs 7 with persist) — at 100 TB that is seven
    # redundant scans+shuffles of the fact table. Same policy as
    # functions/dedup.py:minhash band-hash persist.
    os_ = li.select("l_orderkey", "l_suppkey").distinct().persist()
    a, b = os_.alias("a"), os_.alias("b")
    ew = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .select(
            F.col("a.l_suppkey").alias("u"), F.col("b.l_suppkey").alias("v")
        )
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
        .persist()
    )
    # Adaptive strong-tie cut: one 1-row aggregate over the weighted edge
    # relation, broadcast into the filter — no driver collect. The
    # expression tree (1.5 * (double(SUM)/COUNT)) mirrors the oracle's
    # exactly so the IEEE result is bit-identical.
    cut = ew.agg(
        (F.lit(1.5) * (F.sum("w").cast("double") / F.count(F.lit(1)))).alias("cut")
    )
    e = (
        ew.crossJoin(F.broadcast(cut))
        .filter(F.col("w") > F.col("cut"))
        .select("u", "v")
        .persist()
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    e_deg = (
        e.join(
            F.broadcast(deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))),
            "u",
        ).join(
            F.broadcast(deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))),
            "v",
        )
    )
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = e_deg.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("ou"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("ov"),
    ).persist()
    o1, o2, o3 = oriented.alias("o1"), oriented.alias("o2"), oriented.alias("o3")
    wedges = o1.join(o2, F.col("o1.ov") == F.col("o2.ou")).select(
        F.col("o1.ou").alias("x"), F.col("o1.ov").alias("y"), F.col("o2.ov").alias("z")
    )
    tri = (
        wedges.join(
            o3, (F.col("x") == F.col("o3.ou")) & (F.col("z") == F.col("o3.ov"))
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    n_nodes = os_.agg(
        F.count_distinct(F.col("l_suppkey")).alias("n_nodes")
    )
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return n_nodes.crossJoin(n_edges).crossJoin(tri)


# --- B11/B12 completion: distribution window functions --------------------
# percent_rank and cume_dist are exact integer ratios ((rank-1)/(n-1),
# rows<=current/n) so the doubles are bit-identical across engines;
# nth_value gets an explicit full-partition frame because the two
# engines' DEFAULT frames differ (RANGE vs ROWS) — pinning the frame is
# the portability lesson this query encodes.
@_q(
    "q_window_distribution",
    """
    SELECT o_orderkey, o_custkey, o_totalprice,
           percent_rank() OVER w AS price_pct_rank,
           cume_dist() OVER w AS price_cume_dist,
           nth_value(o_orderkey, 2) OVER
             (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS second_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.percent_rank().over(w).alias("price_pct_rank"),
        F.cume_dist().over(w).alias("price_cume_dist"),
        F.nth_value("o_orderkey", 2).over(wfull).alias("second_order"),
    )


# --- engine ops: data-quality audit (Deequ-style constraint suite) --------
# One query = the whole constraint report: referential integrity (anti
# joins), key uniqueness, null-rate gates. Each check is a tiny pruned
# aggregate; the union is a constant number of rows regardless of data
# size, so the audit is safe to run after every batch load at 100 TB
# (each FK check is one broadcast/shuffle anti-join over pruned columns).
@_q(
    "q_dq_audit",
    """
    SELECT 'orders_custkey_fk' AS check_name,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
            WHERE o.o_custkey NOT IN (SELECT c_custkey FROM customer))
             AS violations
    UNION ALL
    SELECT 'lineitem_orderkey_fk',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
            WHERE l.l_orderkey NOT IN (SELECT o_orderkey FROM orders))
    UNION ALL
    SELECT 'customer_custkey_unique',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM
             (SELECT c_custkey FROM customer
              GROUP BY c_custkey HAVING COUNT(*) > 1) d)
    UNION ALL
    SELECT 'events_value_null',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM events WHERE value IS NULL)
    """,
)
def q_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    li = t(spark, sf_dir, "lineitem")
    ev = t(spark, sf_dir, "events")

    def check(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("violations")).select(
            F.lit(name).alias("check_name"), "violations"
        )

    fk_orders = orders.select("o_custkey").join(
        cust.select("c_custkey"),
        F.col("o_custkey") == F.col("c_custkey"),
        "left_anti",
    )
    fk_lineitem = li.select("l_orderkey").join(
        orders.select("o_orderkey"),
        F.col("l_orderkey") == F.col("o_orderkey"),
        "left_anti",
    )
    dup_cust = (
        cust.groupBy("c_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )
    null_val = ev.filter(F.col("value").isNull())
    return (
        check("orders_custkey_fk", fk_orders)
        .unionByName(check("lineitem_orderkey_fk", fk_lineitem))
        .unionByName(check("customer_custkey_unique", dup_cust))
        .unionByName(check("events_value_null", null_val))
    )


# --- warehouse op: snapshot diff (change-data-feed between versions) ------
# Classify every key as inserted / deleted / updated / unchanged between
# two table versions — the diff a lakehouse CDF emits, computed from
# plain snapshots. The "old" snapshot is derived deterministically
# (orders minus every 10th key, prices scaled on every 7th) so the query
# is self-contained on the fixtures. Full outer join on the key, one
# shuffle each side; at 100 TB both snapshots share bucketing on the key
# and the join is zero-exchange (plans/layout.py).
@_q(
    "q_snapshot_diff",
    """
    WITH old AS (
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 0.9
                    ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 10 <> 0
    ), new AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    )
    SELECT COALESCE(n.o_orderkey, o.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                WHEN n.o_orderkey IS NULL THEN 'delete'
                WHEN n.o_totalprice <> o.o_totalprice
                     OR n.o_orderstatus <> o.o_orderstatus THEN 'update'
                ELSE 'unchanged' END AS change_type,
           o.o_totalprice AS old_price,
           n.o_totalprice AS new_price
    FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    """,
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 10 != 0).select(
        F.col("o_orderkey").alias("old_key"),
        F.col("o_orderstatus").alias("old_status"),
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") * F.lit(0.9)
        )
        .otherwise(F.col("o_totalprice"))
        .alias("old_price"),
    )
    new = orders.select(
        F.col("o_orderkey").alias("new_key"),
        F.col("o_orderstatus").alias("new_status"),
        F.col("o_totalprice").alias("new_price"),
    )
    joined = old.join(new, old.old_key == new.new_key, "full_outer")
    change = (
        F.when(F.col("old_key").isNull(), "insert")
        .when(F.col("new_key").isNull(), "delete")
        .when(
            (F.col("new_price") != F.col("old_price"))
            | (F.col("new_status") != F.col("old_status")),
            "update",
        )
        .otherwise("unchanged")
    )
    return joined.select(
        F.coalesce(F.col("new_key"), F.col("old_key")).alias("o_orderkey"),
        change.alias("change_type"),
        "old_price",
        "new_price",
    )


# --- A24 extension: ANSI-safe arithmetic (try_divide / try_multiply /
# try_add). This env runs ANSI mode, where raw overflow/zero-division
# THROWS (the round-1 minhash remix bug) — the try_* family is the
# declared NULL-on-error escape hatch. The oracle mirrors the semantics
# exactly: NULLIF for zero division, HUGEINT range guards for overflow
# (DuckDB has no try_* — the CASE reproduces the definition).
@_q(
    "q_try_arith",
    """
    SELECT l_orderkey, l_linenumber,
           l_extendedprice / NULLIF(CAST(l_linenumber - 1 AS DOUBLE), 0.0)
             AS safe_ratio,
           CASE WHEN CAST(l_orderkey AS HUGEINT) * 4611686018427387904
                     BETWEEN -9223372036854775808 AND 9223372036854775807
                THEN l_orderkey * 4611686018427387904 END AS big_product,
           CASE WHEN CAST(l_orderkey AS HUGEINT) + 9223372036854775802
                     <= 9223372036854775807
                THEN l_orderkey + 9223372036854775802 END AS big_sum
    FROM lineitem
    """,
)
def q_try_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tr(): the try_* expression map over the full fact ran as ONE fused
    # scan task on the single-row-group layout — the slowest key in the
    # round-12 registry sweep. Interleaved A/B 22.5 -> 8.0 s at sf0.1;
    # no-op at production row-group counts (guide §2.5/§6).
    li = tr(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.try_divide(
            F.col("l_extendedprice"), (F.col("l_linenumber") - 1).cast("double")
        ).alias("safe_ratio"),
        F.try_multiply(F.col("l_orderkey"), F.lit(4611686018427387904)).alias(
            "big_product"
        ),
        F.try_add(F.col("l_orderkey"), F.lit(9223372036854775802)).alias("big_sum"),
    )


# --- B10 completion: MULTISET set operations -------------------------------
# INTERSECT ALL / EXCEPT ALL are different operators from their DISTINCT
# cousins (bag semantics: min / truncated-difference of multiplicities),
# and Spark executes them with dedicated plans (intersectAll/exceptAll →
# left-semi/anti style joins over counted rows) — worth their own gate
# rows. lineitem's l_orderkey repeats per line, so multiplicities are
# real (DISTINCT and ALL answers differ by thousands of rows).
@_q(
    "q_intersect_all",
    """
    SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
    INTERSECT ALL
    SELECT l_orderkey FROM lineitem WHERE l_linestatus = 'F'
    """,
)
def q_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    b = li.filter(F.col("l_linestatus") == "F").select("l_orderkey")
    return a.intersectAll(b)


@_q(
    "q_except_all",
    """
    SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
    EXCEPT ALL
    SELECT l_orderkey FROM lineitem WHERE l_linestatus = 'F'
    """,
)
def q_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    b = li.filter(F.col("l_linestatus") == "F").select("l_orderkey")
    return a.exceptAll(b)


# --- B15 completion: boolean/conditional aggregates ------------------------
# count_if / bool_and / bool_or — the data-quality predicates analysts
# reach for first. Pure integer/boolean domain: exactness is free.
@_q(
    "q_agg_boolean",
    """
    SELECT event_type,
           CAST(count_if(value > 100) AS BIGINT) AS n_big,
           bool_and(value > 0) AS all_positive,
           bool_or(value > 400) AS any_huge,
           CAST(count_if(user_id % 2 = 0) AS BIGINT) AS n_even_users
    FROM events
    GROUP BY event_type
    """,
)
def q_agg_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count_if(F.col("value") > 100).alias("n_big"),
        F.bool_and(F.col("value") > 0).alias("all_positive"),
        F.bool_or(F.col("value") > 400).alias("any_huge"),
        F.count_if(F.col("user_id") % 2 == 0).alias("n_even_users"),
    )


# --- B13 completion: GROUPING() provenance labels --------------------------
# ROLLUP output rows are ambiguous without GROUPING(): a NULL grouping
# key can be a real NULL or a subtotal row. GROUPING()/GROUPING_ID()
# disambiguate — the standard SQL surface for cube consumers.
def _grouping_id_sql(table: str) -> str:
    return f"""
    SELECT event_type,
           CAST(GROUPING(event_type) AS INTEGER) AS is_total,
           CAST(GROUPING_ID(event_type, user_id % 3) AS INTEGER) AS gid,
           COUNT(*) AS n
    FROM {table}
    GROUP BY ROLLUP(event_type, user_id % 3)
    """


@_q("q_grouping_id", _grouping_id_sql("events"))
def q_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    # grouping_id() must reference the EXACT grouping expressions — the
    # DataFrame rollup aliases the derived key and trips
    # GROUPING_ID_COLUMN_MISMATCH, so this runs the oracle's SQL text
    # (one shared template, no hand-synced copies).
    t(spark, sf_dir, "events").createOrReplaceTempView("events_v")
    return spark.sql(_grouping_id_sql("events_v"))


# --- B1 completion: discrete percentile (exact order statistic) ------------
# percentile_cont interpolates; the DISC variant returns an actual data
# value — the form you want when the measure is not interpolable (ids,
# enum codes) or when the answer must exist in the data. Semantics
# pinned explicitly (value at rank ceil(q·n), ties broken by event_id)
# as ONE shared SQL text instead of trusting two engines' quantile_disc
# defaults to agree.
_PDISC_SQL = """
    WITH r AS (
        SELECT event_type, value,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY value, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM {src}
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n,
           MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN value END)
               AS p50_disc,
           MAX(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN value END)
               AS p90_disc,
           MAX(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN value END)
               AS p99_disc
    FROM r GROUP BY event_type
"""


@_q("q_percentile_disc", _PDISC_SQL.format(src="events"))
def q_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    t(spark, sf_dir, "events").createOrReplaceTempView("events_v")
    return spark.sql(_PDISC_SQL.format(src="events_v"))


# --- B14 completion: bitwise aggregates ------------------------------------
# bit_and/bit_or/bit_xor are the mergeable-flag tier below real bitmaps
# (q_bitmap_distinct): permission-mask unions, feature-flag intersection,
# parity checks — all map-side combinable, integer-exact.
@_q(
    "q_agg_bitwise",
    """
    SELECT event_type,
           CAST(bit_and(user_id) AS BIGINT) AS mask_and,
           CAST(bit_or(user_id) AS BIGINT) AS mask_or,
           CAST(bit_xor(user_id) AS BIGINT) AS mask_xor,
           CAST(bit_or(1 << CAST(user_id % 16 AS INTEGER)) AS BIGINT)
               AS bucket_bitmap
    FROM events
    GROUP BY event_type
    """,
)
def q_agg_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.bit_and("user_id").cast("bigint").alias("mask_and"),
        F.bit_or("user_id").cast("bigint").alias("mask_or"),
        F.bit_xor("user_id").cast("bigint").alias("mask_xor"),
        # pyspark's shiftleft() only takes a literal bit count; the SQL
        # form accepts a column expression
        F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 16 AS INT))"))
        .cast("bigint")
        .alias("bucket_bitmap"),
    )


# --- B1 extension: multiple COUNT(DISTINCT) in one aggregate ---------------
# Daily-active summary with TWO independent distinct counts plus plain
# aggregates in the same GROUP BY — the one aggregation shape Spark
# cannot run as a single hash agg. Catalyst rewrites it through an
# Expand operator (each input row fans out once per distinct group +
# once for the non-distinct aggregates), then two aggregation rounds;
# the plan is pinned in tests/test_plans.py. At 100 TB this matters
# because the Expand multiplies shuffle volume by the number of
# distinct groups: the scale remedy is one pass per distinct column or
# mergeable sketches (q_sketch_hll) when tolerance allows — this query
# is the exact tier. Sum routes through DECIMAL(38,6) (common.py).
@_q(
    "q_multi_distinct",
    f"""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {oracle_dec_sum('value', 'total_value')}
    FROM events
    GROUP BY date_trunc('day', ts)
    """,
)
def q_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    return e.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.countDistinct("event_type").cast("bigint").alias("n_types"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        dec_sum("value", "total_value"),
    )


# --- data profiling (ANALYZE TABLE-shape column statistics) ----------------
# The complement of q_dq_audit's constraint checks: per-column summary
# statistics (rows, nulls, exact NDV, min/max, decimal-routed sum) over
# the four numeric lineitem measures — what a catalog stores to drive
# CBO estimates and what every ingestion pipeline snapshots per load.
# Implemented as an unpivot (stack) to (col_name, value) rows, then ONE
# hash aggregate — one fact scan for all columns instead of one scan per
# column; map-side combinable; output is O(columns). Exact NDV is the
# honest tier here (doubles dedupe exactly); the sketch tier for 100 TB
# is q_sketch_hll.
@_q(
    "q_profile_columns",
    f"""
    WITH u AS (
        SELECT 'l_quantity' AS col_name, l_quantity AS v FROM lineitem
        UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
        UNION ALL SELECT 'l_discount', l_discount FROM lineitem
        UNION ALL SELECT 'l_tax', l_tax FROM lineitem
    )
    SELECT col_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT(v) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct,
           MIN(v) AS min_v,
           MAX(v) AS max_v,
           {oracle_dec_sum('v', 'sum_v')}
    FROM u
    GROUP BY col_name
    """,
)
def q_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    u = li.select(
        F.expr(
            "stack(4, 'l_quantity', l_quantity,"
            " 'l_extendedprice', l_extendedprice,"
            " 'l_discount', l_discount, 'l_tax', l_tax)"
        ).alias("col_name", "v")
    )
    return u.groupBy("col_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        (F.count(F.lit(1)) - F.count("v")).cast("bigint").alias("n_nulls"),
        F.countDistinct("v").cast("bigint").alias("n_distinct"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
        dec_sum("v", "sum_v"),
    )


# --- B16 completion: SQL-declared scalar UDF (Spark 4) ---------------------
# The third UDF tier after Arrow pandas_udf (q_udf_roundtrip) and the
# Python UDTF (q_token_runs): a function DECLARED IN SQL (CREATE
# TEMPORARY FUNCTION ... RETURN <expr>). Catalyst inlines the body into
# the plan — unlike Python UDFs there is no serialization boundary, no
# Arrow batch, and whole-stage codegen survives, which is why this is
# the preferred way to share scalar logic at 100 TB. The oracle inlines
# the same arithmetic (one IEEE division on exact integer inputs);
# a temporary function is session-scoped so repeated gate runs are safe
# (CREATE OR REPLACE).
@_q(
    "q_sql_udf",
    """
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(len(string_split(text, ' ')) AS DOUBLE)
               / CAST(n_chars + 1 AS DOUBLE) AS density
    FROM documents
    """,
)
def q_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    t(spark, sf_dir, "documents").createOrReplaceTempView("docs_sqludf")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION token_density"
        "(n_tokens BIGINT, n_chars BIGINT) RETURNS DOUBLE"
        " RETURN CAST(n_tokens AS DOUBLE) / CAST(n_chars + 1 AS DOUBLE)"
    )
    return spark.sql(
        """
        SELECT doc_id,
               CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens,
               token_density(CAST(size(split(text, ' ')) AS BIGINT), n_chars)
                   AS density
        FROM docs_sqludf
        """
    )


# --- skew remedy as an operator: salted hot-key join ----------------------
# The manual companion to the AQE skew-join plan pin
# (tests/test_plans.py:test_aqe_splits_skewed_join_partition) and the
# salted AGGREGATE (q_salted_agg): when one join key holds most of the
# fact side, salt the fact key with hash(row)%S and replicate the dim
# row S times, so the hot key spreads over S shuffle partitions instead
# of one straggler task. The query manufactures 90% skew (9 of every 10
# lineitems collapse onto supplier key 1), joins SALTED, and aggregates
# back — the oracle runs the PLAIN join + aggregate, proving the salt
# is physical-only: bit-identical logical result (decimal-routed sums
# are associative, so partial order under salting cannot leak). At
# 100 TB S scales with the observed hot-partition factor; the dim
# replication is S× a broadcastable relation, i.e. free.
_SJ_SALTS = 8
_SJ_KEY = "CASE WHEN l_suppkey % 10 < 9 THEN 1 ELSE l_suppkey END"


@_q(
    "q_salted_join",
    f"""
    WITH f AS (
        SELECT {_SJ_KEY} AS jk, l_quantity FROM lineitem
    ), d AS (
        SELECT s_suppkey AS jk, CAST(s_nationkey + 1 AS DOUBLE) AS w
        FROM supplier
    )
    SELECT f.jk, CAST(COUNT(*) AS BIGINT) AS n_rows,
           {oracle_dec_sum('f.l_quantity * d.w', 'weighted_qty')}
    FROM f JOIN d ON f.jk = d.jk
    GROUP BY f.jk
    """,
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    fact = t(spark, sf_dir, "lineitem").select(
        F.expr(_SJ_KEY).alias("jk"),
        "l_quantity",
        F.pmod(F.hash("l_orderkey", "l_linenumber"), F.lit(_SJ_SALTS)).alias(
            "salt"
        ),
    )
    dim = (
        t(spark, sf_dir, "supplier")
        .select(
            F.col("s_suppkey").alias("jk"),
            (F.col("s_nationkey") + 1).cast("double").alias("w"),
        )
        .withColumn(
            "salt", F.explode(F.array(*[F.lit(i) for i in range(_SJ_SALTS)]))
        )
    )
    joined = fact.join(dim, ["jk", "salt"])
    return joined.groupBy("jk").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        dec_sum(F.col("l_quantity") * F.col("w"), "weighted_qty"),
    )


# --- B15 completion: exact interpolated percentiles (round 4) -------------
# percentile_cont semantics — the continuous counterpart to
# q_percentile_disc and the exact counterpart to q_approx_percentile.
# Spark's `percentile` and DuckDB's `quantile_cont` both compute
# a[floor(p*(n-1))] + frac * (a[+1] - a[floor]) over the sorted group;
# verified bit-identical on genuinely interpolated doubles (97 small
# groups over l_extendedprice, zero mismatches at sf0.01). Small keyed
# groups make the interpolation path real instead of collapsing onto
# repeated integer values. Plan: one hash aggregate; percentile is an
# order-carrying agg, so partials hold the group's values — at 100 TB
# prefer q_approx_percentile for hot paths and this for exact audits.
@_q(
    "q_percentile_cont",
    """
    SELECT l_orderkey % 97 AS grp,
           quantile_cont(CAST(l_quantity AS DOUBLE), 0.25) AS qty_q1,
           quantile_cont(CAST(l_quantity AS DOUBLE), 0.5) AS qty_median,
           quantile_cont(CAST(l_quantity AS DOUBLE), 0.75) AS qty_q3,
           quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.905) AS price_p905
    FROM lineitem
    GROUP BY 1
    """,
)
def q_percentile_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("double")
    return li.groupBy((F.col("l_orderkey") % 97).alias("grp")).agg(
        F.percentile(qty, F.lit(0.25)).alias("qty_q1"),
        F.percentile(qty, F.lit(0.5)).alias("qty_median"),
        F.percentile(qty, F.lit(0.75)).alias("qty_q3"),
        F.percentile(F.col("l_extendedprice").cast("double"), F.lit(0.905)).alias(
            "price_p905"
        ),
    )


# --- Bloom-filter build + false-positive audit (round 4) --------------------
# The join-pruning primitive made first-class: build a 2^17-bit Bloom
# filter (4096 × 32-bit words, k = 3 md5-derived hashes — ~6.5 bits per
# build key at the bench scale factor, fpr well under 1%) over the
# DISTINCT l_partkey build set, then probe it with keys GUARANTEED
# absent (p_partkey + 1,000,000) and measure the realized
# false-positive rate against the classic (1 − e^{−kn/m})^k ballpark —
# except nothing transcendental is computed: the audit reports the
# EXACT bit population and the MEASURED fpr, both integers plus one
# division. Everything is codegen bit arithmetic (md5 → hex→bigint
# bridge, shifts, masks); the filter itself is a 128-row bit_or
# aggregate — the same shape Spark's runtime row-level bloom pruning
# materializes, here inspectable and oracle-checked. 100 TB: the build
# is one combinable aggregate over the distinct keys; the probe joins
# against a BROADCAST 128-row bitmap — per-row work only, no shuffle.
_BLOOM_BITS = 131072
_BLOOM_WORD = 32
_BLOOM_K = 3


@_q(
    "q_bloom_membership",
    f"""
    WITH build AS (
        SELECT DISTINCT l_partkey AS key FROM lineitem
    ), bits AS (
        SELECT CAST('0x' || substr(md5(CAST(key AS VARCHAR) || ':' ||
                                       CAST(g.j AS VARCHAR)), 1, 8)
                    AS BIGINT) % {_BLOOM_BITS} AS pos
        FROM build, range(0, {_BLOOM_K}) g(j)
    ), words AS (
        SELECT pos // {_BLOOM_WORD} AS word,
               bit_or(CAST(1 AS BIGINT) << CAST(pos % {_BLOOM_WORD} AS INT))
                   AS bits
        FROM bits GROUP BY 1
    ), filt AS (
        SELECT CAST((SELECT COUNT(*) FROM build) AS BIGINT) AS n_keys,
               CAST(SUM(bit_count(bits)) AS BIGINT) AS n_bits_set
        FROM words
    ), probes AS (
        SELECT p_partkey + 1000000 AS probe FROM part
    ), phash AS (
        SELECT probe,
               CAST('0x' || substr(md5(CAST(probe AS VARCHAR) || ':' ||
                                       CAST(g.j AS VARCHAR)), 1, 8)
                    AS BIGINT) % {_BLOOM_BITS} AS pos
        FROM probes, range(0, {_BLOOM_K}) g(j)
    ), checked AS (
        SELECT p.probe,
               CAST(SUM(CASE WHEN (COALESCE(w.bits, 0) &
                        (CAST(1 AS BIGINT) <<
                         CAST(p.pos % {_BLOOM_WORD} AS INT))) <> 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
        FROM phash p LEFT JOIN words w ON p.pos // {_BLOOM_WORD} = w.word
        GROUP BY p.probe
    ), audit AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
               CAST(SUM(CASE WHEN n_hit = {_BLOOM_K} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_false_pos
        FROM checked
    )
    SELECT f.n_keys, CAST({_BLOOM_BITS} AS BIGINT) AS m_bits, f.n_bits_set,
           a.n_probes, a.n_false_pos,
           CAST(a.n_false_pos AS DOUBLE) / CAST(a.n_probes AS DOUBLE) AS fpr
    FROM filt f CROSS JOIN audit a
    """,
)
def q_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    js = F.sequence(F.lit(0), F.lit(_BLOOM_K - 1))

    def positions(key_col: str):
        return F.explode(
            F.transform(
                js,
                lambda j: F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                ":",
                                F.col(key_col).cast("string"),
                                j.cast("string"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("bigint")
                % _BLOOM_BITS,
            )
        ).alias("pos")

    build = (
        t(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("key"))
        .distinct()
    )
    mask = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {_BLOOM_WORD} AS INT))"
    )
    words = (
        build.select(positions("key"))
        .select(F.floor(F.col("pos") / _BLOOM_WORD).alias("word"), mask.alias("m"))
        .groupBy("word")
        .agg(F.expr("bit_or(m)").alias("bits"))
    )
    filt = build.agg(F.count(F.lit(1)).cast("bigint").alias("n_keys")).crossJoin(
        F.broadcast(
            words.agg(
                F.sum(F.bit_count("bits")).cast("bigint").alias("n_bits_set")
            )
        )
    )
    probes = t(spark, sf_dir, "part").select(
        (F.col("p_partkey") + 1000000).alias("probe")
    )
    checked = (
        probes.select("probe", positions("probe"))
        .select(
            "probe",
            F.floor(F.col("pos") / _BLOOM_WORD).alias("word"),
            mask.alias("m"),
        )
        .join(F.broadcast(words), "word", "left")
        .groupBy("probe")
        .agg(
            F.sum(
                F.when(
                    (F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("m")))
                    != 0,
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_hit")
        )
    )
    audit = checked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probes"),
        F.sum(F.when(F.col("n_hit") == _BLOOM_K, 1).otherwise(0))
        .cast("bigint")
        .alias("n_false_pos"),
    )
    return filt.crossJoin(F.broadcast(audit)).select(
        "n_keys",
        F.lit(_BLOOM_BITS).cast("bigint").alias("m_bits"),
        "n_bits_set",
        "n_probes",
        "n_false_pos",
        (
            F.col("n_false_pos").cast("double")
            / F.col("n_probes").cast("double")
        ).alias("fpr"),
    )


# --- self-join cardinality estimator vs ground truth (round 4) ---------------
# The optimizer-statistics audit behind every LSH/posting-list design
# decision in this repo: a self-equi-join on key k produces EXACTLY
# Σ c(k)² rows, while the textbook uniform estimate says n²/d. This
# query computes both for (a) lineitem.l_partkey (the classic fact
# self-join) and (b) the documents 8-token shingle posting lists (the
# dedup candidate join q_winnow_pairs/q_label_spread bound by df caps)
# — and reports the skew ratio exact/estimate that tells a planner
# whether the uniform assumption is safe. Both sides are one
# count-per-key aggregate + one tiny rollup; nothing joins. Σc² is
# exact integer arithmetic; the estimate is double division.
@_q(
    "q_selfjoin_estimator",
    """
    WITH pk AS (
        SELECT l_partkey AS k, CAST(COUNT(*) AS BIGINT) AS c
        FROM lineitem GROUP BY 1
    ), pk_s AS (
        SELECT 'lineitem.l_partkey' AS join_key,
               CAST(SUM(c) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS n_distinct,
               CAST(SUM(c * c) AS BIGINT) AS exact_pairs
        FROM pk
    ), sh AS (
        SELECT array_to_string(toks[i + 1 : i + 8], ' ') AS k,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM (
            SELECT string_split(text, ' ') AS toks FROM documents
        ), unnest(range(0, len(toks) - 7)) AS g(i)
        WHERE len(toks) >= 8
        GROUP BY 1
    ), sh_s AS (
        SELECT 'documents.shingle8' AS join_key,
               CAST(SUM(c) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS n_distinct,
               CAST(SUM(c * c) AS BIGINT) AS exact_pairs
        FROM sh
    ), u AS (
        SELECT * FROM pk_s UNION ALL SELECT * FROM sh_s
    )
    SELECT join_key, n_rows, n_distinct, exact_pairs,
           CAST(n_rows AS DOUBLE) * CAST(n_rows AS DOUBLE)
             / CAST(n_distinct AS DOUBLE) AS est_uniform,
           CAST(exact_pairs AS DOUBLE)
             / (CAST(n_rows AS DOUBLE) * CAST(n_rows AS DOUBLE)
                / CAST(n_distinct AS DOUBLE)) AS skew_ratio
    FROM u
    """,
)
def q_selfjoin_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    def rollup(keyed: DataFrame, label: str):
        per = keyed.groupBy("k").agg(
            F.count(F.lit(1)).cast("bigint").alias("c")
        )
        return per.agg(
            F.sum("c").cast("bigint").alias("n_rows"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
            F.sum(F.col("c") * F.col("c")).cast("bigint").alias("exact_pairs"),
        ).select(F.lit(label).alias("join_key"), "*")

    li = t(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("k"))
    toks = F.split("text", " ")
    sh = (
        t(spark, sf_dir, "documents")
        .select(toks.alias("toks"))
        .where(F.size("toks") >= 8)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("toks") - 8),
                    lambda i: F.array_join(
                        F.slice(F.col("toks"), i + 1, 8), " "
                    ),
                )
            ).alias("k")
        )
    )
    u = rollup(li, "lineitem.l_partkey").unionByName(
        rollup(sh, "documents.shingle8")
    )
    est = (
        F.col("n_rows").cast("double")
        * F.col("n_rows").cast("double")
        / F.col("n_distinct").cast("double")
    )
    return u.select(
        "join_key",
        "n_rows",
        "n_distinct",
        "exact_pairs",
        est.alias("est_uniform"),
        (F.col("exact_pairs").cast("double") / est).alias("skew_ratio"),
    )


# --- ABC / Pareto inventory classification (round 4) -----------------------
# The classic 80/15/5 revenue classification over parts: per-part
# discounted revenue in EXACT integer micro-units (extendedprice has 2
# decimals and discount 2, so price·(1−disc) has <= 4 — the 1e6
# quantization is exact), a revenue-descending cumulative window, and
# class cuts by INTEGER cross-multiplication (cum·5 <= total·4 for A,
# cum·20 <= total·19 for B) so no 0.8/0.95 float ever participates in
# the boundary decision. Plan: one combinable per-part aggregate → one
# global sort window (range partition at scale) → O(3) output. At
# sf >= 1 the ×19 products approach int64 — the documented swap is
# DECIMAL(38,0) cum sums, same plan shape.
_ABC_MICROS = (
    "CAST(floor(l_extendedprice * (1 - l_discount) * 1000000 + 0.5)"
    " AS BIGINT)"
)


@_q(
    "q_abc_analysis",
    f"""
    WITH rev AS (
        SELECT l_partkey, CAST(SUM({_ABC_MICROS}) AS BIGINT) AS m
        FROM lineitem GROUP BY l_partkey
    ), cum AS (
        SELECT l_partkey, m,
               CAST(SUM(m) OVER (ORDER BY m DESC, l_partkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS c,
               CAST(SUM(m) OVER () AS BIGINT) AS tot
        FROM rev
    ), cls AS (
        SELECT CASE WHEN c * 5 <= tot * 4 THEN 'A'
                    WHEN c * 20 <= tot * 19 THEN 'B'
                    ELSE 'C' END AS abc_class,
               m, tot
        FROM cum
    )
    SELECT abc_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(m) AS DOUBLE) / 1000000.0 AS revenue,
           CAST(SUM(m) AS DOUBLE) / CAST(MAX(tot) AS DOUBLE)
               AS revenue_share
    FROM cls GROUP BY abc_class ORDER BY abc_class
    """,
)
def q_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    li = t(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(F.expr(_ABC_MICROS)).cast("bigint").alias("m")
    )
    # per-part aggregate is dimension-sized (corpus-shaped at 100 TB):
    # cumulative share + total via the range-partitioned global_order
    # (plans/rank.py) — never a single-partition sum window
    cum = global_order(
        rev,
        [F.desc("m"), "l_partkey"],
        cum_sums={"c": "m"},
        sum_totals={"tot": "m"},
    ).select(
        "l_partkey",
        "m",
        F.col("c").cast("bigint").alias("c"),
        F.col("tot").cast("bigint").alias("tot"),
    )
    cls = cum.selectExpr(
        "CASE WHEN c * 5 <= tot * 4 THEN 'A'"
        " WHEN c * 20 <= tot * 19 THEN 'B'"
        " ELSE 'C' END AS abc_class",
        "m",
        "tot",
    )
    return (
        cls.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            (F.sum("m").cast("double") / 1000000.0).alias("revenue"),
            (F.sum("m").cast("double") / F.max("tot").cast("double")).alias(
                "revenue_share"
            ),
        )
        .orderBy("abc_class")
    )


# --- customer cohort revenue triangle (round 4) -----------------------------
# The classic cohort retention/revenue triangle on the SCALED orders
# table: customers grouped by first-order month, revenue traced by
# months-since-acquisition. Month indices are exact integers
# (year·12+month); revenue routes through DECIMAL(38,6) (the money
# policy). Plan: one per-customer min aggregate (combinable), one
# broadcastable cohort join back (at 100 TB: both sides hash on
# o_custkey — one co-partitioned exchange pair), one (cohort, age)
# aggregate.
@_q(
    "q_cohort_revenue",
    f"""
    WITH om AS (
        SELECT o_custkey,
               CAST(EXTRACT(year FROM o_orderdate) * 12
                    + EXTRACT(month FROM o_orderdate) AS BIGINT) AS midx,
               o_totalprice
        FROM orders
    ), first AS (
        SELECT o_custkey, CAST(MIN(midx) AS BIGINT) AS cohort
        FROM om GROUP BY o_custkey
    )
    SELECT f.cohort AS cohort_month,
           CAST(om.midx - f.cohort AS BIGINT) AS months_since,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(DISTINCT om.o_custkey) AS BIGINT) AS n_customers,
           {oracle_dec_sum('om.o_totalprice', 'revenue')}
    FROM om JOIN first f ON om.o_custkey = f.o_custkey
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q_cohort_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    om = o.selectExpr(
        "o_custkey",
        "CAST(EXTRACT(year FROM o_orderdate) * 12"
        " + EXTRACT(month FROM o_orderdate) AS BIGINT) AS midx",
        "o_totalprice",
    )
    first = om.groupBy("o_custkey").agg(
        F.min("midx").cast("bigint").alias("cohort")
    )
    return (
        om.join(first, "o_custkey")
        .groupBy(
            F.col("cohort").alias("cohort_month"),
            (F.col("midx") - F.col("cohort")).cast("bigint").alias(
                "months_since"
            ),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.countDistinct("o_custkey").cast("bigint").alias("n_customers"),
            dec_sum("o_totalprice", "revenue"),
        )
        .orderBy("cohort_month", "months_since")
    )


# --- shipping-delay quantiles by priority (round 4) -------------------------
# Fulfilment SLA audit on the scaled orders⋈lineitem join: whole-day
# order-to-ship delays (exact floor(epoch/86400) differences), with
# p50/p90/p99 ELEMENT-SELECTED per priority under the pinned (delay,
# orderkey, linenumber) total order. Plan: the fact join hashes on
# l_orderkey/o_orderkey (the natural co-partitioning; bucketed tables
# make it exchange-free), then one rank window per priority.
@_q(
    "q_ship_delay",
    """
    WITH d AS (
        SELECT o.o_orderpriority AS priority,
               CAST(floor(epoch(l.l_shipdate) / 86400)
                    - floor(epoch(o.o_orderdate) / 86400) AS BIGINT)
                   AS delay_days,
               l.l_orderkey, l.l_linenumber
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), rk AS (
        SELECT priority, delay_days,
               CAST(row_number() OVER (PARTITION BY priority
                    ORDER BY delay_days, l_orderkey, l_linenumber)
                    AS BIGINT) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY priority) AS BIGINT) AS n
        FROM d
    )
    SELECT priority, CAST(MAX(n) AS BIGINT) AS n_lines,
           CAST(MAX(CASE WHEN rn = (n - 1) * 50 // 100 + 1
                         THEN delay_days END) AS BIGINT) AS p50,
           CAST(MAX(CASE WHEN rn = (n - 1) * 90 // 100 + 1
                         THEN delay_days END) AS BIGINT) AS p90,
           CAST(MAX(CASE WHEN rn = (n - 1) * 99 // 100 + 1
                         THEN delay_days END) AS BIGINT) AS p99
    FROM rk GROUP BY priority ORDER BY priority
    """,
)
def q_ship_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate"
    )
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    d = li.join(o, li.l_orderkey == o.o_orderkey).selectExpr(
        "o_orderpriority AS priority",
        "CAST(floor(unix_timestamp(l_shipdate) / 86400)"
        " - floor(unix_timestamp(o_orderdate) / 86400) AS BIGINT)"
        " AS delay_days",
        "l_orderkey",
        "l_linenumber",
    )
    wp = Window.partitionBy("priority")
    rk = d.select(
        "priority",
        "delay_days",
        F.row_number()
        .over(wp.orderBy("delay_days", "l_orderkey", "l_linenumber"))
        .cast("bigint")
        .alias("rn"),
        F.count(F.lit(1)).over(wp).cast("bigint").alias("n"),
    )
    return (
        rk.groupBy("priority")
        .agg(
            F.max("n").cast("bigint").alias("n_lines"),
            F.max(
                F.when(
                    F.col("rn") == F.expr("(n - 1) * 50 DIV 100 + 1"),
                    F.col("delay_days"),
                )
            )
            .cast("bigint")
            .alias("p50"),
            F.max(
                F.when(
                    F.col("rn") == F.expr("(n - 1) * 90 DIV 100 + 1"),
                    F.col("delay_days"),
                )
            )
            .cast("bigint")
            .alias("p90"),
            F.max(
                F.when(
                    F.col("rn") == F.expr("(n - 1) * 99 DIV 100 + 1"),
                    F.col("delay_days"),
                )
            )
            .cast("bigint")
            .alias("p99"),
        )
        .orderBy("priority")
    )


# --- month-of-year order seasonality (round 4) ------------------------------
# Calendar seasonality on the scaled orders table: per month-of-year,
# order volume and decimal-routed revenue across the multi-year span,
# with each month's share of the total. Exact integers + the money
# policy; one combinable aggregate. The seasonal-index output is the
# input a demand planner feeds back into allocation.
@_q(
    "q_order_seasonality",
    f"""
    WITH m AS (
        SELECT CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS moy,
               o_totalprice
        FROM orders
    ), agg AS (
        SELECT moy, CAST(COUNT(*) AS BIGINT) AS n_orders,
               {oracle_dec_sum('o_totalprice', 'revenue')}
        FROM m GROUP BY moy
    ), tot AS (
        SELECT CAST(SUM(n_orders) AS BIGINT) AS n_total FROM agg
    )
    SELECT moy, n_orders, revenue,
           CAST(n_orders AS DOUBLE) / CAST(n_total AS DOUBLE)
               AS order_share
    FROM agg CROSS JOIN tot ORDER BY moy
    """,
)
def q_order_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    m = o.selectExpr(
        "CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS moy",
        "o_totalprice",
    )
    agg = m.groupBy("moy").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        dec_sum("o_totalprice", "revenue"),
    )
    tot = agg.agg(F.sum("n_orders").cast("bigint").alias("n_total"))
    return (
        agg.crossJoin(F.broadcast(tot))
        .selectExpr(
            "moy",
            "n_orders",
            "revenue",
            "CAST(n_orders AS DOUBLE) / CAST(n_total AS DOUBLE)"
            " AS order_share",
        )
        .orderBy("moy")
    )


# --- customer reorder-gap quantiles (round 4) --------------------------------
# Repeat-purchase latency on the scaled orders table: whole-day gaps
# between a customer's consecutive orders (one LAG window on the
# o_custkey hash), with element-selected p25/p50/p75/p90 under the
# pinned (gap, custkey, orderkey) order. The retention metric behind
# reorder-reminder timing. Plan: one user-keyed window + one global
# rank window on the O(|gaps|) relation.
@_q(
    "q_reorder_gap",
    """
    WITH o AS (
        SELECT o_custkey, o_orderkey,
               CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS day
        FROM orders
    ), g AS (
        SELECT o_custkey, o_orderkey,
               day - LAG(day) OVER (PARTITION BY o_custkey
                                    ORDER BY day, o_orderkey) AS gap
        FROM o
    ), gg AS (
        SELECT o_custkey, o_orderkey, CAST(gap AS BIGINT) AS gap
        FROM g WHERE gap IS NOT NULL
    ), rk AS (
        SELECT gap,
               CAST(row_number() OVER (ORDER BY gap, o_custkey, o_orderkey)
                    AS BIGINT) AS rn,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM gg
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_gaps,
           CAST(MAX(CASE WHEN rn = (n - 1) * 25 // 100 + 1 THEN gap END)
                AS BIGINT) AS p25,
           CAST(MAX(CASE WHEN rn = (n - 1) * 50 // 100 + 1 THEN gap END)
                AS BIGINT) AS p50,
           CAST(MAX(CASE WHEN rn = (n - 1) * 75 // 100 + 1 THEN gap END)
                AS BIGINT) AS p75,
           CAST(MAX(CASE WHEN rn = (n - 1) * 90 // 100 + 1 THEN gap END)
                AS BIGINT) AS p90
    FROM rk
    """,
)
def q_reorder_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = t(spark, sf_dir, "orders").selectExpr(
        "o_custkey",
        "o_orderkey",
        "CAST(floor(unix_timestamp(o_orderdate) / 86400) AS BIGINT) AS day",
    )
    w = Window.partitionBy("o_custkey").orderBy("day", "o_orderkey")
    g = o.select(
        "o_custkey",
        "o_orderkey",
        (F.col("day") - F.lag("day").over(w)).alias("gap"),
    )
    gg = g.where(F.col("gap").isNotNull()).selectExpr(
        "o_custkey", "o_orderkey", "CAST(gap AS BIGINT) AS gap"
    )
    # per-order gaps are fact-sized: rank + total via the range-
    # partitioned ranker (plans/rank.py) — never a single-partition sort
    rk = global_rank(
        gg, ["gap", "o_custkey", "o_orderkey"], rank_col="rn", total_col="n"
    ).select("gap", "rn", "n")
    return rk.groupBy().agg(
        F.max("n").cast("bigint").alias("n_gaps"),
        *[
            F.max(
                F.when(
                    F.col("rn") == F.expr(f"(n - 1) * {p} DIV 100 + 1"),
                    F.col("gap"),
                )
            )
            .cast("bigint")
            .alias(name)
            for p, name in ((25, "p25"), (50, "p50"), (75, "p75"), (90, "p90"))
        ],
    )


# --- year-over-year revenue growth (round 4) ----------------------------------
# The growth ledger on the scaled lineitem table: discounted revenue
# per ship year (decimal-routed exact sums) and the YoY growth ratio
# as one fixed-order division of the exact yearly totals via a
# self-join on year-1. Plan: one combinable yearly aggregate + a tiny
# year-keyed join.
@_q(
    "q_yoy_growth",
    f"""
    WITH y AS (
        SELECT CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS yr,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(38,6))) AS DOUBLE) AS revenue
        FROM lineitem GROUP BY 1
    )
    SELECT a.yr, a.revenue,
           b.revenue AS prev_revenue,
           CASE WHEN b.revenue IS NULL THEN NULL
                ELSE (a.revenue - b.revenue) / b.revenue END AS yoy_growth
    FROM y a LEFT JOIN y b ON b.yr = a.yr - 1
    ORDER BY a.yr
    """,
)
def q_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    y = li.groupBy(
        F.expr("CAST(EXTRACT(year FROM l_shipdate) AS BIGINT)").alias("yr")
    ).agg(
        F.sum(
            F.expr("CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))")
        )
        .cast("double")
        .alias("revenue")
    )
    a = y.alias("a")
    b = y.selectExpr("yr AS prev_yr", "revenue AS prev_revenue")
    return (
        a.join(F.broadcast(b), F.col("a.yr") - 1 == F.col("prev_yr"), "left")
        .selectExpr(
            "yr",
            "revenue",
            "prev_revenue",
            "CASE WHEN prev_revenue IS NULL THEN NULL"
            " ELSE (revenue - prev_revenue) / prev_revenue END AS yoy_growth",
        )
        .orderBy("yr")
    )


# --- return rates by brand (round 4) -----------------------------------------
# Product-quality triage on the scaled fact: share of returned lines
# (l_returnflag = 'R') per part brand, ranked worst-first with a
# minimum-volume floor. Exact integer counts; the part dimension
# BROADCASTS into the fact scan (the star-join policy). Output pinned
# by (return_share, brand) via integer cross-product ordering — the
# rank is decided on c·n' vs c'·n, never on a float.
@_q(
    "q_return_rates",
    """
    WITH j AS (
        SELECT p.p_brand,
               CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), agg AS (
        SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(ret) AS BIGINT) AS n_returned
        FROM j GROUP BY p_brand
    ), flo AS (
        SELECT * FROM agg WHERE n_lines >= 20
    ), rk AS (
        SELECT a.p_brand, a.n_lines, a.n_returned,
               CAST(1 + COUNT(*) FILTER (
                   WHERE b.n_returned * a.n_lines > a.n_returned * b.n_lines
                      OR (b.n_returned * a.n_lines = a.n_returned * b.n_lines
                          AND b.p_brand < a.p_brand)) AS BIGINT) AS rnk
        FROM flo a CROSS JOIN flo b
        GROUP BY a.p_brand, a.n_lines, a.n_returned
    )
    SELECT p_brand, n_lines, n_returned,
           CAST(n_returned AS DOUBLE) / CAST(n_lines AS DOUBLE)
               AS return_share,
           CAST(rnk AS INTEGER) AS rank
    FROM rk WHERE rnk <= 10 ORDER BY rank
    """,
)
def q_return_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_returnflag")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).selectExpr(
        "p_brand",
        "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ret",
    )
    agg = j.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum("ret").cast("bigint").alias("n_returned"),
    )
    flo = agg.where(F.col("n_lines") >= 20)
    # Integer cross-product rank (no float ordering): a CROSS join on
    # the tiny brand relation mirrors the oracle exactly.
    a = flo.alias("a")
    b = flo.alias("b")
    rk = (
        a.join(b, F.lit(True))
        .groupBy(
            F.col("a.p_brand").alias("p_brand"),
            F.col("a.n_lines").alias("n_lines"),
            F.col("a.n_returned").alias("n_returned"),
        )
        .agg(
            (
                1
                + F.sum(
                    F.when(
                        (
                            F.col("b.n_returned") * F.col("a.n_lines")
                            > F.col("a.n_returned") * F.col("b.n_lines")
                        )
                        | (
                            (
                                F.col("b.n_returned") * F.col("a.n_lines")
                                == F.col("a.n_returned") * F.col("b.n_lines")
                            )
                            & (F.col("b.p_brand") < F.col("a.p_brand"))
                        ),
                        1,
                    ).otherwise(0)
                )
            )
            .cast("bigint")
            .alias("rnk")
        )
    )
    return (
        rk.where(F.col("rnk") <= 10)
        .selectExpr(
            "p_brand",
            "n_lines",
            "n_returned",
            "CAST(n_returned AS DOUBLE) / CAST(n_lines AS DOUBLE)"
            " AS return_share",
            "CAST(rnk AS INTEGER) AS rank",
        )
        .orderBy("rank")
    )


# --- unit-price dispersion by part type (round 4) -----------------------------
# Pricing-consistency audit: coefficient of variation of the per-line
# unit price (extendedprice/quantity, an identically-computed double
# quantized to exact CENTS — CV is scale-invariant, and cents keep
# the squared sums int64-safe at any sf) within each part type; high CV =
# inconsistent pricing. Integer moments → shared sqrt CV. The part
# dim broadcasts; one combinable aggregate per type. Top 10 most
# dispersed with a volume floor, pinned by (cv, type).
# the n·qq / s² products overflow int64 at scale, so the variance
# identity runs in the shared double domain (identical IEEE both
# engines).
_PD_CV = (
    "(sqrt((CAST(n AS DOUBLE) * CAST(qq AS DOUBLE)"
    " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))"
    " / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))"
)


@_q(
    "q_price_dispersion",
    f"""
    WITH j AS (
        SELECT p.p_type,
               CAST(floor(l.l_extendedprice / l.l_quantity * 100.0
                          + 0.5) AS BIGINT) AS up
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_quantity > 0
    ), agg AS (
        SELECT p_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(up) AS BIGINT) AS s,
               CAST(SUM(up * up) AS BIGINT) AS qq
        FROM j GROUP BY p_type
    ), flo AS (
        SELECT p_type, n, s, qq, {_PD_CV} AS cv
        FROM agg WHERE n >= 20
    ), rk AS (
        SELECT p_type, n, cv,
               row_number() OVER (ORDER BY cv DESC, p_type) AS rn
        FROM flo
    )
    SELECT p_type, n, cv, CAST(rn AS INTEGER) AS rank
    FROM rk WHERE rn <= 10 ORDER BY rank
    """,
)
def q_price_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_quantity"
    )
    p = t(spark, sf_dir, "part").select("p_partkey", "p_type")
    j = (
        li.where(F.col("l_quantity") > 0)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .selectExpr(
            "p_type",
            "CAST(floor(l_extendedprice / l_quantity * 100.0 + 0.5)"
            " AS BIGINT) AS up",
        )
    )
    agg = j.groupBy("p_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("up").cast("bigint").alias("s"),
        F.sum(F.col("up") * F.col("up")).cast("bigint").alias("qq"),
    )
    flo = agg.where(F.col("n") >= 20).selectExpr(
        "p_type", "n", "s", "qq", f"{_PD_CV} AS cv"
    )
    rk = flo.select(
        "p_type",
        "n",
        "cv",
        # bounded: per-p_type aggregate — O(|types|) rows
        F.row_number().over(Window.orderBy(F.desc("cv"), "p_type")).alias("rn"),
    )
    return rk.where(F.col("rn") <= 10).selectExpr(
        "p_type", "n", "cv", "CAST(rn AS INTEGER) AS rank"
    ).orderBy("rank")


# --- supplier scorecard (round 4) ----------------------------------------------
# The reporting-mart roll-up a procurement team reads: per supplier,
# line volume, decimal-exact revenue, return share, and mean discount
# (decimal-routed), top 10 by revenue with the supplier name joined
# from the broadcast dimension. Ordering ties break on s_suppkey.
# Plan: one combinable fact aggregate + a broadcast dim join +
# TakeOrdered.
@_q(
    "q_supplier_scorecard",
    f"""
    WITH agg AS (
        SELECT l_suppkey,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               {oracle_dec_sum('l_extendedprice * (1 - l_discount)',
                               'revenue')},
               CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_returned,
               {oracle_dec_avg('l_discount', 'avg_discount')}
        FROM lineitem GROUP BY l_suppkey
    ), rk AS (
        SELECT a.*, s.s_name,
               row_number() OVER (ORDER BY a.revenue DESC, a.l_suppkey)
                   AS rn
        FROM agg a JOIN supplier s ON a.l_suppkey = s.s_suppkey
    )
    SELECT l_suppkey, s_name, n_lines, revenue,
           CAST(n_returned AS DOUBLE) / CAST(n_lines AS DOUBLE)
               AS return_share,
           avg_discount, CAST(rn AS INTEGER) AS rank
    FROM rk WHERE rn <= 10 ORDER BY rank
    """,
)
def q_supplier_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    li = t(spark, sf_dir, "lineitem")
    sup = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    agg = li.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        dec_sum(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
            "revenue",
        ),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("bigint")
        .alias("n_returned"),
        dec_avg("l_discount", "avg_discount"),
    )
    scored = agg.join(
        F.broadcast(sup), agg.l_suppkey == sup.s_suppkey
    ).select(
        "l_suppkey",
        "s_name",
        "n_lines",
        "revenue",
        "n_returned",
        "avg_discount",
    )
    # top-10 selection: sort+limit plans as TakeOrderedAndProject (no
    # global sort); the rank window then runs over the bounded 10-row
    # relation only.
    top10 = scored.orderBy(F.desc("revenue"), "l_suppkey").limit(10)
    # bounded: rank over the 10-row top-k relation
    rk = top10.select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.desc("revenue"), "l_suppkey"))
        .alias("rn"),
    )
    return rk.selectExpr(
        "l_suppkey",
        "s_name",
        "n_lines",
        "revenue",
        "CAST(n_returned AS DOUBLE) / CAST(n_lines AS DOUBLE)"
        " AS return_share",
        "avg_discount",
        "CAST(rn AS INTEGER) AS rank",
    ).orderBy("rank")


# --- discount-quantity correlation (round 4) -------------------------------------
# Does discounting actually move volume? Pearson r between the
# discount (exact integer percent points) and line quantity (exact
# integer) over the whole fact, via the n-multiplied integer identity
# with the variance products CAST per-factor to double (int64-safe at
# any sf). One combinable aggregate.
_DQ_R = (
    "((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    " * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
    " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))"
)


@_q(
    "q_discount_corr",
    f"""
    WITH b AS (
        SELECT CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS x,
               CAST(l_quantity AS BIGINT) AS y
        FROM lineitem
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy
        FROM b
    )
    SELECT n, sx, sy, {_DQ_R} AS r FROM agg
    """,
)
def q_discount_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    b = li.selectExpr(
        "CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS x",
        "CAST(l_quantity AS BIGINT) AS y",
    )
    agg = b.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    return agg.selectExpr("n", "sx", "sy", f"{_DQ_R} AS r")


# --- order-priority mix drift by year (round 4) --------------------------------
# Process drift on the scaled orders table: total-variation distance
# between each year's order-priority mix and the pooled mix — the
# |pa−pb| identity from the Hellinger/TV family, cross-multiplied to
# exact integers: TV = Σ|ca·n − cb·na| / (2·na·n). Plan: one
# (year, priority) count + broadcast pooled margins; O(years) output.
_POD_TV = (
    "(CAST(num AS DOUBLE) / (2.0 * CAST(na AS DOUBLE) * CAST(n AS DOUBLE)))"
)


@_q(
    "q_priority_drift",
    f"""
    WITH yp AS (
        SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
               o_orderpriority AS pri, CAST(COUNT(*) AS BIGINT) AS ca
        FROM orders GROUP BY 1, 2
    ), ytot AS (
        SELECT yr, CAST(SUM(ca) AS BIGINT) AS na FROM yp GROUP BY yr
    ), pooled AS (
        SELECT pri, CAST(SUM(ca) AS BIGINT) AS cb FROM yp GROUP BY pri
    ), ptot AS (
        SELECT CAST(SUM(cb) AS BIGINT) AS n FROM pooled
    ), grid AS (
        SELECT ytot.yr, pooled.pri, COALESCE(yp.ca, 0) AS ca,
               ytot.na, pooled.cb, ptot.n
        FROM ytot CROSS JOIN pooled CROSS JOIN ptot
        LEFT JOIN yp ON yp.yr = ytot.yr AND yp.pri = pooled.pri
    ), agg AS (
        SELECT yr, CAST(MAX(na) AS BIGINT) AS na, CAST(MAX(n) AS BIGINT) AS n,
               CAST(SUM(abs(ca * n - cb * na)) AS BIGINT) AS num
        FROM grid GROUP BY yr
    )
    SELECT yr, na AS n_orders, {_POD_TV} AS tv_distance
    FROM agg ORDER BY yr
    """,
)
def q_priority_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    yp = o.groupBy(
        F.expr("CAST(EXTRACT(year FROM o_orderdate) AS BIGINT)").alias("yr"),
        F.col("o_orderpriority").alias("pri"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("ca"))
    ytot = yp.groupBy("yr").agg(F.sum("ca").cast("bigint").alias("na"))
    pooled = yp.groupBy("pri").agg(F.sum("ca").cast("bigint").alias("cb"))
    ptot = pooled.agg(F.sum("cb").cast("bigint").alias("n"))
    grid = (
        ytot.crossJoin(F.broadcast(pooled))
        .crossJoin(F.broadcast(ptot))
        .join(yp, ["yr", "pri"], "left")
        .select(
            "yr",
            "pri",
            F.coalesce(F.col("ca"), F.lit(0)).alias("ca"),
            "na",
            "cb",
            "n",
        )
    )
    agg = grid.groupBy("yr").agg(
        F.max("na").cast("bigint").alias("na"),
        F.max("n").cast("bigint").alias("n"),
        F.sum(F.abs(F.col("ca") * F.col("n") - F.col("cb") * F.col("na")))
        .cast("bigint")
        .alias("num"),
    )
    return agg.selectExpr(
        "yr", "na AS n_orders", f"{_POD_TV} AS tv_distance"
    ).orderBy("yr")


# --- month-over-month customer retention (round 4) --------------------------------
# The MAU retention curve on the scaled orders table: per month,
# active customers and the share also active the PREVIOUS month —
# exact integer counts from a month-keyed self-join of the distinct
# (month, customer) relation. Plan: one distinct aggregate; the
# retention join hashes on o_custkey; O(months) output.
@_q(
    "q_mau_retention",
    """
    WITH mc AS (
        SELECT DISTINCT
               CAST(EXTRACT(year FROM o_orderdate) * 12
                    + EXTRACT(month FROM o_orderdate) AS BIGINT) AS midx,
               o_custkey
        FROM orders
    ), act AS (
        SELECT midx, CAST(COUNT(*) AS BIGINT) AS mau FROM mc GROUP BY midx
    ), ret AS (
        SELECT a.midx, CAST(COUNT(*) AS BIGINT) AS retained
        FROM mc a JOIN mc b
          ON a.o_custkey = b.o_custkey AND b.midx = a.midx - 1
        GROUP BY a.midx
    )
    SELECT act.midx, act.mau,
           CAST(COALESCE(ret.retained, 0) AS BIGINT) AS retained,
           CAST(COALESCE(ret.retained, 0) AS DOUBLE)
               / CAST(act.mau AS DOUBLE) AS retention_rate
    FROM act LEFT JOIN ret ON act.midx = ret.midx
    ORDER BY act.midx
    """,
)
def q_mau_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    mc = o.selectExpr(
        "CAST(EXTRACT(year FROM o_orderdate) * 12"
        " + EXTRACT(month FROM o_orderdate) AS BIGINT) AS midx",
        "o_custkey",
    ).distinct()
    act = mc.groupBy("midx").agg(F.count(F.lit(1)).cast("bigint").alias("mau"))
    a = mc.alias("a")
    b = mc.alias("b")
    ret = (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("b.midx") == F.col("a.midx") - 1),
        )
        .groupBy(F.col("a.midx").alias("midx"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("retained"))
    )
    return (
        act.join(ret, "midx", "left")
        .selectExpr(
            "midx",
            "mau",
            "CAST(COALESCE(retained, 0) AS BIGINT) AS retained",
            "CAST(COALESCE(retained, 0) AS DOUBLE) / CAST(mau AS DOUBLE)"
            " AS retention_rate",
        )
        .orderBy("midx")
    )


# --- account-balance × segment independence (round 4) -------------------------------
# Is account balance independent of market segment? Chi-square of
# independence over balance quartiles (element-selected cuts in the
# exact cents domain) × mktsegment on the scaled customer dim,
# reusing the shared-double chi² cell identity (expected counts are
# rationals). Plan: one rank window for the cuts + one (bucket,
# segment) count + broadcast margins.
_BS_CHI2_TERM = (
    "CAST(floor((CAST(c AS DOUBLE)"
    " - CAST(rb AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE))"
    " * (CAST(c AS DOUBLE)"
    " - CAST(rb AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE))"
    " / (CAST(rb AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE))"
    " * 1000000000.0 + 0.5) AS BIGINT)"
)


@_q(
    "q_balance_segments",
    f"""
    WITH c AS (
        SELECT c_mktsegment AS seg,
               CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal,
               c_custkey
        FROM customer
    ), r AS (
        SELECT seg, bal,
               CAST(row_number() OVER (ORDER BY bal, c_custkey) AS BIGINT)
                   AS rn,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM c
    ), bucketed AS (
        SELECT seg,
               CAST((rn - 1) * 4 // n AS BIGINT) AS qb
        FROM r
    ), cells AS (
        SELECT qb, seg, CAST(COUNT(*) AS BIGINT) AS c
        FROM bucketed GROUP BY 1, 2
    ), rm AS (
        SELECT qb, CAST(SUM(c) AS BIGINT) AS rb FROM cells GROUP BY qb
    ), cm AS (
        SELECT seg, CAST(SUM(c) AS BIGINT) AS cb FROM cells GROUP BY seg
    ), nn AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells
    ), terms AS (
        SELECT {_BS_CHI2_TERM} AS tq
        FROM cells
        JOIN rm ON cells.qb = rm.qb
        JOIN cm ON cells.seg = cm.seg
        CROSS JOIN nn
    )
    SELECT CAST((SELECT n FROM nn) AS BIGINT) AS n_customers,
           CAST((SELECT COUNT(*) FROM rm) AS BIGINT) AS n_buckets,
           CAST((SELECT COUNT(*) FROM cm) AS BIGINT) AS n_segments,
           CAST(SUM(tq) AS DOUBLE) / 1000000000.0 AS chi2
    FROM terms
    """,
)
def q_balance_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    cust = t(spark, sf_dir, "customer").selectExpr(
        "c_mktsegment AS seg",
        "CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal",
        "c_custkey",
    )
    # customers are dimension-sized (corpus-shaped at 100 TB): rank +
    # total via the range-partitioned ranker (plans/rank.py)
    r = global_rank(
        cust, ["bal", "c_custkey"], rank_col="rn", total_col="n"
    ).select("seg", "rn", "n")
    bucketed = r.selectExpr("seg", "CAST((rn - 1) * 4 DIV n AS BIGINT) AS qb")
    cells = bucketed.groupBy("qb", "seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    rm = cells.groupBy("qb").agg(F.sum("c").cast("bigint").alias("rb"))
    cm = cells.groupBy("seg").agg(F.sum("c").cast("bigint").alias("cb"))
    nn = cells.agg(F.sum("c").cast("bigint").alias("n"))
    terms = (
        cells.join(F.broadcast(rm), "qb")
        .join(F.broadcast(cm), "seg")
        .crossJoin(F.broadcast(nn))
        .selectExpr(f"{_BS_CHI2_TERM} AS tq")
    )
    meta = (
        rm.agg(F.count(F.lit(1)).cast("bigint").alias("n_buckets"))
        .crossJoin(
            F.broadcast(
                cm.agg(F.count(F.lit(1)).cast("bigint").alias("n_segments"))
            )
        )
        .crossJoin(F.broadcast(nn.selectExpr("n AS n_customers")))
    )
    agg = terms.agg(
        (F.sum("tq").cast("double") / 1000000000.0).alias("chi2")
    )
    return meta.crossJoin(F.broadcast(agg)).selectExpr(
        "n_customers", "n_buckets", "n_segments", "chi2"
    )


# --- dead-stock audit (round 4; de-vacuated round 5) -----------------------
# Parts with NO shipment in the trailing 90 days of the data window —
# candidates for delisting, plus the worst offenders by retail price.
# (Round 4 defined "dead" as never-sold-ever, but the fixture FK-covers
# every part, so the anti join returned 0 rows at every scale and the
# differential gate compared two empty sets — VERDICT.md r4 "What's
# wrong" #2. The temporal definition is non-empty at all three scales:
# 63 / 683 / 6795 dead parts at sf0.001/0.01/0.1.) The cutoff is a
# 1-row max aggregate broadcast into the shipment filter; the anti join
# broadcasts the DISTINCT recently-sold keys when small or flips to a
# shuffled left-anti at scale — either way never a cartesian. Top 10
# dead parts by (retail price DESC, partkey).
@_q(
    "q_dead_stock",
    """
    WITH cutoff AS (
        SELECT max(l_shipdate) - INTERVAL 90 DAY AS c FROM lineitem
    ), sold AS (
        SELECT DISTINCT l_partkey FROM lineitem, cutoff
        WHERE l_shipdate >= cutoff.c
    ), dead AS (
        SELECT p.p_partkey, p.p_brand, p.p_retailprice
        FROM part p LEFT JOIN sold s ON p.p_partkey = s.l_partkey
        WHERE s.l_partkey IS NULL
    ), tot AS (
        SELECT CAST((SELECT COUNT(*) FROM part) AS BIGINT) AS n_parts,
               CAST(COUNT(*) AS BIGINT) AS n_dead
        FROM dead
    ), rk AS (
        SELECT p_partkey, p_brand, p_retailprice,
               row_number() OVER (ORDER BY p_retailprice DESC, p_partkey)
                   AS rn
        FROM dead
    )
    SELECT tot.n_parts, tot.n_dead,
           CAST(tot.n_dead AS DOUBLE) / CAST(tot.n_parts AS DOUBLE)
               AS dead_share,
           rk.p_partkey, rk.p_brand, rk.p_retailprice,
           CAST(rk.rn AS INTEGER) AS rank
    FROM rk CROSS JOIN tot WHERE rk.rn <= 10 ORDER BY rank
    """,
)
def q_dead_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    p = t(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_retailprice"
    )
    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_shipdate")
    cutoff = li.agg(
        F.expr("max(l_shipdate) - INTERVAL 90 DAY").alias("c")
    )
    sold = (
        li.crossJoin(F.broadcast(cutoff))
        .where(F.col("l_shipdate") >= F.col("c"))
        .select("l_partkey")
        .distinct()
    )
    dead = p.join(sold, p.p_partkey == sold.l_partkey, "left_anti")
    n_parts = t(spark, sf_dir, "part").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts")
    )
    tot = dead.agg(F.count(F.lit(1)).cast("bigint").alias("n_dead")).crossJoin(
        F.broadcast(n_parts)
    )
    # top-10 selection: sort+limit plans as TakeOrderedAndProject (no
    # global sort); the rank window then runs over the bounded 10-row
    # relation only.
    top10 = dead.select("p_partkey", "p_brand", "p_retailprice").orderBy(
        F.desc("p_retailprice"), "p_partkey"
    ).limit(10)
    # bounded: rank over the 10-row top-k relation
    rk = top10.select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.desc("p_retailprice"), "p_partkey"))
        .alias("rn"),
    )
    return (
        rk.crossJoin(F.broadcast(tot))
        .selectExpr(
            "n_parts",
            "n_dead",
            "CAST(n_dead AS DOUBLE) / CAST(n_parts AS DOUBLE) AS dead_share",
            "p_partkey",
            "p_brand",
            "p_retailprice",
            "CAST(rn AS INTEGER) AS rank",
        )
        .orderBy("rank")
    )


# --- part-type hierarchy rollup (round 4) ---------------------------------------
# The multi-word p_type ("STANDARD ANODIZED BRASS") is an implicit
# 3-level hierarchy; roll revenue up to its FIRST word (the finish
# class) — string-derived dimension extraction at scan time, then the
# decimal-exact revenue rollup with shares. Plan: broadcast dim join +
# one combinable aggregate; O(|classes|) output.
@_q(
    "q_type_rollup",
    f"""
    WITH j AS (
        SELECT split_part(p.p_type, ' ', 1) AS type_class,
               l.l_extendedprice, l.l_discount
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), agg AS (
        SELECT type_class,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               {oracle_dec_sum('l_extendedprice * (1 - l_discount)',
                               'revenue')}
        FROM j GROUP BY type_class
    ), tot AS (
        SELECT CAST(SUM(n_lines) AS BIGINT) AS n_total FROM agg
    )
    SELECT type_class, n_lines, revenue,
           CAST(n_lines AS DOUBLE) / CAST(n_total AS DOUBLE) AS line_share
    FROM agg CROSS JOIN tot ORDER BY type_class
    """,
)
def q_type_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    p = t(spark, sf_dir, "part").select("p_partkey", "p_type")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).selectExpr(
        "split_part(p_type, ' ', 1) AS type_class",
        "l_extendedprice",
        "l_discount",
    )
    agg = j.groupBy("type_class").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        dec_sum(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
            "revenue",
        ),
    )
    tot = agg.agg(F.sum("n_lines").cast("bigint").alias("n_total"))
    return (
        agg.crossJoin(F.broadcast(tot))
        .selectExpr(
            "type_class",
            "n_lines",
            "revenue",
            "CAST(n_lines AS DOUBLE) / CAST(n_total AS DOUBLE)"
            " AS line_share",
        )
        .orderBy("type_class")
    )


# --- temporal integrity audit (round 4) ------------------------------------------
# The impossible-record check a warehouse runs after every load: lines
# shipped BEFORE their order was placed (or suspiciously long after —
# > 180 days). Exact day-difference integers off the orderkey join;
# violation counts plus the worst early-ship offenders pinned by
# (gap, orderkey, linenumber). Plan: the co-partitioned fact join +
# one combinable fold + TakeOrdered.
@_q(
    "q_temporal_integrity",
    """
    WITH j AS (
        SELECT l.l_orderkey, l.l_linenumber,
               CAST(floor(epoch(l.l_shipdate) / 86400)
                    - floor(epoch(o.o_orderdate) / 86400) AS BIGINT)
                   AS gap_days
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(CASE WHEN gap_days < 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_ship_before_order,
               CAST(SUM(CASE WHEN gap_days > 180 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_over_180d,
               CAST(MIN(gap_days) AS BIGINT) AS min_gap,
               CAST(MAX(gap_days) AS BIGINT) AS max_gap
        FROM j
    )
    SELECT n_lines, n_ship_before_order, n_over_180d, min_gap, max_gap,
           CAST(n_ship_before_order + n_over_180d AS DOUBLE)
               / CAST(n_lines AS DOUBLE) AS violation_share
    FROM agg
    """,
)
def q_temporal_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate"
    )
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = li.join(o, li.l_orderkey == o.o_orderkey).selectExpr(
        "CAST(floor(unix_timestamp(l_shipdate) / 86400)"
        " - floor(unix_timestamp(o_orderdate) / 86400) AS BIGINT)"
        " AS gap_days",
    )
    agg = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(F.when(F.col("gap_days") < 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_ship_before_order"),
        F.sum(F.when(F.col("gap_days") > 180, 1).otherwise(0))
        .cast("bigint")
        .alias("n_over_180d"),
        F.min("gap_days").cast("bigint").alias("min_gap"),
        F.max("gap_days").cast("bigint").alias("max_gap"),
    )
    return agg.selectExpr(
        "n_lines",
        "n_ship_before_order",
        "n_over_180d",
        "min_gap",
        "max_gap",
        "CAST(n_ship_before_order + n_over_180d AS DOUBLE)"
        " / CAST(n_lines AS DOUBLE) AS violation_share",
    )


# --- largest month-over-month revenue swings (round 4) --------------------------------
# Anomaly triage on the monthly revenue ledger: the five biggest
# absolute MoM swings (decimal-exact monthly revenue, LAG over the
# integer month index, only ADJACENT months compared). Ordering pins
# by (|swing|, month) — both identically computed. Plan: one
# combinable monthly aggregate + a tiny month window + TakeOrdered.
@_q(
    "q_monthly_swing",
    f"""
    WITH m AS (
        SELECT CAST(EXTRACT(year FROM o_orderdate) * 12
                    + EXTRACT(month FROM o_orderdate) AS BIGINT) AS midx,
               {oracle_dec_sum('o_totalprice', 'revenue')}
        FROM orders GROUP BY 1
    ), lagd AS (
        SELECT midx, revenue,
               LAG(midx) OVER (ORDER BY midx) AS pmidx,
               LAG(revenue) OVER (ORDER BY midx) AS prev
        FROM m
    ), sw AS (
        SELECT midx, revenue, prev,
               revenue - prev AS swing
        FROM lagd WHERE pmidx = midx - 1
    ), rk AS (
        SELECT midx, revenue, prev, swing,
               row_number() OVER (ORDER BY abs(swing) DESC, midx) AS rn
        FROM sw
    )
    SELECT midx, revenue, prev AS prev_revenue, swing,
           CAST(rn AS INTEGER) AS rank
    FROM rk WHERE rn <= 5 ORDER BY rank
    """,
)
def q_monthly_swing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = t(spark, sf_dir, "orders")
    m = o.groupBy(
        F.expr(
            "CAST(EXTRACT(year FROM o_orderdate) * 12"
            " + EXTRACT(month FROM o_orderdate) AS BIGINT)"
        ).alias("midx")
    ).agg(dec_sum("o_totalprice", "revenue"))
    # bounded: monthly series — O(months) rows
    w = Window.orderBy("midx")
    lagd = m.select(
        "midx",
        "revenue",
        F.lag("midx").over(w).alias("pmidx"),
        F.lag("revenue").over(w).alias("prev"),
    )
    sw = lagd.where(F.col("pmidx") == F.col("midx") - 1).select(
        "midx",
        "revenue",
        "prev",
        (F.col("revenue") - F.col("prev")).alias("swing"),
    )
    rk = sw.select(
        "*",
        F.row_number()
        # bounded: rank over the O(months) swing series
        .over(Window.orderBy(F.abs(F.col("swing")).desc(), "midx"))
        .alias("rn"),
    )
    return rk.where(F.col("rn") <= 5).selectExpr(
        "midx",
        "revenue",
        "prev AS prev_revenue",
        "swing",
        "CAST(rn AS INTEGER) AS rank",
    ).orderBy("rank")


# ===================== round-5 additions ====================================


# --- primary-key candidate discovery (round 5) ------------------------------
# Schema-inference audit: for every column of the orders table, how many
# rows, non-nulls and distinct values — and whether the column is a
# primary-key candidate (distinct == rows, no nulls). The discovery
# loop every catalog/profiler runs on unfamiliar data. Exact integer
# counts; the union of six single-column aggregates keeps each distinct
# map-side combinable (one wide multi-distinct aggregate would expand
# the row 6x through a single shuffle instead). O(|columns|) output.
_PK_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)


@_q(
    "q_pk_discovery",
    "\nUNION ALL\n".join(
        f"""
    SELECT '{c}' AS column_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT({c}) AS BIGINT) AS n_nonnull,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
           COUNT(DISTINCT {c}) = COUNT(*) AS is_key_candidate
    FROM orders
    """
        for c in _PK_COLS
    ),
)
def q_pk_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    parts = []
    for c in _PK_COLS:
        parts.append(
            o.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.count(c).cast("bigint").alias("n_nonnull"),
                F.countDistinct(c).cast("bigint").alias("n_distinct"),
            ).select(
                F.lit(c).alias("column_name"),
                "n_rows",
                "n_nonnull",
                "n_distinct",
                (F.col("n_distinct") == F.col("n_rows")).alias("is_key_candidate"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --- broadcast-join advisor (round 5) ---------------------------------------
# The planning audit behind every join strategy choice: estimate each
# dimension table's in-memory size from exact aggregates (8 bytes per
# numeric/date column + actual string byte lengths + 16 bytes per-string
# object overhead) and compare to the 10 MiB autoBroadcastJoinThreshold.
# All-integer arithmetic (length sums are exact in both engines), a
# union of O(1)-output per-table aggregates — the advisor itself costs
# one scan per dim. This mirrors what Spark's own statistics would
# decide, but as a queryable, engine-independent relation.
_BA_TABLES = {
    # table -> (numeric/date column count, string columns)
    "region": (1, ("r_name",)),
    "nation": (2, ("n_name",)),
    "supplier": (3, ("s_name",)),
    "customer": (3, ("c_name", "c_mktsegment")),
    "part": (3, ("p_name", "p_brand", "p_type")),
}
_BA_THRESHOLD = 10 * 1024 * 1024


def _ba_oracle_one(name: str, n_num: int, strs: tuple) -> str:
    str_bytes = " + ".join(
        f"CAST(SUM(length({c})) AS BIGINT) + 16 * COUNT(*)" for c in strs
    )
    return f"""
    SELECT '{name}' AS table_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST({8 * n_num} * COUNT(*) + {str_bytes} AS BIGINT) AS est_bytes,
           ({8 * n_num} * COUNT(*) + {str_bytes}) <= {_BA_THRESHOLD}
               AS broadcastable
    FROM {name}
    """


@_q(
    "q_broadcast_advisor",
    "\nUNION ALL\n".join(
        _ba_oracle_one(name, n_num, strs)
        for name, (n_num, strs) in _BA_TABLES.items()
    ),
)
def q_broadcast_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    outs = []
    for name, (n_num, strs) in _BA_TABLES.items():
        tbl = t(spark, sf_dir, name)
        str_bytes = " + ".join(
            f"CAST(SUM(length({c})) AS BIGINT) + 16 * COUNT(*)" for c in strs
        )
        outs.append(
            tbl.selectExpr(
                f"'{name}' AS table_name",
                "CAST(COUNT(*) AS BIGINT) AS n_rows",
                f"CAST({8 * n_num} * COUNT(*) + {str_bytes} AS BIGINT) AS est_bytes",
                f"({8 * n_num} * COUNT(*) + {str_bytes}) <= {_BA_THRESHOLD}"
                " AS broadcastable",
            )
        )
    out = outs[0]
    for p in outs[1:]:
        out = out.unionByName(p)
    return out


# --- value-pattern profiling (round 5) --------------------------------------
# The data-profiler staple: collapse every value to its character-class
# signature (uppercase runs -> 'A', lowercase runs -> 'a', digit runs ->
# '9') and histogram the signatures — instantly shows format mixtures
# ("Customer#000000001" -> "Aa#9") and outlier formats worth a quality
# rule. Swept over three columns of different shape. regexp_replace is
# per-row codegen in Spark (global replace by default) and needs the
# explicit 'g' flag in DuckDB; the patterns use no engine-specific
# syntax. Exact counts; MIN(example) is deterministic. At scale: pure
# map + one small-key hash aggregate per column.
_VP_COLS = (("customer", "c_name"), ("part", "p_brand"), ("part", "p_type"))


def _vp_sig_sql(col: str, g: bool) -> str:
    flag = ", 'g'" if g else ""
    inner = f"regexp_replace({col}, '[A-Z]+', 'A'{flag})"
    inner = f"regexp_replace({inner}, '[a-z]+', 'a'{flag})"
    return f"regexp_replace({inner}, '[0-9]+', '9'{flag})"


@_q(
    "q_value_patterns",
    "\nUNION ALL\n".join(
        f"""
    SELECT '{col}' AS column_name, {_vp_sig_sql(col, True)} AS signature,
           CAST(COUNT(*) AS BIGINT) AS n_values,
           MIN({col}) AS example
    FROM {tbl} GROUP BY 2
    """
        for tbl, col in _VP_COLS
    ),
)
def q_value_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    outs = []
    for tbl, col in _VP_COLS:
        outs.append(
            t(spark, sf_dir, tbl)
            .selectExpr(
                f"'{col}' AS column_name",
                f"{_vp_sig_sql(col, False)} AS signature",
                f"{col} AS example_src",
            )
            .groupBy("column_name", "signature")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_values"),
                F.min("example_src").alias("example"),
            )
        )
    out = outs[0]
    for p in outs[1:]:
        out = out.unionByName(p)
    return out


# --- sorted-neighborhood entity-resolution blocking (round 5) ----------------
# The second classic blocking strategy next to key-equality blocking
# (q_blocking_eval): sort records by a fuzzy key and compare each record
# only to its w nearest neighbors in sort order — candidate volume is
# EXACTLY n*w instead of the n²/|blocks| a bad blocking key degrades to.
# Window w = 2 here; the comparison applies two cheap agreement rules
# (same nation, account balance within 100.00 — cents-exact integers)
# and scores each pair. Exactness: ranks, rank-distance joins and cents
# differences are all integers. Plan: one global sort rank (toy-scale
# shape; at 100 TB swap the q_train_order range-partitioned ranking —
# sorted-neighborhood is inherently a global-order method and that IS
# its distributed form), then two equi-joins on rank+1 / rank+2 — no
# theta join, no cartesian.
@_q(
    "q_sorted_neighborhood",
    """
    WITH r AS (
        SELECT c_custkey, c_name, c_nationkey,
               CAST(floor(c_acctbal * 100.0) AS BIGINT) AS bal_c,
               CAST(row_number() OVER (ORDER BY c_name, c_custkey) AS BIGINT)
                   AS rk
        FROM customer
    ), pairs AS (
        SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
               a.rk AS rk_a, b.rk - a.rk AS rank_gap,
               CASE WHEN a.c_nationkey = b.c_nationkey THEN 1 ELSE 0 END
                   AS same_nation,
               CASE WHEN abs(a.bal_c - b.bal_c) <= 10000 THEN 1 ELSE 0 END
                   AS bal_close
        FROM r a JOIN r b ON b.rk = a.rk + 1
        UNION ALL
        SELECT a.c_custkey, b.c_custkey, a.rk, b.rk - a.rk,
               CASE WHEN a.c_nationkey = b.c_nationkey THEN 1 ELSE 0 END,
               CASE WHEN abs(a.bal_c - b.bal_c) <= 10000 THEN 1 ELSE 0 END
        FROM r a JOIN r b ON b.rk = a.rk + 2
    )
    SELECT key_a, key_b, CAST(rank_gap AS BIGINT) AS rank_gap,
           CAST(same_nation AS BIGINT) AS same_nation,
           CAST(bal_close AS BIGINT) AS bal_close,
           CAST(same_nation + bal_close AS BIGINT) AS match_score
    FROM pairs WHERE same_nation + bal_close >= 1
    """,
)
def q_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    r = t(spark, sf_dir, "customer").selectExpr(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "CAST(floor(c_acctbal * 100.0) AS BIGINT) AS bal_c",
    )
    # customers are dimension-sized (corpus-shaped at 100 TB): the
    # neighborhood order rides the range-partitioned ranker
    # (plans/rank.py) — never a single-partition sort
    r = global_rank(r, ["c_name", "c_custkey"], rank_col="rk").select(
        "c_custkey", "c_nationkey", "bal_c", "rk"
    )
    outs = []
    for gap in (1, 2):
        a = r.select(
            F.col("c_custkey").alias("key_a"),
            F.col("c_nationkey").alias("nat_a"),
            F.col("bal_c").alias("bal_a"),
            F.col("rk").alias("rk_a"),
        )
        b = r.select(
            F.col("c_custkey").alias("key_b"),
            F.col("c_nationkey").alias("nat_b"),
            F.col("bal_c").alias("bal_b"),
            (F.col("rk") - gap).alias("rk_a"),
        )
        outs.append(
            a.join(b, "rk_a").select(
                "key_a",
                "key_b",
                F.lit(gap).cast("bigint").alias("rank_gap"),
                F.when(F.col("nat_a") == F.col("nat_b"), 1)
                .otherwise(0)
                .cast("bigint")
                .alias("same_nation"),
                F.when(
                    F.abs(F.col("bal_a") - F.col("bal_b")) <= 10000, 1
                )
                .otherwise(0)
                .cast("bigint")
                .alias("bal_close"),
            )
        )
    pairs = outs[0].unionByName(outs[1])
    return pairs.withColumn(
        "match_score", (F.col("same_nation") + F.col("bal_close")).cast("bigint")
    ).where(F.col("match_score") >= 1)


# --- dictionary-encoding advisor (round 5) -----------------------------------
# Completes the physical-layout advisor family (q_rle_advisor,
# q_zonemap_advisor, q_partition_planner, q_bloom_advisor): for each
# candidate string column, compare raw string bytes against a
# dictionary encoding (distinct-value bytes + per-row integer codes
# sized by cardinality: 1 byte <= 256 NDV, 2 <= 65536, else 4) and
# recommend. All-integer arithmetic: length sums and NDV are exact in
# both engines. One combinable aggregate per column, O(|columns|) rows.
_DICT_COLS = (
    ("customer", "c_mktsegment"),
    ("part", "p_brand"),
    ("part", "p_type"),
    ("orders", "o_orderpriority"),
    ("lineitem", "l_returnflag"),
)


def _dict_one_sql(tbl: str, col: str) -> str:
    return f"""
    SELECT '{tbl}.{col}' AS column_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT {col}) AS BIGINT) AS ndv,
           CAST(SUM(length({col})) AS BIGINT) AS raw_bytes,
           CAST((SELECT SUM(length(v)) FROM
                     (SELECT DISTINCT {col} AS v FROM {tbl}))
                + COUNT(*) * (CASE WHEN COUNT(DISTINCT {col}) <= 256 THEN 1
                                   WHEN COUNT(DISTINCT {col}) <= 65536 THEN 2
                                   ELSE 4 END) AS BIGINT) AS dict_bytes,
           ((SELECT SUM(length(v)) FROM
                 (SELECT DISTINCT {col} AS v FROM {tbl}))
            + COUNT(*) * (CASE WHEN COUNT(DISTINCT {col}) <= 256 THEN 1
                               WHEN COUNT(DISTINCT {col}) <= 65536 THEN 2
                               ELSE 4 END)) < SUM(length({col}))
               AS dict_wins
    FROM {tbl}
    """


@_q(
    "q_dict_advisor",
    "\nUNION ALL\n".join(_dict_one_sql(tbl, col) for tbl, col in _DICT_COLS),
)
def q_dict_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    outs = []
    for tbl, col in _DICT_COLS:
        base = t(spark, sf_dir, tbl).select(F.col(col).alias("v"))
        dict_side = base.distinct().agg(
            F.sum(F.length("v")).cast("bigint").alias("dict_str_bytes")
        )
        outs.append(
            base.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.countDistinct("v").cast("bigint").alias("ndv"),
                F.sum(F.length("v")).cast("bigint").alias("raw_bytes"),
            )
            .crossJoin(F.broadcast(dict_side))
            .selectExpr(
                f"'{tbl}.{col}' AS column_name",
                "n_rows",
                "ndv",
                "raw_bytes",
                "CAST(dict_str_bytes + n_rows * (CASE WHEN ndv <= 256 THEN 1"
                " WHEN ndv <= 65536 THEN 2 ELSE 4 END) AS BIGINT) AS dict_bytes",
                "(dict_str_bytes + n_rows * (CASE WHEN ndv <= 256 THEN 1"
                " WHEN ndv <= 65536 THEN 2 ELSE 4 END)) < raw_bytes"
                " AS dict_wins",
            )
        )
    out = outs[0]
    for p in outs[1:]:
        out = out.unionByName(p)
    return out


# --- join-size estimator audit (round 5) --------------------------------------
# The number every cost-based optimizer bets on: |A join B on k| under
# the independence/containment assumption, n_a * n_b / max(ndv_a,
# ndv_b), audited against the EXACT join size sum_k c_a(k) * c_b(k) —
# computed WITHOUT materializing the join (two per-key count aggregates
# joined on the key, then one product-sum; the q_selfjoin_estimator
# discipline applied across tables). Two join edges of opposite
# character: supplier-customer on nationkey (many-to-many, estimate
# good) and orders-lineitem on orderkey (FK, exact = |lineitem|).
# All-integer until the final error ratio.
_JSE_EDGES = (
    ("supplier", "s_nationkey", "customer", "c_nationkey"),
    ("orders", "o_orderkey", "lineitem", "l_orderkey"),
)


def _jse_one_sql(ta: str, ka: str, tb: str, kb: str) -> str:
    return f"""
    SELECT '{ta}*{tb}' AS join_edge,
           CAST(sa.n AS BIGINT) AS left_rows, CAST(sa.d AS BIGINT) AS left_ndv,
           CAST(sb.n AS BIGINT) AS right_rows, CAST(sb.d AS BIGINT) AS right_ndv,
           CAST(sa.n * sb.n // (CASE WHEN sa.d > sb.d THEN sa.d ELSE sb.d END)
                AS BIGINT) AS est_rows,
           CAST(x.exact AS BIGINT) AS exact_rows,
           CAST(sa.n * sb.n // (CASE WHEN sa.d > sb.d THEN sa.d ELSE sb.d END)
                AS DOUBLE) / CAST(x.exact AS DOUBLE) AS est_over_exact
    FROM (SELECT COUNT(*) AS n, COUNT(DISTINCT {ka}) AS d FROM {ta}) sa
    CROSS JOIN (SELECT COUNT(*) AS n, COUNT(DISTINCT {kb}) AS d FROM {tb}) sb
    CROSS JOIN (
        SELECT SUM(a.c * b.c) AS exact FROM
            (SELECT {ka} AS k, COUNT(*) AS c FROM {ta} GROUP BY 1) a
            JOIN (SELECT {kb} AS k, COUNT(*) AS c FROM {tb} GROUP BY 1) b
              USING (k)
    ) x
    """


@_q(
    "q_joinsize_estimator",
    "\nUNION ALL\n".join(_jse_one_sql(*e) for e in _JSE_EDGES),
)
def q_joinsize_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    outs = []
    for ta, ka, tb, kb in _JSE_EDGES:
        a = t(spark, sf_dir, ta).select(F.col(ka).alias("k"))
        b = t(spark, sf_dir, tb).select(F.col(kb).alias("k"))
        sa = a.agg(
            F.count(F.lit(1)).alias("n_a"), F.countDistinct("k").alias("d_a")
        )
        sb = b.agg(
            F.count(F.lit(1)).alias("n_b"), F.countDistinct("k").alias("d_b")
        )
        exact = (
            a.groupBy("k")
            .agg(F.count(F.lit(1)).alias("c_a"))
            .join(b.groupBy("k").agg(F.count(F.lit(1)).alias("c_b")), "k")
            .agg(F.sum(F.col("c_a") * F.col("c_b")).alias("exact"))
        )
        outs.append(
            sa.crossJoin(F.broadcast(sb))
            .crossJoin(F.broadcast(exact))
            .selectExpr(
                f"'{ta}*{tb}' AS join_edge",
                "CAST(n_a AS BIGINT) AS left_rows",
                "CAST(d_a AS BIGINT) AS left_ndv",
                "CAST(n_b AS BIGINT) AS right_rows",
                "CAST(d_b AS BIGINT) AS right_ndv",
                "CAST(n_a * n_b div (CASE WHEN d_a > d_b THEN d_a ELSE d_b END)"
                " AS BIGINT) AS est_rows",
                "CAST(exact AS BIGINT) AS exact_rows",
                "CAST(n_a * n_b div (CASE WHEN d_a > d_b THEN d_a ELSE d_b END)"
                " AS DOUBLE) / CAST(exact AS DOUBLE) AS est_over_exact",
            )
        )
    out = outs[0]
    for p in outs[1:]:
        out = out.unionByName(p)
    return out


# --- join-skew advisor (round 5) ----------------------------------------------
# The pre-flight check before any big join: per join edge, how much of
# the join OUTPUT the hottest key produces (c_a(k) * c_b(k), computed
# from two per-key count aggregates — the join itself is never
# materialized, the q_joinsize_estimator discipline), and the salt
# factor that would level it (ceil(top_rows * n_keys / total_rows),
# integer ceiling). All-integer; the hottest key is tie-broken by key
# value so both engines pick the same row. Salting is recommended when
# the top key exceeds 4x the mean key's output. Complements
# q_salted_join (the fix) and q_skew_audit (single-table skew) with the
# join-output view the optimizer actually cares about.
_JSK_EDGES = (
    ("orders", "o_orderkey", "lineitem", "l_orderkey"),
    ("customer", "c_nationkey", "supplier", "s_nationkey"),
)


def _jsk_one_sql(ta: str, ka: str, tb: str, kb: str) -> str:
    return f"""
    SELECT '{ta}*{tb}' AS join_edge,
           CAST(n_keys AS BIGINT) AS n_keys,
           CAST(total AS BIGINT) AS join_rows,
           CAST(top_key AS BIGINT) AS top_key,
           CAST(top_rows AS BIGINT) AS top_rows,
           CAST(top_rows AS DOUBLE) / CAST(total AS DOUBLE) AS top_share,
           CAST((top_rows * n_keys + total - 1) // total AS BIGINT)
               AS salt_factor,
           top_rows * n_keys > 4 * total AS salt_recommended
    FROM (
        SELECT COUNT(*) AS n_keys, SUM(rows_k) AS total,
               MAX(CASE WHEN rn = 1 THEN k END) AS top_key,
               MAX(CASE WHEN rn = 1 THEN rows_k END) AS top_rows
        FROM (
            SELECT k, rows_k,
                   row_number() OVER (ORDER BY rows_k DESC, k) AS rn
            FROM (
                SELECT a.k, a.c * b.c AS rows_k FROM
                    (SELECT {ka} AS k, COUNT(*) AS c FROM {ta} GROUP BY 1) a
                    JOIN (SELECT {kb} AS k, COUNT(*) AS c FROM {tb} GROUP BY 1) b
                      USING (k)
            )
        )
    )
    """


@_q(
    "q_join_skew_advisor",
    "\nUNION ALL\n".join(_jsk_one_sql(*e) for e in _JSK_EDGES),
)
def q_join_skew_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    outs = []
    for ta, ka, tb, kb in _JSK_EDGES:
        a = (
            t(spark, sf_dir, ta)
            .select(F.col(ka).alias("k"))
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("c_a"))
        )
        b = (
            t(spark, sf_dir, tb)
            .select(F.col(kb).alias("k"))
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("c_b"))
        )
        perk = a.join(b, "k").select(
            "k", (F.col("c_a") * F.col("c_b")).alias("rows_k")
        )
        totals = perk.agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("rows_k").alias("total"),
        )
        # top-1 key: sort+limit plans as TakeOrderedAndProject (no
        # global sort over the key support)
        top1 = perk.orderBy(F.desc("rows_k"), "k").limit(1).select(
            F.col("k").alias("top_key"), F.col("rows_k").alias("top_rows")
        )
        outs.append(
            totals.crossJoin(F.broadcast(top1)).selectExpr(
                f"'{ta}*{tb}' AS join_edge",
                "CAST(n_keys AS BIGINT) AS n_keys",
                "CAST(total AS BIGINT) AS join_rows",
                "CAST(top_key AS BIGINT) AS top_key",
                "CAST(top_rows AS BIGINT) AS top_rows",
                "CAST(top_rows AS DOUBLE) / CAST(total AS DOUBLE) AS top_share",
                "CAST((top_rows * n_keys + total - 1) div total AS BIGINT)"
                " AS salt_factor",
                "top_rows * n_keys > 4 * total AS salt_recommended",
            )
        )
    out = outs[0]
    for p in outs[1:]:
        out = out.unionByName(p)
    return out


# --- global clustering coefficient (round 5) -----------------------------------
# The one-number summary of graph cohesion: C = 3 * triangles / wedges,
# where wedges = sum over nodes of deg*(deg-1)/2. Reuses q_triangles'
# exact machinery (distinct co-order supplier edges, the adaptive
# strong-tie cut, the oriented three-leg triangle join) and adds the
# degree aggregate — all integers until the single final division.
# Plan notes inherited from q_triangles (persist the shared edge
# relation; the tie cut bounds the wedge explosion).
@_q(
    "q_clustering_coeff",
    """
    WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    ew AS (SELECT a.l_suppkey AS u, b.l_suppkey AS v, COUNT(*) AS w
           FROM os a JOIN os b
             ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
           GROUP BY 1, 2),
    e AS (SELECT u, v FROM ew
          WHERE w > (SELECT 1.5 * (CAST(SUM(w) AS DOUBLE) / COUNT(*)) FROM ew)),
    deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
            SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
        ) GROUP BY node
    ),
    wedges AS (
        SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS n_wedges FROM deg
    ),
    tri AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
            FROM e e1
            JOIN e e2 ON e2.u = e1.v
            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
           tri.n_triangles, wedges.n_wedges,
           CAST(3 * tri.n_triangles AS DOUBLE)
             / CAST(wedges.n_wedges AS DOUBLE) AS clustering_coeff
    FROM tri CROSS JOIN wedges
    """,
)
def q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    os_ = li.select("l_orderkey", "l_suppkey").distinct().persist()
    a, b = os_.alias("a"), os_.alias("b")
    ew = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .select(F.col("a.l_suppkey").alias("u"), F.col("b.l_suppkey").alias("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
        .persist()
    )
    cut = ew.agg(
        (F.lit(1.5) * (F.sum("w").cast("double") / F.count(F.lit(1)))).alias(
            "thr"
        )
    )
    e = (
        ew.crossJoin(F.broadcast(cut))
        .where(F.col("w") > F.col("thr"))
        .select("u", "v")
        .persist()
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    wedges = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("bigint").alias("n_wedges")
    )
    nodes = deg.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    edges = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.u") == F.col("e1.v"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    return (
        nodes.crossJoin(F.broadcast(edges))
        .crossJoin(F.broadcast(tri))
        .crossJoin(F.broadcast(wedges))
        .selectExpr(
            "n_nodes",
            "n_edges",
            "n_triangles",
            "n_wedges",
            "CAST(3 * n_triangles AS DOUBLE) / CAST(n_wedges AS DOUBLE)"
            " AS clustering_coeff",
        )
    )


# --- materialized-view (rollup) advisor (round 5) -------------------------------
# Which pre-aggregations pay for themselves? For each candidate rollup
# node over events, the grouped cardinality and the reduction ratio
# raw_rows / groups; recommend materializing when the rollup shrinks
# the relation at least 20x (shared integer threshold: raw >= 20 *
# groups). Exact distinct-group counts per node, one scan each
# (combinable); O(|nodes|) output. The batch sibling of
# q_state_size_advisor — same question, storage instead of state.
_MV_NODES = (
    ("type", "event_type"),
    ("day", "CAST(date_trunc('day', ts) AS TIMESTAMP)"),
    ("type_day", "event_type, CAST(date_trunc('day', ts) AS TIMESTAMP)"),
    ("type_hour", "event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP)"),
    ("user_day", "user_id, CAST(date_trunc('day', ts) AS TIMESTAMP)"),
)


def _mv_one_sql(name: str, keys: str) -> str:
    return f"""
    SELECT '{name}' AS rollup_node,
           CAST(MAX(raw) AS BIGINT) AS raw_rows,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(MAX(raw) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS reduction_ratio,
           MAX(raw) >= 20 * COUNT(*) AS materialize
    FROM (
        SELECT {keys}, COUNT(*) AS c,
               SUM(COUNT(*)) OVER () AS raw
        FROM events GROUP BY {keys}
    )
    """


@_q(
    "q_mv_advisor",
    "\nUNION ALL\n".join(_mv_one_sql(n, k) for n, k in _MV_NODES),
)
def q_mv_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = t(spark, sf_dir, "events")
    outs = []
    spark_keys = {
        "type": ["event_type"],
        "day": [F.date_trunc("day", F.col("ts")).alias("d")],
        "type_day": ["event_type", F.date_trunc("day", F.col("ts")).alias("d")],
        "type_hour": [
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("h"),
        ],
        "user_day": ["user_id", F.date_trunc("day", F.col("ts")).alias("d")],
    }
    for name, keys in spark_keys.items():
        grouped = e.groupBy(*keys).agg(F.count(F.lit(1)).alias("c"))
        grouped = grouped.withColumn(
            # bounded: grouping-combo aggregate — candidate MV support
            "raw", F.sum("c").over(Window.partitionBy())
        )
        outs.append(
            grouped.agg(
                F.max("raw").cast("bigint").alias("raw_rows"),
                F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            ).selectExpr(
                f"'{name}' AS rollup_node",
                "raw_rows",
                "n_groups",
                "CAST(raw_rows AS DOUBLE) / CAST(n_groups AS DOUBLE)"
                " AS reduction_ratio",
                "raw_rows >= 20 * n_groups AS materialize",
            )
        )
    out = outs[0]
    for p in outs[1:]:
        out = out.unionByName(p)
    # column order: rollup_node first (selectExpr already ordered)
    return out.select(
        "rollup_node", "raw_rows", "n_groups", "reduction_ratio", "materialize"
    )


# --- data-freshness audit (round 5) ---------------------------------------------
# The ingestion-health check dq_audit doesn't cover: per time-bearing
# table, the frontier (max event time), row count, and how many days
# the table lags the GLOBAL frontier across all three — the first thing
# an on-call engineer looks at when a pipeline stalls. Exact integer
# day arithmetic off 1-row per-table aggregates; the global frontier is
# a broadcast of three scalars. O(tables) output.
_FA_TABLES = (("events", "ts"), ("orders", "o_orderdate"), ("lineitem", "l_shipdate"))


@_q(
    "q_freshness_audit",
    f"""
    WITH per AS (
{chr(10).join(f'''        SELECT '{tbl}' AS table_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(MAX(floor(epoch({col}) / 86400)) AS BIGINT) AS max_day
        FROM {tbl}{' UNION ALL' if i < 2 else ''}''' for i, (tbl, col) in enumerate(_FA_TABLES))}
    ), fr AS (
        SELECT CAST(MAX(max_day) AS BIGINT) AS frontier_day FROM per
    )
    SELECT p.table_name, p.n_rows, p.max_day, f.frontier_day,
           CAST(f.frontier_day - p.max_day AS BIGINT) AS staleness_days,
           f.frontier_day - p.max_day <= 30 AS fresh_within_30d
    FROM per p CROSS JOIN fr f
    """,
)
def q_freshness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    pers = []
    for tbl, col in _FA_TABLES:
        pers.append(
            t(spark, sf_dir, tbl).agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.expr(f"MAX(unix_micros({col}) div 86400000000)")
                .cast("bigint")
                .alias("max_day"),
            ).selectExpr(f"'{tbl}' AS table_name", "n_rows", "max_day")
        )
    per = pers[0]
    for p in pers[1:]:
        per = per.unionByName(p)
    fr = per.agg(F.max("max_day").cast("bigint").alias("frontier_day"))
    return per.crossJoin(F.broadcast(fr)).selectExpr(
        "table_name",
        "n_rows",
        "max_day",
        "frontier_day",
        "CAST(frontier_day - max_day AS BIGINT) AS staleness_days",
        "frontier_day - max_day <= 30 AS fresh_within_30d",
    )


# --- Pareto concentration thresholds (round 5) -----------------------------------
# The named 80/20 numbers: the smallest count of top customers whose
# cumulative revenue reaches 50% / 80% / 90% / 99% of the total —
# q_knee_point finds the geometric knee, this reports the thresholds
# management actually quotes. Exactness: the crossing test clears the
# division (100 * cum_cents >= pct * total_cents, all BIGINTs — cum
# <= 3.8e12 cents * 100 < int64); the smallest crossing rank is a MIN
# over a boolean-filtered integer. One revenue aggregate + one global
# rank window (range-partition swap at scale) + a 4-row grid.
@_q(
    "q_pareto_thresholds",
    """
    WITH rev AS (
        SELECT o_custkey,
               CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey
    ), curve AS (
        SELECT CAST(row_number() OVER (ORDER BY cents DESC, o_custkey)
                    AS BIGINT) AS rk,
               CAST(SUM(cents) OVER (ORDER BY cents DESC, o_custkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum,
               CAST(SUM(cents) OVER () AS BIGINT) AS total,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM rev
    )
    SELECT CAST(g.pct AS BIGINT) AS revenue_pct,
           CAST(MIN(CASE WHEN 100 * cum >= g.pct * total THEN rk END)
                AS BIGINT) AS n_top_customers,
           CAST(MIN(CASE WHEN 100 * cum >= g.pct * total THEN rk END)
                AS DOUBLE) / CAST(MAX(n) AS DOUBLE) AS customer_share
    FROM curve, (VALUES (50), (80), (90), (99)) g(pct)
    GROUP BY g.pct
    """,
)
def q_pareto_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    rev = (
        t(spark, sf_dir, "orders")
        .selectExpr(
            "o_custkey",
            "CAST(floor(o_totalprice * 100.0) AS BIGINT) AS cents_row",
        )
        .groupBy("o_custkey")
        .agg(F.sum("cents_row").cast("bigint").alias("cents"))
    )
    # per-customer revenue is dimension-sized (corpus-shaped at
    # 100 TB): rank, running revenue, and totals via the range-
    # partitioned global_order (plans/rank.py)
    curve = global_order(
        rev,
        [F.desc("cents"), "o_custkey"],
        rank_col="rk",
        total_col="n",
        cum_sums={"cum": "cents"},
        sum_totals={"total": "cents"},
    ).select(
        "rk",
        F.col("cum").cast("bigint").alias("cum"),
        F.col("total").cast("bigint").alias("total"),
        "n",
    )
    grid = F.broadcast(
        curve.sparkSession.createDataFrame(
            [(50,), (80,), (90,), (99,)], "pct int"
        )
    )
    return (
        curve.crossJoin(grid)
        .groupBy("pct")
        .agg(
            F.min(
                F.when(
                    F.lit(100) * F.col("cum") >= F.col("pct") * F.col("total"),
                    F.col("rk"),
                )
            )
            .cast("bigint")
            .alias("n_top_customers"),
            F.max("n").alias("_n"),
        )
        .selectExpr(
            "CAST(pct AS BIGINT) AS revenue_pct",
            "n_top_customers",
            "CAST(n_top_customers AS DOUBLE) / CAST(_n AS DOUBLE)"
            " AS customer_share",
        )
    )


# --- basket-size distribution (round 5) -------------------------------------------
# The retail staple q_covisit assumes: how many lines does an order
# carry? Histogram of per-order line counts with shares and the
# cumulative share (ordered by size), all exact integers until the two
# share divisions. Two combinable aggregates + one O(sizes) window.
@_q(
    "q_basket_size_dist",
    """
    WITH per AS (
        SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS sz
        FROM lineitem GROUP BY l_orderkey
    ), hist AS (
        SELECT sz, CAST(COUNT(*) AS BIGINT) AS n_orders FROM per GROUP BY sz
    )
    SELECT CAST(sz AS BIGINT) AS basket_size, n_orders,
           CAST(n_orders AS DOUBLE)
             / CAST(SUM(n_orders) OVER () AS DOUBLE) AS share,
           CAST(SUM(n_orders) OVER (ORDER BY sz
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             / CAST(SUM(n_orders) OVER () AS DOUBLE) AS cum_share
    FROM hist
    """,
)
def q_basket_size_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    per = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("sz"))
    )
    hist = per.groupBy("sz").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders")
    )
    # bounded: basket-size support — O(max lines per order) rows
    wall = Window.partitionBy()
    wcum = Window.orderBy("sz").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return hist.select(
        F.col("sz").cast("bigint").alias("basket_size"),
        "n_orders",
        (
            F.col("n_orders").cast("double")
            / F.sum("n_orders").over(wall).cast("double")
        ).alias("share"),
        (
            F.sum("n_orders").over(wcum).cast("double")
            / F.sum("n_orders").over(wall).cast("double")
        ).alias("cum_share"),
    )


# --- frequent 3-itemsets from order baskets (round 6) ------------------------
# The Apriori step above q_assoc_rules' pairs: distinct parts per order
# form a basket (groupBy + collect_set, ONE shuffle — round 11 replaced
# the three-way orderkey self-join, which shuffled the item relation
# three times), triples come from chained in-row explodes with
# p1 < p2 < p3 — the candidate count per basket is C(|basket|, 3), so
# the expansion is per-basket-bounded at any corpus size (never
# |parts|³) PROVIDED baskets stay small. The fixture's max is 17
# distinct parts per order at sf0.1 (NOT TPC-H's 7 — the synthetic
# generator doesn't cap at 7); tests/test_basket_guard.py asserts a
# 64-part expansion budget at every scale so a skewed fixture change
# fails loudly instead of exploding the join (VERDICT r6 task 5).
# Support counts are exact integers; the top-20 selection is sort+limit
# (TakeOrderedAndProject), with the rank confined to the bounded
# 20-row result.
@_q(
    "q_basket_triples",
    """
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), triples AS (
        SELECT a.l_partkey AS p1, b.l_partkey AS p2, c.l_partkey AS p3
        FROM items a
        JOIN items b ON a.l_orderkey = b.l_orderkey
                    AND a.l_partkey < b.l_partkey
        JOIN items c ON b.l_orderkey = c.l_orderkey
                    AND b.l_partkey < c.l_partkey
    ), sup AS (
        SELECT p1, p2, p3, CAST(COUNT(*) AS BIGINT) AS support
        FROM triples GROUP BY 1, 2, 3
    ), top AS (
        SELECT * FROM sup ORDER BY support DESC, p1, p2, p3 LIMIT 20
    )
    SELECT p1, p2, p3, support,
           CAST(ROW_NUMBER() OVER (ORDER BY support DESC, p1, p2, p3)
                AS BIGINT) AS rank
    FROM top
    """,
)
def q_basket_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    # Round-11 restructure (guide §2.4 — remove shuffles outright): the
    # original three-way self-join shuffled the item relation by
    # l_orderkey three times (plus a distinct shuffle). Baskets are
    # built ONCE — groupBy(order).collect_set, which dedups in-row, so
    # the plan is ONE shuffle keyed on the basket id — and the triple
    # fan-out happens INSIDE the row via chained explodes, bounded per
    # basket by the same C(|basket|,3) budget tests/test_basket_guard.py
    # enforces on the data (the q_assoc_rules shape, one arity up).
    # Output verified identical to the join form at all three SFs;
    # 2.7 -> 2.5 s at sf0.1, and at 100 TB it removes two full
    # fact-relation shuffles.
    # isNotNull guard (ADVICE r11): the join form this replaced dropped
    # NULL order keys implicitly (null join keys never match); groupBy
    # would pool them into one shared basket. No nulls exist in the
    # fixture — this pins the join form's semantics on arbitrary data.
    baskets = (
        t(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey").isNotNull())
        .groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("items"))
    )
    triples = (
        baskets.select(F.explode("items").alias("p1"), "items")
        .select("p1", F.explode("items").alias("p2"), "items")
        .where(F.col("p1") < F.col("p2"))
        .select("p1", "p2", F.explode("items").alias("p3"))
        .where(F.col("p2") < F.col("p3"))
    )
    sup = triples.groupBy("p1", "p2", "p3").agg(
        F.count(F.lit(1)).cast("bigint").alias("support")
    )
    # top-20 selection: sort+limit plans as TakeOrderedAndProject
    top = sup.orderBy(F.desc("support"), "p1", "p2", "p3").limit(20)
    # bounded: rank over the 20-row top-k relation
    return top.select(
        "p1",
        "p2",
        "p3",
        "support",
        F.row_number()
        .over(Window.orderBy(F.desc("support"), "p1", "p2", "p3"))
        .cast("bigint")
        .alias("rank"),
    )


# --- per-day incremental checksums (round 6) ---------------------------------
# The partition-level integrity ledger an incremental sync diffs before
# copying anything: per order day, row count plus order-insensitive
# SUM and XOR digests of the canonicalized row text (the
# q_table_checksum md5 idiom, grouped). A changed day flips its digest;
# unchanged days need no re-read. Exact integers; one (day) aggregate,
# map-side combinable.
_DC_CANON = (
    "concat_ws('|', CAST(o_orderkey AS STRING),"
    " CAST(CAST(floor(o_totalprice * 100.0) AS BIGINT) AS STRING),"
    " o_orderstatus)"
)
_DC_CANON_DUCK = (
    "concat_ws('|', CAST(o_orderkey AS VARCHAR),"
    " CAST(CAST(floor(o_totalprice * 100.0) AS BIGINT) AS VARCHAR),"
    " o_orderstatus)"
)
_DC_MOD = 1 << 40


@_q(
    "q_day_checksums",
    f"""
    WITH rows_ AS (
        SELECT CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS day,
               CAST('0x' || substr(md5({_DC_CANON_DUCK}), 1, 10) AS BIGINT)
                   AS h
        FROM orders
    )
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(h % {_DC_MOD}) AS BIGINT) AS checksum_sum,
           CAST(bit_xor(h) AS BIGINT) AS checksum_xor
    FROM rows_ GROUP BY day
    """,
)
def q_day_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = t(spark, sf_dir, "orders").select(
        F.expr(
            "CAST(floor(unix_timestamp(o_orderdate) / 86400) AS BIGINT)"
        ).alias("day"),
        F.conv(F.substring(F.md5(F.expr(_DC_CANON)), 1, 10), 16, 10)
        .cast("bigint")
        .alias("h"),
    )
    return rows.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("h") % _DC_MOD).cast("bigint").alias("checksum_sum"),
        F.expr("CAST(bit_xor(h) AS BIGINT)").alias("checksum_xor"),
    )


# --- partial-aggregate merge audit (round 6) ---------------------------------
# The algebra every two-stage pipeline depends on: (count, sum, sum-of-
# squares) partials computed per shard (nation here) must MERGE into
# exactly the stats of a direct global pass. Both paths are exact
# integer cents; the audit emits both and integer equality flags — a
# broken combiner (e.g. averaging averages) flips them to false. One
# shard aggregate + one 1-row merge vs one direct aggregate.
@_q(
    "q_partial_merge_audit",
    """
    WITH partials AS (
        SELECT c_nationkey,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(floor(c_acctbal * 100.0) AS BIGINT)) AS BIGINT)
                   AS s,
               CAST(SUM(CAST(floor(c_acctbal * 100.0) AS BIGINT)
                        * CAST(floor(c_acctbal * 100.0) AS BIGINT))
                    AS BIGINT) AS q
        FROM customer GROUP BY c_nationkey
    ), merged AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_shards,
               CAST(SUM(n) AS BIGINT) AS n,
               CAST(SUM(s) AS BIGINT) AS s,
               CAST(SUM(q) AS BIGINT) AS q
        FROM partials
    ), direct AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(floor(c_acctbal * 100.0) AS BIGINT)) AS BIGINT)
                   AS s,
               CAST(SUM(CAST(floor(c_acctbal * 100.0) AS BIGINT)
                        * CAST(floor(c_acctbal * 100.0) AS BIGINT))
                    AS BIGINT) AS q
        FROM customer
    )
    SELECT m.n_shards, m.n, m.s, m.q,
           m.n = d.n AND m.s = d.s AND m.q = d.q AS merge_exact
    FROM merged m CROSS JOIN direct d
    """,
)
def q_partial_merge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = F.expr("CAST(floor(c_acctbal * 100.0) AS BIGINT)")
    c = t(spark, sf_dir, "customer")
    partials = c.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(cents).cast("bigint").alias("s"),
        F.sum(cents * cents).cast("bigint").alias("q"),
    )
    merged = partials.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shards"),
        F.sum("n").cast("bigint").alias("n"),
        F.sum("s").cast("bigint").alias("s"),
        F.sum("q").cast("bigint").alias("q"),
    )
    direct = c.agg(
        F.count(F.lit(1)).cast("bigint").alias("dn"),
        F.sum(cents).cast("bigint").alias("ds"),
        F.sum(cents * cents).cast("bigint").alias("dq"),
    )
    return merged.crossJoin(F.broadcast(direct)).selectExpr(
        "n_shards",
        "n",
        "s",
        "q",
        "n = dn AND s = ds AND q = dq AS merge_exact",
    )


# --- dominant-value share profile (round 6) ----------------------------------
# The skew early-warning a partitioner reads: for key categorical
# columns, the most frequent value and its share of rows (mode selected
# deterministically: count desc, value asc). One aggregate per column,
# union of bounded per-column argmaxes.
@_q(
    "q_top_value_share",
    """
    WITH c AS (
        SELECT 'events.event_type' AS col, event_type AS val,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 2
        UNION ALL
        SELECT 'orders.o_orderpriority', o_orderpriority,
               CAST(COUNT(*) AS BIGINT)
        FROM orders GROUP BY 2
        UNION ALL
        SELECT 'orders.o_orderstatus', o_orderstatus,
               CAST(COUNT(*) AS BIGINT)
        FROM orders GROUP BY 2
        UNION ALL
        SELECT 'lineitem.l_returnflag', l_returnflag,
               CAST(COUNT(*) AS BIGINT)
        FROM lineitem GROUP BY 2
    ), tot AS (
        SELECT col, CAST(SUM(n) AS BIGINT) AS total FROM c GROUP BY col
    ), top AS (
        SELECT col, val AS top_value, n AS top_count
        FROM c QUALIFY ROW_NUMBER() OVER (PARTITION BY col
                                          ORDER BY n DESC, val) = 1
    )
    SELECT top.col, top.top_value, top.top_count, tot.total,
           CAST(top.top_count AS DOUBLE) / tot.total AS top_share
    FROM top JOIN tot USING (col)
    """,
)
def q_top_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    parts = []
    for label, tbl, col in (
        ("events.event_type", "events", "event_type"),
        ("orders.o_orderpriority", "orders", "o_orderpriority"),
        ("orders.o_orderstatus", "orders", "o_orderstatus"),
        ("lineitem.l_returnflag", "lineitem", "l_returnflag"),
    ):
        parts.append(
            t(spark, sf_dir, tbl)
            .groupBy(F.col(col).alias("val"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
            .select(F.lit(label).alias("col"), "val", "n")
        )
    c = parts[0]
    for p in parts[1:]:
        c = c.unionAll(p)
    tot = c.groupBy("col").agg(F.sum("n").cast("bigint").alias("total"))
    # bounded: per-column value support — categorical domains ≤ dozens
    top = c.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("col").orderBy(F.desc("n"), "val")
        ),
    ).where(F.col("rn") == 1)
    return (
        top.join(tot, "col")
        .select(
            "col",
            F.col("val").alias("top_value"),
            F.col("n").alias("top_count"),
            "total",
            (F.col("n").cast("double") / F.col("total")).alias("top_share"),
        )
    )


# --- supplier concentration (HHI) per nation (round 6) -----------------------
# The groupwise companion to q_hhi: per supplier nation, the Herfindahl
# index of revenue concentration across its suppliers, with the
# denominator CLEARED — hhi_q = Σ c_i² and S² reported as exact BIGINTs
# beside the double ratio (cents quantized to whole dollars first so
# Σc² stays far inside int64 at any fixture scale). Two combinable
# aggregates, one broadcast-join back.
@_q(
    "q_hhi_by_nation",
    """
    WITH per AS (
        SELECT s.s_nationkey AS nation, l.l_suppkey,
               CAST(SUM(CAST(floor(l.l_extendedprice) AS BIGINT)) AS BIGINT)
                   AS dollars
        FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2
    ), agg AS (
        SELECT nation,
               CAST(COUNT(*) AS BIGINT) AS n_suppliers,
               CAST(SUM(dollars) AS BIGINT) AS s,
               CAST(SUM(dollars * dollars) AS BIGINT) AS q
        FROM per GROUP BY nation
    )
    SELECT nation, n_suppliers, s AS total_dollars, q AS sumsq_dollars,
           CAST(q AS DOUBLE) / (CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
               AS hhi
    FROM agg
    """,
)
def q_hhi_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    sup = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    per = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .groupBy(F.col("s_nationkey").alias("nation"), "l_suppkey")
        .agg(
            F.sum(F.expr("CAST(floor(l_extendedprice) AS BIGINT)"))
            .cast("bigint")
            .alias("dollars")
        )
    )
    agg = per.groupBy("nation").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
        F.sum("dollars").cast("bigint").alias("s"),
        F.sum(F.col("dollars") * F.col("dollars")).cast("bigint").alias("q"),
    )
    return agg.selectExpr(
        "nation",
        "n_suppliers",
        "s AS total_dollars",
        "q AS sumsq_dollars",
        "CAST(q AS DOUBLE) / (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) AS hhi",
    )


# --- CR4 concentration ratio per nation (round 6) ----------------------------
# The concentration-ratio cousin of q_hhi_by_nation: each nation's
# top-4 suppliers' share of revenue (PARTITIONED rank — per-nation,
# never global). Revenue in whole dollars keeps everything BIGINT;
# shares are single divisions.
@_q(
    "q_cr4_by_nation",
    """
    WITH per AS (
        SELECT s.s_nationkey AS nation, l.l_suppkey,
               CAST(SUM(CAST(floor(l.l_extendedprice) AS BIGINT)) AS BIGINT)
                   AS dollars
        FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2
    ), rk AS (
        SELECT nation, dollars,
               ROW_NUMBER() OVER (PARTITION BY nation
                                  ORDER BY dollars DESC, l_suppkey) AS rn
        FROM per
    )
    SELECT nation,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           CAST(SUM(dollars) AS BIGINT) AS total_dollars,
           CAST(SUM(CASE WHEN rn <= 4 THEN dollars ELSE 0 END) AS BIGINT)
               AS top4_dollars,
           CAST(SUM(CASE WHEN rn <= 4 THEN dollars ELSE 0 END) AS DOUBLE)
               / SUM(dollars) AS cr4
    FROM rk GROUP BY nation
    """,
)
def q_cr4_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    li = t(spark, sf_dir, "lineitem")
    sup = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    per = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .groupBy(F.col("s_nationkey").alias("nation"), "l_suppkey")
        .agg(
            F.sum(F.expr("CAST(floor(l_extendedprice) AS BIGINT)"))
            .cast("bigint")
            .alias("dollars")
        )
    )
    rk = per.select(
        "nation",
        "dollars",
        F.row_number()
        .over(
            Window.partitionBy("nation").orderBy(
                F.desc("dollars"), "l_suppkey"
            )
        )
        .alias("rn"),
    )
    return rk.groupBy("nation").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
        F.sum("dollars").cast("bigint").alias("total_dollars"),
        F.sum(F.when(F.col("rn") <= 4, F.col("dollars")).otherwise(0))
        .cast("bigint")
        .alias("top4_dollars"),
        (
            F.sum(F.when(F.col("rn") <= 4, F.col("dollars")).otherwise(0))
            .cast("double")
            / F.sum("dollars")
        ).alias("cr4"),
    )


# --- calendar-gap audit (round 6) --------------------------------------------
# Data-freshness integrity: per calendar month, how many days saw ZERO
# orders? A generated day grid (sequence over the observed [min, max]
# day span) left-joined against the per-day counts — gaps surface as
# rows, not silence. All integer day arithmetic.
@_q(
    "q_calendar_gaps",
    """
    WITH d AS (
        SELECT CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS day,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders GROUP BY 1
    ), ext AS (
        SELECT CAST(MIN(day) AS BIGINT) AS lo, CAST(MAX(day) AS BIGINT) AS hi
        FROM d
    ), grid AS (
        SELECT unnest(generate_series(lo, hi)) AS day FROM ext
    ), filled AS (
        SELECT g.day, COALESCE(d.n, 0) AS n FROM grid g
        LEFT JOIN d ON g.day = d.day
    )
    SELECT CAST(day // 30 AS BIGINT) AS month_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(CASE WHEN n = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_empty_days,
           CAST(SUM(n) AS BIGINT) AS n_orders
    FROM filled GROUP BY 1
    """,
)
def q_calendar_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        t(spark, sf_dir, "orders")
        .groupBy(
            F.expr(
                "CAST(floor(unix_timestamp(o_orderdate) / 86400) AS BIGINT)"
            ).alias("day")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    ext = d.agg(
        F.min("day").cast("bigint").alias("lo"),
        F.max("day").cast("bigint").alias("hi"),
    )
    grid = ext.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("day")
    )
    filled = grid.join(d, "day", "left").select(
        "day", F.coalesce("n", F.lit(0)).alias("n")
    )
    return filled.groupBy(
        F.expr("CAST(day DIV 30 AS BIGINT)").alias("month_bucket")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum(F.when(F.col("n") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_empty_days"),
        F.sum("n").cast("bigint").alias("n_orders"),
    )


# --- multi-sourcing audit (round 6) ------------------------------------------
# Supply-chain resilience: how many parts have 2+ suppliers, and what
# is the mean sourcing depth? One distinct-edge aggregate per part +
# one fold — exact integers, single divisions.
@_q(
    "q_multi_supplier_share",
    """
    WITH e AS (
        SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
    ), per AS (
        SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_sup
        FROM e GROUP BY l_partkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(CASE WHEN n_sup >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_multi,
           CAST(SUM(n_sup) AS BIGINT) AS n_edges,
           CAST(SUM(CASE WHEN n_sup >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS multi_share,
           CAST(SUM(n_sup) AS DOUBLE) / COUNT(*) AS mean_suppliers
    FROM per
    """,
)
def q_multi_supplier_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    per = (
        t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sup"))
    )
    return per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.sum(F.when(F.col("n_sup") >= 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_multi"),
        F.sum("n_sup").cast("bigint").alias("n_edges"),
        (
            F.sum(F.when(F.col("n_sup") >= 2, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("multi_share"),
        (F.sum("n_sup").cast("double") / F.count(F.lit(1))).alias(
            "mean_suppliers"
        ),
    )


# --- daily open-order backlog curve (round 7) ---------------------------------
# Operations' WIP headline: how many orders are open (placed, not yet
# fully shipped) on each day — the q_max_concurrency sweep-line applied
# to order lifecycles. An order is open on day d iff o_day <= d <
# done_day (done = its LAST lineitem ship day; the fixture's 27 orphan
# orders with no lineitems are excluded by the inner join — stated in
# both engines). Boundaries become ±1 deltas grouped to the O(days) day
# grid; the curve is a running sum over that bounded series. Exact
# integers end-to-end. 100 TB: one orders⋈lineitem hash join on the
# natural key + one O(days) cumulative — the fact never sorts globally.
@_q(
    "q_running_backlog",
    """
    WITH done AS (
        SELECT l_orderkey,
               CAST(MAX(floor(epoch(l_shipdate) / 86400)) AS BIGINT) AS done_day
        FROM lineitem GROUP BY 1
    ), span AS (
        SELECT CAST(floor(epoch(o.o_orderdate) / 86400) AS BIGINT) AS open_day,
               d.done_day
        FROM orders o JOIN done d ON o.o_orderkey = d.l_orderkey
    ), deltas AS (
        SELECT open_day AS day, CAST(1 AS BIGINT) AS delta FROM span
        UNION ALL
        SELECT done_day AS day, CAST(-1 AS BIGINT) AS delta FROM span
    ), daily AS (
        SELECT day, CAST(SUM(delta) AS BIGINT) AS net FROM deltas GROUP BY 1
    )
    SELECT day,
           CAST(SUM(net) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS backlog
    FROM daily
    """,
)
def q_running_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    done = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.max(F.floor(F.unix_timestamp("l_shipdate") / 86400))
            .cast("bigint")
            .alias("done_day")
        )
    )
    span = (
        t(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.floor(F.unix_timestamp("o_orderdate") / 86400)
            .cast("bigint")
            .alias("open_day"),
        )
        .join(done, F.col("o_orderkey") == F.col("l_orderkey"))
    )
    deltas = span.select(
        F.col("open_day").alias("day"), F.lit(1).cast("bigint").alias("delta")
    ).unionAll(
        span.select(
            F.col("done_day").alias("day"),
            F.lit(-1).cast("bigint").alias("delta"),
        )
    )
    daily = deltas.groupBy("day").agg(
        F.sum("delta").cast("bigint").alias("net")
    )
    # bounded: daily series — O(days) rows
    wcum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return daily.select(
        "day", F.sum("net").over(wcum).cast("bigint").alias("backlog")
    )


# --- new sourcing-relationship cohorts (round 7) ------------------------------
# Marketplace supply health: when was each (supplier, part) sourcing
# relationship FIRST exercised, how many new relationships enter per
# month, and what share of the cumulative relationship base is new that
# month? (Supplier-level first-ship is vacuous on this fixture — every
# supplier ships in month one — so the cohort is the RELATIONSHIP, the
# grain procurement actually tracks; 82 distinct entry months here.)
# Per-pair min is one map-side-combinable aggregate on the natural
# (suppkey, partkey) shuffle; the month series is O(months), so its
# cumulative is a bounded window. share_new = one double division.
@_q(
    "q_cold_start_suppliers",
    """
    WITH first_ship AS (
        SELECT l_suppkey, l_partkey,
               CAST(MIN(EXTRACT(year FROM l_shipdate) * 12
                        + EXTRACT(month FROM l_shipdate)) AS BIGINT) AS midx
        FROM lineitem GROUP BY 1, 2
    ), monthly AS (
        SELECT midx, CAST(COUNT(*) AS BIGINT) AS n_new FROM first_ship
        GROUP BY 1
    )
    SELECT midx,
           n_new,
           CAST(SUM(n_new) OVER (ORDER BY midx
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS n_cumulative,
           CAST(n_new AS DOUBLE)
             / CAST(SUM(n_new) OVER (ORDER BY midx
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS DOUBLE) AS share_new
    FROM monthly
    """,
)
def q_cold_start_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    first_ship = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.min(
                F.year("l_shipdate") * 12 + F.month("l_shipdate")
            )
            .cast("bigint")
            .alias("midx")
        )
    )
    monthly = first_ship.groupBy("midx").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_new")
    )
    # bounded: monthly series — O(months) rows
    wcum = Window.orderBy("midx").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = F.sum("n_new").over(wcum).cast("bigint")
    return monthly.select(
        "midx",
        "n_new",
        cum.alias("n_cumulative"),
        (F.col("n_new").cast("double") / cum.cast("double")).alias(
            "share_new"
        ),
    )


# --- brand market-share movers (round 7) --------------------------------------
# Competitive monitoring: per (brand, month) revenue share of that
# month's total, the month-over-month share delta per brand, and the
# top-20 movers by |delta|. Revenue sums are DECIMAL-routed (exact,
# order-insensitive); shares and deltas are fixed-order double
# arithmetic identical in both engines. The per-brand lag window is
# PARTITIONED (brand); the month totals relation is O(months) and
# broadcast. Top-20 via sort+limit — TakeOrderedAndProject.
@_q(
    "q_share_shift_movers",
    """
    WITH bm AS (
        SELECT p.p_brand AS brand,
               CAST(EXTRACT(year FROM l.l_shipdate) * 12
                    + EXTRACT(month FROM l.l_shipdate) AS BIGINT) AS midx,
               CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                             AS DECIMAL(38,6))) AS DOUBLE) AS rev
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1, 2
    ), mt AS (
        SELECT midx, CAST(SUM(CAST(rev AS DECIMAL(38,6))) AS DOUBLE)
                         AS mrev
        FROM bm GROUP BY 1
    ), sh AS (
        SELECT brand, bm.midx, rev / mrev AS share,
               LAG(rev / mrev) OVER (PARTITION BY brand ORDER BY bm.midx)
                   AS prev_share
        FROM bm JOIN mt ON bm.midx = mt.midx
    )
    SELECT brand, midx, share, prev_share,
           abs(share - prev_share) AS abs_delta
    FROM sh WHERE prev_share IS NOT NULL
    ORDER BY abs_delta DESC, brand, midx LIMIT 20
    """,
)
def q_share_shift_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        (F.year("l_shipdate") * 12 + F.month("l_shipdate"))
        .cast("bigint")
        .alias("midx"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("amt"),
    )
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    bm = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"), "midx")
        .agg(dec_sum("amt", "rev"))
    )
    mt = bm.groupBy("midx").agg(dec_sum("rev", "mrev"))
    sh = (
        bm.join(F.broadcast(mt), "midx")
        .select(
            "brand",
            "midx",
            (F.col("rev") / F.col("mrev")).alias("share"),
        )
        .withColumn(
            "prev_share",
            F.lag("share").over(
                Window.partitionBy("brand").orderBy("midx")
            ),
        )
        .where(F.col("prev_share").isNotNull())
        .select(
            "brand",
            "midx",
            "share",
            "prev_share",
            F.abs(F.col("share") - F.col("prev_share")).alias("abs_delta"),
        )
    )
    # top-20 selection: sort+limit plans as TakeOrderedAndProject
    return sh.orderBy(F.desc("abs_delta"), "brand", "midx").limit(20)
