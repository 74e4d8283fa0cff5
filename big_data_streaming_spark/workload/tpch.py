"""TPC-H completion pack — the remaining canonical query *shapes*.

Round 1/2 covered Q3/Q5/Q6/Q10/Q18/Q19 (workload/relational.py). This
module adds the rest of the suite, adapted to the driver testdata's
trimmed star schema (TESTDATA.md): there is no ``partsupp`` table and no
``l_commitdate``/``l_receiptdate``/``l_shipmode``/``p_container``/
``c_phone`` columns, so queries that depend on them substitute an
equivalent predicate over available columns while preserving the
query's *operator shape* — that shape (correlated EXISTS / NOT EXISTS,
scalar correlated subqueries, min-per-group selection, conditional
aggregation, HAVING over a global scalar) is the coverage target, per
SURVEY.md §2 Table B (the reference itself has no relational core; this
is the 100 TB analytics surface a user would expect).

Scale notes:
* Dimension sides (part 2 k, supplier 100, nation 25, region 5 rows at
  sf0.01; all sub-64 MB at any plausible SF) are ``broadcast()``-hinted:
  every query is one pass over lineitem/orders plus broadcast hash
  joins, with shuffles only at aggregation boundaries.
* Correlated subqueries are expressed in their *decorrelated* form on
  the Spark side (semi/anti joins, per-group aggregates joined back,
  window min-per-group) — the exact rewrite Catalyst would perform, but
  stated explicitly so the plan is visible and testable.
* Scalar global thresholds (Q11/Q15/Q22) are computed as 1-row
  DataFrames and ``crossJoin(broadcast(...))``-ed, never collected to
  the driver.
* All double sums/avgs route through DECIMAL(38,6) (workload/common.py)
  so results are bit-identical to the DuckDB oracle at any partition
  count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from big_data_streaming_spark.workload.common import (
    DEC,
    dec_avg,
    dec_sum,
    oracle_dec_avg,
    oracle_dec_sum,
    registry,
    t,
    tr,
)

QUERIES, ORACLES, _q = registry()


def _ts(s: str) -> F.Column:
    return F.lit(s).cast("timestamp")


# --- Q1: pricing summary report (full form, incl. charge + tax) -----------
@_q(
    "q_tpch_q1",
    f"""
    SELECT l_returnflag, l_linestatus,
           {oracle_dec_sum('l_quantity', 'sum_qty')},
           {oracle_dec_sum('l_extendedprice', 'sum_base_price')},
           {oracle_dec_sum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
           {oracle_dec_sum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
           {oracle_dec_avg('l_quantity', 'avg_qty')},
           {oracle_dec_avg('l_extendedprice', 'avg_price')},
           {oracle_dec_avg('l_discount', 'avg_disc')},
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tr(): the widest decimal aggregation in the suite ran as ONE fused
    # scan task on the single-row-group bench layout (round-11 profiler).
    # No-op at production row-group counts (guide §2.5/§6).
    li = tr(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= _ts("2001-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum("l_quantity", "sum_qty"),
            dec_sum("l_extendedprice", "sum_base_price"),
            dec_sum(disc_price, "sum_disc_price"),
            dec_sum(charge, "sum_charge"),
            dec_avg("l_quantity", "avg_qty"),
            dec_avg("l_extendedprice", "avg_price"),
            dec_avg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --- Q2 shape: min-cost supplier per part (correlated scalar MIN) ---------
# No partsupp/ps_supplycost in the testdata; the unit cost is derived from
# lineitem as MIN(l_extendedprice / l_quantity) per (part, supplier). The
# correlated `= (SELECT MIN ...)` is decorrelated as a window MIN over
# the part key — one shuffle on l_partkey, then broadcast dims.
@_q(
    "q_tpch_q2",
    """
    WITH cost AS (
        SELECT l_partkey, l_suppkey,
               MIN(l_extendedprice / l_quantity) AS unit_cost
        FROM lineitem
        GROUP BY l_partkey, l_suppkey
    )
    SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_name,
           c.unit_cost
    FROM part p
    JOIN cost c ON c.l_partkey = p.p_partkey
    JOIN supplier s ON s.s_suppkey = c.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_size <= 15 AND p.p_type = 'LARGE'
      AND c.unit_cost = (SELECT MIN(c2.unit_cost) FROM cost c2
                         WHERE c2.l_partkey = p.p_partkey)
    ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
    LIMIT 100
    """,
)
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    w = Window.partitionBy("l_partkey")
    best = (
        cost.withColumn("_min_cost", F.min("unit_cost").over(w))
        .filter(F.col("unit_cost") == F.col("_min_cost"))
        .drop("_min_cost")
    )
    part = t(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 15) & (F.col("p_type") == "LARGE")
    )
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    return (
        best.join(F.broadcast(part), best.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), best.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "unit_cost")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


# --- Q4 shape: order-priority count with correlated EXISTS ----------------
# l_commitdate/l_receiptdate absent; "late" = line shipped more than 60
# days after the order date. EXISTS → left-semi join with a compound
# (equi + inequality) condition.
@_q(
    "q_tpch_q4",
    """
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o.o_orderpriority
    """,
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1996-04-01"))
    )
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (orders.o_orderkey == li.l_orderkey) & (
        li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 60 DAYS")
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# --- Q7: volume shipping between two nations (self-joined dim) ------------
# Parameters: the nation pair is (NATION_12, NATION_13) — chosen because
# the fixture ships in BOTH directions between them at every generated
# scale (the original (NATION_1, NATION_2) pair traded zero lines at
# sf0.001, making the differential gate compare two empty sets).
@_q(
    "q_tpch_q7",
    f"""
    SELECT supp_nation, cust_nation, l_year,
           {oracle_dec_sum('volume', 'revenue')}
    FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 YEAR(l.l_shipdate) AS l_year,
                 l.l_extendedprice * (1 - l.l_discount) AS volume
          FROM supplier s
          JOIN lineitem l ON s.s_suppkey = l.l_suppkey
          JOIN orders o ON o.o_orderkey = l.l_orderkey
          JOIN customer c ON c.c_custkey = o.o_custkey
          JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
          JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
          WHERE ((n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_13')
                 OR (n1.n_name = 'NATION_13' AND n2.n_name = 'NATION_12'))
            AND l.l_shipdate >= TIMESTAMP '1996-01-01'
            AND l.l_shipdate < TIMESTAMP '1998-01-01') shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1998-01-01"))
    )
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n1 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (F.col("supp_nation") == "NATION_12") & (
        F.col("cust_nation") == "NATION_13"
    )
    rev_pair = (F.col("supp_nation") == "NATION_13") & (
        F.col("cust_nation") == "NATION_12"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair | rev_pair)
        .withColumn("l_year", F.year("l_shipdate"))
        .withColumn(
            "volume", F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dec_sum("volume", "revenue"))
    )


# --- Q8: national market share (conditional share of a decimal sum) -------
@_q(
    "q_tpch_q8",
    """
    SELECT o_year,
           CAST(SUM(CAST(CASE WHEN nation = 'NATION_3' THEN volume
                              ELSE 0.0 END AS DECIMAL(38,6))) AS DOUBLE)
           / CAST(SUM(CAST(volume AS DECIMAL(38,6))) AS DOUBLE) AS mkt_share
    FROM (SELECT YEAR(o.o_orderdate) AS o_year,
                 l.l_extendedprice * (1 - l.l_discount) AS volume,
                 n2.n_name AS nation
          FROM part p
          JOIN lineitem l ON p.p_partkey = l.l_partkey
          JOIN supplier s ON s.s_suppkey = l.l_suppkey
          JOIN orders o ON o.o_orderkey = l.l_orderkey
          JOIN customer c ON c.c_custkey = o.o_custkey
          JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
          JOIN region r ON r.r_regionkey = n1.n_regionkey
          JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
          WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
            AND o.o_orderdate >= TIMESTAMP '1996-01-01'
            AND o.o_orderdate < TIMESTAMP '1998-01-01') all_nations
    GROUP BY o_year
    """,
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1998-01-01"))
    )
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n1 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n2 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    volume = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(F.broadcast(part.select("p_partkey")), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(region), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .withColumn("o_year", F.year("o_orderdate"))
        .withColumn("volume", volume)
        .groupBy("o_year")
        .agg(
            (
                F.sum(
                    F.when(F.col("nation") == "NATION_3", F.col("volume"))
                    .otherwise(F.lit(0.0))
                    .cast(DEC)
                ).cast("double")
                / F.sum(F.col("volume").cast(DEC)).cast("double")
            ).alias("mkt_share")
        )
    )


# --- Q9 shape: product-type profit by nation and year ---------------------
# ps_supplycost absent; cost proxy = 0.1 * p_retailprice * l_quantity.
@_q(
    "q_tpch_q9",
    f"""
    SELECT nation, o_year, {oracle_dec_sum('amount', 'sum_profit')}
    FROM (SELECT n.n_name AS nation, YEAR(o.o_orderdate) AS o_year,
                 l.l_extendedprice * (1 - l.l_discount)
                   - 0.1 * p.p_retailprice * l.l_quantity AS amount
          FROM part p
          JOIN lineitem l ON p.p_partkey = l.l_partkey
          JOIN supplier s ON s.s_suppkey = l.l_suppkey
          JOIN orders o ON o.o_orderkey = l.l_orderkey
          JOIN nation n ON n.n_nationkey = s.s_nationkey
          WHERE p.p_name LIKE '%red%') profit
    GROUP BY nation, o_year
    """,
)
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    supp = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = t(spark, sf_dir, "nation")
    amount = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) - F.lit(
        0.1
    ) * F.col("p_retailprice") * F.col("l_quantity")
    return (
        li.join(
            F.broadcast(part.select("p_partkey", "p_retailprice")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(dec_sum("amount", "sum_profit"))
    )


# --- Q11 shape: important parts (HAVING over a global scalar) -------------
# partsupp absent; per-part "value" = revenue routed through EUROPE-based
# suppliers. The scalar threshold is a 1-row broadcast, not a collect.
@_q(
    "q_tpch_q11",
    """
    WITH val AS (
        SELECT l.l_partkey,
               SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                        AS DECIMAL(38,6))) AS value_dec
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'EUROPE'
        GROUP BY l.l_partkey
    )
    SELECT l_partkey, CAST(value_dec AS DOUBLE) AS part_value
    FROM val
    WHERE CAST(value_dec AS DOUBLE) >
          1.5 * (CAST((SELECT SUM(value_dec) FROM val) AS DOUBLE)
                 / (SELECT COUNT(*) FROM val))
    """,
)
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    supp = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    val = (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("l_partkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
                    DEC
                )
            ).alias("value_dec")
        )
    )
    # Threshold restated MEAN-RELATIVE (1.5x the average part value):
    # spec Q11's fixed fraction (0.0001/SF) assumes TPC-H's skewed value
    # distribution; this near-uniform synthetic fixture crosses any fixed
    # fraction as the part count grows (0.001 -> ZERO rows at sf0.1, the
    # green-but-empty vacuity class caught by the round-7 full sf0.1
    # sweep). Deviation documented in COVERAGE.md next to q7/q22. The
    # shape is unchanged: grouped values filtered against a correlated
    # 1-row scalar broadcast.
    total = val.agg(
        F.sum("value_dec").cast("double").alias("_total"),
        F.count(F.lit(1)).alias("_n"),
    )
    return (
        val.crossJoin(F.broadcast(total))
        .filter(
            F.col("value_dec").cast("double")
            > F.lit(1.5) * (F.col("_total") / F.col("_n"))
        )
        .select("l_partkey", F.col("value_dec").cast("double").alias("part_value"))
    )


# --- Q12 shape: priority counts by group (conditional aggregation) --------
# l_shipmode absent → grouped by l_returnflag; commit/receipt lateness →
# shipped more than 30 days after order date.
@_q(
    "q_tpch_q12",
    """
    SELECT l.l_returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
      AND l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l.l_returnflag
    """,
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-01-01"))
        & (F.col("l_shipdate") < _ts("1998-01-01"))
    )
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# --- Q13: customer order-count distribution (left join + double groupBy) --
@_q(
    "q_tpch_q13",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
          FROM customer c
          LEFT OUTER JOIN orders o
            ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '5-LOW'
          GROUP BY c.c_custkey) c_orders
    GROUP BY c_count
    """,
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer").select("c_custkey")
    orders = t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    cond = (cust.c_custkey == orders.o_custkey) & (
        orders.o_orderpriority != "5-LOW"
    )
    return (
        cust.join(orders, cond, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


# --- Q14: promotion-type revenue share ------------------------------------
@_q(
    "q_tpch_q14",
    """
    SELECT 100.00 * CAST(SUM(CAST(CASE WHEN p.p_type = 'PROMO'
                                       THEN l.l_extendedprice * (1 - l.l_discount)
                                       ELSE 0.0 END AS DECIMAL(38,6))) AS DOUBLE)
           / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(38,6))) AS DOUBLE) AS promo_revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-09-01'
      AND l.l_shipdate < TIMESTAMP '1996-10-01'
    """,
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-09-01"))
        & (F.col("l_shipdate") < _ts("1996-10-01"))
    )
    part = t(spark, sf_dir, "part").select("p_partkey", "p_type")
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                F.lit(100.0)
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", disc_price)
                    .otherwise(F.lit(0.0))
                    .cast(DEC)
                ).cast("double")
                / F.sum(disc_price.cast(DEC)).cast("double")
            ).alias("promo_revenue")
        )
    )


# --- Q15: top supplier (view + scalar MAX, ties kept) ---------------------
# The MAX comparison stays in DECIMAL — exact equality, no double ties.
@_q(
    "q_tpch_q15",
    """
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               SUM(CAST(l_extendedprice * (1 - l_discount)
                        AS DECIMAL(38,6))) AS total_dec
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, CAST(r.total_dec AS DOUBLE) AS total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_dec = (SELECT MAX(total_dec) FROM revenue)
    """,
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1996-04-01"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(
            (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(DEC)
        ).alias("total_dec")
    )
    top = revenue.agg(F.max("total_dec").alias("_max_dec"))
    supp = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.crossJoin(F.broadcast(top))
        .filter(F.col("total_dec") == F.col("_max_dec"))
        .join(F.broadcast(supp), F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name", F.col("total_dec").cast("double").alias("total_revenue")
        )
    )


# --- Q16 shape: supplier count per part attrs, NOT IN exclusion -----------
# partsupp absent → supplier-part relationships derived from lineitem;
# the comment-based exclusion becomes s_acctbal < 0 (anti join).
@_q(
    "q_tpch_q16",
    """
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                              WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    )
    bad_supp = t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(bad_supp), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(
            F.broadcast(part.select("p_partkey", "p_brand", "p_type", "p_size")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


# --- Q17 shape: small-quantity revenue (correlated scalar AVG) ------------
# p_container absent → part class = (p_brand, p_type). The correlated
# `< 0.2 * (SELECT AVG ...)` decorrelates to a per-part aggregate joined
# back — the threshold side is tiny (parts of one brand+type) and
# broadcast.
@_q(
    "q_tpch_q17",
    """
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / 7.0
             AS avg_yearly
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#3' AND p.p_type = 'SMALL'
      AND l.l_quantity <
          0.2 * (SELECT CAST(SUM(CAST(l2.l_quantity AS DECIMAL(38,6)))
                             AS DOUBLE) / COUNT(l2.l_quantity)
                 FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)
    """,
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = t(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#3") & (F.col("p_type") == "SMALL")
    )
    li = t(spark, sf_dir, "lineitem")
    # The correlated AVG ranges over ALL lineitems of the part (not just
    # the brand-filtered join), so compute thresholds before the filter.
    li_parts = li.join(
        F.broadcast(part.select("p_partkey")), F.col("l_partkey") == F.col("p_partkey")
    )
    thr = li_parts.groupBy(F.col("l_partkey").alias("_tk")).agg(
        (
            F.sum(F.col("l_quantity").cast(DEC)).cast("double")
            / F.count("l_quantity")
        ).alias("_avg_qty")
    )
    return (
        li_parts.join(F.broadcast(thr), F.col("l_partkey") == F.col("_tk"))
        .filter(F.col("l_quantity") < F.lit(0.2) * F.col("_avg_qty"))
        .agg(
            (F.sum(F.col("l_extendedprice").cast(DEC)).cast("double") / F.lit(7.0)).alias(
                "avg_yearly"
            )
        )
    )


# --- Q20 shape: suppliers over a shipped-quantity threshold (nested IN) ---
@_q(
    "q_tpch_q20",
    """
    SELECT s.s_name, s.s_acctbal
    FROM supplier s
    WHERE s.s_suppkey IN (
        SELECT l.l_suppkey
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_name LIKE 'small%'
          AND l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY l.l_suppkey
        HAVING CAST(SUM(CAST(l.l_quantity AS DECIMAL(38,6))) AS DOUBLE) > 100.0)
    """,
)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = t(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1997-01-01"))
    )
    qualifying = (
        li.join(
            F.broadcast(part.select("p_partkey")), F.col("l_partkey") == F.col("p_partkey")
        )
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("_qty"))
        .filter(F.col("_qty") > 100.0)
        .select("l_suppkey")
    )
    supp = t(spark, sf_dir, "supplier")
    return supp.join(
        qualifying, supp.s_suppkey == qualifying.l_suppkey, "left_semi"
    ).select("s_name", "s_acctbal")


# --- Q21 shape: sole late supplier per order (EXISTS + NOT EXISTS) --------
# Lateness = shipped >60 days after order date. The double correlation is
# decorrelated as per-order distinct-supplier / distinct-late-supplier
# counts over a window: "another supplier exists" ⇔ n_supp > 1; "no other
# supplier was late" (given this line is late) ⇔ n_late_supp = 1.
@_q(
    "q_tpch_q21",
    """
    SELECT s.s_name, COUNT(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE o.o_orderstatus = 'F'
      AND n.n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4', 'NATION_5')
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY s.s_name
    """,
)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    lo = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).withColumn(
        "_late",
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
    )
    w = Window.partitionBy("l_orderkey")
    stats = lo.withColumn(
        "_n_supp", F.size(F.collect_set("l_suppkey").over(w))
    ).withColumn(
        "_n_late_supp",
        F.size(F.collect_set(F.when(F.col("_late"), F.col("l_suppkey"))).over(w)),
    )
    cand = stats.filter(
        F.col("_late") & (F.col("_n_supp") > 1) & (F.col("_n_late_supp") == 1)
    )
    nations = [f"NATION_{i}" for i in range(1, 6)]
    supp = (
        t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                t(spark, sf_dir, "nation").filter(F.col("n_name").isin(nations))
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name")
    )
    return (
        cand.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# --- Q22 shape: dormant customers above global average balance ------------
# c_phone absent → country code = c_nationkey % 10. Scalar AVG subquery
# broadcast as a 1-row frame; NOT EXISTS(recent orders) = left-anti join.
# "Dormant" is temporal — no order in the trailing 365 days of the data
# window — because the fixture FK-covers every customer, so the spec's
# literal never-ordered predicate returns 0 rows at every scale and the
# differential gate would compare two empty sets (the q_dead_stock
# vacuity, VERDICT.md r4). The cutoff is a 1-row max aggregate broadcast
# into the anti-join's right side.
@_q(
    "q_tpch_q22",
    f"""
    WITH potential AS (
        SELECT c.c_custkey, c.c_nationkey % 10 AS cntrycode, c.c_acctbal
        FROM customer c
        WHERE c.c_nationkey % 10 IN (1, 2, 3, 4, 5)
    )
    SELECT cntrycode, COUNT(*) AS numcust,
           {oracle_dec_sum('c_acctbal', 'totacctbal')}
    FROM potential p
    WHERE p.c_acctbal >
          (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE)
                  / COUNT(c_acctbal)
           FROM potential WHERE c_acctbal > 0.0)
      AND NOT EXISTS (
          SELECT 1 FROM orders o,
               (SELECT max(o_orderdate) - INTERVAL 365 DAY AS t
                FROM orders) cutoff
          WHERE o.o_custkey = p.c_custkey AND o.o_orderdate >= cutoff.t)
    GROUP BY cntrycode
    """,
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    pot = (
        t(spark, sf_dir, "customer")
        .withColumn("cntrycode", F.col("c_nationkey") % 10)
        .filter(F.col("cntrycode").isin(1, 2, 3, 4, 5))
        .select("c_custkey", "cntrycode", "c_acctbal")
    )
    avg_bal = pot.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.col("c_acctbal").cast(DEC)).cast("double") / F.count("c_acctbal")
        ).alias("_avg_bal")
    )
    orders = t(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    cutoff = orders.agg(
        F.expr("max(o_orderdate) - INTERVAL 365 DAY").alias("_t")
    )
    recent = (
        orders.crossJoin(F.broadcast(cutoff))
        .filter(F.col("o_orderdate") >= F.col("_t"))
        .select("o_custkey")
    )
    return (
        pot.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dec_sum("c_acctbal", "totacctbal"),
        )
    )
