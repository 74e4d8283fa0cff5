"""Product-analytics and data-quality operators (round-2 continuation).

The reference's product surface ends at "parse the stream, window it,
store it" (`spark/streaming-shorttime.py`, `spark/streaming-longtime.py`);
this module is the analytics layer a user of that stack builds next, each
shape chosen because it exercises a distinct engine capability not yet in
the registry:

* interval merge (gaps-and-islands with *variable-length* intervals —
  needs a running-max frame, strictly harder than ``session_window``'s
  fixed gap);
* Markov transition matrix + top event paths (LEAD-chains over per-user
  event sequences — the sequence-mining shape);
* rolling z-score anomaly detection (trailing-frame moments with the
  decimal-exact routing of ``common.py``, then a pure-IEEE z formula);
* Benford first-digit audit + equi-depth histogram + two-proportion
  A/B z-test (the data-quality / experimentation trio);
* 2-D skyline (Pareto frontier) via a running-max scan over the sorted
  candidate set.

Exactness policy (common.py): every double SUM routes through
DECIMAL(38,6); every derived float is a fixed-order arithmetic expression
written ONCE as SQL text and evaluated verbatim by both Spark and DuckDB,
so +,-,*,/ and IEEE-correctly-rounded sqrt give bit-identical results.
No transcendentals anywhere (the Benford audit reports observed
proportions, not log-expected ones, for that reason).

Scale notes (SCALE.md §analytics has the long form):
* interval merge / transitions / paths / z-score: ONE hash shuffle on
  user_id each; every window and the follow-up aggregation reuse that
  partitioning (HashPartitioning(user_id) satisfies the grouped
  ClusteredDistribution), so 100 TB cost = 1 exchange + sorts.
* skyline: the frontier is computed on the *aggregated* candidate set
  (one row per part), and frontier-of-union = frontier-of-partial-
  frontiers, so the scale path prunes per-partition before the global
  single-partition scan; at |parts| candidates the global step is tiny.
* equi-depth bins: NTILE over a global sort — at 100 TB you'd swap in
  approx_percentile cutpoints + a broadcast range join; kept exact here
  because the gate demands value equality.
* benford / abtest: pure aggregations, map-side combinable, output O(1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from big_data_streaming_spark.plans.rank import (
    global_ntile,
    global_order,
    global_rank,
    track_persist,
)
from big_data_streaming_spark.sources import local_rows
from big_data_streaming_spark.workload.common import (
    DEC,
    dec_avg,
    dec_sum,
    ohlc_oracle,
    oracle_dec_avg,
    oracle_dec_sum,
    registry,
    t,
    tr,
)

QUERIES, ORACLES, _q = registry()


# --- interval merge (gaps-and-islands, variable-length intervals) ---------
# Each event opens an activity interval of 1 + event_id % 10 minutes;
# overlapping intervals per user merge into one. Unlike session_window
# (fixed gap), closure needs MAX(end) over all preceding rows: a long
# interval can bridge past several short ones.
@_q(
    "q_interval_merge",
    """
    WITH iv AS (
        SELECT user_id, ts AS s,
               ts + (1 + event_id % 10) * INTERVAL 1 MINUTE AS e
        FROM events
    ), m AS (
        SELECT user_id, s, e,
               MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_max
        FROM iv
    ), g AS (
        SELECT user_id, s, e,
               SUM(CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY s, e
                         ROWS UNBOUNDED PRECEDING) AS grp
        FROM m
    )
    SELECT user_id, MIN(s) AS interval_start, MAX(e) AS interval_end,
           COUNT(*) AS n_events
    FROM g GROUP BY user_id, grp
    """,
)
def q_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Core promoted to operators/intervals.py:merge_intervals (round-2
    # library surface; property-tested against a pure-Python sweep).
    from big_data_streaming_spark.operators.intervals import merge_intervals

    iv = t(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").alias("s"),
        F.expr("timestampadd(MINUTE, CAST(1 + event_id % 10 AS INT), ts)").alias("e"),
    )
    return merge_intervals(iv, keys=["user_id"], start_col="s", end_col="e")


# --- Markov transition matrix over per-user event sequences ---------------
@_q(
    "q_transitions",
    """
    WITH seq AS (
        SELECT event_type AS prev_type,
               LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS next_type
        FROM events
    ), pair AS (
        SELECT prev_type, next_type, COUNT(*) AS n
        FROM seq WHERE next_type IS NOT NULL
        GROUP BY prev_type, next_type
    )
    SELECT prev_type, next_type, n,
           CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY prev_type) AS DOUBLE)
               AS p
    FROM pair
    """,
)
def q_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pair = (
        t(spark, sf_dir, "events")
        .select(
            F.col("event_type").alias("prev_type"),
            F.lead("event_type").over(w).alias("next_type"),
        )
        .where(F.col("next_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = F.sum("n").over(Window.partitionBy("prev_type"))
    return pair.withColumn(
        "p", F.col("n").cast("double") / total.cast("double")
    )


# --- top event paths (3-step LEAD-chain n-grams) --------------------------
@_q(
    "q_paths",
    """
    WITH seq AS (
        SELECT event_type AS e1,
               LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS e2,
               LEAD(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS e3
        FROM events
    )
    SELECT e1 || '>' || e2 || '>' || e3 AS path, COUNT(*) AS n
    FROM seq WHERE e3 IS NOT NULL AND e2 IS NOT NULL
    GROUP BY 1 ORDER BY n DESC, path LIMIT 10
    """,
)
def q_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t(spark, sf_dir, "events").select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    return (
        seq.where(F.col("e3").isNotNull() & F.col("e2").isNotNull())
        .select(F.concat_ws(">", "e1", "e2", "e3").alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "path")
        .limit(10)
    )


# --- rolling z-score anomaly detection ------------------------------------
# Trailing 20-row frame per user; moments via the decimal-exact routing,
# z via ONE shared arithmetic string evaluated by both engines. Every
# division is NULLIF-guarded: this Spark build runs ANSI mode where even
# DOUBLE/0 throws DIVIDE_BY_ZERO (DuckDB yields NULL), and predicate
# evaluation order inside a WHERE conjunction is not guaranteed in either
# engine — so the expressions themselves must be total functions. The
# sqrt argument is CASE-guarded the same way (negative variance from
# float cancellation would be NaN in Spark but an error in DuckDB).
_Z_VAR = "((sxx - sx * sx / nullif(n, 0)) / nullif(n - 1, 0))"
_Z_SD = f"sqrt(CASE WHEN {_Z_VAR} > 0 THEN {_Z_VAR} ELSE NULL END)"
_Z_EXPR = f"((value - sx / nullif(n, 0)) / {_Z_SD})"

@_q(
    "q_anomaly_zscore",
    f"""
    WITH s AS (
        SELECT user_id, event_id, ts, value,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE) AS sx,
               CAST(SUM(CAST(value * value AS DECIMAL(38,6))) OVER w AS DOUBLE)
                   AS sxx,
               COUNT(value) OVER w AS n
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, event_id, ts, value, {_Z_EXPR} AS z
    FROM s
    WHERE n >= 5 AND abs({_Z_EXPR}) > 2.5
    """,
)
def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-20, -1)
    )
    v = F.col("value")
    s = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.sum(v.cast(DEC)).over(w).cast("double").alias("sx"),
        F.sum((v * v).cast(DEC)).over(w).cast("double").alias("sxx"),
        F.count("value").over(w).alias("n"),
    )
    return s.where(
        (F.col("n") >= 5) & F.expr(f"abs({_Z_EXPR}) > 2.5")
    ).select(
        "user_id", "event_id", "ts", "value", F.expr(_Z_EXPR).alias("z")
    )


# --- Benford first-digit audit (DQ) ---------------------------------------
# First significant digit extracted in the exact-integer domain (cents →
# bigint → string head) — no log10, no float formatting, so both engines
# agree bit-for-bit. Expected Benford shares need a logarithm; we report
# observed proportions only (exactness policy).
@_q(
    "q_benford",
    """
    WITH c AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE o_totalprice > 0
    ), d AS (
        SELECT CAST(SUBSTR(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit FROM c
    )
    SELECT digit, COUNT(*) AS n,
           CAST(COUNT(*) AS DOUBLE) / CAST(SUM(COUNT(*)) OVER () AS DOUBLE)
               AS observed_p
    FROM d GROUP BY digit
    """,
)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        t(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > 0)
        .select(
            F.substring(
                F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"),
                1,
                1,
            )
            .cast("int")
            .alias("digit")
        )
    )
    counted = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    # bounded: leading-digit support — ≤9 rows
    total = F.sum("n").over(Window.partitionBy())
    return counted.withColumn(
        "observed_p", F.col("n").cast("double") / total.cast("double")
    )


# --- 2-D skyline / Pareto frontier ----------------------------------------
# "Best-value parts": minimize retail price, maximize total quantity sold.
# A part is on the frontier iff its qty strictly beats every strictly-or-
# equally-cheaper predecessor's best qty (sort price ASC, qty DESC →
# running MAX over the preceding frame).
@_q(
    "q_skyline",
    f"""
    WITH pq AS (
        SELECT p.p_partkey, p.p_retailprice AS price,
               {oracle_dec_sum("l.l_quantity", "qty")}
        FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
        GROUP BY p.p_partkey, p.p_retailprice
    ), m AS (
        SELECT p_partkey, price, qty,
               MAX(qty) OVER (ORDER BY price, qty DESC, p_partkey
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS pm
        FROM pq
    )
    SELECT p_partkey, price, qty FROM m WHERE pm IS NULL OR qty > pm
    """,
)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = t(spark, sf_dir, "part")
    li = t(spark, sf_dir, "lineitem")
    pq = (
        p.join(li, p.p_partkey == li.l_partkey)
        .groupBy("p_partkey", F.col("p_retailprice").alias("price"))
        .agg(dec_sum("l_quantity", "qty"))
    )
    # per-part aggregate is dimension-sized (corpus-shaped at 100 TB):
    # the dominance prefix-max rides the range-partitioned global_order
    # (plans/rank.py) — never a single-partition window
    m = global_order(
        pq,
        ["price", F.desc("qty"), "p_partkey"],
        cum_maxes_excl={"pm": "qty"},
    )
    return m.where(F.col("pm").isNull() | (F.col("qty") > F.col("pm"))).select(
        "p_partkey", "price", "qty"
    )


# --- equi-depth histogram (NTILE) -----------------------------------------
@_q(
    "q_equidepth_bins",
    """
    WITH b AS (
        SELECT o_totalprice,
               CAST(NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS INTEGER)
                   AS bin
        FROM orders
    )
    SELECT bin, COUNT(*) AS n, MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
    FROM b GROUP BY bin
    """,
)
def q_equidepth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    # orders are fact-sized: bin via the range-partitioned ntile
    # (plans/rank.py) — never a single-partition sort
    b = global_ntile(
        t(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey"),
        ["o_totalprice", "o_orderkey"],
        10,
        bucket_col="bin",
    ).select("o_totalprice", "bin")
    return b.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )


# --- two-proportion A/B z-test --------------------------------------------
# Arms by user-id parity, conversion = a high-value purchase (value > 400;
# a rare event, so rates sit strictly inside (0, 1)). The pooled z
# statistic is +,-,*,/ and sqrt only (all IEEE-deterministic), written
# once as shared SQL text; the denominator is NULLIF-guarded because a
# degenerate pooled rate of exactly 0 or 1 makes it 0 and ANSI Spark
# throws on DOUBLE/0 where DuckDB returns NULL.
_AB_P = "(CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))"
_AB_DEN = (
    f"sqrt({_AB_P} * (1 - {_AB_P})"
    " * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b))"
)
_AB_Z = (
    "((CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)"
    f" / nullif({_AB_DEN}, 0))"
)

@_q(
    "q_abtest",
    f"""
    WITH u AS (
        SELECT user_id,
               CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
               MAX(CASE WHEN event_type = 'purchase' AND value > 400
                        THEN 1 ELSE 0 END) AS converted
        FROM events GROUP BY user_id
    ), s AS (
        SELECT arm, COUNT(*) AS n, CAST(SUM(converted) AS BIGINT) AS conv
        FROM u GROUP BY arm
    ), wide AS (
        SELECT a.n AS n_a, a.conv AS conv_a, b.n AS n_b, b.conv AS conv_b
        FROM (SELECT n, conv FROM s WHERE arm = 'A') a,
             (SELECT n, conv FROM s WHERE arm = 'B') b
    )
    SELECT n_a, conv_a, n_b, conv_b,
           CAST(conv_a AS DOUBLE) / n_a AS rate_a,
           CAST(conv_b AS DOUBLE) / n_b AS rate_b,
           {_AB_Z} AS z
    FROM wide
    """,
)
def q_abtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("value") > 400),
                    1,
                ).otherwise(0)
            ).alias("converted")
        )
        .select(
            F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("arm"),
            "converted",
        )
    )
    s = u.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"), F.sum("converted").alias("conv")
    )
    a = s.where(F.col("arm") == "A").select(
        F.col("n").alias("n_a"), F.col("conv").alias("conv_a")
    )
    b = s.where(F.col("arm") == "B").select(
        F.col("n").alias("n_b"), F.col("conv").alias("conv_b")
    )
    wide = a.crossJoin(b)  # both sides are 1-row aggregates
    return wide.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.expr("CAST(conv_a AS DOUBLE) / n_a").alias("rate_a"),
        F.expr("CAST(conv_b AS DOUBLE) / n_b").alias("rate_b"),
        F.expr(_AB_Z).alias("z"),
    )


# --- longest consecutive-day activity streak per user ---------------------
# The row-number-difference gaps-and-islands variant (anchor = day - rn):
# complementary to q_interval_merge's running-max variant — this one works
# on the DISTINCT-day lattice where islands are arithmetic progressions.
@_q(
    "q_streaks",
    """
    WITH d AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        FROM events
    ), r AS (
        SELECT user_id, day,
               CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
                    AS INTEGER) AS rn
        FROM d
    ), s AS (
        SELECT user_id, MIN(day) AS streak_start, COUNT(*) AS streak_len
        FROM (SELECT user_id, day, day - rn AS anchor FROM r)
        GROUP BY user_id, anchor
    )
    SELECT user_id, MAX(streak_len) AS max_streak, COUNT(*) AS n_streaks
    FROM s GROUP BY user_id
    """,
)
def q_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        t(spark, sf_dir, "events")
        .select("user_id", F.to_date(F.date_trunc("day", "ts")).alias("day"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    r = d.withColumn("rn", F.row_number().over(w))
    s = (
        r.withColumn("anchor", F.date_sub("day", F.col("rn")))
        .groupBy("user_id", "anchor")
        .agg(
            F.min("day").alias("streak_start"),
            F.count(F.lit(1)).alias("streak_len"),
        )
    )
    return s.groupBy("user_id").agg(
        F.max("streak_len").alias("max_streak"),
        F.count(F.lit(1)).alias("n_streaks"),
    )


# --- winsorized mean (robust stats; exact-percentile clip bounds) ---------
# Exact interpolated percentiles match across engines (proven by
# q_percentiles: Spark `percentile` == DuckDB `quantile_cont`); the
# clipped re-aggregation rides a broadcast join of the 3-row bounds frame
# so the fact table is scanned twice but shuffled only for the aggregates.
@_q(
    "q_winsorize",
    f"""
    WITH b AS (
        SELECT l_returnflag,
               quantile_cont(l_extendedprice, 0.01) AS lo,
               quantile_cont(l_extendedprice, 0.99) AS hi
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag, b.lo, b.hi,
           {oracle_dec_avg("l_extendedprice", "mean_raw")},
           {oracle_dec_avg("LEAST(GREATEST(l_extendedprice, lo), hi)", "mean_winsor")}
    FROM lineitem l JOIN b USING (l_returnflag)
    GROUP BY l.l_returnflag, b.lo, b.hi
    """,
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tr(): two full-fact percentile/agg passes fused into single scan
    # tasks (round-12 sweep); A/B 2.2 -> 1.6 s at sf0.1.
    li = tr(spark, sf_dir, "lineitem")
    b = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", 0.01).alias("lo"),
        F.percentile("l_extendedprice", 0.99).alias("hi"),
    )
    j = li.join(F.broadcast(b), "l_returnflag")
    clipped = F.least(F.greatest(F.col("l_extendedprice"), F.col("lo")), F.col("hi"))
    return j.groupBy("l_returnflag", "lo", "hi").agg(
        dec_avg("l_extendedprice", "mean_raw"),
        dec_avg(clipped, "mean_winsor"),
    )


# --- median absolute deviation (robust spread) ----------------------------
@_q(
    "q_mad",
    """
    WITH med AS (
        SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS med
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag, m.med,
           quantile_cont(abs(l_extendedprice - med), 0.5) AS mad
    FROM lineitem l JOIN med m USING (l_returnflag)
    GROUP BY l.l_returnflag, m.med
    """,
)
def q_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    med = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", 0.5).alias("med")
    )
    j = li.join(F.broadcast(med), "l_returnflag")
    return j.groupBy("l_returnflag", "med").agg(
        F.percentile(F.abs(F.col("l_extendedprice") - F.col("med")), 0.5).alias(
            "mad"
        )
    )


# --- deterministic per-group reservoir sample (k = 50) --------------------
# Uniform-without-replacement per event_type via the same engine-portable
# Knuth multiplicative hash as q_sample_weighted: rank by hash, keep the
# first k. No RNG state, reproducible across engines, runs, and
# partitionings; the only shuffle is the per-type window sort. The key is
# mod-reduced by 2^31-1 BEFORE the multiply so the product stays < 2^63
# for ANY bigint id (unreduced, ANSI raises / non-ANSI wraps past
# key ~ 3.47e9 — exactly the 100 TB regime); for keys below 2^31 the
# reduce is the identity, so every historical result is bit-unchanged.
@_q(
    "q_sample_reservoir",
    """
    WITH h AS (
        SELECT event_type, event_id, user_id,
               ((event_id % 2147483647) * 2654435761) % 4294967296 AS hv
        FROM events
    ), r AS (
        SELECT event_type, event_id, user_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                       ORDER BY hv, event_id) AS INTEGER) AS rn
        FROM h
    )
    SELECT event_type, event_id, user_id FROM r WHERE rn <= 50
    """,
)
def q_sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = t(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        "user_id",
        F.expr("((event_id % 2147483647) * 2654435761) % 4294967296").alias(
            "hv"
        ),
    )
    w = Window.partitionBy("event_type").orderBy("hv", "event_id")
    return (
        h.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 50)
        .select("event_type", "event_id", "user_id")
    )


# --- last-touch attribution (purchase ← most recent click within 1h) ------
# The attribution shape: a per-user ordered scan carrying the latest
# preceding click timestamp (last_value IGNORE NULLS over the strict
# preceding frame — both engines speak it), then an interval predicate.
# One user_id exchange; the day rollup re-shuffles O(days × flags).
@_q(
    "q_attribution",
    """
    WITH w AS (
        SELECT user_id, ts, event_id, event_type,
               last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS click_ts
        FROM events
    )
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           COUNT(*) AS n_purchases,
           CAST(SUM(CASE WHEN click_ts IS NOT NULL
                          AND ts - click_ts <= INTERVAL 1 HOUR
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_attributed
    FROM w WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ev = t(spark, sf_dir, "events").withColumn(
        "click_ts",
        F.last(
            F.when(F.col("event_type") == "click", F.col("ts")), ignorenulls=True
        ).over(w),
    )
    attributed = F.expr(
        "CASE WHEN click_ts IS NOT NULL AND ts - click_ts <= INTERVAL 1 HOUR"
        " THEN 1 ELSE 0 END"
    )
    return (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(attributed).cast("bigint").alias("n_attributed"),
        )
    )


# --- incremental aggregation maintenance (mergeable partial states) -------
# The IVM shape: a maintained aggregate is refreshed by merging the
# existing partial states with the new day's partials — no base rescan.
# Decimal partial sums are associative, so base ⊕ delta is EXACTLY the
# full recompute (which is what the oracle runs). At 100 TB the base
# partials live in the serving store and only the delta is computed.
_IVM_CUT = "TIMESTAMP '2024-01-30 00:00:00'"

@_q(
    "q_ivm_merge",
    f"""
    SELECT event_type, COUNT(*) AS n_events,
           {oracle_dec_sum('value', 'total_value')}
    FROM events GROUP BY event_type
    """,
)
def q_ivm_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    cut = F.expr(_IVM_CUT)

    def partials(df):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(DEC)).alias("sv"),  # decimal partial
        )

    base = partials(ev.where(F.col("ts") < cut))
    delta = partials(ev.where(F.col("ts") >= cut))
    return (
        base.unionByName(delta)
        .groupBy("event_type")
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("sv").cast("double").alias("total_value"),
        )
    )


# --- 7-day rolling distinct users (WAU) -----------------------------------
# COUNT(DISTINCT) over a sliding time frame is not a window function in
# either engine; the standard shape is a day-spine range join against the
# distinct (day, user) lattice. The spine is O(days) → broadcast; the
# distinct lattice is the only shuffle.
@_q(
    "q_rolling_distinct",
    """
    WITH ud AS (
        SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                        user_id
        FROM events
    ), days AS (SELECT DISTINCT day FROM ud)
    SELECT d.day, COUNT(DISTINCT u.user_id) AS wau
    FROM days d JOIN ud u
      ON u.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
    GROUP BY d.day
    """,
)
def q_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ud = (
        t(spark, sf_dir, "events")
        .select(F.date_trunc("day", "ts").alias("day"), "user_id")
        .distinct()
    )
    days = ud.select("day").distinct()
    joined = F.broadcast(days.withColumnRenamed("day", "d")).join(
        ud,
        (F.col("day") >= F.expr("d - INTERVAL 6 DAY"))
        & (F.col("day") <= F.col("d")),
    )
    return (
        joined.groupBy(F.col("d").alias("day"))
        .agg(F.countDistinct("user_id").alias("wau"))
    )


# --- event-type co-occurrence with lift (market-basket shape) -------------
# Baskets = distinct (user, day); pairs via self-join with t1 < t2 (each
# unordered pair once); lift in one shared-text expression of exact
# integer counts.
_LIFT = "((CAST(n_days AS DOUBLE) * n) / (CAST(n1a AS DOUBLE) * n1b))"

@_q(
    "q_cooccurrence",
    f"""
    WITH ut AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type
        FROM events
    ), pairs AS (
        SELECT a.event_type AS t1, b.event_type AS t2, COUNT(*) AS n_days
        FROM ut a JOIN ut b
          ON a.user_id = b.user_id AND a.day = b.day
         AND a.event_type < b.event_type
        GROUP BY a.event_type, b.event_type
    ), singles AS (
        SELECT event_type, COUNT(*) AS n1 FROM ut GROUP BY event_type
    ), tot AS (
        SELECT COUNT(*) AS n FROM (
            SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP)
            FROM events
        )
    )
    SELECT t1, t2, n_days, {_LIFT} AS lift
    FROM pairs
    JOIN (SELECT event_type, n1 AS n1a FROM singles) s1 ON t1 = s1.event_type
    JOIN (SELECT event_type, n1 AS n1b FROM singles) s2 ON t2 = s2.event_type
    CROSS JOIN tot
    """,
)
def q_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    # The basket lattice feeds four consumers (both self-join sides,
    # singles, tot): persist it so the scan+distinct runs once, not 4×
    # (same shared-relation fix that took q_triangles 62 → 12 exchanges).
    ut = track_persist(
        ev.select("user_id", F.date_trunc("day", "ts").alias("day"), "event_type")
        .distinct()
    )
    a = ut.alias("a")
    b = ut.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.day") == F.col("b.day"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("t1"), F.col("b.event_type").alias("t2")
        )
        .agg(F.count(F.lit(1)).alias("n_days"))
    )
    singles = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n1"))
    tot = ut.select("user_id", "day").distinct().agg(
        F.count(F.lit(1)).alias("n")
    )
    out = (
        pairs.join(
            F.broadcast(
                singles.select(
                    F.col("event_type").alias("t1"), F.col("n1").alias("n1a")
                )
            ),
            "t1",
        )
        .join(
            F.broadcast(
                singles.select(
                    F.col("event_type").alias("t2"), F.col("n1").alias("n1b")
                )
            ),
            "t2",
        )
        .crossJoin(F.broadcast(tot))
    )
    return out.select("t1", "t2", "n_days", F.expr(_LIFT).alias("lift"))


# --- time-to-convert histogram (signup → first purchase latency) ----------
# Latency measured in exact integer microseconds (unix_micros/epoch_us —
# no float time math), bucketed to whole hours with the shared floor
# text.
_TTC_BUCKET = (
    "CAST(floor(CAST(us_p - us_s AS DOUBLE) / CAST(3600000000 AS DOUBLE))"
    " AS BIGINT)"
)

@_q(
    "q_time_to_convert",
    f"""
    WITH f AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END)
                   AS us_s,
               MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
                   AS us_p
        FROM events GROUP BY user_id
    )
    SELECT {_TTC_BUCKET} AS hours_bucket, COUNT(*) AS n_users
    FROM f
    WHERE us_s IS NOT NULL AND us_p IS NOT NULL AND us_p > us_s
    GROUP BY 1
    """,
)
def q_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    f = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.min(
                F.when(F.col("event_type") == "signup", F.unix_micros("ts"))
            ).alias("us_s"),
            F.min(
                F.when(F.col("event_type") == "purchase", F.unix_micros("ts"))
            ).alias("us_p"),
        )
    )
    return (
        f.where(
            F.col("us_s").isNotNull()
            & F.col("us_p").isNotNull()
            & (F.col("us_p") > F.col("us_s"))
        )
        .groupBy(F.expr(_TTC_BUCKET).alias("hours_bucket"))
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# --- join-key skew audit (DQ / planning input) ----------------------------
# The pre-join diagnostic behind the salting decision (operators/salted
# agg, AQE skew thresholds): per-key row counts reduced to a one-row
# skew report in shared-text arithmetic.
_SKEW = (
    "(CAST(max_rows AS DOUBLE)"
    " / (CAST(n_rows AS DOUBLE) / n_keys))"
)

@_q(
    "q_skew_audit",
    f"""
    WITH c AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id),
    s AS (
        SELECT COUNT(*) AS n_keys, CAST(SUM(n) AS BIGINT) AS n_rows,
               MIN(n) AS min_rows, MAX(n) AS max_rows
        FROM c
    )
    SELECT n_keys, n_rows, min_rows, max_rows,
           CAST(n_rows AS DOUBLE) / n_keys AS mean_rows,
           {_SKEW} AS skew_factor
    FROM s
    """,
)
def q_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    s = c.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").cast("bigint").alias("n_rows"),
        F.min("n").alias("min_rows"),
        F.max("n").alias("max_rows"),
    )
    return s.select(
        "n_keys",
        "n_rows",
        "min_rows",
        "max_rows",
        F.expr("CAST(n_rows AS DOUBLE) / n_keys").alias("mean_rows"),
        F.expr(_SKEW).alias("skew_factor"),
    )


# --- ordered string aggregation (LISTAGG WITHIN GROUP) --------------------
# The SQL:2016 ordered-set aggregate (Spark 4 listagg / DuckDB
# string_agg ORDER BY): per user-day, the chronological event-type
# journey as one string. Deterministic because the ORDER BY carries the
# (ts, event_id) total order. Scalar string output — canonicalizer-safe.
@_q(
    "q_listagg",
    """
    SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           string_agg(event_type, '>' ORDER BY ts, event_id) AS journey,
           COUNT(*) AS n_events
    FROM events
    GROUP BY user_id, CAST(date_trunc('day', ts) AS TIMESTAMP)
    """,
)
def q_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    ev.createOrReplaceTempView("events_la")
    return spark.sql(
        """
        SELECT user_id, date_trunc('day', ts) AS day,
               listagg(event_type, '>') WITHIN GROUP (ORDER BY ts, event_id)
                   AS journey,
               COUNT(*) AS n_events
        FROM events_la
        GROUP BY user_id, date_trunc('day', ts)
        """
    )


# --- weighted median (integer cumulative-weight selection) ----------------
# Weighted median of price with integer quantity weights: sort by value,
# running weight, first row whose doubled cumulative weight reaches the
# doubled total — all-integer comparisons, so the selected value is an
# exact member of the input (no interpolation, no float accumulation).
@_q(
    "q_weighted_median",
    """
    WITH w AS (
        SELECT l_returnflag, l_extendedprice AS price,
               CAST(ROUND(l_quantity * 100) AS BIGINT) AS wq
        FROM lineitem
    ), c AS (
        SELECT l_returnflag, price, wq,
               SUM(wq) OVER (PARTITION BY l_returnflag
                             ORDER BY price, wq
                             ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(wq) OVER (PARTITION BY l_returnflag) AS total
        FROM w
    )
    SELECT l_returnflag, MIN(price) AS weighted_median
    FROM c WHERE cum * 2 >= total
    GROUP BY l_returnflag
    """,
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").alias("price"),
        F.round(F.col("l_quantity") * 100).cast("bigint").alias("wq"),
    )
    wp = Window.partitionBy("l_returnflag")
    c = li.withColumn(
        "cum",
        F.sum("wq").over(
            wp.orderBy("price", "wq").rowsBetween(Window.unboundedPreceding, 0)
        ),
    ).withColumn("total", F.sum("wq").over(wp))
    return (
        c.where(F.col("cum") * 2 >= F.col("total"))
        .groupBy("l_returnflag")
        .agg(F.min("price").alias("weighted_median"))
    )


# --- ID-sequence gap detection (DQ) ---------------------------------------
# Missing-key audit over a supposedly-dense id sequence: LEAD the sorted
# ids, report each gap's start and length. The fixture's orderkeys are
# fully dense, so the audit drops every 97th key first — deterministic
# planted holes that the detector must then report (a zero-row result
# would verify nothing). Single global-order window on the id set — at
# 100 TB run it per range-partitioned shard and union the shard reports.
@_q(
    "q_id_gaps",
    """
    WITH s AS (
        SELECT o_orderkey AS id,
               LEAD(o_orderkey) OVER (ORDER BY o_orderkey) AS next_id
        FROM orders WHERE o_orderkey % 97 <> 0
    )
    SELECT id + 1 AS gap_start, next_id - id - 1 AS gap_len
    FROM s WHERE next_id - id > 1
    """,
)
def q_id_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the id set is fact-sized: LEAD in global order = range-
    # partitioned rank (plans/rank.py) + an rn+1 equi self-join (the
    # helper persists the ranked relation, so both join sides read one
    # cached evaluation)
    ids = (
        t(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 97 != 0)
        .select(F.col("o_orderkey").alias("id"))
    )
    rr = global_rank(ids, ["id"], rank_col="_rn")
    nxt = rr.select(
        F.col("id").alias("next_id"), (F.col("_rn") - 1).alias("_rn")
    )
    s = rr.join(nxt, "_rn", "left")
    return s.where((F.col("next_id") - F.col("id")) > 1).select(
        (F.col("id") + 1).alias("gap_start"),
        (F.col("next_id") - F.col("id") - 1).alias("gap_len"),
    )


# === time-series analysis trio (integer-exact engineering) =================
# Daily event-value totals quantized to exact integers once, then every
# statistic is BIGINT arithmetic until one final shared-text double
# division — the arbitrary-mantissa decimal-cast hazard (common.py rule
# 2) never arises. The daily spine is tiny (O(days)); all three run on
# one date_trunc aggregate of the fact table.

# daily totals at 1e-6 exactness (value sums carry <= 6 decimals through
# the DEC routing, so ROUND(total * 1e6) is lossless)
_TS_DAILY = f"""
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               CAST(ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
                          * 1000000) AS BIGINT) AS xc
        FROM events GROUP BY 1
"""


# --- CUSUM drift detection -------------------------------------------------
# cusum_t = sum_{i<=t} x_i - t * mean, kept rational as
# n * prefix_sum - t * total (all BIGINT), divided once at the end.
# cusum in micro-units = pre - t*sx/n = (n*pre - t*sx)/n; one ÷1e6
# converts micro-units back to value units. (A review pass caught an
# extra ÷n here — shared-text oracles verify engine parity, not the
# algebra itself, so the statistic's own formula needs its own check:
# see test_cusum_terminal_identity.)
_CUSUM = "(CAST(n * pre - t * sx AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000))"

@_q(
    "q_cusum",
    f"""
    WITH d AS ({_TS_DAILY}),
    c AS (
        SELECT day, xc,
               SUM(xc) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS pre,
               CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS t,
               CAST(SUM(xc) OVER () AS BIGINT) AS sx,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM d
    )
    SELECT day, CAST(xc AS DOUBLE) / 1000000 AS total, {_CUSUM} AS cusum
    FROM c
    """,
)
def q_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    t(spark, sf_dir, "events").createOrReplaceTempView("events_ts")
    return spark.sql(
        f"""
        WITH d AS ({_TS_DAILY.replace("FROM events", "FROM events_ts")}),
        c AS (
            SELECT day, xc,
                   SUM(xc) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS pre,
                   CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS t,
                   CAST(SUM(xc) OVER () AS BIGINT) AS sx,
                   CAST(COUNT(*) OVER () AS BIGINT) AS n
            FROM d
        )
        SELECT day, CAST(xc AS DOUBLE) / 1000000 AS total, {_CUSUM} AS cusum
        FROM c
        """
    )


# --- lag-1 autocorrelation (Pearson on consecutive-day pairs) --------------
# Whole-unit quantization (ROUND(total)) keeps every cross-moment within
# BIGINT range; r1 is the textbook formula over exact integer sums with
# sqrt as the only float op.
_ACF_R1 = (
    "((CAST(m AS DOUBLE) * sab - CAST(sa AS DOUBLE) * sb)"
    " / nullif(sqrt(CAST(m AS DOUBLE) * saa - CAST(sa AS DOUBLE) * sa)"
    " * sqrt(CAST(m AS DOUBLE) * sbb - CAST(sb AS DOUBLE) * sb), 0))"
)

@_q(
    "q_acf",
    f"""
    WITH d AS ({_TS_DAILY}),
    u AS (
        SELECT day, CAST(ROUND(CAST(xc AS DOUBLE) / 1000000) AS BIGINT) AS x
        FROM d
    ), p AS (
        SELECT x AS a, LAG(x) OVER (ORDER BY day) AS b FROM u
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(a) AS BIGINT) AS sa, CAST(SUM(b) AS BIGINT) AS sb,
               CAST(SUM(a * a) AS BIGINT) AS saa,
               CAST(SUM(b * b) AS BIGINT) AS sbb,
               CAST(SUM(a * b) AS BIGINT) AS sab
        FROM p WHERE b IS NOT NULL
    )
    SELECT m AS n_pairs, {_ACF_R1} AS r1 FROM s
    """,
)
def q_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    t(spark, sf_dir, "events").createOrReplaceTempView("events_ts")
    return spark.sql(
        f"""
        WITH d AS ({_TS_DAILY.replace("FROM events", "FROM events_ts")}),
        u AS (
            SELECT day, CAST(ROUND(CAST(xc AS DOUBLE) / 1000000) AS BIGINT) AS x
            FROM d
        ), p AS (
            SELECT x AS a, LAG(x) OVER (ORDER BY day) AS b FROM u
        ), s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS m,
                   CAST(SUM(a) AS BIGINT) AS sa, CAST(SUM(b) AS BIGINT) AS sb,
                   CAST(SUM(a * a) AS BIGINT) AS saa,
                   CAST(SUM(b * b) AS BIGINT) AS sbb,
                   CAST(SUM(a * b) AS BIGINT) AS sab
            FROM p WHERE b IS NOT NULL
        )
        SELECT m AS n_pairs, {_ACF_R1} AS r1 FROM s
        """
    )


# --- integer-exact EWMA (alpha = 1/4, 14-day horizon) ----------------------
# pow() is libm territory; instead the decay weights (3/4)^j are exact
# rationals with the common denominator 4^13 — the weighted sum becomes
# one BIGINT expression over 14 unrolled LAGs, divided once. Rows need a
# full 14-day history (rn >= 14): no partial-window weight drift.
_EWMA_TERMS = " + ".join(
    f"LAG(x, {j}) OVER w * {3 ** j * 4 ** (13 - j)}" for j in range(14)
)
_EWMA_DEN = sum(3 ** j * 4 ** (13 - j) for j in range(14))


def _ewma_sql(table: str) -> str:
    return f"""
    WITH d AS ({_TS_DAILY.replace("FROM events", f"FROM {table}")}),
    u AS (
        SELECT day, CAST(ROUND(CAST(xc AS DOUBLE) / 1000000) AS BIGINT) AS x
        FROM d
    ), e AS (
        SELECT day, x,
               {_EWMA_TERMS} AS num,
               CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn
        FROM u
        WINDOW w AS (ORDER BY day)
    )
    SELECT day, CAST(x AS DOUBLE) AS total,
           CAST(num AS DOUBLE) / {_EWMA_DEN} AS ewma
    FROM e WHERE rn >= 14
    """


@_q("q_ewma", _ewma_sql("events"))
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    t(spark, sf_dir, "events").createOrReplaceTempView("events_ts")
    return spark.sql(_ewma_sql("events_ts"))


# --- V-shape pattern detection (MATCH_RECOGNIZE-lite) ---------------------
# Sequence-pattern surface without a MATCH_RECOGNIZE engine: a centered
# LAG/LEAD chain over the daily spine flags strict two-down-two-up V
# days. All comparisons on the exact integer totals; depths reported in
# shared-text unit conversion.
@_q(
    "q_pattern_vshape",
    f"""
    WITH d AS ({_TS_DAILY}),
    c AS (
        SELECT day, xc,
               LAG(xc, 2)  OVER (ORDER BY day) AS p2,
               LAG(xc, 1)  OVER (ORDER BY day) AS p1,
               LEAD(xc, 1) OVER (ORDER BY day) AS n1,
               LEAD(xc, 2) OVER (ORDER BY day) AS n2
        FROM d
    )
    SELECT day, CAST(xc AS DOUBLE) / 1000000 AS total,
           CAST(p2 - xc AS DOUBLE) / 1000000 AS drop_depth,
           CAST(n2 - xc AS DOUBLE) / 1000000 AS rise_height
    FROM c
    WHERE p2 > p1 AND p1 > xc AND xc < n1 AND n1 < n2
    """,
)
def q_pattern_vshape(spark: SparkSession, sf_dir: str) -> DataFrame:
    t(spark, sf_dir, "events").createOrReplaceTempView("events_ts")
    return spark.sql(
        f"""
        WITH d AS ({_TS_DAILY.replace("FROM events", "FROM events_ts")}),
        c AS (
            SELECT day, xc,
                   LAG(xc, 2)  OVER (ORDER BY day) AS p2,
                   LAG(xc, 1)  OVER (ORDER BY day) AS p1,
                   LEAD(xc, 1) OVER (ORDER BY day) AS n1,
                   LEAD(xc, 2) OVER (ORDER BY day) AS n2
            FROM d
        )
        SELECT day, CAST(xc AS DOUBLE) / 1000000 AS total,
               CAST(p2 - xc AS DOUBLE) / 1000000 AS drop_depth,
               CAST(n2 - xc AS DOUBLE) / 1000000 AS rise_height
        FROM c
        WHERE p2 > p1 AND p1 > xc AND xc < n1 AND n1 < n2
        """
    )


# --- catalog row-count audit ----------------------------------------------
# The cross-table integrity snapshot an operator runs after every load:
# one row per table, integer counts — the cheapest full-catalog DQ gate.
_CATALOG_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

@_q(
    "q_catalog_counts",
    "\nUNION ALL\n".join(
        f"SELECT '{tab}' AS table_name, COUNT(*) AS n_rows FROM {tab}"
        for tab in _CATALOG_TABLES
    ),
)
def q_catalog_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    frames = [
        t(spark, sf_dir, tab)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(F.lit(tab).alias("table_name"), "n_rows")
        for tab in _CATALOG_TABLES
    ]
    return reduce(lambda a, b: a.unionByName(b), frames)


# ===========================================================================
# Round-2 continuation, third wave: market-bar resampling, incremental
# corpus dedup, grouped closed-form OLS, and a token bigram LM — four
# shapes the registry did not yet exercise:
# * OHLC bars: first/last-by-composite-order inside ONE hash aggregate
#   (min_by/max_by over struct(ts, event_id)) — the kline resample the
#   reference's crypto feed implies (reference spark/streaming-
#   shorttime.py parses klines but never resamples them). The oracle
#   states the same selection with row_number, proving the hash-agg
#   shortcut picks exactly the deterministic first/last row.
# * Incremental dedup: the daily-ingest gate — new batch fingerprints
#   anti-joined against the standing corpus, then deduped within batch.
# * Grouped OLS: slope/intercept/r2 from one pass of exact-integer sums
#   (quantized y), finished by a shared-text IEEE formula.
# * Bigram LM: token-level Markov estimates with exact-ratio
#   probabilities and a deterministically tie-broken global top-k.
# ===========================================================================


# --- OHLC bar resample -----------------------------------------------------
# Spark plan: ONE partial+final hash aggregate, no window sort — min_by/
# max_by carry (value ordered by struct(ts, event_id)) through the
# map-side combine, so at 100 TB each executor emits one candidate row
# per (event_type, hour) and only those shuffle. The oracle selects the
# same rows via row_number; event_id (unique) makes both orders total,
# so open/close are well-defined on ts ties. Volume routes through
# DECIMAL(38,6) (common.py exactness policy); high/low/open/close are
# row selections — no float arithmetic at all.
@_q("q_ohlc_bars", ohlc_oracle(with_volume=True))
def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type", F.date_trunc("hour", "ts").alias("bar_hour"))
        .agg(
            F.expr("min_by(value, struct(ts, event_id))").alias("open_px"),
            F.max("value").alias("high_px"),
            F.min("value").alias("low_px"),
            F.expr("max_by(value, struct(ts, event_id))").alias("close_px"),
            dec_sum("value", "volume"),
            F.count(F.lit(1)).alias("n_trades"),
        )
    )


# --- incremental corpus dedup (daily-ingest gate) --------------------------
# Fingerprint = md5 of the sorted distinct token set (bag-of-words): word-
# order shuffles collide, so the synthetic near-dup pairs actually hit it
# (54 collisions at sf0.01; raw-text md5 finds zero). Corpus = 90% of
# docs, incoming batch = the doc_id % 10 slice; survivors are batch docs
# whose fingerprint is NOT already in the corpus, deduped within the
# batch (min doc_id wins). Scale shape: the corpus side reduces to a
# DISTINCT fingerprint relation (precomputed/bucketed in a real lake);
# the anti join shuffles fingerprints only — at a 100 TB corpus with a
# daily batch the batch side is small enough to broadcast, flipping the
# anti join to a broadcast-hash build of the BATCH, and the corpus scan
# streams past it with zero shuffle.
@_q(
    "q_dedup_incremental",
    """
    WITH f AS (
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
        FROM documents
    ),
    corpus AS (SELECT DISTINCT fp FROM f WHERE doc_id % 10 <> 0),
    inc AS (SELECT doc_id, fp FROM f WHERE doc_id % 10 = 0)
    SELECT fp, MIN(doc_id) AS doc_id, COUNT(*) AS n_batch_copies
    FROM inc i
    WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = i.fp)
    GROUP BY fp
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    # f feeds BOTH the corpus and the batch side; without persist each
    # consumer re-derives the scan + split/sort/md5 pipeline (the most
    # expensive expression here) — same shared-relation policy as
    # q_bigram_lm / q_triangles.
    f = track_persist(d.select(
        "doc_id",
        F.md5(
            F.array_join(F.array_sort(F.array_distinct(F.split("text", " "))), " ")
        ).alias("fp"),
    ))
    corpus = f.where(F.col("doc_id") % 10 != 0).select("fp").distinct()
    inc = f.where(F.col("doc_id") % 10 == 0)
    return (
        inc.join(corpus, "fp", "left_anti")
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_batch_copies"),
        )
    )


# --- grouped closed-form OLS (value ~ event_id, per event type) ------------
# One aggregation pass collects the six sufficient statistics as exact
# integers (y quantized at 1e-3 — floor(x*1000 + 0.5) is the same IEEE
# sequence on both engines, common.py second rule; every per-row product
# stays under 2^63 for |value| <= 1e6 and event_id <= 3e9, and the SUMs
# route through DECIMAL(38,0) so accumulation never overflows), then the
# textbook formulas run once in shared-text double arithmetic. The /1000
# un-quantization folds into slope/intercept; r2 is scale-invariant so
# it needs no correction. Scale: a map-side-combinable hash agg — the
# whole regression is ONE shuffle of 6 numbers per group.
_OLS_STATS = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           SUM(CAST(x AS DECIMAL(38,0))) AS sx,
           SUM(CAST(yq AS DECIMAL(38,0))) AS sy,
           SUM(CAST(x * x AS DECIMAL(38,0))) AS sxx,
           SUM(CAST(x * yq AS DECIMAL(38,0))) AS sxy,
           SUM(CAST(yq * yq AS DECIMAL(38,0))) AS syy
    FROM q GROUP BY event_type
"""

_OLS_NUM = "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
_OLS_DENX = "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
_OLS_DENY = "(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))"


def _ols_sql(table: str) -> str:
    return f"""
    WITH q AS (
        SELECT event_type, event_id AS x,
               CAST(floor(value * 1000 + 0.5) AS BIGINT) AS yq
        FROM {table}
    ), s AS (
        {_OLS_STATS}
    )
    SELECT event_type, n,
           {_OLS_NUM} / nullif({_OLS_DENX}, 0) / 1000.0 AS slope,
           (CAST(sy AS DOUBLE) - {_OLS_NUM} / nullif({_OLS_DENX}, 0)
               * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) / 1000.0 AS intercept,
           {_OLS_NUM} * {_OLS_NUM} / nullif({_OLS_DENX} * {_OLS_DENY}, 0) AS r2
    FROM s
    """


@_q("q_ols_by_group", _ols_sql("events"))
def q_ols_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    t(spark, sf_dir, "events").createOrReplaceTempView("events_ts")
    return spark.sql(_ols_sql("events_ts"))


# --- token bigram language model (top-k transitions) -----------------------
# P(next | cur) as an exact integer ratio (both operands are exact in
# double, so the single division is correctly rounded identically on
# both engines). The Spark side builds bigrams with zip_with over two
# slices — pure codegen, no Python, no self-join on positions (the
# oracle's lateral-unnest form IS the position join; at 100 TB the
# zip_with form touches each doc once and shuffles only bigram counts).
# Global top-20 is deterministically tie-broken (count DESC, cur, nxt)
# so the LIMIT set is unique; Spark executes it as TakeOrderedAndProject
# (no global sort materialization).
@_q(
    "q_bigram_lm",
    """
    WITH toks AS (SELECT string_split(text, ' ') AS tk FROM documents),
    bg AS (
        SELECT tk[i] AS cur, tk[i+1] AS nxt
        FROM toks, UNNEST(generate_series(1, len(tk) - 1)) AS r(i)
    ),
    bc AS (SELECT cur, nxt, COUNT(*) AS c_bigram FROM bg GROUP BY cur, nxt),
    cc AS (SELECT cur, CAST(SUM(c_bigram) AS BIGINT) AS c_cur FROM bc GROUP BY cur)
    SELECT bc.cur, bc.nxt, c_bigram, c_cur,
           CAST(c_bigram AS DOUBLE) / CAST(c_cur AS DOUBLE) AS p_next
    FROM bc JOIN cc ON bc.cur = cc.cur
    ORDER BY c_bigram DESC, bc.cur, bc.nxt
    LIMIT 20
    """,
)
def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    bg = (
        d.select(F.split("text", " ").alias("tk"))
        .select(
            F.explode(
                F.expr(
                    "zip_with(slice(tk, 1, size(tk) - 1), slice(tk, 2, size(tk) - 1),"
                    " (a, b) -> struct(a AS cur, b AS nxt))"
                )
            ).alias("p")
        )
        .select("p.cur", "p.nxt")
    )
    # bc feeds both the join probe side and the totals aggregation;
    # without persist Spark re-derives the whole explode+agg subtree for
    # cc (two parquet scans, double Generate work — same shared-relation
    # policy as q_triangles / minhash band-hash). The persisted relation
    # is the distinct-bigram counts — vocabulary-bounded, far smaller
    # than the corpus.
    bc = track_persist(
        bg.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("c_bigram"))
    )
    cc = bc.groupBy("cur").agg(F.sum("c_bigram").cast("bigint").alias("c_cur"))
    return (
        bc.join(cc, "cur")
        .select(
            "cur",
            "nxt",
            "c_bigram",
            "c_cur",
            (F.col("c_bigram").cast("double") / F.col("c_cur").cast("double")).alias(
                "p_next"
            ),
        )
        .orderBy(F.desc("c_bigram"), "cur", "nxt")
        .limit(20)
    )


# --- robust scaler (median/IQR feature normalization) ----------------------
# The ML feature-prep twin of z-scoring: (x - median) / IQR is outlier-
# immune. Exactness rides on the q_percentiles precedent (Spark
# percentile() and DuckDB quantile_cont share the linear-interpolation
# definition, bit-for-bit on this data) and the shared-order final
# arithmetic (subtract, subtract, divide — identical IEEE sequence).
# Scale: per-group stats are O(groups) → broadcast joined back; ONE
# shuffle for the percentile agg, zero for the apply side.
@_q(
    "q_robust_scaler",
    """
    WITH s AS (
        SELECT event_type,
               quantile_cont(value, 0.5) AS med,
               quantile_cont(value, 0.75) - quantile_cont(value, 0.25) AS iqr
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           (e.value - s.med) / nullif(s.iqr, 0) AS scaled
    FROM events e JOIN s ON e.event_type = s.event_type
    """,
)
def q_robust_scaler(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    s = e.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("med"),
        (F.percentile("value", 0.75) - F.percentile("value", 0.25)).alias("iqr"),
    )
    return e.join(F.broadcast(s), "event_type").select(
        "event_id",
        "event_type",
        "value",
        ((F.col("value") - F.col("med")) / F.expr("nullif(iqr, CAST(0 AS DOUBLE))")).alias(
            "scaled"
        ),
    )


# --- token-budget water-filling (training-mixture balancing) ---------------
# Allocate a token budget B = half the corpus across sources so no
# source exceeds a common cap c — the "domain temperature" flattening
# every large-corpus mixture applies (oversampled domains are clipped,
# small domains keep everything). c is the water level: the largest
# integer with sum(min(tok_i, c)) <= B, found in closed form from the
# ascending prefix sums — if c lands in [t_{i-1}, t_i) then
# c = floor((B - cum_{i-1}) / (n - i + 1)), and exactly one interval
# validates. All integers; the two divisions are exact-int-valued
# doubles well under 2^53, so both engines floor the same value. Only
# the per-source token count differs in dialect (size(split()) vs
# len(string_split())); the water-level algebra below is ONE shared
# text. Scale: token counts are a map-side-combinable agg; the
# water-level step runs on the O(sources) aggregate — driver-trivial —
# and the final allocation is a broadcast join.
_BUDGET_FINISH = """
    s AS (
        SELECT source, tok,
               CAST(ROW_NUMBER() OVER (ORDER BY tok, source) AS BIGINT) AS rn,
               CAST(SUM(tok) OVER (ORDER BY tok, source
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
               CAST(COALESCE(LAG(tok) OVER (ORDER BY tok, source), 0) AS BIGINT)
                   AS prev_tok,
               CAST(COUNT(*) OVER () AS BIGINT) AS n,
               CAST(SUM(tok) OVER () AS BIGINT) AS total
        FROM src_tokens
    ), c AS (
        SELECT *,
               CAST(floor(((total - total % 2) / 2 - (cum - tok)) * 1.0
                          / (n - rn + 1)) AS BIGINT) AS cand
        FROM s
    ), lvl AS (
        SELECT MAX(cand) AS cap
        FROM c WHERE prev_tok <= cand AND cand < tok
    )
    SELECT st.source, st.tok AS n_tokens,
           LEAST(st.tok, COALESCE(lvl.cap, st.tok)) AS alloc_tokens,
           st.tok > COALESCE(lvl.cap, st.tok) AS capped
    FROM src_tokens st CROSS JOIN lvl
"""

_BUDGET_SRC_DUCK = """
    SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tok
    FROM documents GROUP BY source
"""

_BUDGET_SRC_SPARK = """
    SELECT source, CAST(SUM(size(split(text, ' '))) AS BIGINT) AS tok
    FROM documents_v GROUP BY source
"""


@_q(
    "q_token_budget",
    f"WITH src_tokens AS ({_BUDGET_SRC_DUCK}), {_BUDGET_FINISH}",
)
def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    t(spark, sf_dir, "documents").createOrReplaceTempView("documents_v")
    return spark.sql(f"WITH src_tokens AS ({_BUDGET_SRC_SPARK}), {_BUDGET_FINISH}")


# --- leave-one-out target encoding (ML feature prep) -----------------------
# Mean-target encoding with the classic leakage fix: each row's encoding
# excludes its own target — loo = (sum_group - y_i) / (n_group - 1).
# The group sums route through DECIMAL(38,6) (exact, order-invariant);
# the per-row subtraction and division run in a shared-order double
# formula, so both engines emit identical bits. Scale: ONE combinable
# aggregate to O(groups) rows, broadcast back — no window, no
# self-join; the encode side stays embarrassingly parallel.
@_q(
    "q_target_encoding",
    """
    WITH g AS (
        SELECT event_type,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS s,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           (g.s - e.value) / nullif(CAST(g.n - 1 AS DOUBLE), 0) AS loo_mean
    FROM events e JOIN g ON e.event_type = g.event_type
    """,
)
def q_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    g = e.groupBy("event_type").agg(
        F.sum(F.col("value").cast(DEC)).cast("double").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    return e.join(F.broadcast(g), "event_type").select(
        "event_id",
        "event_type",
        "value",
        (
            (F.col("s") - F.col("value"))
            / F.expr("nullif(CAST(n - 1 AS DOUBLE), 0)")
        ).alias("loo_mean"),
    )


# --- Wilson lower-bound ranking --------------------------------------------
# The right way to rank by proportion under small samples (comment
# scores, CTRs): the Wilson score interval's lower bound. Successes are
# exact integers (value > 100); the bound is one shared-text IEEE
# formula whose only non-rational op is the correctly-rounded sqrt —
# the same portability contract q_acf relies on. z = 1.96 appears as
# the same literal in both engines, hence the same double.
_WILSON = (
    "((p + 1.9208 / n - 1.96 * sqrt((p * (1.0 - p) + 0.9604 / n) / n))"
    " / (1.0 + 3.8416 / n))"
)


def _wilson_sql(table: str) -> str:
    return f"""
    WITH c AS (
        SELECT event_type,
               CAST(count_if(value > 100) AS DOUBLE) AS hits,
               CAST(COUNT(*) AS DOUBLE) AS n
        FROM {table} GROUP BY event_type
    ), p AS (
        SELECT event_type, hits, n, hits / n AS p FROM c
    )
    SELECT event_type, CAST(hits AS BIGINT) AS n_hits,
           CAST(n AS BIGINT) AS n_total, p AS rate,
           {_WILSON} AS wilson_lower
    FROM p
    """


@_q("q_wilson_rank", _wilson_sql("events"))
def q_wilson_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    t(spark, sf_dir, "events").createOrReplaceTempView("events_ts")
    return spark.sql(_wilson_sql("events_ts"))


# --- ML evaluation / drift pack (KS, chi-square, AUC) ----------------------
# Three evaluation statistics with NO transcendentals, so bit-exactness
# across engines follows from the established rules:
# * two-sample Kolmogorov–Smirnov D: pooled distinct values, per-group
#   cumulative counts (exact integers), D = MAX of exact-ratio
#   differences — MAX is order-invariant, no summation hazard;
# * chi-square independence statistic: the per-cell terms are
#   arbitrary-mantissa doubles, so the SUM quantizes each term at 1e-6
#   (floor(x*1e6 + 0.5), the common.py integer-domain rule) — exact
#   BIGINT accumulation, one final division. A cell term is bounded by
#   n, so the quantized value stays under 2^63 for corpora to ~9e12
#   rows (review finding: 1e-9 granularity capped that at ~9e9);
# * ROC AUC via the Mann–Whitney rank-sum identity over a strict total
#   order (value, event_id) — all-integer numerators.
# Scale: KS/AUC need a global order — at 100 TB both run on the
# range-partitioned distributed rank (q_train_order's shape); chi2 is a
# tiny contingency aggregate. Each statistic is OUTPUT-TINY (one row).
def _ks_sql(table: str) -> str:
    return f"""
    WITH s AS (
        SELECT value,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a,
               CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS b
        FROM {table} WHERE event_type IN ('click', 'view')
    ), c AS (
        SELECT value,
               CAST(SUM(SUM(a)) OVER (ORDER BY value) AS BIGINT) AS ca,
               CAST(SUM(SUM(b)) OVER (ORDER BY value) AS BIGINT) AS cb,
               CAST(SUM(SUM(a)) OVER () AS BIGINT) AS na,
               CAST(SUM(SUM(b)) OVER () AS BIGINT) AS nb
        FROM s GROUP BY value
    )
    SELECT MAX(abs(CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb)) AS ks_d,
           CAST(MAX(na) AS BIGINT) AS n_a,
           CAST(MAX(nb) AS BIGINT) AS n_b
    FROM c
    """


@_q("q_ks_drift", _ks_sql("events"))
def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round 7: the shared-text form ran the CDF running sums as an
    # unpartitioned SQL window over the near-fact-sized value support
    # (the spark.sql blind spot of the r6 Python-API sweep; the repo's
    # own q_mannwhitney already rode global_order for the same relation).
    # Same oracle; the Spark cumulative now range-partitions.
    e = t(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "view")
    )
    s = e.select(
        "value",
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("a"),
        F.when(F.col("event_type") == "view", 1).otherwise(0).alias("b"),
    )
    per = s.groupBy("value").agg(
        F.sum("a").alias("sa"), F.sum("b").alias("sb")
    )
    c = global_order(
        per,
        ["value"],
        cum_sums={"ca": "sa", "cb": "sb"},
        sum_totals={"na": "sa", "nb": "sb"},
    )
    return c.agg(
        F.max(
            F.abs(
                F.col("ca").cast("double") / F.col("na")
                - F.col("cb").cast("double") / F.col("nb")
            )
        ).alias("ks_d"),
        F.max("na").cast("bigint").alias("n_a"),
        F.max("nb").cast("bigint").alias("n_b"),
    )


_CHI2_TERM = (
    "(CAST(obs AS DOUBLE) - CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)"
    " / CAST(tot AS DOUBLE))"
)
_CHI2_EXP = (
    "(CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE) / CAST(tot AS DOUBLE))"
)


def _chi2_sql(table: str) -> str:
    return f"""
    WITH o AS (
        SELECT event_type AS rv, CAST(user_id % 2 AS INTEGER) AS cv,
               CAST(COUNT(*) AS BIGINT) AS obs
        FROM {table} GROUP BY 1, 2
    ), m AS (
        SELECT rv, cv, obs,
               CAST(SUM(obs) OVER (PARTITION BY rv) AS BIGINT) AS row_tot,
               CAST(SUM(obs) OVER (PARTITION BY cv) AS BIGINT) AS col_tot,
               CAST(SUM(obs) OVER () AS BIGINT) AS tot
        FROM o
    ), q AS (
        SELECT CAST(floor({_CHI2_TERM} * {_CHI2_TERM} / {_CHI2_EXP}
                          * 1000000 + 0.5) AS BIGINT) AS term_q
        FROM m
    )
    SELECT CAST(SUM(term_q) AS DOUBLE) / 1000000 AS chi2,
           CAST(COUNT(*) AS BIGINT) AS n_cells
    FROM q
    """


@_q("q_chi2", _chi2_sql("events"))
def q_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    t(spark, sf_dir, "events").createOrReplaceTempView("events_ts")
    return spark.sql(_chi2_sql("events_ts"))


def _auc_sql(table: str) -> str:
    return f"""
    WITH r AS (
        SELECT CAST(user_id % 2 AS INTEGER) AS y,
               CAST(ROW_NUMBER() OVER (ORDER BY value, event_id) AS BIGINT)
                   AS rnk
        FROM {table}
    )
    SELECT CAST(SUM(y) AS BIGINT) AS n_pos,
           CAST(COUNT(*) - SUM(y) AS BIGINT) AS n_neg,
           (CAST(SUM(CAST(CASE WHEN y = 1 THEN rnk ELSE 0 END
                          AS DECIMAL(38,0))) AS DOUBLE)
            - CAST(SUM(y) AS DOUBLE) * (CAST(SUM(y) AS DOUBLE) + 1.0) / 2.0)
           / (CAST(SUM(y) AS DOUBLE) * CAST(COUNT(*) - SUM(y) AS DOUBLE)) AS auc
    FROM r
    """


@_q("q_auc", _auc_sql("events"))
def q_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round 7: the shared-text form ranked the ENTIRE events relation in
    # one task (ROW_NUMBER() OVER (ORDER BY value, event_id) with no
    # partition — the fact-sized-window class the r6 sweep removed from
    # the Python-API sites; this was the spark.sql blind spot). The rank
    # now rides plans/rank.py; the final AUC expression is the same
    # fixed-order text the oracle evaluates.
    r = t(spark, sf_dir, "events").select(
        (F.col("user_id") % 2).cast("int").alias("y"), "value", "event_id"
    )
    ranked = global_rank(r, ["value", "event_id"], rank_col="rnk")
    return ranked.agg(
        F.sum("y").cast("bigint").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("y")).cast("bigint").alias("n_neg"),
        F.expr(
            """
            (CAST(SUM(CAST(CASE WHEN y = 1 THEN rnk ELSE 0 END
                           AS DECIMAL(38,0))) AS DOUBLE)
             - CAST(SUM(y) AS DOUBLE) * (CAST(SUM(y) AS DOUBLE) + 1.0) / 2.0)
            / (CAST(SUM(y) AS DOUBLE) * CAST(COUNT(*) - SUM(y) AS DOUBLE))
            """
        ).alias("auc"),
    )


# --- per-event session labeling --------------------------------------------
# session_window / interval-merge emit one row PER SESSION; downstream
# training-data work (dialogue-turn grouping, per-session packing,
# session-scoped joins) needs the label ON EVERY EVENT. Gaps-and-islands
# labeling: a new session starts when the gap to the previous event
# exceeds 30 minutes; session_seq = running count of starts; the
# composite key (user_id, session_seq) is join-ready. All integer/
# timestamp comparisons — exactness free. Scale: ONE shuffle on
# user_id; both windows reuse that partitioning.
@_q(
    "q_sessionize_label",
    """
    WITH g AS (
        SELECT event_id, user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS is_start
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_id, user_id, ts,
           CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_seq,
           CAST(is_start AS INTEGER) AS is_session_start
    FROM g
    """,
)
def q_sessionize_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Core promoted to operators/intervals.py:label_sessions (µs-exact
    # gap comparison lives there; property-tested vs a python labeler).
    from big_data_streaming_spark.operators.intervals import label_sessions

    e = t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    return label_sessions(
        e, keys=["user_id"], ts_col="ts", gap_us=1800 * 1_000_000,
        order_cols=["event_id"],
    ).select("event_id", "user_id", "ts", "session_seq", "is_session_start")


# --- k-anonymity audit (privacy gate for training data) --------------------
# Before shipping a corpus, flag quasi-identifier combinations rarer
# than k — each such combo can single out an individual. Quasi-key here:
# (lang, source, length bucket). Output = the violating combos with
# counts plus each combo's share of the corpus; the release decision
# (suppress vs generalize) consumes exactly this relation. Pure integer
# aggregation — ONE combinable shuffle; output is O(violating combos).
_KANON_K = 5


@_q(
    "q_kanonymity",
    f"""
    WITH q AS (
        SELECT lang, source,
               CAST(n_chars // 64 AS BIGINT) AS len_bucket
        FROM documents
    ), c AS (
        SELECT lang, source, len_bucket, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS total
        FROM q GROUP BY lang, source, len_bucket
    )
    SELECT lang, source, len_bucket, n,
           CAST(n AS DOUBLE) / total AS share
    FROM c WHERE n < {_KANON_K}
    """,
)
def q_kanonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    q = d.select(
        "lang",
        "source",
        F.floor(F.col("n_chars") / 64).cast("bigint").alias("len_bucket"),
    )
    c = q.groupBy("lang", "source", "len_bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    c = c.withColumn(
        # bounded: quasi-identifier combo aggregate — k-combo support, not the fact table
        "total", F.sum("n").over(Window.partitionBy()).cast("bigint")
    )
    return c.where(F.col("n") < _KANON_K).select(
        "lang",
        "source",
        "len_bucket",
        "n",
        (F.col("n").cast("double") / F.col("total")).alias("share"),
    )


# --- hierarchical OHLC rollup (daily bars FROM hourly bars) ----------------
# The property that makes OHLC usable at 100 TB: bars RE-AGGREGATE.
# Daily open = the open of the day's first hourly bar (min_by over
# bar_hour), daily close = the last bar's close, high/low = max/min,
# volume/trades = sums — so the tick store is touched once for the
# finest resolution and every coarser tier derives from the tier below
# (hours → days → weeks), each a tiny aggregate. The oracle states the
# same two-level construction from first principles.
@_q(
    "q_ohlc_daily",
    """
    WITH r AS (
        SELECT event_type, date_trunc('hour', ts) AS bar_hour, value,
               ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                  ORDER BY ts, event_id) AS rn_a,
               ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM events
    ), hourly AS (
        SELECT event_type, bar_hour,
               MAX(CASE WHEN rn_a = 1 THEN value END) AS open_px,
               MAX(value) AS high_px,
               MIN(value) AS low_px,
               MAX(CASE WHEN rn_d = 1 THEN value END) AS close_px,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS volume,
               COUNT(*) AS n_trades
        FROM r GROUP BY event_type, bar_hour
    ), d AS (
        SELECT *, date_trunc('day', bar_hour) AS bar_day,
               ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('day', bar_hour)
                                  ORDER BY bar_hour) AS h_a,
               ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('day', bar_hour)
                                  ORDER BY bar_hour DESC) AS h_d
        FROM hourly
    )
    SELECT event_type, bar_day,
           MAX(CASE WHEN h_a = 1 THEN open_px END) AS open_px,
           MAX(high_px) AS high_px,
           MIN(low_px) AS low_px,
           MAX(CASE WHEN h_d = 1 THEN close_px END) AS close_px,
           CAST(SUM(CAST(volume AS DECIMAL(38,6))) AS DOUBLE) AS volume,
           CAST(SUM(n_trades) AS BIGINT) AS n_trades
    FROM d GROUP BY event_type, bar_day
    """,
)
def q_ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_streaming_spark.workload.common import DEC

    hourly = QUERIES["q_ohlc_bars"](spark, sf_dir)
    return (
        hourly.groupBy(
            "event_type", F.date_trunc("day", "bar_hour").alias("bar_day")
        )
        .agg(
            F.expr("min_by(open_px, bar_hour)").alias("open_px"),
            F.max("high_px").alias("high_px"),
            F.min("low_px").alias("low_px"),
            F.expr("max_by(close_px, bar_hour)").alias("close_px"),
            F.sum(F.col("volume").cast(DEC)).cast("double").alias("volume"),
            F.sum("n_trades").cast("bigint").alias("n_trades"),
        )
    )


# --- VWAP (JSON-parsed volume weights) -------------------------------------
# The canonical kline-derived metric the OHLC family implies: volume-
# weighted average price per (event_type, hour), with the weight parsed
# from the JSON props payload (A3 surface feeding analytics, not just
# projection). value is money-like (2 decimals), so value*k stays exact
# in double and the DECIMAL(38,6) sum routing applies cleanly; the
# final division is one deterministic double op. One hash aggregate.
@_q(
    "q_vwap",
    """
    SELECT event_type, date_trunc('hour', ts) AS bar_hour,
           CAST(SUM(CAST(value * CAST(json_extract(props, '$.k') AS BIGINT)
                         AS DECIMAL(38,6))) AS DOUBLE)
               / nullif(CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT))
                             AS DOUBLE), 0) AS vwap,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
               AS total_volume,
           COUNT(*) AS n_trades
    FROM events
    GROUP BY event_type, date_trunc('hour', ts)
    """,
)
def q_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        e.groupBy("event_type", F.date_trunc("hour", "ts").alias("bar_hour"))
        .agg(
            (
                F.sum((F.col("value") * k).cast(DEC)).cast("double")
                / F.expr("nullif(CAST(SUM(CAST(get_json_object(props, '$.k') AS BIGINT)) AS DOUBLE), 0)")
            ).alias("vwap"),
            F.sum(k).cast("bigint").alias("total_volume"),
            F.count(F.lit(1)).alias("n_trades"),
        )
    )


# --- hour-of-day seasonality profile ---------------------------------------
# The diurnal fingerprint: per (event_type, hour-of-day 0-23) median and
# IQR of value plus exact counts — the profile a capacity planner or
# anomaly baseline consumes. Percentile exactness rides the
# q_percentiles precedent; hour extraction is integer. One hash-
# aggregate-with-sort per group family; output O(types × 24).
@_q(
    "q_seasonality",
    """
    SELECT event_type,
           CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hour_of_day,
           COUNT(*) AS n_events,
           quantile_cont(value, 0.5) AS median_value,
           quantile_cont(value, 0.75) - quantile_cont(value, 0.25) AS iqr_value
    FROM events
    GROUP BY event_type, EXTRACT(hour FROM ts)
    """,
)
def q_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type", F.hour("ts").cast("int").alias("hour_of_day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.percentile("value", 0.5).alias("median_value"),
            (F.percentile("value", 0.75) - F.percentile("value", 0.25)).alias(
                "iqr_value"
            ),
        )
    )


# --- maximum drawdown (running-peak deficit on the daily spine) ------------
# The risk metric every market series gets: on the exact-integer daily
# totals, drawdown_t = running_max(total) − total_t; the max drawdown
# and its day per event_type. All integer arithmetic on the aggregated
# spine (the fact table collapses to O(days × types) rows first), ties
# broken deterministically by earliest day.
@_q(
    "q_drawdown",
    """
    WITH d AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               CAST(SUM(CAST(floor(value * 1000 + 0.5) AS BIGINT)) AS BIGINT)
                   AS xq
        FROM events GROUP BY event_type, date_trunc('day', ts)
    ), r AS (
        SELECT event_type, day, xq,
               CAST(MAX(xq) OVER (PARTITION BY event_type ORDER BY day
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS peak
        FROM d
    ), dd AS (
        SELECT event_type, day, CAST(peak - xq AS BIGINT) AS dd_q,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY peak - xq DESC, day) AS rn
        FROM r
    )
    SELECT event_type, day AS worst_day,
           CAST(dd_q AS DOUBLE) / 1000 AS max_drawdown
    FROM dd WHERE rn = 1
    """,
)
def q_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    d = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.sum(F.expr("CAST(floor(value * 1000 + 0.5) AS BIGINT)"))
        .cast("bigint")
        .alias("xq")
    )
    wpeak = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = d.withColumn("peak", F.max("xq").over(wpeak).cast("bigint"))
    wrank = Window.partitionBy("event_type").orderBy(
        F.desc(F.col("peak") - F.col("xq")), "day"
    )
    return (
        r.withColumn("dd_q", (F.col("peak") - F.col("xq")).cast("bigint"))
        .withColumn("rn", F.row_number().over(wrank))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day").alias("worst_day"),
            (F.col("dd_q").cast("double") / 1000).alias("max_drawdown"),
        )
    )


# --- TWAP (time-weighted average price) ------------------------------------
# The execution-quality twin of q_vwap: weight each observation by how
# LONG it was the standing price (step-function semantics — value holds
# from its ts until the next same-type event), not by traded volume.
# Exactness: duration is exact integer µs via LEAD; price → exact cents
# (floor(value*100+0.5), identical IEEE on both engines for 2-decimal
# money); cents×µs ≤ 1e17 fits int64 and the row-product SUM routes
# through DECIMAL(38,0), so the only float op is the final shared-text
# division. Scale: ONE event_type exchange — the LEAD window and the
# aggregate share the partitioning; last-event rows carry zero weight.
@_q(
    "q_twap",
    """
    WITH d AS (
        SELECT event_type, value,
               COALESCE(epoch_us(LEAD(ts) OVER (PARTITION BY event_type
                                                ORDER BY ts, event_id))
                        - epoch_us(ts), 0) AS dur_us
        FROM events
    )
    SELECT event_type,
           CAST(SUM(CAST(CAST(floor(value * 100 + 0.5) AS BIGINT) * dur_us
                         AS DECIMAL(38,0))) AS DOUBLE)
             / (100.0 * CAST(nullif(SUM(dur_us), 0) AS DOUBLE)) AS twap,
           CAST(SUM(dur_us) AS BIGINT) AS total_dur_us,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM d
    GROUP BY event_type
    """,
)
def q_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    d = e.select(
        "event_type",
        "value",
        F.coalesce(
            F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts")),
            F.lit(0),
        ).alias("dur_us"),
    )
    cents = F.floor(F.col("value") * 100 + 0.5).cast("bigint")
    return d.groupBy("event_type").agg(
        (
            F.sum((cents * F.col("dur_us")).cast("decimal(38,0)")).cast("double")
            / (
                F.lit(100.0)
                * F.expr("CAST(nullif(SUM(dur_us), 0) AS DOUBLE)")
            )
        ).alias("twap"),
        F.sum("dur_us").cast("bigint").alias("total_dur_us"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )


# --- Realized variance (squared-return volatility) -------------------------
# The risk metric the OHLC/VWAP/TWAP family completes into a market
# stack: per (event_type, day), the sum of squared consecutive relative
# returns. r = (v - prev)/prev and r² are single IEEE ops (bit-identical
# on both engines for the same inputs); the SUM is order-dependent in
# float, so each r² is quantized to an exact integer at 1e-9
# (floor(x*1e9+0.5) — the q_chi2 pattern; explicit quantize, NOT a
# DOUBLE→DECIMAL cast, per common.py's arbitrary-mantissa rule) and the
# integer sum is exact. max |r| needs no routing (max is order-free).
# ONE event_type exchange: LAG window, then the day rollup re-shuffles
# O(days × types).
@_q(
    "q_realized_vol",
    """
    WITH r AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               (value - LAG(value) OVER (PARTITION BY event_type
                                         ORDER BY ts, event_id))
               / nullif(LAG(value) OVER (PARTITION BY event_type
                                         ORDER BY ts, event_id), 0) AS ret
        FROM events
    )
    SELECT event_type, day,
           CAST(COUNT(ret) AS BIGINT) AS n_returns,
           CAST(SUM(CAST(floor(ret * ret * 1000000000 + 0.5) AS BIGINT))
                AS DOUBLE) / 1000000000 AS realized_var,
           MAX(abs(ret)) AS max_abs_return
    FROM r WHERE ret IS NOT NULL
    GROUP BY event_type, day
    """,
)
def q_realized_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    prev = F.lag("value").over(w)
    # nullif guards ANSI div-by-zero when the standing value is exactly 0;
    # those returns are undefined and drop with the leading-row NULLs.
    r = e.select(
        "event_type",
        F.date_trunc("day", "ts").alias("day"),
        ((F.col("value") - prev) / F.nullif(prev, F.lit(0.0))).alias("ret"),
    ).filter(F.col("ret").isNotNull())
    q = F.floor(F.col("ret") * F.col("ret") * 1000000000 + 0.5).cast("bigint")
    return r.groupBy("event_type", "day").agg(
        F.count("ret").cast("bigint").alias("n_returns"),
        (F.sum(q).cast("double") / 1000000000).alias("realized_var"),
        F.max(F.abs("ret")).alias("max_abs_return"),
    )


# --- cohort LTV curve (cumulative value per cohort-day offset) -------------
# The revenue twin of q_retention's activity counts: for each signup
# cohort (first-seen day), the cumulative value generated by day offset
# 0..7 — the curve a growth team reads daily. Day sums route through
# DECIMAL(38,6); the cumulative step re-sums the per-offset decimal
# totals (round-trip exact: the doubles carry <= 6 decimals, the
# q_stream_window_chained precedent). Scale: one user_id exchange for
# the first-seen join (the cohort frame is an aggregate, broadcast
# back), one (cohort, offset) aggregate, and the running total windows
# over the O(cohorts × 8) result.
@_q(
    "q_cohort_ltv",
    """
    WITH firsts AS (
        SELECT user_id,
               MIN(CAST(date_trunc('day', ts) AS TIMESTAMP)) AS cohort_day
        FROM events GROUP BY user_id
    ), per_offset AS (
        SELECT f.cohort_day,
               CAST(date_diff('day', f.cohort_day,
                              CAST(date_trunc('day', e.ts) AS TIMESTAMP))
                    AS INTEGER) AS day_offset,
               CAST(SUM(CAST(e.value AS DECIMAL(38,6))) AS DOUBLE) AS day_value
        FROM events e JOIN firsts f USING (user_id)
        GROUP BY 1, 2
    )
    SELECT cohort_day, day_offset,
           day_value,
           CAST(SUM(CAST(day_value AS DECIMAL(38,6)))
                    OVER (PARTITION BY cohort_day ORDER BY day_offset
                          ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_value
    FROM per_offset WHERE day_offset <= 7
    """,
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts")).alias("cohort_day")
    )
    per_offset = (
        e.join(firsts, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.date_trunc("day", "ts"), F.col("cohort_day"))
            .cast("int")
            .alias("day_offset"),
        )
        .agg(dec_sum("value", "day_value"))
        .where(F.col("day_offset") <= 7)
    )
    w = (
        Window.partitionBy("cohort_day")
        .orderBy("day_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per_offset.select(
        "cohort_day",
        "day_offset",
        "day_value",
        F.sum(F.col("day_value").cast(DEC)).over(w).cast("double").alias("cum_value"),
    )


# --- RFM segmentation (recency / frequency / monetary quartiles) -----------
# The classic customer-base segmentation: per user, days since last
# event (R), event count (F), decimal-exact total value (M), each cut
# into quartiles by NTILE with a deterministic user_id tie-break, and
# the familiar 3-digit segment code. NTILE's partition-size arithmetic
# is identical in both engines given identical order; every ordering
# here is total (metric, then user_id). Scale: ONE user_id aggregate,
# then three global NTILE sorts over the O(users) frame — at 100 TB the
# per-user frame is the small output of the first aggregate, and the
# quantile cuts would ride range partitioning (q_train_order's shape).
@_q(
    "q_rfm",
    """
    WITH g AS (SELECT max(ts) AS now_ts FROM events),
    m AS (
        SELECT user_id,
               CAST(date_diff('day', CAST(date_trunc('day', MAX(e.ts)) AS TIMESTAMP),
                              CAST(date_trunc('day', g.now_ts) AS TIMESTAMP))
                    AS INTEGER) AS recency_days,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               CAST(SUM(CAST(e.value AS DECIMAL(38,6))) AS DOUBLE) AS monetary
        FROM events e CROSS JOIN g
        GROUP BY user_id, g.now_ts
    )
    SELECT user_id, recency_days, frequency, monetary,
           CAST(NTILE(4) OVER (ORDER BY recency_days, user_id) AS INTEGER) AS r_quartile,
           CAST(NTILE(4) OVER (ORDER BY frequency DESC, user_id) AS INTEGER) AS f_quartile,
           CAST(NTILE(4) OVER (ORDER BY monetary DESC, user_id) AS INTEGER) AS m_quartile,
           CAST(NTILE(4) OVER (ORDER BY recency_days, user_id) AS INTEGER) * 100
           + CAST(NTILE(4) OVER (ORDER BY frequency DESC, user_id) AS INTEGER) * 10
           + CAST(NTILE(4) OVER (ORDER BY monetary DESC, user_id) AS INTEGER)
               AS rfm_code
    FROM m
    """,
)
def q_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    g = e.agg(F.max("ts").alias("now_ts"))
    m = (
        e.crossJoin(F.broadcast(g))
        .groupBy("user_id", "now_ts")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("frequency"),
            dec_sum("value", "monetary"),
            F.max("ts").alias("_last_ts"),
        )
        .select(
            "user_id",
            F.datediff(
                F.date_trunc("day", "now_ts"), F.date_trunc("day", "_last_ts")
            )
            .cast("int")
            .alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    # per-user aggregate is corpus-shaped at 100 TB: each quartile
    # rides the range-partitioned ntile (plans/rank.py) — never a
    # single-partition sort
    q3 = global_ntile(
        m, ["recency_days", "user_id"], 4, bucket_col="r_quartile"
    )
    q3 = global_ntile(
        q3, [F.desc("frequency"), "user_id"], 4, bucket_col="f_quartile"
    )
    q3 = global_ntile(
        q3, [F.desc("monetary"), "user_id"], 4, bucket_col="m_quartile"
    )
    return q3.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        "r_quartile",
        "f_quartile",
        "m_quartile",
        (
            F.col("r_quartile") * 100
            + F.col("f_quartile") * 10
            + F.col("m_quartile")
        ).alias("rfm_code"),
    )


# --- top-N + "Other" rollup with contribution share ------------------------
# The reporting shape behind every dashboard pie: per day, the top-3
# event types by value keep their names, the tail collapses into
# 'Other', and each row carries its share of the day total. Exercises
# conditional REGROUPING (rank → relabel → second aggregate) — a shape
# none of the plain rank queries cover. Exactness: day/type sums are
# decimal-routed; the relabeled re-aggregate re-sums those exact
# decimals; share = one shared-order double division against the
# decimal-exact day total. Scale: one (day, type) aggregate, a rank
# window over the O(days × types) frame, one tiny re-aggregate.
@_q(
    "q_top_n_other",
    """
    WITH per AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS type_value
        FROM events GROUP BY 1, 2
    ), ranked AS (
        SELECT day, event_type, type_value,
               ROW_NUMBER() OVER (PARTITION BY day
                                  ORDER BY type_value DESC, event_type) AS rk
        FROM per
    ), relabeled AS (
        SELECT day,
               CASE WHEN rk <= 3 THEN event_type ELSE 'Other' END AS bucket,
               type_value
        FROM ranked
    ), agg AS (
        SELECT day, bucket,
               CAST(SUM(CAST(type_value AS DECIMAL(38,6))) AS DOUBLE)
                   AS bucket_value
        FROM relabeled GROUP BY day, bucket
    ), tot AS (
        SELECT day,
               CAST(SUM(CAST(bucket_value AS DECIMAL(38,6))) AS DOUBLE)
                   AS day_value
        FROM agg GROUP BY day
    )
    SELECT a.day, a.bucket, a.bucket_value,
           a.bucket_value / t.day_value AS share
    FROM agg a JOIN tot t USING (day)
    """,
)
def q_top_n_other(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    per = e.groupBy(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    ).agg(dec_sum("value", "type_value"))
    rw = Window.partitionBy("day").orderBy(F.desc("type_value"), "event_type")
    relabeled = per.select(
        "day",
        F.when(F.row_number().over(rw) <= 3, F.col("event_type"))
        .otherwise(F.lit("Other"))
        .alias("bucket"),
        "type_value",
    )
    agg = relabeled.groupBy("day", "bucket").agg(
        F.sum(F.col("type_value").cast(DEC)).cast("double").alias("bucket_value")
    )
    tw = Window.partitionBy("day")
    return agg.select(
        "day",
        "bucket",
        "bucket_value",
        (
            F.col("bucket_value")
            / F.sum(F.col("bucket_value").cast(DEC)).over(tw).cast("double")
        ).alias("share"),
    )


# --- seasonal anomaly detection (deviation from the diurnal profile) -------
# The consumer of q_seasonality's profile: score each CONCRETE hour's
# total against the hour-of-day baseline for its type, flagging hours
# whose decimal-exact total falls outside median ± 3·IQR of the per-hour
# totals sharing that clock hour. Completes the anomaly family —
# q_anomaly_zscore is trailing-window (local drift), this is
# calendar-profile (seasonal shape). Exactness: hourly totals are
# decimal-routed; the profile is exact percentile interpolation over
# those totals; the flag is pure comparisons of shared-order doubles.
# Scale: two aggregates (hourly totals O(types×hours), profile
# O(types×24)) + a broadcast profile join back — the raw table is
# scanned once.
@_q(
    "q_seasonal_anomaly",
    """
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hr,
               CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hod,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS hour_value
        FROM events GROUP BY 1, 2, 3
    ), profile AS (
        SELECT event_type, hod,
               quantile_cont(hour_value, 0.5) AS med,
               quantile_cont(hour_value, 0.75) - quantile_cont(hour_value, 0.25)
                   AS iqr
        FROM hourly GROUP BY event_type, hod
    )
    SELECT h.event_type, h.hr, h.hour_value, p.med, p.iqr,
           h.hour_value < p.med - 3 * p.iqr
           OR h.hour_value > p.med + 3 * p.iqr AS is_anomaly
    FROM hourly h JOIN profile p USING (event_type, hod)
    """,
)
def q_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    # hourly feeds BOTH the profile aggregate and the join probe side —
    # persist so the fact scan+aggregate runs once (the shared-relation
    # policy of q_bigram_lm / q_triangles); the persisted frame is the
    # O(types × hours) aggregate, not the raw table.
    hourly = track_persist(
        e.groupBy(
            "event_type",
            F.date_trunc("hour", "ts").alias("hr"),
            F.hour("ts").cast("int").alias("hod"),
        )
        .agg(dec_sum("value", "hour_value"))
    )
    profile = hourly.groupBy("event_type", "hod").agg(
        F.percentile("hour_value", 0.5).alias("med"),
        (
            F.percentile("hour_value", 0.75) - F.percentile("hour_value", 0.25)
        ).alias("iqr"),
    )
    return hourly.join(F.broadcast(profile), ["event_type", "hod"]).select(
        "event_type",
        "hr",
        "hour_value",
        "med",
        "iqr",
        (
            (F.col("hour_value") < F.col("med") - 3 * F.col("iqr"))
            | (F.col("hour_value") > F.col("med") + 3 * F.col("iqr"))
        ).alias("is_anomaly"),
    )


# --- k-anonymity GENERALIZATION (the transformation, not just the audit) ---
# q_kanonymity reports which quasi-identifier combos are too rare; this
# operator FIXES the release: pick the smallest account-balance bucket
# width (100 → 500 → 2500 → 25000, on the +1000-shifted balance so the
# coarsest level is genuinely one bucket) at which every (nation,
# bucket) group reaches k=10, then publish at that level. The level
# choice is computed distributedly — candidate-width aggregates reduced
# to per-width minimum group sizes (a 1-row frame, broadcast-crossed;
# never collected), a CASE picks the first width whose minimum clears
# k, and the final aggregate groups by the chosen width as an
# EXPRESSION. A release_ok audit column reports whether even the chosen
# level satisfies k — at tiny scale a thin nation can fail at FULL
# generalization, and the honest next step there is suppression, not a
# silent publish. Deterministic; floor((bal+1000)/w) is one exact IEEE
# op per row in both engines. Scale: all aggregates map-side
# combinable; at 100 TB the candidate sweep is the shown width-exploded
# single pass.
@_q(
    "q_kanon_generalize",
    """
    WITH cand AS (
        SELECT w, MIN(n) AS min_group
        FROM (
            SELECT w, c_nationkey, floor((c_acctbal + 1000) / w) AS b,
                   COUNT(*) AS n
            FROM customer CROSS JOIN (
                SELECT unnest([100, 500, 2500, 25000]) AS w) ws
            GROUP BY w, c_nationkey, floor((c_acctbal + 1000) / w)
        ) g GROUP BY w
    ), chosen AS (
        SELECT CASE
                 WHEN MAX(CASE WHEN w = 100 THEN min_group END) >= 10 THEN 100
                 WHEN MAX(CASE WHEN w = 500 THEN min_group END) >= 10 THEN 500
                 WHEN MAX(CASE WHEN w = 2500 THEN min_group END) >= 10 THEN 2500
                 ELSE 25000
               END AS cw
        FROM cand
    ), rel AS (
        SELECT c_nationkey,
               CAST(floor((c_acctbal + 1000) / chosen.cw) * chosen.cw - 1000
                    AS DOUBLE) AS bal_bucket,
               CAST(chosen.cw AS INTEGER) AS bucket_width,
               CAST(COUNT(*) AS BIGINT) AS n_records
        FROM customer CROSS JOIN chosen
        GROUP BY c_nationkey,
                 floor((c_acctbal + 1000) / chosen.cw) * chosen.cw,
                 chosen.cw
    )
    SELECT *, MIN(n_records) OVER () >= 10 AS release_ok FROM rel
    """,
)
def q_kanon_generalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    shifted = F.col("c_acctbal") + 1000
    widths = local_rows(spark, [(100,), (500,), (2500,), (25000,)], "w bigint")
    cand = (
        c.crossJoin(F.broadcast(widths))
        .groupBy("w", "c_nationkey", F.floor(shifted / F.col("w")))
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("w")
        .agg(F.min("n").alias("min_group"))
    )
    chosen = cand.agg(
        F.expr(
            "CASE"
            " WHEN MAX(CASE WHEN w = 100 THEN min_group END) >= 10 THEN 100"
            " WHEN MAX(CASE WHEN w = 500 THEN min_group END) >= 10 THEN 500"
            " WHEN MAX(CASE WHEN w = 2500 THEN min_group END) >= 10 THEN 2500"
            " ELSE 25000 END"
        ).alias("cw")
    )
    rel = (
        c.crossJoin(F.broadcast(chosen))
        .groupBy(
            "c_nationkey",
            (F.floor(shifted / F.col("cw")) * F.col("cw") - 1000)
            .cast("double")
            .alias("bal_bucket"),
            F.col("cw").cast("int").alias("bucket_width"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_records"))
    )
    # bounded: nation × balance-bucket release grid — O(25 × buckets) rows
    w_all = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return rel.withColumn(
        "release_ok", F.min("n_records").over(w_all) >= 10
    )


# ===================== round-3 additions ====================================
# --- Bollinger bands (rolling mean ± 2σ breach detection) ------------------
# Completes the market stack (OHLC/VWAP/TWAP/realized-vol/drawdown) with
# the classic mean-reversion signal: per event_type, a 20-row trailing
# window's mean and population σ, bands at ±2σ, and the breach flag per
# observation. Exactness: prices quantize to exact thousandths once
# (floor(v*1000+0.5), the q_realized_vol pattern); the rolling SUM and
# SUM-of-squares are then integer-exact in any order, and mean/σ/bands
# are ONE shared-text IEEE expression over those integers (σ via
# correctly-rounded sqrt of an integer-derived double — bit-identical on
# both engines). Scale: ONE event_type exchange; the trailing frame is
# O(20) state per partition stream — no second shuffle.
@_q(
    "q_bollinger",
    """
    WITH q AS (
        SELECT event_type, ts, event_id, value,
               CAST(floor(value * 1000 + 0.5) AS BIGINT) AS qv
        FROM events
    ), r AS (
        SELECT event_type, ts, event_id, value,
               SUM(qv) OVER w AS s,
               SUM(qv * qv) OVER w AS ss,
               COUNT(*) OVER w AS n
        FROM q
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, ts, event_id, value,
           CAST(s AS DOUBLE) / 20000.0 AS mid,
           sqrt(CAST(20 * ss - s * s AS DOUBLE)) / 20000.0 AS sigma,
           CAST(s AS DOUBLE) / 20000.0
             + sqrt(CAST(20 * ss - s * s AS DOUBLE)) / 10000.0 AS upper_band,
           CAST(s AS DOUBLE) / 20000.0
             - sqrt(CAST(20 * ss - s * s AS DOUBLE)) / 10000.0 AS lower_band,
           value * 1000 > CAST(s AS DOUBLE) / 20.0
             + sqrt(CAST(20 * ss - s * s AS DOUBLE)) / 10.0 AS breach_up,
           value * 1000 < CAST(s AS DOUBLE) / 20.0
             - sqrt(CAST(20 * ss - s * s AS DOUBLE)) / 10.0 AS breach_down
    FROM r WHERE n = 20
    """,
)
def q_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    qv = F.floor(F.col("value") * 1000 + 0.5).cast("bigint")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, 0)
    )
    r = e.select("event_type", "ts", "event_id", "value", qv.alias("qv")).select(
        "event_type",
        "ts",
        "event_id",
        "value",
        F.sum("qv").over(w).alias("s"),
        F.sum(F.col("qv") * F.col("qv")).over(w).alias("ss"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    var20 = (F.lit(20) * F.col("ss") - F.col("s") * F.col("s")).cast("double")
    mid = F.col("s").cast("double") / F.lit(20000.0)
    sig = F.sqrt(var20) / F.lit(20000.0)
    return r.where(F.col("n") == 20).select(
        "event_type",
        "ts",
        "event_id",
        "value",
        mid.alias("mid"),
        sig.alias("sigma"),
        (mid + F.sqrt(var20) / F.lit(10000.0)).alias("upper_band"),
        (mid - F.sqrt(var20) / F.lit(10000.0)).alias("lower_band"),
        (
            F.col("value") * 1000
            > F.col("s").cast("double") / 20.0 + F.sqrt(var20) / F.lit(10.0)
        ).alias("breach_up"),
        (
            F.col("value") * 1000
            < F.col("s").cast("double") / 20.0 - F.sqrt(var20) / F.lit(10.0)
        ).alias("breach_down"),
    )


# --- RSI (relative strength index, Wilder's SMA form) -----------------------
# Momentum oscillator over the same quantized-price stream: per
# event_type, split consecutive deltas into gains/losses (exact integer
# thousandths via LAG), take 14-row trailing integer sums, and compute
# RSI = 100 - 100/(1 + gains/losses) as one shared-text expression; an
# all-gain window is RSI 100 by convention (CASE on the exact integer
# sum, not on a float). Scale: identical to q_bollinger — one exchange,
# O(14) frame state.
@_q(
    "q_rsi",
    """
    WITH d AS (
        SELECT event_type, ts, event_id,
               CAST(floor(value * 1000 + 0.5) AS BIGINT)
                 - LAG(CAST(floor(value * 1000 + 0.5) AS BIGINT))
                   OVER (PARTITION BY event_type ORDER BY ts, event_id)
                 AS delta
        FROM events
    ), g AS (
        SELECT event_type, ts, event_id,
               SUM(CASE WHEN delta > 0 THEN delta ELSE 0 END) OVER w AS gain,
               SUM(CASE WHEN delta < 0 THEN -delta ELSE 0 END) OVER w AS loss,
               COUNT(delta) OVER w AS n
        FROM d
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, ts, event_id,
           CAST(gain AS BIGINT) AS gain_q,
           CAST(loss AS BIGINT) AS loss_q,
           CASE WHEN loss = 0 THEN 100.0
                ELSE 100.0 - 100.0 / (1.0 + CAST(gain AS DOUBLE)
                                            / CAST(loss AS DOUBLE))
           END AS rsi
    FROM g WHERE n = 14
    """,
)
def q_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    wlag = Window.partitionBy("event_type").orderBy("ts", "event_id")
    qv = F.floor(F.col("value") * 1000 + 0.5).cast("bigint")
    d = e.select(
        "event_type", "ts", "event_id", (qv - F.lag(qv).over(wlag)).alias("delta")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-13, 0)
    )
    g = d.select(
        "event_type",
        "ts",
        "event_id",
        F.sum(
            F.when(F.col("delta") > 0, F.col("delta")).otherwise(F.lit(0))
        ).over(w).alias("gain"),
        F.sum(
            F.when(F.col("delta") < 0, -F.col("delta")).otherwise(F.lit(0))
        ).over(w).alias("loss"),
        F.count("delta").over(w).alias("n"),
    )
    return g.where(F.col("n") == 14).select(
        "event_type",
        "ts",
        "event_id",
        F.col("gain").cast("bigint").alias("gain_q"),
        F.col("loss").cast("bigint").alias("loss_q"),
        F.when(F.col("loss") == 0, F.lit(100.0))
        .otherwise(
            F.lit(100.0)
            - F.lit(100.0)
            / (
                F.lit(1.0)
                + F.col("gain").cast("double") / F.col("loss").cast("double")
            )
        )
        .alias("rsi"),
    )


# --- referential-integrity audit (FK orphan scan over the star schema) ----
# The warehouse health check a 100 TB lake runs nightly: for every FK
# edge of the TPC-H-ish schema, child cardinalities, NULL keys, and
# orphan rows (child keys with no parent — broken ingestion or late
# dimension loads). Everything is exact integer counts. Scale: each
# edge is one anti-join; the parent side is keys-only (pruned scan) and
# small dims broadcast, so the fact tables are scanned once per edge
# with no wide shuffle. The 7 one-row edge aggregates union at the end.
@_q(
    "q_refint_audit",
    """
    WITH edge AS (
        SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
               (SELECT COUNT(*) FROM lineitem) AS child_rows,
               (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem) AS distinct_keys,
               (SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NULL) AS null_keys,
               (SELECT COUNT(*) FROM lineitem l
                WHERE l_orderkey IS NOT NULL AND NOT EXISTS
                      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
                   AS orphan_rows
        UNION ALL SELECT 'lineitem.l_partkey->part',
               (SELECT COUNT(*) FROM lineitem),
               (SELECT COUNT(DISTINCT l_partkey) FROM lineitem),
               (SELECT COUNT(*) FROM lineitem WHERE l_partkey IS NULL),
               (SELECT COUNT(*) FROM lineitem l
                WHERE l_partkey IS NOT NULL AND NOT EXISTS
                      (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
        UNION ALL SELECT 'lineitem.l_suppkey->supplier',
               (SELECT COUNT(*) FROM lineitem),
               (SELECT COUNT(DISTINCT l_suppkey) FROM lineitem),
               (SELECT COUNT(*) FROM lineitem WHERE l_suppkey IS NULL),
               (SELECT COUNT(*) FROM lineitem l
                WHERE l_suppkey IS NOT NULL AND NOT EXISTS
                      (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
        UNION ALL SELECT 'orders.o_custkey->customer',
               (SELECT COUNT(*) FROM orders),
               (SELECT COUNT(DISTINCT o_custkey) FROM orders),
               (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL),
               (SELECT COUNT(*) FROM orders o
                WHERE o_custkey IS NOT NULL AND NOT EXISTS
                      (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        UNION ALL SELECT 'customer.c_nationkey->nation',
               (SELECT COUNT(*) FROM customer),
               (SELECT COUNT(DISTINCT c_nationkey) FROM customer),
               (SELECT COUNT(*) FROM customer WHERE c_nationkey IS NULL),
               (SELECT COUNT(*) FROM customer c
                WHERE c_nationkey IS NOT NULL AND NOT EXISTS
                      (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
        UNION ALL SELECT 'supplier.s_nationkey->nation',
               (SELECT COUNT(*) FROM supplier),
               (SELECT COUNT(DISTINCT s_nationkey) FROM supplier),
               (SELECT COUNT(*) FROM supplier WHERE s_nationkey IS NULL),
               (SELECT COUNT(*) FROM supplier s
                WHERE s_nationkey IS NOT NULL AND NOT EXISTS
                      (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey))
        UNION ALL SELECT 'nation.n_regionkey->region',
               (SELECT COUNT(*) FROM nation),
               (SELECT COUNT(DISTINCT n_regionkey) FROM nation),
               (SELECT COUNT(*) FROM nation WHERE n_regionkey IS NULL),
               (SELECT COUNT(*) FROM nation na
                WHERE n_regionkey IS NOT NULL AND NOT EXISTS
                      (SELECT 1 FROM region r WHERE r.r_regionkey = na.n_regionkey))
    )
    SELECT fk_edge, CAST(child_rows AS BIGINT) AS child_rows,
           CAST(distinct_keys AS BIGINT) AS distinct_keys,
           CAST(null_keys AS BIGINT) AS null_keys,
           CAST(orphan_rows AS BIGINT) AS orphan_rows
    FROM edge
    """,
)
def q_refint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = (
        ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
        ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
    )
    out = None
    for label, child, ckey, parent, pkey in edges:
        c = t(spark, sf_dir, child).select(F.col(ckey).alias("k"))
        p = t(spark, sf_dir, parent).select(F.col(pkey).alias("pk")).distinct()
        base = c.agg(
            F.count(F.lit(1)).cast("bigint").alias("child_rows"),
            F.count_distinct(F.col("k")).cast("bigint").alias("distinct_keys"),
            F.sum(F.when(F.col("k").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("null_keys"),
        )
        orph = (
            c.where(F.col("k").isNotNull())
            .join(F.broadcast(p), F.col("k") == F.col("pk"), "left_anti")
            .agg(F.count(F.lit(1)).cast("bigint").alias("orphan_rows"))
        )
        row = base.crossJoin(orph).select(
            F.lit(label).alias("fk_edge"),
            "child_rows",
            "distinct_keys",
            "null_keys",
            "orphan_rows",
        )
        out = row if out is None else out.unionByName(row)
    return out


# --- weighted s-core extraction (iterative strength peeling) ---------------
# Graph-mining companion to triangles/CC/PageRank, in the weighted form
# that survives uniform synthetic data: the k-core's degree threshold is
# degenerate on homogeneous graphs, so this is the s-core generalization
# (Eidsaa & Almaas, weighted degeneracy): node strength = Σ co-occurrence
# weights, and each round peels nodes whose strength falls below the
# CURRENT survivors' mean — an adaptive threshold that extracts the dense
# backbone at any scale instead of emptying (fixed thresholds collapsed at
# small SF; measured). Rounds are UNROLLED (3, like q_bfs_hops) so the
# DuckDB oracle is the identical CTE chain; exactness: weights are doc
# counts (int), strengths are int sums, each threshold is ONE exact-int
# division, and a strength-vs-double compare is deterministic. Scale:
# each round = one strength aggregate + two semi-joins on the pruned
# edge relation (persisted — every round re-probes it); the threshold is
# a broadcast one-row aggregate, never a collect.
@_q(
    "q_s_core",
    """
    WITH tok AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ), e0 AS (
        SELECT a.token AS u, b.token AS v, COUNT(*) AS w
        FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND a.token <> b.token
        GROUP BY 1, 2
    ), s1 AS (SELECT u, SUM(w) AS s FROM e0 GROUP BY u),
    k1 AS (SELECT u FROM s1 WHERE CAST(s AS DOUBLE)
               >= (SELECT CAST(SUM(s) AS DOUBLE) / COUNT(*) FROM s1)),
    e1 AS (SELECT e.u, e.v, e.w FROM e0 e
           WHERE EXISTS (SELECT 1 FROM k1 WHERE k1.u = e.u)
             AND EXISTS (SELECT 1 FROM k1 WHERE k1.u = e.v)),
    s2 AS (SELECT u, SUM(w) AS s FROM e1 GROUP BY u),
    k2 AS (SELECT u FROM s2 WHERE CAST(s AS DOUBLE)
               >= (SELECT CAST(SUM(s) AS DOUBLE) / COUNT(*) FROM s2)),
    e2 AS (SELECT e.u, e.v, e.w FROM e1 e
           WHERE EXISTS (SELECT 1 FROM k2 WHERE k2.u = e.u)
             AND EXISTS (SELECT 1 FROM k2 WHERE k2.u = e.v)),
    s3 AS (SELECT u, SUM(w) AS s FROM e2 GROUP BY u)
    SELECT u AS token, CAST(s AS BIGINT) AS core_strength
    FROM s3 WHERE CAST(s AS DOUBLE)
        >= (SELECT CAST(SUM(s) AS DOUBLE) / COUNT(*) FROM s3)
    """,
)
def q_s_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    rounds = 3
    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("token"),
    )
    edges = track_persist(
        tok.alias("a")
        .join(
            tok.alias("b"),
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.token") != F.col("b.token")),
        )
        .groupBy(F.col("a.token").alias("u"), F.col("b.token").alias("v"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    # strength is consumed twice per round (threshold + keep filter) and
    # edges three times across rounds — without truncation the plan tree
    # re-derives every prior round per consumer (~3^rounds duplication;
    # measured 223 exchanges unchecked vs 8 with the checkpoint). Same
    # lineage guard as connected_components_star / bfs_hops.
    strength = edges.groupBy("u").agg(F.sum("w").alias("s")).localCheckpoint()
    for r in range(rounds):
        thr = strength.agg(
            (F.sum("s").cast("double") / F.count(F.lit(1))).alias("m")
        )
        kept = (
            strength.crossJoin(F.broadcast(thr))
            .where(F.col("s").cast("double") >= F.col("m"))
            .select("u")
        )
        if r == rounds - 1:
            return (
                strength.join(kept, "u", "left_semi")
                .select(
                    F.col("u").alias("token"),
                    F.col("s").cast("bigint").alias("core_strength"),
                )
            )
        edges = (
            edges.join(kept, "u", "left_semi")
            .join(kept.select(F.col("u").alias("v")), "v", "left_semi")
            .select("u", "v", "w")
            .localCheckpoint()
        )
        strength = edges.groupBy("u").agg(F.sum("w").alias("s")).localCheckpoint()


# --- min-max scaling (per-group feature normalization) ----------------------
# The third scaler beside q_robust_scaler (median/IQR) and q_zscore:
# (x - min) / (max - min) per event_type. min/max are order-free exact
# aggregates and the scale step is ONE shared-text division (nullif
# guards the constant-group case). Scale: the per-group extrema are an
# O(groups) aggregate broadcast back onto the scan — no window over the
# fact table, zero extra fact exchanges.
@_q(
    "q_minmax_scale",
    """
    WITH m AS (
        SELECT event_type, MIN(value) AS v_min, MAX(value) AS v_max
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value, m.v_min, m.v_max,
           (e.value - m.v_min) / nullif(m.v_max - m.v_min, 0) AS scaled
    FROM events e JOIN m USING (event_type)
    """,
)
def q_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    m = e.groupBy("event_type").agg(
        F.min("value").alias("v_min"), F.max("value").alias("v_max")
    )
    return e.join(F.broadcast(m), "event_type").select(
        "event_id",
        "event_type",
        "value",
        "v_min",
        "v_max",
        (
            (F.col("value") - F.col("v_min"))
            / F.nullif(F.col("v_max") - F.col("v_min"), F.lit(0.0))
        ).alias("scaled"),
    )


# --- lead-lag cross-correlation (hourly series, lags 0 and 1) ---------------
# Does one event type's hourly volume LEAD another's? Pearson correlation
# between type-a's hour-h total and type-b's hour-(h+lag) total, for all
# ordered type pairs at lags 0 and 1 — the market/ops question behind
# "do clicks predict purchases an hour later". Shared SQL text evaluated
# verbatim by BOTH engines (the q_ols_by_group pattern): hourly totals
# are exact integer thousandths; the six sufficient statistics route
# through DECIMAL(38,0); the Pearson finish is one fixed-order IEEE
# expression (sqrt is correctly rounded on both engines). Scale: the
# hourly rollup is one combinable aggregate; everything after runs on
# the O(types × hours) frame — the self-join is on that tiny relation,
# never on events.
def _lag_corr_sql(table: str) -> str:
    stats = (
        "COUNT(*) AS n, "
        "SUM(CAST(xa AS DECIMAL(38,0))) AS sx, "
        "SUM(CAST(xb AS DECIMAL(38,0))) AS sy, "
        "SUM(CAST(xa * xb AS DECIMAL(38,0))) AS sxy, "
        "SUM(CAST(xa * xa AS DECIMAL(38,0))) AS sxx, "
        "SUM(CAST(xb * xb AS DECIMAL(38,0))) AS syy"
    )
    num = (
        "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    )
    denx = (
        "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    )
    deny = (
        "(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
        " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))"
    )
    return f"""
    WITH h AS (
        SELECT event_type,
               CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
               CAST(SUM(CAST(floor(value * 1000 + 0.5) AS BIGINT)) AS BIGINT)
                   AS tq
        FROM {table}
        GROUP BY event_type, date_trunc('hour', ts)
    ), lagged AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b, l.lh AS lag_h,
               a.tq AS xa, b.tq AS xb
        FROM h a
        JOIN (SELECT 0 AS lh UNION ALL SELECT 1) l ON 1 = 1
        JOIN h b
          ON b.event_type <> a.event_type
         AND b.hour = a.hour + l.lh * INTERVAL '1' HOUR
         AND a.event_type < b.event_type
    ), s AS (
        SELECT type_a, type_b, lag_h, {stats}
        FROM lagged GROUP BY type_a, type_b, lag_h
    )
    SELECT type_a, type_b, CAST(lag_h AS INTEGER) AS lag_h,
           CAST(n AS BIGINT) AS n_hours,
           {num} / nullif(sqrt({denx}) * sqrt({deny}), 0) AS pearson_r
    FROM s
    """


@_q("q_lag_corr", _lag_corr_sql("events"))
def q_lag_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    t(spark, sf_dir, "events").createOrReplaceTempView("events_lagcorr")
    return spark.sql(_lag_corr_sql("events_lagcorr"))


# --- additive seasonal decomposition (trend / seasonal / residual) ----------
# Classic STL-lite over the hourly spine: trend = centered 25-hour
# rolling mean, seasonal = hour-of-day mean of the detrended series,
# residual = observed - trend - seasonal. Exactness trick: the detrended
# series is kept in the EXACT-INTEGER domain as 25·tq − Σwindow(tq)
# (both bigint), so the seasonal mean is one integer sum + one shared
# division — no order-dependent float accumulation anywhere; trend and
# residual are fixed-order IEEE expressions over those integers. Scale:
# one event_type exchange for the hourly rollup; trend frame is O(25)
# state; seasonal is an O(types × 24) aggregate broadcast back.
@_q(
    "q_seasonal_decompose",
    """
    WITH h AS (
        SELECT event_type,
               CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
               CAST(SUM(CAST(floor(value * 1000 + 0.5) AS BIGINT)) AS BIGINT)
                   AS tq
        FROM events GROUP BY 1, 2
    ), tr AS (
        SELECT event_type, hr, tq,
               SUM(tq) OVER w AS tnum, COUNT(*) OVER w AS tn
        FROM h
        WINDOW w AS (PARTITION BY event_type ORDER BY hr
                     ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
    ), full_tr AS (
        SELECT event_type, hr, tq, tnum,
               CAST(25 * tq - tnum AS BIGINT) AS dq25,
               CAST(EXTRACT(HOUR FROM hr) AS INTEGER) AS hod
        FROM tr WHERE tn = 25
    ), se AS (
        SELECT event_type, hod,
               CAST(SUM(dq25) AS BIGINT) AS snum,
               CAST(COUNT(*) AS BIGINT) AS sn
        FROM full_tr GROUP BY 1, 2
    )
    SELECT f.event_type, f.hr,
           CAST(f.tq AS DOUBLE) / 1000.0 AS observed,
           CAST(f.tnum AS DOUBLE) / 25000.0 AS trend,
           CAST(s.snum AS DOUBLE) / (25000.0 * CAST(s.sn AS DOUBLE))
               AS seasonal,
           CAST(f.tq AS DOUBLE) / 1000.0
             - CAST(f.tnum AS DOUBLE) / 25000.0
             - CAST(s.snum AS DOUBLE) / (25000.0 * CAST(s.sn AS DOUBLE))
               AS residual
    FROM full_tr f JOIN se s
      ON f.event_type = s.event_type AND f.hod = s.hod
    """,
)
def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    h = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(
        F.sum(F.floor(F.col("value") * 1000 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("tq")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(-12, 12)
    )
    tr = h.select(
        "event_type",
        "hr",
        "tq",
        F.sum("tq").over(w).alias("tnum"),
        F.count(F.lit(1)).over(w).alias("tn"),
    )
    full_tr = tr.where(F.col("tn") == 25).select(
        "event_type",
        "hr",
        "tq",
        "tnum",
        (25 * F.col("tq") - F.col("tnum")).cast("bigint").alias("dq25"),
        F.hour("hr").cast("int").alias("hod"),
    )
    se = full_tr.groupBy("event_type", "hod").agg(
        F.sum("dq25").cast("bigint").alias("snum"),
        F.count(F.lit(1)).cast("bigint").alias("sn"),
    )
    seasonal = F.col("snum").cast("double") / (
        F.lit(25000.0) * F.col("sn").cast("double")
    )
    trend = F.col("tnum").cast("double") / F.lit(25000.0)
    observed = F.col("tq").cast("double") / F.lit(1000.0)
    return full_tr.join(F.broadcast(se), ["event_type", "hod"]).select(
        "event_type",
        "hr",
        observed.alias("observed"),
        trend.alias("trend"),
        seasonal.alias("seasonal"),
        (observed - trend - seasonal).alias("residual"),
    )


# --- co-visitation candidates (recsys candidate generation) -----------------
# The classic co-occurrence recommender primitive: parts ordered together
# (same orderkey) → pair counts → top-3 co-visited parts per part. Pure
# integer counts; the per-part top-k is a window over the aggregated
# pair relation, never over line items. Scale: the self-join is keyed on
# orderkey (bounded fan-out per order — ≤ items² per order), the pair
# aggregate is map-side combinable, and the rank runs on O(parts × k)
# candidates. This is the broadcastable candidate matrix that feeds
# serving-time retrieval.
@_q(
    "q_covisit",
    """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               COUNT(*) AS n_orders
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        GROUP BY 1, 2
    )
    SELECT part_a, part_b, CAST(n_orders AS BIGINT) AS n_orders,
           CAST(row_number() OVER (PARTITION BY part_a
                                   ORDER BY n_orders DESC, part_b) AS INTEGER)
               AS rank
    FROM pairs
    QUALIFY rank <= 3
    """,
)
def q_covisit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    pairs = (
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    )
    w = Window.partitionBy("part_a").orderBy(F.desc("n_orders"), "part_b")
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 3)
    )


# --- categorical drift: Hellinger + total-variation distance --------------
# The categorical companion to q_ks_drift (which is continuous-only):
# compare the event_type distribution of the first half of the observed
# time range against the second half. Hellinger and TV are chosen over
# KL/JS because they are TRANSCENDENTAL-FREE — sqrt is IEEE
# correctly-rounded in both engines while log is not (the module
# exactness policy; same reason q_benford reports proportions, not
# log-expected digits). Per-type terms are fixed-order double
# expressions; the cross-type reduce is 1e12-quantized to an exact
# integer sum (q_embed_dimstats policy) so the ~|types| additions are
# order-free. Plan: one bounds aggregate (min/max ts) broadcast into the
# scan, one (side, type) count with map-side combine, then everything
# downstream operates on a <= 2x|types| frame — at 100 TB the cost is
# two fact scans and one tiny shuffle.
# nullif guards: a degenerate corpus (time range <= 1us) makes one side
# empty; Spark ANSI throws on /0 while DuckDB yields NULL — nullif makes
# BOTH engines emit NULL terms (review finding, round 3).
_HD_PA = "(CAST(ca AS DOUBLE) / CAST(nullif(na, 0) AS DOUBLE))"
_HD_PB = "(CAST(cb AS DOUBLE) / CAST(nullif(nb, 0) AS DOUBLE))"
_HD_BC_Q = (
    f"CAST(floor(sqrt({_HD_PA} * {_HD_PB}) * 1000000000000 + 0.5) AS BIGINT)"
)
_HD_TV_Q = (
    f"CAST(floor(abs({_HD_PA} - {_HD_PB}) * 1000000000000 + 0.5) AS BIGINT)"
)
_HD_BC = "(CAST(bcq AS DOUBLE) / CAST(1000000000000 AS DOUBLE))"
_HD_TV = "(CAST(tvq AS DOUBLE) / (CAST(1000000000000 AS DOUBLE) * CAST(2 AS DOUBLE)))"
_HD_HELL = f"sqrt(greatest(CAST(1 AS DOUBLE) - {_HD_BC}, CAST(0 AS DOUBLE)))"


@_q(
    "q_hellinger_drift",
    f"""
    WITH b AS (
        SELECT (epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2 AS mid FROM events
    ), c AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN epoch_us(ts) < b.mid THEN 1 ELSE 0 END)
                    AS BIGINT) AS ca,
               CAST(SUM(CASE WHEN epoch_us(ts) >= b.mid THEN 1 ELSE 0 END)
                    AS BIGINT) AS cb
        FROM events, b
        GROUP BY event_type
    ), tot AS (
        SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb
        FROM c
    ), terms AS (
        SELECT {_HD_BC_Q} AS bc_q, {_HD_TV_Q} AS tv_q
        FROM c, tot
    ), red AS (
        SELECT CAST(SUM(bc_q) AS BIGINT) AS bcq,
               CAST(SUM(tv_q) AS BIGINT) AS tvq,
               CAST(COUNT(*) AS BIGINT) AS n_types
        FROM terms
    )
    SELECT tot.na AS n_first_half, tot.nb AS n_second_half, red.n_types,
           {_HD_BC} AS bhattacharyya,
           {_HD_HELL} AS hellinger,
           {_HD_TV} AS tv_distance
    FROM red, tot
    """,
)
def q_hellinger_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        "event_type", F.unix_micros("ts").alias("us")
    )
    b = ev.agg(
        F.expr("(min(us) + max(us)) div 2").alias("mid")
    )
    c = (
        ev.crossJoin(F.broadcast(b))
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("us") < F.col("mid"), 1).otherwise(0))
            .cast("bigint")
            .alias("ca"),
            F.sum(F.when(F.col("us") >= F.col("mid"), 1).otherwise(0))
            .cast("bigint")
            .alias("cb"),
        )
    )
    tot = c.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
    )
    terms = c.crossJoin(F.broadcast(tot)).select(
        F.expr(_HD_BC_Q).alias("bc_q"), F.expr(_HD_TV_Q).alias("tv_q")
    )
    red = terms.agg(
        F.sum("bc_q").cast("bigint").alias("bcq"),
        F.sum("tv_q").cast("bigint").alias("tvq"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
    )
    return red.crossJoin(F.broadcast(tot)).select(
        F.col("na").alias("n_first_half"),
        F.col("nb").alias("n_second_half"),
        "n_types",
        F.expr(_HD_BC).alias("bhattacharyya"),
        F.expr(_HD_HELL).alias("hellinger"),
        F.expr(_HD_TV).alias("tv_distance"),
    )


# --- association-rule mining (support / confidence / lift) ----------------
# Market-basket rules over order baskets with items = part brands: the
# rule-quality layer q_covisit (raw co-visitation counts) stops short
# of. The Spark side builds baskets ONCE — groupBy(order).collect_set —
# so pair generation is an array transform INSIDE the row (<= |brands|^2
# per basket, no self-join of the fact table); at 100 TB that is one
# shuffle keyed on the basket id plus a tiny (brand, brand) aggregate,
# versus the self-join's re-shuffle of the whole item relation. All
# three metrics are exact integer-count ratios written ONCE as
# fixed-order double SQL; ORDER BY lift with full name tie-breaks makes
# the LIMIT cut deterministic in both engines.
_AR_MIN_COUNT = 3
_AR_TOPK = 50
_AR_SUP = "(CAST(n_ab AS DOUBLE) / CAST(n_baskets AS DOUBLE))"
_AR_CONF = "(CAST(n_ab AS DOUBLE) / CAST(n_a AS DOUBLE))"
_AR_LIFT = (
    "((CAST(n_ab AS DOUBLE) * CAST(n_baskets AS DOUBLE))"
    " / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))"
)


@_q(
    "q_assoc_rules",
    f"""
    WITH ob AS (
        SELECT DISTINCT l.l_orderkey AS basket, p.p_brand AS item
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), pair AS (
        SELECT a.item AS antecedent, b.item AS consequent,
               CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM ob a JOIN ob b
          ON a.basket = b.basket AND a.item <> b.item
        GROUP BY 1, 2
    ), ic AS (
        SELECT item, CAST(COUNT(*) AS BIGINT) AS n_item FROM ob GROUP BY item
    ), nb AS (
        SELECT CAST(COUNT(DISTINCT basket) AS BIGINT) AS n_baskets FROM ob
    ), r AS (
        SELECT antecedent, consequent, n_ab,
               ia.n_item AS n_a, ib.n_item AS n_b, nb.n_baskets
        FROM pair
        JOIN ic ia ON ia.item = pair.antecedent
        JOIN ic ib ON ib.item = pair.consequent
        CROSS JOIN nb
        WHERE n_ab >= {_AR_MIN_COUNT}
    )
    SELECT antecedent, consequent, n_ab, n_a, n_b, n_baskets,
           {_AR_SUP} AS support, {_AR_CONF} AS confidence, {_AR_LIFT} AS lift
    FROM r
    ORDER BY lift DESC, antecedent, consequent
    LIMIT {_AR_TOPK}
    """,
)
def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pt = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = track_persist(
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .groupBy(F.col("l_orderkey").alias("basket"))
        .agg(F.collect_set("p_brand").alias("items"))
    )
    # Two chained explodes beat the flatten(transform(transform)) struct
    # nest by ~35% at sf0.1 (measured): same in-row fan-out bound, less
    # per-row array construction inside codegen.
    pair = (
        baskets.select(F.explode("items").alias("antecedent"), "items")
        .select(
            "antecedent", F.explode("items").alias("consequent")
        )
        .where(F.col("antecedent") != F.col("consequent"))
        .groupBy("antecedent", "consequent")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
        .where(F.col("n_ab") >= _AR_MIN_COUNT)
    )
    ic = (
        baskets.select(F.explode("items").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_item"))
    )
    nb = baskets.agg(F.count(F.lit(1)).cast("bigint").alias("n_baskets"))
    r = (
        pair.join(
            F.broadcast(ic.select(F.col("item").alias("antecedent"),
                                  F.col("n_item").alias("n_a"))),
            "antecedent",
        )
        .join(
            F.broadcast(ic.select(F.col("item").alias("consequent"),
                                  F.col("n_item").alias("n_b"))),
            "consequent",
        )
        .crossJoin(F.broadcast(nb))
    )
    return (
        r.select(
            "antecedent", "consequent", "n_ab", "n_a", "n_b", "n_baskets",
            F.expr(_AR_SUP).alias("support"),
            F.expr(_AR_CONF).alias("confidence"),
            F.expr(_AR_LIFT).alias("lift"),
        )
        .orderBy(F.desc("lift"), "antecedent", "consequent")
        .limit(_AR_TOPK)
    )


# --- multivariate outliers: 2-D Mahalanobis distance ----------------------
# The multivariate step past q_anomaly_zscore/q_mad: per event_type,
# score each event by its Mahalanobis distance over the (value,
# hour-of-day) pair — a high value AT AN UNUSUAL HOUR outranks the same
# value at a routine hour, which no per-feature z-score can express.
# The 2×2 covariance inverts in closed form (det & adjugate — no
# linear-algebra library, no iteration), so the whole computation is
# quantized exact-integer sufficient statistics (1e3 for value — the
# fixture's tick precision is 1e-2, and 1e3 keeps vq^2 sums in bigint
# to ~1e8 rows; exact
# ints for hour) + ONE fixed-order IEEE finish shared with the oracle.
# Top-3 per type by squared distance, event_id tie-break. Plan: one
# map-side-combinable stats aggregate, broadcast back onto the scan,
# one per-type rank window — two exchanges end-to-end at any scale.
_MH_Q = "CAST(floor(value * 1000 + 0.5) AS BIGINT)"
_MH_STATS = (
    # population moments from quantized sums (vq scaled 1e3, h exact)
    "(CAST(s_v AS DOUBLE) / n / CAST(1000 AS DOUBLE))",  # mean_v
    "(CAST(s_h AS DOUBLE) / n)",  # mean_h
)
_MH_CXX = (
    "((CAST(s_vv AS DOUBLE) / n"
    " - (CAST(s_v AS DOUBLE) / n) * (CAST(s_v AS DOUBLE) / n))"
    " / (CAST(1000 AS DOUBLE) * CAST(1000 AS DOUBLE)))"
)
_MH_CYY = (
    "((CAST(s_hh AS DOUBLE) / n"
    " - (CAST(s_h AS DOUBLE) / n) * (CAST(s_h AS DOUBLE) / n)))"
)
_MH_CXY = (
    "((CAST(s_vh AS DOUBLE) / n"
    " - (CAST(s_v AS DOUBLE) / n) * (CAST(s_h AS DOUBLE) / n))"
    " / CAST(1000 AS DOUBLE))"
)
# det and the quadratic form — written once, evaluated verbatim twice.
_MH_DET = f"({_MH_CXX} * {_MH_CYY} - {_MH_CXY} * {_MH_CXY})"
_MH_DX = f"(value - {_MH_STATS[0]})"
_MH_DY = f"(CAST(hr AS DOUBLE) - {_MH_STATS[1]})"
_MH_D2 = (
    f"((({_MH_CYY} * {_MH_DX} * {_MH_DX})"
    f" - (CAST(2 AS DOUBLE) * {_MH_CXY} * {_MH_DX} * {_MH_DY})"
    f" + ({_MH_CXX} * {_MH_DY} * {_MH_DY})) / nullif({_MH_DET}, 0))"
)


@_q(
    "q_outlier_maha",
    f"""
    WITH base AS (
        SELECT event_type, event_id, value,
               CAST(hour(ts) AS BIGINT) AS hr,
               {_MH_Q} AS vq
        FROM events
    ), stats AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(vq) AS BIGINT) AS s_v,
               CAST(SUM(hr) AS BIGINT) AS s_h,
               CAST(SUM(vq * vq) AS BIGINT) AS s_vv,
               CAST(SUM(hr * hr) AS BIGINT) AS s_hh,
               CAST(SUM(vq * hr) AS BIGINT) AS s_vh
        FROM base GROUP BY event_type
    ), scored AS (
        SELECT b.event_type, b.event_id, b.value, b.hr,
               {_MH_D2} AS maha_sq
        FROM base b JOIN stats USING (event_type)
    )
    SELECT event_type, event_id, value, hr, maha_sq,
           CAST(row_number() OVER (PARTITION BY event_type
                                   ORDER BY maha_sq DESC, event_id)
                AS INTEGER) AS rank
    FROM scored
    QUALIFY rank <= 3
    """,
)
def q_outlier_maha(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = t(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        "value",
        F.hour("ts").cast("bigint").alias("hr"),
        F.expr(_MH_Q).alias("vq"),
    )
    stats = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("vq").cast("bigint").alias("s_v"),
        F.sum("hr").cast("bigint").alias("s_h"),
        F.sum(F.col("vq") * F.col("vq")).cast("bigint").alias("s_vv"),
        F.sum(F.col("hr") * F.col("hr")).cast("bigint").alias("s_hh"),
        F.sum(F.col("vq") * F.col("hr")).cast("bigint").alias("s_vh"),
    )
    scored = base.join(F.broadcast(stats), "event_type").select(
        "event_type", "event_id", "value", "hr",
        F.expr(_MH_D2).alias("maha_sq"),
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("maha_sq"), "event_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 3)
    )


# --- multi-touch attribution (linear credit) ------------------------------
# The fractional complement to q_attribution's binary last-touch: every
# click/view in the hour before a purchase shares the conversion credit
# equally (1/n per touchpoint — the "linear" model). Fractional credits
# are ORDER-DEPENDENT double sums, so each touch's credit is quantized
# to an exact integer (floor(1e12/n + 0.5), the module policy) before
# aggregation; the per-channel totals are then exact and the final
# divisions fixed-order. Plan: purchases × touches is a per-user
# interval self-join — one user_id exchange, per-user fan-out bounded
# by the 1-hour window — then O(channels) aggregates.
_MT_CREDIT_Q = (
    "CAST(floor((CAST(1 AS DOUBLE) / CAST(n_touches AS DOUBLE))"
    " * 1000000000000 + 0.5) AS BIGINT)"
)
_MT_CREDIT = "(CAST(s_credit AS DOUBLE) / CAST(1000000000000 AS DOUBLE))"


@_q(
    "q_attribution_multi",
    f"""
    WITH p AS (
        SELECT user_id, ts AS pts, event_id AS pid
        FROM events WHERE event_type = 'purchase'
    ), tch AS (
        SELECT user_id, ts AS tts, event_id AS tid, event_type AS channel
        FROM events WHERE event_type IN ('click', 'view')
    ), pair AS (
        SELECT p.pid, tch.tid, tch.channel,
               COUNT(*) OVER (PARTITION BY p.pid) AS n_touches
        FROM p JOIN tch
          ON p.user_id = tch.user_id
         AND tch.tts < p.pts
         AND p.pts - tch.tts <= INTERVAL 1 HOUR
    ), credited AS (
        SELECT channel, pid, {_MT_CREDIT_Q} AS credit_q FROM pair
    )
    SELECT channel,
           CAST(COUNT(*) AS BIGINT) AS n_touchpoints,
           CAST(COUNT(DISTINCT pid) AS BIGINT) AS n_purchases_touched,
           CAST(SUM(credit_q) AS BIGINT) AS s_credit,
           {_MT_CREDIT} AS total_credit
    FROM credited
    GROUP BY channel
    """,
)
def q_attribution_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"), F.col("event_id").alias("pid")
    )
    tch = ev.where(F.col("event_type").isin("click", "view")).select(
        "user_id",
        F.col("ts").alias("tts"),
        F.col("event_id").alias("tid"),
        F.col("event_type").alias("channel"),
    )
    pair = (
        p.join(tch, "user_id")
        .where(
            (F.col("tts") < F.col("pts"))
            & F.expr("pts - tts <= INTERVAL 1 HOUR")
        )
        .withColumn(
            "n_touches", F.count(F.lit(1)).over(Window.partitionBy("pid"))
        )
    )
    credited = pair.select(
        "channel", "pid", F.expr(_MT_CREDIT_Q).alias("credit_q")
    )
    return credited.groupBy("channel").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_touchpoints"),
        F.count_distinct("pid").cast("bigint").alias("n_purchases_touched"),
        F.sum("credit_q").cast("bigint").alias("s_credit"),
    ).select(
        "channel", "n_touchpoints", "n_purchases_touched", "s_credit",
        F.expr(_MT_CREDIT).alias("total_credit"),
    )


# --- empirical-Bayes rate smoothing (Beta prior shrinkage) ----------------
# The ads/recsys estimator q_wilson_rank's confidence bound complements:
# shrink each user's click-through rate toward the global prior with a
# documented fixed-strength Beta(a, b) pseudo-count prior —
# smoothed = (clicks + a) / (trials + a + b). Small-sample users pull
# hard toward the prior; heavy users keep their empirical rate. Every
# number is an exact integer count or a fixed-order ratio with literal
# pseudo-counts, so the ranking is bit-identical cross-engine
# (deterministic user_id tie-break at the LIMIT cut). Plan: one user
# aggregate with map-side combine + a global top-k — the same two-
# exchange shape as q_wilson_rank.
_EB_A = 3  # prior pseudo-clicks
_EB_B = 12  # prior pseudo-non-clicks
_EB_RAW = "(CAST(n_clicks AS DOUBLE) / CAST(n_events AS DOUBLE))"
_EB_SMOOTH = (
    f"(CAST(n_clicks + {_EB_A} AS DOUBLE)"
    f" / CAST(n_events + {_EB_A} + {_EB_B} AS DOUBLE))"
)


@_q(
    "q_rate_smoothing",
    f"""
    WITH u AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_clicks
        FROM events GROUP BY user_id
    )
    SELECT user_id, n_events, n_clicks,
           {_EB_RAW} AS raw_rate,
           {_EB_SMOOTH} AS smoothed_rate
    FROM u
    ORDER BY smoothed_rate DESC, user_id
    LIMIT 25
    """,
)
def q_rate_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("bigint")
            .alias("n_clicks"),
        )
    )
    return (
        u.select(
            "user_id", "n_events", "n_clicks",
            F.expr(_EB_RAW).alias("raw_rate"),
            F.expr(_EB_SMOOTH).alias("smoothed_rate"),
        )
        .orderBy(F.desc("smoothed_rate"), "user_id")
        .limit(25)
    )


# --- sequence-order audit: per-user monotonicity inversions ---------------
# The event-log contract check q_dq_audit's row-local rules cannot see:
# within each user's stream, event_id order and event-time order should
# agree; an "inversion" (next event_id carries an EARLIER timestamp) is
# clock skew, replay, or producer reordering. One user_id exchange; the
# LEAD comparison runs inside the per-user sort and the rollup is
# map-side combinable. Output: per-user inversion counts for offenders
# plus a deterministic global summary row (user_id = -1).
@_q(
    "q_monotonic_audit",
    """
    WITH seq AS (
        SELECT user_id, ts,
               LEAD(ts) OVER (PARTITION BY user_id
                              ORDER BY event_id) AS next_ts
        FROM events
    ), per AS (
        SELECT user_id,
               CAST(COUNT(next_ts) AS BIGINT) AS n_steps,
               CAST(SUM(CASE WHEN next_ts < ts THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_inversions
        FROM seq GROUP BY user_id
    )
    SELECT user_id, n_steps, n_inversions FROM per WHERE n_inversions > 0
    UNION ALL
    SELECT CAST(-1 AS BIGINT) AS user_id,
           CAST(SUM(n_steps) AS BIGINT) AS n_steps,
           CAST(SUM(n_inversions) AS BIGINT) AS n_inversions
    FROM per
    """,
)
def q_monotonic_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("event_id")
    seq = t(spark, sf_dir, "events").select(
        "user_id", "ts", F.lead("ts").over(w).alias("next_ts")
    )
    per = seq.groupBy("user_id").agg(
        F.count("next_ts").cast("bigint").alias("n_steps"),
        F.sum(F.when(F.col("next_ts") < F.col("ts"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_inversions"),
    )
    offenders = per.where(F.col("n_inversions") > 0)
    summary = per.agg(
        F.lit(-1).cast("bigint").alias("user_id"),
        F.sum("n_steps").cast("bigint").alias("n_steps"),
        F.sum("n_inversions").cast("bigint").alias("n_inversions"),
    )
    return offenders.unionAll(summary)


# --- Mann-Whitney U rank-sum test (round 4) -------------------------------
# The nonparametric two-sample test the stats pack was missing next to
# q_ks_drift / q_chi2 / q_abtest: does one event_type's value
# distribution stochastically dominate the rest? One-vs-rest per type.
# Exactness strategy: average tie ranks are half-integers, so DOUBLED
# ranks are pure BIGINTs — r2(v) = 2*(#less) + (#equal) + 1. Every sum
# (rank sums, counts) is an exact integer aggregate; U and the normal
# approximation z are then a handful of IEEE ops written ONCE as shared
# SQL text for both engines (no tie-correction term in the variance —
# documented simplification, identical on both sides).
# Plan: the rank table lives on DISTINCT values (collapses duplicates
# before any window); the per-(type,value) join is a broadcast of the
# O(|distinct|) rank relation at 100 TB, and the global cumsum over
# distinct values takes the q_train_order range-partitioned ranking
# shape when |distinct| is itself huge.
_MW_U = "(CAST(r1_2 - n1 * (n1 + 1) AS DOUBLE) / CAST(2 AS DOUBLE))"
_MW_Z = (
    f"(({_MW_U} - CAST(n1 * n2 AS DOUBLE) / CAST(2 AS DOUBLE))"
    " / sqrt(CAST(n1 * n2 AS DOUBLE) * CAST(n1 + n2 + 1 AS DOUBLE)"
    " / CAST(12 AS DOUBLE)))"
)


@_q(
    "q_mannwhitney",
    f"""
    WITH vc AS (
        SELECT value, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events WHERE value IS NOT NULL GROUP BY value
    ), v2 AS (
        SELECT value,
               CAST(2 * (SUM(cnt) OVER (ORDER BY value
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         - cnt) + cnt + 1 AS BIGINT) AS r2
        FROM vc
    ), gv AS (
        SELECT event_type, value, CAST(COUNT(*) AS BIGINT) AS gcnt
        FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM events
        WHERE value IS NOT NULL
    ), per AS (
        SELECT event_type,
               CAST(SUM(gcnt) AS BIGINT) AS n1,
               CAST(SUM(gcnt * r2) AS BIGINT) AS r1_2
        FROM gv JOIN v2 USING (value) GROUP BY event_type
    ), sized AS (
        SELECT event_type, n1, CAST(n - n1 AS BIGINT) AS n2, r1_2
        FROM per CROSS JOIN tot
    )
    SELECT event_type, n1, n2, {_MW_U} AS u, {_MW_Z} AS z
    FROM sized
    """,
)
def q_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    vc = e.groupBy("value").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    # the value support is near-fact-sized (DOUBLE values): the running
    # rank-sum rides the range-partitioned global_order (plans/rank.py)
    v2 = global_order(vc, ["value"], cum_sums={"_cs": "cnt"}).select(
        "value",
        (2 * (F.col("_cs") - F.col("cnt")) + F.col("cnt") + 1)
        .cast("bigint")
        .alias("r2"),
    )
    gv = e.groupBy("event_type", "value").agg(
        F.count(F.lit(1)).cast("bigint").alias("gcnt")
    )
    tot = e.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    per = gv.join(v2, "value").groupBy("event_type").agg(
        F.sum("gcnt").cast("bigint").alias("n1"),
        F.sum(F.col("gcnt") * F.col("r2")).cast("bigint").alias("r1_2"),
    )
    sized = per.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n1",
        (F.col("n") - F.col("n1")).cast("bigint").alias("n2"),
        "r1_2",
    )
    return sized.select(
        "event_type", "n1", "n2",
        F.expr(_MW_U).alias("u"),
        F.expr(_MW_Z).alias("z"),
    )


# --- Theil-Sen robust trend slope per user (round 4) ----------------------
# The robust regression counterpart to q_ols_by_group: the median of all
# pairwise slopes is insensitive to up to ~29% outliers, which OLS is
# not. Slope of value vs time (per hour) over every ordered event pair
# within a user. Exactness: dt is an exact BIGINT microsecond
# difference; dv is one IEEE subtraction; the per-hour slope is the
# shared two-op expression text below; the median is SELECTED (lower
# middle via row_number = (m+1) div 2), never averaged, so the output
# is a value both engines computed identically. Plan: the pair build is
# a per-user self-join — quadratic in per-key density — so the input is
# FIRST capped to _TS_CAP events per user with a deterministic
# hash-ranked sample (row_number over a Knuth-mix of the timestamp,
# mirrored bit-exactly in the oracle). The cap bounds the join at
# _TS_CAP²/2 pairs per key no matter how hot a user_id gets at 100 TB;
# the Theil–Sen estimator is explicitly sample-robust. 128 exceeds the
# fixture's per-user max (99 at sf0.1), so gated results are the exact
# full-data answer while the guard stays in the plan. The hash key is
# pure BIGINT ((tus % 1000003) · 2654435761 < 2^52 — no overflow, no
# engine-specific hash), tie-broken by tus itself, so the kept set is
# identical in both engines.
_TS_CAP = 128
_TS_CAP_KEY = "((tus % 1000003) * 2654435761) % 4294967296"
_TS_SLOPE = "((dv * 3600000000.0) / CAST(dt AS DOUBLE))"


@_q(
    "q_theilsen",
    f"""
    WITH e AS (
        SELECT user_id, epoch_us(ts) AS tus, value AS v
        FROM events WHERE value IS NOT NULL
    ), c AS (
        SELECT user_id, tus, v FROM (
            SELECT user_id, tus, v,
                   row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY {_TS_CAP_KEY}, tus
                   ) AS srn
            FROM e
        ) WHERE srn <= {_TS_CAP}
    ), p AS (
        SELECT a.user_id, b.v - a.v AS dv, b.tus - a.tus AS dt
        FROM c a JOIN c b ON a.user_id = b.user_id AND a.tus < b.tus
    ), s AS (
        SELECT user_id, {_TS_SLOPE} AS slope FROM p
    ), r AS (
        SELECT user_id, slope,
               row_number() OVER (PARTITION BY user_id ORDER BY slope) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS m
        FROM s
    )
    SELECT user_id, m AS n_pairs, slope AS trend_slope_per_hour
    FROM r WHERE rn = (m + 1) // 2
    """,
)
def q_theilsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (
        t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select("user_id", F.unix_micros("ts").alias("tus"), F.col("value").alias("v"))
    )
    wcap = Window.partitionBy("user_id").orderBy(F.expr(_TS_CAP_KEY), F.col("tus"))
    # persist: the capped relation feeds BOTH sides of the self-join;
    # unpersisted, each side re-pays the scan + cap window (the
    # q_triangles shared-edge-relation discipline). The capped frame is
    # <=_TS_CAP rows/user — far smaller than the input it replaces.
    e = track_persist(
        e.withColumn("srn", F.row_number().over(wcap))
        .where(F.col("srn") <= _TS_CAP)
        .drop("srn")
    )
    a, b = e.alias("a"), e.alias("b")
    p = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.tus") < F.col("b.tus")),
    ).select(
        F.col("a.user_id").alias("user_id"),
        (F.col("b.v") - F.col("a.v")).alias("dv"),
        (F.col("b.tus") - F.col("a.tus")).alias("dt"),
    )
    s = p.select("user_id", F.expr(_TS_SLOPE).alias("slope"))
    wu = Window.partitionBy("user_id")
    r = s.select(
        "user_id",
        "slope",
        F.row_number().over(wu.orderBy("slope")).alias("rn"),
        F.count(F.lit(1)).over(wu).cast("bigint").alias("m"),
    )
    return r.where(F.col("rn") == F.expr("(m + 1) div 2")).select(
        "user_id",
        F.col("m").alias("n_pairs"),
        F.col("slope").alias("trend_slope_per_hour"),
    )


# --- audience-overlap matrix (segment Jaccard, round 4) -------------------
# Pairwise Jaccard similarity between the USER SETS of every event-type
# pair — the audience-overlap matrix growth/ads teams pull before
# merging segments. Distinct from q_covisit (co-occurrence counts
# within a basket): this is set overlap across the whole activity
# horizon. All counts are exact integers off ONE distinct (user, type)
# relation; Jaccard = one final division. Plan: distinct → self-join on
# user_id (per-user type lists are tiny; the join output is bounded by
# |users| * types²) → (a, b) aggregate joined to the broadcast per-type
# totals. At 100 TB: one user_id shuffle for the distinct + join
# (shared partitioning), then O(types²) rows.
@_q(
    "q_audience_overlap",
    """
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    tc AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users
        FROM ut GROUP BY event_type
    ), pair AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(COUNT(*) AS BIGINT) AS n_both
        FROM ut a JOIN ut b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b, ta.n_users AS n_a, tb.n_users AS n_b,
           p.n_both,
           CAST(p.n_both AS DOUBLE)
               / CAST(ta.n_users + tb.n_users - p.n_both AS DOUBLE)
               AS jaccard
    FROM pair p
    JOIN tc ta ON ta.event_type = p.type_a
    JOIN tc tb ON tb.event_type = p.type_b
    """,
)
def q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ut = t(spark, sf_dir, "events").select("user_id", "event_type").distinct()
    tc = ut.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    a, b = ut.alias("a"), ut.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
    )
    ta = tc.select(F.col("event_type").alias("type_a"), F.col("n_users").alias("n_a"))
    tb = tc.select(F.col("event_type").alias("type_b"), F.col("n_users").alias("n_b"))
    return (
        pair.join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .select(
            "type_a", "type_b", "n_a", "n_b", "n_both",
            (
                F.col("n_both").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")).cast("double")
            ).alias("jaccard"),
        )
    )


# --- Lorenz deciles / revenue concentration (round 4) ---------------------
# The concentration table behind a Gini number (q_gini_sources gives the
# scalar; this gives the curve): customers ranked into revenue deciles,
# each decile's exact revenue, share, and cumulative share. Revenue
# stays DECIMAL(38,6) through BOTH aggregation levels (per-customer,
# per-decile) and the 10-row cumulative window, so every sum is
# order-free exact; the two shares are single IEEE divisions of
# identically-derived doubles. ntile ties are broken by customer id —
# fully deterministic bucket assignment in both engines.
# Plan: one customer-keyed aggregate; the decile ranking is a global
# sort of O(|customers|) rows — at 100 TB use the q_train_order
# range-partitioned ranking; the decile rollup is 10 rows.
@_q(
    "q_lorenz_deciles",
    """
    WITH rev AS (
        SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS r
        FROM orders GROUP BY o_custkey
    ), ranked AS (
        SELECT o_custkey, r,
               ntile(10) OVER (ORDER BY r, o_custkey) AS decile
        FROM rev
    ), per AS (
        SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_customers, SUM(r) AS dr
        FROM ranked GROUP BY decile
    ), tot AS (SELECT SUM(r) AS tr FROM rev)
    SELECT CAST(decile AS INTEGER) AS decile, n_customers,
           CAST(dr AS DOUBLE) AS decile_revenue,
           CAST(dr AS DOUBLE) / CAST(tr AS DOUBLE) AS revenue_share,
           CAST(SUM(dr) OVER (ORDER BY decile
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS DOUBLE)
               / CAST(tr AS DOUBLE) AS cum_share
    FROM per CROSS JOIN tot
    """,
)
def q_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("r")
    )
    # per-customer revenue is dimension-sized (corpus-shaped at
    # 100 TB): decile via the range-partitioned ntile (plans/rank.py)
    ranked = global_ntile(
        rev, ["r", "o_custkey"], 10, bucket_col="decile"
    )
    per = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("r").alias("dr"),
    )
    tot = rev.agg(F.sum("r").alias("tr"))
    wcum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return per.crossJoin(F.broadcast(tot)).select(
        F.col("decile").cast("integer").alias("decile"),
        "n_customers",
        F.col("dr").cast("double").alias("decile_revenue"),
        (F.col("dr").cast("double") / F.col("tr").cast("double")).alias(
            "revenue_share"
        ),
        (
            F.sum("dr").over(wcum).cast("double") / F.col("tr").cast("double")
        ).alias("cum_share"),
    )


# --- slice finder: worst data slices by Wilson lower bound (round 4) -------
# The data-quality triage op LLM pipelines run before training: scan
# candidate slices of the corpus (here the GROUPING SETS lattice over
# event_type × day-part) and rank them by the Wilson lower confidence
# bound of their success rate — the same statistically-honest ranking
# as q_wilson_rank (shared `_WILSON` expression text, cannot drift),
# applied per-slice so tiny terrible slices don't outrank large
# mediocre ones. Both engines evaluate the IDENTICAL SQL text (the
# q_wilson_rank discipline): one GROUPING SETS aggregate (Spark expands
# it into a single Expand + hash aggregate — one shuffle), a scalar
# Wilson formula (sqrt only — no transcendental ban violation), and a
# deterministic bottom-15 with slice-label tie-break. 100 TB: the
# aggregate is map-side combinable and output-tiny (|types| × |parts|
# lattice); adding slice dimensions grows the Expand factor linearly,
# never a second scan.
def _slice_finder_sql(table: str) -> str:
    return f"""
    WITH base AS (
        SELECT CASE WHEN value > 100 THEN 1 ELSE 0 END AS hit,
               event_type,
               CASE WHEN hour(ts) < 6 THEN 'night'
                    WHEN hour(ts) < 12 THEN 'morning'
                    WHEN hour(ts) < 18 THEN 'afternoon'
                    ELSE 'evening' END AS day_part
        FROM {table}
    ), g AS (
        SELECT CASE WHEN GROUPING(event_type) = 0 AND GROUPING(day_part) = 0
                    THEN concat('type=', event_type, '&part=', day_part)
                    WHEN GROUPING(event_type) = 0
                    THEN concat('type=', event_type)
                    ELSE concat('part=', day_part) END AS slice,
               CAST(SUM(hit) AS DOUBLE) AS hits,
               CAST(COUNT(*) AS DOUBLE) AS n
        FROM base
        GROUP BY GROUPING SETS ((event_type), (day_part),
                                (event_type, day_part))
    ), p AS (
        SELECT slice, hits, n, hits / n AS p FROM g
    )
    SELECT slice, CAST(hits AS BIGINT) AS n_hits, CAST(n AS BIGINT) AS n_total,
           p AS rate, {_WILSON} AS wilson_lower
    FROM p
    ORDER BY wilson_lower, slice
    LIMIT 15
    """


@_q("q_slice_finder", _slice_finder_sql("events"))
def q_slice_finder(spark: SparkSession, sf_dir: str) -> DataFrame:
    t(spark, sf_dir, "events").createOrReplaceTempView("events_slice")
    return spark.sql(_slice_finder_sql("events_slice"))


# --- storage-layout advisor: run-length + cardinality profile (round 4) ----
# The companion to q_zorder_layout: for each candidate column, how many
# VALUE RUNS does the table hold in its reference order, and how many
# distinct values — the two numbers that decide whether RLE / dictionary
# encoding pays and which sort key would compress best (runs →
# n_distinct under a perfect sort). The reference order is
# (l_orderkey, l_linenumber, <audited columns>): the fixture's
# (l_orderkey, l_linenumber) is NOT unique, so the audited columns
# complete the total order — rows tying on the full key are identical
# in every audited column, so run counts are permutation-invariant and
# well-defined. The Spark plan is deliberately DISTRIBUTED where the
# naive formulation is not: within-order change points come from a
# window PARTITIONED BY l_orderkey (parallel), and only the per-order
# (first, last) boundary relation — one row per order — flows through
# the global order window, the q_lorenz_deciles discipline (global
# windows rank pre-aggregated rows, never raw line items). The oracle
# computes the same runs with one flat global lag — two independent
# formulations, one answer. Counts exact; avg_run_len is one final
# division.
_RLE_COLS = ("l_returnflag", "l_linestatus", "l_suppkey", "l_quantity")
_RLE_ORDER = ("l_linenumber",) + _RLE_COLS


def _rle_oracle() -> str:
    order = ", ".join(("l_orderkey",) + _RLE_ORDER)
    lags = ", ".join(
        f"lag({c}) OVER w AS p_{c}" for c in _RLE_COLS
    )
    runs = ", ".join(
        f"CAST(1 + SUM(CASE WHEN p_{c} IS NOT NULL AND p_{c} <> {c} "
        f"THEN 1 ELSE 0 END) AS BIGINT) AS runs_{c}"
        for c in _RLE_COLS
    )
    dists = ", ".join(
        f"CAST(COUNT(DISTINCT {c}) AS BIGINT) AS d_{c}" for c in _RLE_COLS
    )
    rows = " UNION ALL ".join(
        f"SELECT '{c}' AS column_name, n_rows, d_{c} AS n_distinct, "
        f"runs_{c} AS n_runs, "
        f"CAST(n_rows AS DOUBLE) / CAST(runs_{c} AS DOUBLE) AS avg_run_len "
        f"FROM agg"
        for c in _RLE_COLS
    )
    return f"""
    WITH ord AS (
        SELECT {", ".join(_RLE_COLS)}, {lags}
        FROM lineitem
        WINDOW w AS (ORDER BY {order})
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, {runs}, {dists}
        FROM ord
    )
    {rows}
    """


@_q("q_rle_advisor", _rle_oracle())
def q_rle_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", *_RLE_ORDER
    )
    win = Window.partitionBy("l_orderkey").orderBy(*_RLE_ORDER)
    # One struct carries the full within-order sort key; min/max of it
    # are the first/last rows of the order under the total order, and
    # every audited value is a field of it.
    key = F.struct(*_RLE_ORDER).alias("k")
    chg = li.select(
        "l_orderkey",
        key,
        *[
            F.when(
                F.lag(c).over(win).isNotNull()
                & ~F.lag(c).over(win).eqNullSafe(F.col(c)),
                1,
            )
            .otherwise(0)
            .alias(f"wc_{c}")
            for c in _RLE_COLS
        ],
    )
    per_order = chg.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(f"wc_{c}").alias(f"wc_{c}") for c in _RLE_COLS],
        F.min("k").alias("first_k"),
        F.max("k").alias("last_k"),
    )
    # the per-order relation is fact-shaped: LAG in global order =
    # range-partitioned rank (plans/rank.py) + an rn-1 equi self-join
    # (the helper persists the ranked relation, so both join sides read
    # one cached evaluation)
    po = global_rank(per_order, ["l_orderkey"], rank_col="_rn")
    prev = po.select(
        (F.col("_rn") + 1).alias("_rn"),
        F.col("last_k").alias("_prev_last_k"),
    )
    bchg = po.join(prev, "_rn", "left").select(
        "n",
        *[F.col(f"wc_{c}") for c in _RLE_COLS],
        *[
            F.when(
                F.col("_prev_last_k")[c].isNotNull()
                & ~F.col("_prev_last_k")[c].eqNullSafe(F.col("first_k")[c]),
                1,
            )
            .otherwise(0)
            .alias(f"bc_{c}")
            for c in _RLE_COLS
        ],
    )
    totals = bchg.agg(
        F.sum("n").cast("bigint").alias("n_rows"),
        *[
            (F.lit(1) + F.sum(f"wc_{c}") + F.sum(f"bc_{c}"))
            .cast("bigint")
            .alias(f"runs_{c}")
            for c in _RLE_COLS
        ],
    )
    dists = li.agg(
        *[
            F.count_distinct(F.col(c)).cast("bigint").alias(f"d_{c}")
            for c in _RLE_COLS
        ]
    )
    stack_args = ", ".join(
        f"'{c}', d_{c}, runs_{c}" for c in _RLE_COLS
    )
    return (
        totals.crossJoin(F.broadcast(dists))
        .selectExpr(
            "n_rows",
            f"stack({len(_RLE_COLS)}, {stack_args}) AS "
            "(column_name, n_distinct, n_runs)",
        )
        .select(
            "column_name",
            "n_rows",
            "n_distinct",
            "n_runs",
            (
                F.col("n_rows").cast("double")
                / F.col("n_runs").cast("double")
            ).alias("avg_run_len"),
        )
    )


# --- l-diversity audit: the k-anonymity companion (round 4) ----------------
# k-anonymity (q_kanonymity) asks "is every quasi-identifier group big
# enough"; l-diversity asks the stronger question — does every group
# hold at least L distinct SENSITIVE values, so membership in a group
# reveals nothing specific. Same quasi-identifier lattice as
# q_kanonymity ((source, n_chars // 64) buckets), sensitive attribute =
# lang, L = 3. One combinable aggregate (count + count distinct per
# group); output-tiny. All-integer; BOOLEAN flag.
_LDIV_L = 3


@_q(
    "q_anon_ldiversity",
    f"""
    WITH q AS (
        SELECT source, CAST(n_chars // 64 AS BIGINT) AS len_bucket, lang
        FROM documents
    )
    SELECT source, len_bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           COUNT(DISTINCT lang) < {_LDIV_L} AS fails_ldiversity
    FROM q GROUP BY source, len_bucket
    """,
)
def q_anon_ldiversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").select(
        "source",
        F.floor(F.col("n_chars") / 64).cast("bigint").alias("len_bucket"),
        "lang",
    )
    return d.groupBy("source", "len_bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count_distinct("lang").cast("bigint").alias("n_langs"),
        (F.count_distinct("lang") < _LDIV_L).alias("fails_ldiversity"),
    )


# --- tail-concentration audit: top-1% share of value (round 4) --------------
# The SRE/cost question "how much of the total is the tail": per event
# type, what share of total `value` sits in the top 1% of events
# (k = ceil(n/100), ranked by value with event_id tie-break — a strict
# total order, so the cut is deterministic). Sums are decimal-routed
# (order-insensitive, common.py policy); the share is ONE double
# division of two decimal-exact doubles. 100 TB note: the per-type
# rank is a sort — at scale replace row_number with a pre-computed
# threshold (approx_percentile to find the 99th-percentile cut, then a
# filtered decimal sum), same output contract; the fixture-scale form
# keeps the oracle exact.
@_q(
    "q_tail_concentration",
    f"""
    WITH r AS (
        SELECT event_type, value,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY value DESC, event_id
               ) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events
    ), agg AS (
        SELECT event_type,
               CAST(MAX(n) AS BIGINT) AS n_events,
               CAST((MAX(n) + 99) // 100 AS BIGINT) AS k_tail,
               {oracle_dec_sum('value', 'total_value')},
               CAST(SUM(CASE WHEN rn <= (n + 99) // 100
                             THEN CAST(value AS DECIMAL(38,6)) END)
                    AS DOUBLE) AS tail_value
        FROM r GROUP BY event_type
    )
    SELECT event_type, n_events, k_tail, total_value, tail_value,
           tail_value / total_value AS tail_share
    FROM agg
    """,
)
def q_tail_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    wr = Window.partitionBy("event_type").orderBy(
        F.desc("value"), "event_id"
    )
    wn = Window.partitionBy("event_type")
    r = ev.select(
        "event_type",
        "value",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    k = F.floor((F.col("n") + 99) / 100)
    agg = r.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n_events"),
        F.floor((F.max("n") + 99) / 100).cast("bigint").alias("k_tail"),
        dec_sum("value", "total_value"),
        F.sum(
            F.when(F.col("rn") <= k, F.col("value").cast(DEC))
        )
        .cast("double")
        .alias("tail_value"),
    )
    return agg.select(
        "event_type",
        "n_events",
        "k_tail",
        "total_value",
        "tail_value",
        (F.col("tail_value") / F.col("total_value")).alias("tail_share"),
    )


# --- zone-map / data-skipping advisor (round 4) ------------------------------
# Simulates parquet row-group pruning: split events into 500-row blocks
# under (a) the natural event_id order and (b) a value-sorted layout,
# record each block's max(value), and for a grid of `value > X`
# predicates count the blocks a zone map would skip entirely
# (block_max <= X). Natural order prunes ~nothing (values are
# uniform); the sorted layout prunes ~quantile(X) of blocks — the
# measured argument for sort-on-write, completing the layout-advisor
# trio (q_zorder_layout, q_rle_advisor). At 100 TB the block stats ARE
# the parquet footers (free); this query is the planning simulation at
# fixture scale, where the two global row_numbers rank 10k rows.
# All-integer counts, one division.
_ZM_BLOCK = 500
_ZM_THRESHOLDS = (100, 250, 400)


@_q(
    "q_zonemap_advisor",
    f"""
    WITH ranked AS (
        SELECT value,
               ROW_NUMBER() OVER (ORDER BY event_id) AS rn_nat,
               ROW_NUMBER() OVER (ORDER BY value, event_id) AS rn_val
        FROM events
    ), blocks AS (
        SELECT 'natural' AS layout, (rn_nat - 1) // {_ZM_BLOCK} AS block,
               MAX(value) AS block_max
        FROM ranked GROUP BY 2
        UNION ALL
        SELECT 'value_sorted' AS layout, (rn_val - 1) // {_ZM_BLOCK} AS block,
               MAX(value) AS block_max
        FROM ranked GROUP BY 2
    ), grid AS (
        SELECT layout, CAST(g.x AS DOUBLE) AS threshold,
               CAST(COUNT(*) AS BIGINT) AS n_blocks,
               CAST(SUM(CASE WHEN block_max <= g.x THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_prunable
        FROM blocks, (VALUES {", ".join(f"({x})" for x in _ZM_THRESHOLDS)})
             g(x)
        GROUP BY 1, 2
    )
    SELECT layout, threshold, n_blocks, n_prunable,
           CAST(n_prunable AS DOUBLE) / CAST(n_blocks AS DOUBLE)
               AS prune_frac
    FROM grid
    """,
)
def q_zonemap_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("event_id", "value")
    # events are fact-sized: both layout ranks ride the range-
    # partitioned ranker (plans/rank.py) — never a single-partition sort
    ranked = global_rank(ev, ["event_id"], rank_col="rn_nat")
    ranked = global_rank(
        ranked, ["value", "event_id"], rank_col="rn_val"
    ).select("value", "rn_nat", "rn_val")
    def blocks(rn: str, layout: str):
        return (
            ranked.groupBy(
                F.floor((F.col(rn) - 1) / _ZM_BLOCK).alias("block")
            )
            .agg(F.max("value").alias("block_max"))
            .select(F.lit(layout).alias("layout"), "block_max")
        )

    allb = blocks("rn_nat", "natural").unionByName(
        blocks("rn_val", "value_sorted")
    )
    grid = F.explode(
        F.array(*[F.lit(float(x)) for x in _ZM_THRESHOLDS])
    ).alias("threshold")
    return (
        allb.select("layout", "block_max", grid)
        .groupBy("layout", "threshold")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
            F.sum(
                F.when(F.col("block_max") <= F.col("threshold"), 1).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("n_prunable"),
        )
        .select(
            "layout",
            "threshold",
            "n_blocks",
            "n_prunable",
            (
                F.col("n_prunable").cast("double")
                / F.col("n_blocks").cast("double")
            ).alias("prune_frac"),
        )
    )


# --- Cramér's V categorical association (round 4) ----------------------------
# How strongly is event_type associated with time-of-day? Cramér's V =
# sqrt(chi² / (n · min(r−1, c−1))) over the event_type × day-part
# contingency table — the normalized association measure the drift pack
# lacks (mutual information needs log, which stays banned; V is
# sqrt-only). chi² reuses the EXACT shared term/expectation texts and
# the 1e-6 integer-quantized summation of q_chi2 (order-insensitive,
# cross-engine exact); r, c, n are integers from the same tiny
# contingency relation. One combinable aggregate over the raw table;
# everything after runs on ≤ r·c rows.
def _cramers_sql(table: str) -> str:
    return f"""
    WITH o AS (
        SELECT event_type AS rv,
               CASE WHEN hour(ts) < 6 THEN 'night'
                    WHEN hour(ts) < 12 THEN 'morning'
                    WHEN hour(ts) < 18 THEN 'afternoon'
                    ELSE 'evening' END AS cv,
               CAST(COUNT(*) AS BIGINT) AS obs
        FROM {table} GROUP BY 1, 2
    ), m AS (
        SELECT rv, cv, obs,
               CAST(SUM(obs) OVER (PARTITION BY rv) AS BIGINT) AS row_tot,
               CAST(SUM(obs) OVER (PARTITION BY cv) AS BIGINT) AS col_tot,
               CAST(SUM(obs) OVER () AS BIGINT) AS tot
        FROM o
    ), q AS (
        SELECT CAST(floor({_CHI2_TERM} * {_CHI2_TERM} / {_CHI2_EXP}
                          * 1000000 + 0.5) AS BIGINT) AS term_q,
               tot, rv, cv
        FROM m
    ), s AS (
        SELECT CAST(SUM(term_q) AS DOUBLE) / 1000000 AS chi2,
               CAST(MAX(tot) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT rv) AS BIGINT) AS r,
               CAST(COUNT(DISTINCT cv) AS BIGINT) AS c
        FROM q
    )
    SELECT chi2, n, r, c,
           sqrt(chi2 / (CAST(n AS DOUBLE)
                        * CAST(least(r - 1, c - 1) AS DOUBLE)))
               AS cramers_v
    FROM s
    """


@_q("q_cramers_v", _cramers_sql("events"))
def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    t(spark, sf_dir, "events").createOrReplaceTempView("events_cramers")
    return spark.sql(_cramers_sql("events_cramers"))


# --- naive-seasonal forecast backtest (round 4) ------------------------------
# The capacity-planning eval loop: forecast each (type, hour) event
# count with the value 24 hours earlier (naive daily seasonality) and
# score MAE + signed bias per type over the whole history. Counts are
# integers, so every |error| is exact and the two averages are single
# divisions — no float-summation hazard. Plan: one hourly aggregate
# (combinable), one per-type window lag on the tiny (type × 720 hours)
# relation, one final aggregate. At 100 TB only the first aggregate
# touches raw events.
@_q(
    "q_forecast_eval",
    """
    WITH hourly AS (
        SELECT event_type,
               CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ), j AS (
        SELECT a.event_type, a.n AS actual, f.n AS forecast
        FROM hourly a JOIN hourly f
          ON a.event_type = f.event_type AND a.hr = f.hr + 24
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(abs(actual - forecast)) AS DOUBLE) / COUNT(*) AS mae,
           CAST(SUM(actual - forecast) AS DOUBLE) / COUNT(*) AS bias
    FROM j GROUP BY event_type
    """,
)
def q_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("hr"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a = hourly.alias("a")
    f_ = hourly.alias("f")
    j = a.join(
        f_,
        (F.col("a.event_type") == F.col("f.event_type"))
        & (F.col("a.hr") == F.col("f.hr") + 24),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.n").alias("actual"),
        F.col("f.n").alias("forecast"),
    )
    err = F.col("actual") - F.col("forecast")
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        (F.sum(F.abs(err)).cast("double") / F.count(F.lit(1))).alias("mae"),
        (F.sum(err).cast("double") / F.count(F.lit(1))).alias("bias"),
    )


# --- shuffle/file partition planner (round 4) --------------------------------
# The autotuning arithmetic every job does by hand: estimate each
# table's in-flight byte size from a fixed-width column model (8 B per
# 64-bit numeric/timestamp, 4 B per int32, actual length per string)
# and recommend the partition count that lands ~128 MB per partition —
# the number you'd feed spark.sql.shuffle.partitions or a writer's
# repartition before producing files. The estimate is ONE combinable
# aggregate per table (count + length sums); the recommendation is
# ceil-division. Exact integers end-to-end; avg_row_bytes is one
# division. At 100 TB this query IS the plan — it reads stats, not
# data, when the catalog has them; here it derives them with one scan.
_PP_TARGET = 128 * 1024 * 1024


@_q(
    "q_partition_planner",
    f"""
    WITH li AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(*) * 68
                    + SUM(length(l_returnflag) + length(l_linestatus))
                    AS BIGINT) AS est_bytes
        FROM lineitem
    ), ev AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(*) * 32
                    + SUM(length(event_type) + length(props))
                    AS BIGINT) AS est_bytes
        FROM events
    ), docs AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(*) * 16
                    + SUM(length(text) + length(lang) + length(source))
                    AS BIGINT) AS est_bytes
        FROM documents
    ), u AS (
        SELECT 'lineitem' AS table_name, * FROM li
        UNION ALL SELECT 'events', * FROM ev
        UNION ALL SELECT 'documents', * FROM docs
    )
    SELECT table_name, n_rows, est_bytes,
           CAST(est_bytes AS DOUBLE) / CAST(n_rows AS DOUBLE)
               AS avg_row_bytes,
           CAST(greatest((est_bytes + {_PP_TARGET} - 1) // {_PP_TARGET}, 1)
                AS BIGINT) AS rec_partitions
    FROM u
    """,
)
def q_partition_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    def est(table: str, fixed: int, strcols: list[str]):
        df = t(spark, sf_dir, table)
        return df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            (
                F.count(F.lit(1)) * fixed
                + F.sum(
                    sum(
                        (F.length(c) for c in strcols[1:]),
                        F.length(strcols[0]),
                    )
                )
            )
            .cast("bigint")
            .alias("est_bytes"),
        ).select(F.lit(table).alias("table_name"), "n_rows", "est_bytes")

    u = (
        est("lineitem", 68, ["l_returnflag", "l_linestatus"])
        .unionByName(est("events", 32, ["event_type", "props"]))
        .unionByName(est("documents", 16, ["text", "lang", "source"]))
    )
    return u.select(
        "table_name",
        "n_rows",
        "est_bytes",
        (
            F.col("est_bytes").cast("double") / F.col("n_rows").cast("double")
        ).alias("avg_row_bytes"),
        F.greatest(
            F.floor(
                (F.col("est_bytes") + _PP_TARGET - 1) / _PP_TARGET
            ),
            F.lit(1),
        )
        .cast("bigint")
        .alias("rec_partitions"),
    )


# --- session-gap advisor (round 4) -------------------------------------------
# What session timeout should sessionization use? The empirical answer
# is the distribution of per-user inter-event gaps: this query reports
# the gap deciles (exact element selection over the global gap
# population — integer seconds, no interpolation) so the knee is
# visible and q_window_session's 30-minute constant stops being a guess.
# Plan: per-user lag (window partitioned by user — parallel), then ONE
# global rank over the gap population for the decile cut; at 100 TB the
# decile extraction swaps to approx_percentile, same output contract.
@_q(
    "q_session_gap_advisor",
    """
    WITH g AS (
        SELECT CAST(floor(epoch(ts)) AS BIGINT)
                 - CAST(floor(epoch(lag(ts) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ))) AS BIGINT) AS gap_s
        FROM events
    ), gaps AS (
        SELECT gap_s FROM g WHERE gap_s IS NOT NULL
    ), r AS (
        SELECT gap_s,
               ROW_NUMBER() OVER (ORDER BY gap_s) AS rn,
               COUNT(*) OVER () AS n
        FROM gaps
    ), d AS (
        SELECT CAST(g.d AS INTEGER) AS decile FROM range(1, 10) g(d)
    )
    SELECT d.decile,
           MAX(CASE WHEN r.rn = (r.n * d.decile) // 10 THEN r.gap_s END)
               AS gap_seconds
    FROM d JOIN r ON r.rn = (r.n * d.decile) // 10
    GROUP BY d.decile
    """,
)
def q_session_gap_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.select(
            (
                F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(wu))
            )
            .cast("bigint")
            .alias("gap_s")
        )
        .where(F.col("gap_s").isNotNull())
    )
    # per-event gaps are fact-sized: rank + total via the range-
    # partitioned ranker (plans/rank.py); ties in gap_s stay inside one
    # range, and every rank's gap_s VALUE is order-deterministic
    r = global_rank(gaps, ["gap_s"], rank_col="rn", total_col="n")
    d = spark.range(1, 10).select(F.col("id").cast("int").alias("decile"))
    return (
        F.broadcast(d)
        .join(r, r.rn == F.floor((r.n * F.col("decile")) / 10))
        .groupBy("decile")
        .agg(F.max("gap_s").alias("gap_seconds"))
    )


# --- float32 downcast precision audit (round 4) ------------------------------
# Before shipping doubles into a float32 embedding/feature store: how
# many values per event type survive the downcast bit-exactly, and how
# large is the worst relative error? CAST(value AS FLOAT) is IEEE
# round-to-nearest in both engines, so the audit is deterministic; the
# max of per-row relative errors is order-free (MAX, not SUM — no
# accumulation hazard). One combinable aggregate.
@_q(
    "q_float32_audit",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN CAST(CAST(value AS REAL) AS DOUBLE) = value
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
           MAX(abs(CAST(CAST(value AS REAL) AS DOUBLE) - value)
               / abs(value)) AS max_rel_err
    FROM events WHERE value <> 0
    GROUP BY event_type
    """,
)
def q_float32_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").where(F.col("value") != 0)
    f32 = F.col("value").cast("float").cast("double")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(f32 == F.col("value"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_exact"),
        F.max(F.abs(f32 - F.col("value")) / F.abs("value")).alias(
            "max_rel_err"
        ),
    )


# --- QQ comparison table (round 4) -------------------------------------------
# Quantile-quantile table for `value` between click and view events:
# both distributions cut at the same nine deciles by exact element
# selection (rank = (n·d) // 10 — no interpolation), giving the
# QQ-plot's coordinate pairs plus their gap. Complements q_ks_drift
# (which reduces the comparison to one statistic) with the full
# shape-vs-shape view. Two windowed ranks over the filtered population.
@_q(
    "q_qq_plot",
    """
    WITH s AS (
        SELECT event_type, value,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY value, event_id
               ) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events WHERE event_type IN ('click', 'view')
    ), d AS (
        SELECT CAST(g.d AS INTEGER) AS decile FROM range(1, 10) g(d)
    ), cut AS (
        SELECT d.decile, s.event_type, MAX(s.value) AS v
        FROM d JOIN s ON s.rn = (s.n * d.decile) // 10
        GROUP BY d.decile, s.event_type
    )
    SELECT a.decile,
           a.v AS click_value,
           b.v AS view_value,
           a.v - b.v AS qq_gap
    FROM cut a JOIN cut b
      ON a.decile = b.decile
     AND a.event_type = 'click' AND b.event_type = 'view'
    """,
)
def q_qq_plot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "view")
    )
    s = ev.select(
        "event_type",
        "value",
        F.row_number()
        .over(
            Window.partitionBy("event_type").orderBy("value", "event_id")
        )
        .alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("event_type"))
        .alias("n"),
    )
    d = spark.range(1, 10).select(F.col("id").cast("int").alias("decile"))
    cut = (
        F.broadcast(d)
        .join(s, s.rn == F.floor((s.n * F.col("decile")) / 10))
        .groupBy("decile", "event_type")
        .agg(F.max("value").alias("v"))
    )
    a = cut.where(F.col("event_type") == "click").select(
        "decile", F.col("v").alias("click_value")
    )
    b = cut.where(F.col("event_type") == "view").select(
        "decile", F.col("v").alias("view_value")
    )
    return a.join(b, "decile").select(
        "decile",
        "click_value",
        "view_value",
        (F.col("click_value") - F.col("view_value")).alias("qq_gap"),
    )


# --- sequential-pattern support: ordered pairs with any gap (round 4) --------
# The level-1 PrefixSpan question q_transitions (ADJACENT Markov pairs)
# cannot answer: for how many users does event type A occur — anywhere
# — before type B? Exists-ordered-pair support reduces to per-(user,
# type) min/max timestamps: A-before-B for a user ⇔ min_ts(A) <
# max_ts(B), so the pair join runs on the ≤ |types| rows per user
# (bounded fan-out, never an event-level self-join). Confidence =
# support / users-with-A. All integers + one division.
@_q(
    "q_seq_rules",
    """
    WITH u AS (
        SELECT user_id, event_type,
               MIN(ts) AS mn, MAX(ts) AS mx
        FROM events GROUP BY user_id, event_type
    ), ua AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users
        FROM u GROUP BY event_type
    ), pair AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(COUNT(*) AS BIGINT) AS n_users_ab
        FROM u a JOIN u b
          ON a.user_id = b.user_id
         AND a.event_type <> b.event_type
         AND a.mn < b.mx
        GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b, p.n_users_ab,
           ua.n_users AS n_users_a,
           CAST(p.n_users_ab AS DOUBLE) / CAST(ua.n_users AS DOUBLE)
               AS confidence
    FROM pair p JOIN ua ON p.type_a = ua.event_type
    """,
)
def q_seq_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    u = ev.groupBy("user_id", "event_type").agg(
        F.min("ts").alias("mn"), F.max("ts").alias("mx")
    )
    ua = u.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    a = u.select(
        "user_id", F.col("event_type").alias("type_a"), F.col("mn").alias("a_mn")
    )
    b = u.select(
        "user_id", F.col("event_type").alias("type_b"), F.col("mx").alias("b_mx")
    )
    pair = (
        a.join(b, "user_id")
        .where(
            (F.col("type_a") != F.col("type_b"))
            & (F.col("a_mn") < F.col("b_mx"))
        )
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users_ab"))
    )
    return (
        pair.join(
            F.broadcast(ua.withColumnRenamed("event_type", "type_a")),
            "type_a",
        )
        .select(
            "type_a",
            "type_b",
            "n_users_ab",
            F.col("n_users").alias("n_users_a"),
            (
                F.col("n_users_ab").cast("double")
                / F.col("n_users").cast("double")
            ).alias("confidence"),
        )
    )


# --- Poisson bootstrap confidence intervals (round 4) ------------------------
# The one-pass bootstrap that actually works on a cluster: instead of
# resampling rows (impossible without global coordination), each of
# B = 32 replicates gives every row a Poisson(1)-distributed weight —
# here DERIVED FROM md5(event_id:replicate), with the Poisson pmf
# cut at hard-coded 32-bit integer thresholds (P(0), P(0..1), P(0..2)
# of Poisson(1) scaled by 2^32; tail collapsed to weight 3) so the
# "randomness" is reproducible and cross-engine exact. Replicate means
# are weighted DECIMAL sums over integer weights (order-insensitive);
# the 90%-ish band is ELEMENT SELECTION (3rd and 30th of the 32 sorted
# replicate means — no interpolation). One explode(×32) + two
# combinable aggregates; at 100 TB this is the textbook
# streaming-bootstrap plan (Chamandy et al.), no second pass.
_PB_B = 32
# round of cumulative Poisson(1) pmf × 2^32. C2 was 3950075380 through
# round 8 — a hand-derivation slip of −42 (~1e-8 probability mass),
# found by the round-9 math.exp re-derivation test
# (tests/test_r9window_audit3.py); the differential gate never sees
# this class because both engines share the constant.
_PB_C0 = 1580030169   # P(X=0)  = e^-1
_PB_C1 = 3160060337   # P(X<=1)
_PB_C2 = 3950075422   # P(X<=2) = 2.5 e^-1


@_q(
    "q_poisson_bootstrap",
    f"""
    WITH g AS (
        SELECT event_type, value, r.b,
               CAST('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':' ||
                                       CAST(r.b AS VARCHAR)), 1, 8)
                    AS BIGINT) AS h
        FROM events, range(0, {_PB_B}) r(b)
    ), w AS (
        SELECT event_type, value, b,
               CASE WHEN h < {_PB_C0} THEN 0
                    WHEN h < {_PB_C1} THEN 1
                    WHEN h < {_PB_C2} THEN 2
                    ELSE 3 END AS wt
        FROM g
    ), rep AS (
        SELECT event_type, b,
               CAST(SUM(wt * CAST(value AS DECIMAL(38,6))) AS DOUBLE)
                 / CAST(SUM(wt) AS BIGINT) AS m
        FROM w GROUP BY event_type, b
    ), rk AS (
        SELECT event_type, m,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY m, b
               ) AS rn
        FROM rep
    ), point AS (
        SELECT event_type,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
                   AS point_mean
        FROM events GROUP BY event_type
    )
    SELECT p.event_type, p.point_mean,
           MAX(CASE WHEN rk.rn = 3 THEN rk.m END) AS boot_lo,
           MAX(CASE WHEN rk.rn = {_PB_B} - 2 THEN rk.m END) AS boot_hi
    FROM point p JOIN rk ON p.event_type = rk.event_type
    GROUP BY p.event_type, p.point_mean
    """,
)
def q_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tr(): the B-way resample explode + md5 weight derivation fused
    # into the single scan task (round-12 sweep); A/B 4.3 -> 0.8 s.
    ev = tr(spark, sf_dir, "events")
    g = ev.select(
        "event_type",
        "value",
        F.explode(F.sequence(F.lit(0), F.lit(_PB_B - 1))).alias("b"),
        "event_id",
    ).select(
        "event_type",
        "value",
        "b",
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("event_id").cast("string"),
                        F.col("b").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("h"),
    )
    w = g.select(
        "event_type",
        "value",
        "b",
        F.when(F.col("h") < _PB_C0, 0)
        .when(F.col("h") < _PB_C1, 1)
        .when(F.col("h") < _PB_C2, 2)
        .otherwise(3)
        .alias("wt"),
    )
    rep = w.groupBy("event_type", "b").agg(
        (
            F.sum(F.col("wt") * F.col("value").cast(DEC)).cast("double")
            / F.sum("wt").cast("bigint")
        ).alias("m")
    )
    rk = rep.select(
        "event_type",
        "m",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("m", "b"))
        .alias("rn"),
    )
    point = ev.groupBy("event_type").agg(
        (F.sum(F.col("value").cast(DEC)).cast("double") / F.count("value")).alias(
            "point_mean"
        )
    )
    return (
        point.join(rk, "event_type")
        .groupBy("event_type", "point_mean")
        .agg(
            F.max(F.when(F.col("rn") == 3, F.col("m"))).alias("boot_lo"),
            F.max(F.when(F.col("rn") == _PB_B - 2, F.col("m"))).alias(
                "boot_hi"
            ),
        )
    )


# --- Welch's t statistic: unequal-variance two-sample test (round 4) ---------
# Completes the two-sample pack (q_mannwhitney = rank test, q_abtest =
# proportions, q_ks_drift = distribution): Welch's t on click-vs-view
# `value`, the statistic practitioners reach for first. Moments come
# from 1e-6-quantized integer sums (the q_embed_dimstats rule, exact
# at any partitioning); the t finish — mean gap over sqrt of summed
# variance rates — is one shared expression evaluated on six exact
# integers, sqrt only (no p-value: the t→p map needs the banned
# transcendentals; the statistic itself is the decision input).
# Quantization is 1e-3 (not the usual 1e-6): `value` carries two
# decimal places, so 1e-3 is already exact — and the squared sums of
# 1e-6-quantized ~500-range values overflow int64 (found the hard way).
_WT_FIN = (
    "(CAST(sx1 AS DOUBLE) / n1 - CAST(sx2 AS DOUBLE) / n2) / 1000.0"
    " / sqrt((((CAST(sxx1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE) / n1)"
    "          / (n1 - 1)) / n1"
    "        + ((CAST(sxx2 AS DOUBLE) - CAST(sx2 AS DOUBLE) * CAST(sx2 AS DOUBLE) / n2)"
    "          / (n2 - 1)) / n2)"
    "       / (1000.0 * 1000.0))"
)


@_q(
    "q_welch_t",
    f"""
    WITH q AS (
        SELECT event_type,
               CAST(floor(value * 1000 + 0.5) AS BIGINT) AS xq
        FROM events WHERE event_type IN ('click', 'view')
    ), s AS (
        SELECT CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN event_type = 'click' THEN xq END) AS BIGINT) AS sx1,
               CAST(SUM(CASE WHEN event_type = 'click' THEN xq * xq END) AS BIGINT) AS sxx1,
               CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS n2,
               CAST(SUM(CASE WHEN event_type = 'view' THEN xq END) AS BIGINT) AS sx2,
               CAST(SUM(CASE WHEN event_type = 'view' THEN xq * xq END) AS BIGINT) AS sxx2
        FROM q
    )
    SELECT n1, n2,
           CAST(sx1 AS DOUBLE) / n1 / 1000.0 AS mean_click,
           CAST(sx2 AS DOUBLE) / n2 / 1000.0 AS mean_view,
           {_WT_FIN} AS welch_t
    FROM s
    """,
)
def q_welch_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "view")
    )
    q = ev.select(
        "event_type",
        F.floor(F.col("value") * 1000 + F.lit(0.5))
        .cast("bigint")
        .alias("xq"),
    )
    is1 = F.col("event_type") == "click"
    is2 = F.col("event_type") == "view"
    s = q.agg(
        F.count(F.when(is1, 1)).cast("bigint").alias("n1"),
        F.sum(F.when(is1, F.col("xq"))).cast("bigint").alias("sx1"),
        F.sum(F.when(is1, F.col("xq") * F.col("xq"))).cast("bigint").alias("sxx1"),
        F.count(F.when(is2, 1)).cast("bigint").alias("n2"),
        F.sum(F.when(is2, F.col("xq"))).cast("bigint").alias("sx2"),
        F.sum(F.when(is2, F.col("xq") * F.col("xq"))).cast("bigint").alias("sxx2"),
    )
    return s.selectExpr(
        "n1",
        "n2",
        "CAST(sx1 AS DOUBLE) / n1 / 1000.0 AS mean_click",
        "CAST(sx2 AS DOUBLE) / n2 / 1000.0 AS mean_view",
        f"{_WT_FIN} AS welch_t",
    )


# --- difference-in-differences estimate (round 4) ----------------------------
# The workhorse causal read-out on observational event data: a
# synthetic "treatment" (odd user_id) switching on at mid-month; the
# DiD estimate is (post−pre) for treated minus (post−pre) for
# control. All four cell means are decimal-routed exact doubles and
# the estimate is three subtractions in one shared expression order —
# no accumulation hazard anywhere. One combinable 4-cell aggregate.
@_q(
    "q_diff_in_diff",
    """
    WITH c AS (
        SELECT CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS treated,
               CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                    THEN 1 ELSE 0 END AS post,
               value
        FROM events
    ), cell AS (
        SELECT treated, post,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
                   AS m
        FROM c GROUP BY treated, post
    )
    SELECT
        MAX(CASE WHEN treated = 1 AND post = 1 THEN m END) AS m_treat_post,
        MAX(CASE WHEN treated = 1 AND post = 0 THEN m END) AS m_treat_pre,
        MAX(CASE WHEN treated = 0 AND post = 1 THEN m END) AS m_ctrl_post,
        MAX(CASE WHEN treated = 0 AND post = 0 THEN m END) AS m_ctrl_pre,
        (MAX(CASE WHEN treated = 1 AND post = 1 THEN m END)
         - MAX(CASE WHEN treated = 1 AND post = 0 THEN m END))
        - (MAX(CASE WHEN treated = 0 AND post = 1 THEN m END)
           - MAX(CASE WHEN treated = 0 AND post = 0 THEN m END)) AS did
    FROM cell
    """,
)
def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    c = ev.select(
        F.when(F.col("user_id") % 2 == 1, 1).otherwise(0).alias("treated"),
        F.when(
            F.col("ts") >= F.lit("2024-01-16 00:00:00").cast("timestamp"), 1
        )
        .otherwise(0)
        .alias("post"),
        "value",
    )
    cell = c.groupBy("treated", "post").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.sum(F.col("value").cast(DEC)).cast("double") / F.count(F.lit(1))).alias(
            "m"
        ),
    )

    def pick(tr, po):
        return F.max(
            F.when((F.col("treated") == tr) & (F.col("post") == po), F.col("m"))
        )

    return cell.agg(
        pick(1, 1).alias("m_treat_post"),
        pick(1, 0).alias("m_treat_pre"),
        pick(0, 1).alias("m_ctrl_post"),
        pick(0, 0).alias("m_ctrl_pre"),
        (
            (pick(1, 1) - pick(1, 0)) - (pick(0, 1) - pick(0, 0))
        ).alias("did"),
    )


# --- top-1 changepoint by binary segmentation (round 4) ----------------------
# Where does the hourly click-rate series break? Binary segmentation's
# first split: the hour k maximizing the between-segment sum of
# squares, which for integer prefix sums reduces to
# argmax (n·S_k − k·S)² / (k·(n−k)) — every term an EXACT integer
# (hourly counts are small, n·S_k < 2^53), one double division, a
# deterministic argmax (gain desc, hour asc). Complements q_cusum
# (which accumulates deviations) with the classic segmentation
# statistic. The global window ranks the 720-row hourly aggregate,
# never raw events.
@_q(
    "q_changepoint",
    """
    WITH hourly AS (
        SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events WHERE event_type = 'click'
        GROUP BY 1
    ), p AS (
        SELECT hr, c,
               CAST(SUM(c) OVER (ORDER BY hr) AS BIGINT) AS sk,
               CAST(ROW_NUMBER() OVER (ORDER BY hr) AS BIGINT) AS k,
               CAST(SUM(c) OVER () AS BIGINT) AS s,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM hourly
    ), gain AS (
        SELECT hr, k, n, sk, s,
               CAST((n * sk - k * s) AS DOUBLE)
                 * CAST((n * sk - k * s) AS DOUBLE)
                 / CAST(k * (n - k) AS DOUBLE) AS g
        FROM p WHERE k < n
    )
    SELECT hr AS split_hour, k AS split_index, n AS n_hours,
           CAST(sk AS DOUBLE) / CAST(k AS DOUBLE) AS mean_before,
           CAST(s - sk AS DOUBLE) / CAST(n - k AS DOUBLE) AS mean_after,
           g AS gain
    FROM gain
    ORDER BY g DESC, hr
    LIMIT 1
    """,
)
def q_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").where(F.col("event_type") == "click")
    hourly = ev.groupBy(
        F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("hr")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    wcum = Window.orderBy("hr").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy(F.lit(1))
    p = hourly.select(
        "hr",
        F.sum("c").over(wcum).cast("bigint").alias("sk"),
        F.row_number().over(Window.orderBy("hr")).cast("bigint").alias("k"),
        F.sum("c").over(wall).cast("bigint").alias("s"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("n"),
    ).where(F.col("k") < F.col("n"))
    num = (F.col("n") * F.col("sk") - F.col("k") * F.col("s")).cast("double")
    gain = p.select(
        "hr",
        "k",
        "n",
        "sk",
        "s",
        (num * num / (F.col("k") * (F.col("n") - F.col("k"))).cast("double")).alias(
            "g"
        ),
    )
    return (
        gain.orderBy(F.desc("g"), "hr")
        .limit(1)
        .select(
            F.col("hr").alias("split_hour"),
            F.col("k").alias("split_index"),
            F.col("n").alias("n_hours"),
            (F.col("sk").cast("double") / F.col("k").cast("double")).alias(
                "mean_before"
            ),
            (
                (F.col("s") - F.col("sk")).cast("double")
                / (F.col("n") - F.col("k")).cast("double")
            ).alias("mean_after"),
            F.col("g").alias("gain"),
        )
    )


# --- session counts across a timeout grid (round 4) --------------------------
# The sensitivity companion to q_session_gap_advisor: how many sessions
# does the corpus split into at 10/30/60-minute timeouts? Sessions per
# user = 1 + gaps exceeding the timeout, so the whole grid needs ONE
# per-user lag pass (partitioned window) and one tiny aggregate per
# grid point — no re-sessionization per candidate. Events-per-session
# is the one division. Gap arithmetic floors epochs before
# subtracting (the q_session_gap_advisor cross-engine rule).
_SG_GRID = (600, 1800, 3600)


@_q(
    "q_session_count_grid",
    f"""
    WITH g AS (
        SELECT user_id,
               CAST(floor(epoch(ts)) AS BIGINT)
                 - CAST(floor(epoch(lag(ts) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ))) AS BIGINT) AS gap_s
        FROM events
    ), u AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN gap_s IS NULL THEN 0 ELSE 1 END)
                    AS BIGINT) AS n_gaps
        FROM g GROUP BY user_id
    ), grid AS (
        SELECT CAST(t.x AS BIGINT) AS timeout_s
        FROM (VALUES {", ".join(f"({x})" for x in _SG_GRID)}) t(x)
    ), cnt AS (
        SELECT grid.timeout_s,
               CAST(SUM(CASE WHEN g.gap_s > grid.timeout_s
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_breaks
        FROM g JOIN grid ON TRUE
        WHERE g.gap_s IS NOT NULL
        GROUP BY grid.timeout_s
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(n_events) AS BIGINT) AS n_events
        FROM u
    )
    SELECT c.timeout_s,
           tot.n_users + c.n_breaks AS n_sessions,
           tot.n_events,
           CAST(tot.n_events AS DOUBLE)
             / CAST(tot.n_users + c.n_breaks AS DOUBLE)
               AS events_per_session
    FROM cnt c CROSS JOIN tot
    """,
)
def q_session_count_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        "user_id",
        (
            F.floor(F.unix_timestamp("ts"))
            - F.floor(F.unix_timestamp(F.lag("ts").over(wu)))
        )
        .cast("bigint")
        .alias("gap_s"),
    )
    tot = g.agg(
        F.count_distinct("user_id").cast("bigint").alias("n_users"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    grid = local_rows(spark, [(x,) for x in _SG_GRID], "timeout_s long")
    cnt = (
        g.where(F.col("gap_s").isNotNull())
        .crossJoin(F.broadcast(grid))
        .groupBy("timeout_s")
        .agg(
            F.sum(
                F.when(F.col("gap_s") > F.col("timeout_s"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_breaks")
        )
    )
    return cnt.crossJoin(F.broadcast(tot)).select(
        "timeout_s",
        (F.col("n_users") + F.col("n_breaks")).alias("n_sessions"),
        "n_events",
        (
            F.col("n_events").cast("double")
            / (F.col("n_users") + F.col("n_breaks")).cast("double")
        ).alias("events_per_session"),
    )


# --- Spearman rank correlation (round 4) -------------------------------------
# Monotone-association companion to q_lag_corr's Pearson: do hours with
# more clicks also see more views, regardless of the (heavy-tailed)
# magnitudes? Ranks are row_number over the deterministic total order
# (count, hr) — a pinned tie policy both engines evaluate identically —
# so ranks are a permutation and the classic ρ = 1 − 6Σd²/(n(n²−1))
# closed form applies with EXACT integer Σd² (n ≈ 720 hours → Σd² ≤ n³
# ≈ 4e8, far inside int64). The finish is one shared-text double
# expression. Scale: ranking happens on the O(|hours|) aggregate, never
# raw events; the global window sorts ≤ thousands of rows.
@_q(
    "q_spearman",
    """
    WITH g AS (
        SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr,
               CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END)
                    AS BIGINT) AS c_click,
               CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END)
                    AS BIGINT) AS c_view
        FROM events WHERE event_type IN ('click', 'view')
        GROUP BY 1
    ), r AS (
        SELECT hr,
               CAST(row_number() OVER (ORDER BY c_click, hr) AS BIGINT) AS r1,
               CAST(row_number() OVER (ORDER BY c_view, hr) AS BIGINT) AS r2
        FROM g
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM((r1 - r2) * (r1 - r2)) AS BIGINT) AS ssd
        FROM r
    )
    SELECT n, ssd,
           1.0 - 6.0 * CAST(ssd AS DOUBLE)
               / (CAST(n AS DOUBLE)
                  * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - 1.0))
               AS spearman_rho
    FROM s
    """,
)
def q_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "view")
    )
    g = (
        ev.select(
            F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("hr"),
            "event_type",
        )
        .groupBy("hr")
        .agg(
            F.count(F.when(F.col("event_type") == "click", 1))
            .cast("bigint")
            .alias("c_click"),
            F.count(F.when(F.col("event_type") == "view", 1))
            .cast("bigint")
            .alias("c_view"),
        )
    )
    r = g.select(
        "hr",
        F.row_number()
        # bounded: per-hour click/view series — O(hours) rows (both ranks)
        .over(Window.orderBy("c_click", "hr"))
        .cast("bigint")
        .alias("r1"),
        F.row_number()
        .over(Window.orderBy("c_view", "hr"))
        .cast("bigint")
        .alias("r2"),
    )
    s = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum((F.col("r1") - F.col("r2")) * (F.col("r1") - F.col("r2")))
        .cast("bigint")
        .alias("ssd"),
    )
    return s.selectExpr(
        "n",
        "ssd",
        "1.0 - 6.0 * CAST(ssd AS DOUBLE)"
        " / (CAST(n AS DOUBLE)"
        "    * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - 1.0))"
        " AS spearman_rho",
    )


# --- link prediction on the part-supplier bipartite graph (round 4) ---------
# Which supplier pairs that have NOT traded the same niche parts yet are
# most likely to? Classic link-prediction scores over shared neighbors:
# common-neighbor count, resource-allocation index Σ 1/deg(part)
# (Zhou-Lü-Zhang), and neighbor-set Jaccard. The graph is DF-CAPPED the
# same way the dedup family blocks shingles: only parts in the BOTTOM
# DECILE of supplier-degree (dcap = max degree among the first ⌊n/10⌋
# parts under the (d, p) total order — integer element selection, no
# float percentile) generate candidate pairs, so pair fan-out is
# Σ d² ≤ |rare parts|·dcap², never |suppliers|² on a hub part. 1/deg
# terms are floor-quantized at 1e-12 (one deterministic division each)
# so per-pair RA sums are order-free exact integers; Jaccard is one
# division on integer degrees. Top-100 by (ra_q, s1, s2) via
# TakeOrderedAndProject, then ranked within the 100 collected rows.
@_q(
    "q_link_predict",
    """
    WITH ps AS (
        SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
    ), deg AS (
        SELECT p, CAST(COUNT(*) AS BIGINT) AS d FROM ps GROUP BY p
    ), rk AS (
        SELECT d, CAST(row_number() OVER (ORDER BY d, p) AS BIGINT) AS rn,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM deg
    ), cap AS (
        SELECT CAST(MAX(d) AS BIGINT) AS dcap FROM rk WHERE rn * 10 <= n
    ), rare AS (
        SELECT ps.p, ps.s, deg.d
        FROM ps JOIN deg USING (p) CROSS JOIN cap
        WHERE deg.d <= cap.dcap
    ), sdeg AS (
        SELECT s, CAST(COUNT(*) AS BIGINT) AS sd FROM rare GROUP BY s
    ), pairs AS (
        SELECT a.s AS s1, b.s AS s2,
               CAST(COUNT(*) AS BIGINT) AS common_parts,
               CAST(SUM(CAST(floor(1000000000000.0 / a.d + 0.5) AS BIGINT))
                    AS BIGINT) AS ra_q
        FROM rare a JOIN rare b ON a.p = b.p AND a.s < b.s
        GROUP BY 1, 2
    )
    SELECT s1, s2, common_parts, ra_q, d1.sd AS deg1, d2.sd AS deg2,
           CAST(common_parts AS DOUBLE)
             / (d1.sd + d2.sd - common_parts) AS jaccard,
           CAST(row_number() OVER (ORDER BY ra_q DESC, s1, s2)
                AS BIGINT) AS rank
    FROM pairs
    JOIN sdeg d1 ON pairs.s1 = d1.s
    JOIN sdeg d2 ON pairs.s2 = d2.s
    QUALIFY rank <= 100
    """,
)
def q_link_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    ps = li.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct()
    deg = ps.groupBy("p").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    # part degrees are dimension-sized (corpus-shaped at 100 TB): rank
    # + total via the range-partitioned ranker (plans/rank.py)
    rk = global_rank(deg, ["d", "p"], rank_col="rn", total_col="n").select(
        "d", "rn", "n"
    )
    cap = rk.where(F.col("rn") * 10 <= F.col("n")).agg(
        F.max("d").cast("bigint").alias("dcap")
    )
    rare = (
        ps.join(F.broadcast(deg), "p")
        .crossJoin(F.broadcast(cap))
        .where(F.col("d") <= F.col("dcap"))
        .select("p", "s", "d")
    )
    sdeg = rare.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("sd"))
    a = rare.select(
        F.col("p").alias("p"), F.col("s").alias("s1"), F.col("d").alias("d")
    )
    b = rare.select(F.col("p").alias("p"), F.col("s").alias("s2"))
    ra_term = F.floor(
        F.lit(1000000000000.0) / F.col("d") + F.lit(0.5)
    ).cast("bigint")
    pairs = (
        a.join(b, "p")
        .where(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("common_parts"),
            F.sum(ra_term).cast("bigint").alias("ra_q"),
        )
    )
    d1 = sdeg.select(F.col("s").alias("s1"), F.col("sd").alias("deg1"))
    d2 = sdeg.select(F.col("s").alias("s2"), F.col("sd").alias("deg2"))
    top = (
        pairs.join(F.broadcast(d1), "s1")
        .join(F.broadcast(d2), "s2")
        .orderBy(F.desc("ra_q"), "s1", "s2")
        .limit(100)
    )
    return top.select(
        "s1",
        "s2",
        "common_parts",
        "ra_q",
        "deg1",
        "deg2",
        (
            F.col("common_parts").cast("double")
            / (F.col("deg1") + F.col("deg2") - F.col("common_parts"))
        ).alias("jaccard"),
        F.row_number()
        # bounded: rank over the 100-row top-k relation (post-limit)
        .over(Window.orderBy(F.desc("ra_q"), "s1", "s2"))
        .cast("bigint")
        .alias("rank"),
    )


# --- Holt double exponential smoothing (round 4) -----------------------------
# Level + trend smoothing of the daily click series — the forecasting
# companion to q_ewma (level only) and q_seasonal_decompose. Dyadic
# smoothing constants (α = 1/2, β = 1/4) make every update EXACT in a
# 2^20 fixed-point domain: l_t = ⌊(x_t·S + l + b)/2⌋,
# b_t = ⌊(l_t − l + 3b)/4⌋ — floor of a power-of-two division is the
# same integer in Python, Spark and DuckDB for any |a| < 2^53, so the
# whole recursion is bit-identical cross-engine at ANY partitioning.
# The distributed job aggregates the daily series (map-side combinable
# count); the 30-step recursion finishes on ≤31 collected scalars —
# the PCA-power-iteration pattern (bounded-scalars collect rule). The
# oracle replays the identical recursion as a linear recursive CTE.
_HOLT_S = 1 << 20


@_q(
    "q_holt",
    f"""
    WITH RECURSIVE daily AS MATERIALIZED (
        SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events WHERE event_type = 'click'
        GROUP BY 1
    ), seq AS MATERIALIZED (
        SELECT day, x, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
        FROM daily
    ), r AS (
        SELECT s1.t, s1.day, s1.x,
               s1.x * {_HOLT_S} AS lq,
               (s2.x - s1.x) * {_HOLT_S} AS bq
        FROM seq s1 JOIN seq s2 ON s2.t = 2
        WHERE s1.t = 1
        UNION ALL
        SELECT s.t, s.day, s.x,
               CAST(floor((s.x * {_HOLT_S} + r.lq + r.bq) / 2.0) AS BIGINT),
               CAST(floor((CAST(floor((s.x * {_HOLT_S} + r.lq + r.bq) / 2.0)
                                AS BIGINT) - r.lq + 3 * r.bq) / 4.0)
                    AS BIGINT)
        FROM r JOIN seq s ON s.t = r.t + 1
    )
    SELECT t, day, x, lq AS level_q, bq AS trend_q,
           CAST(lq AS DOUBLE) / {_HOLT_S}.0 AS level,
           CAST(bq AS DOUBLE) / {_HOLT_S}.0 AS trend,
           CAST(lq + bq AS DOUBLE) / {_HOLT_S}.0 AS forecast_next
    FROM r
    """,
)
def q_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import LongType, DoubleType, StructField, StructType

    ev = t(spark, sf_dir, "events").where(F.col("event_type") == "click")
    daily = (
        ev.groupBy(
            F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias("day")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
        .orderBy("day")
    )
    series = [(r["day"], r["x"]) for r in daily.collect()]  # ≤31 scalars
    S = _HOLT_S
    rows = []
    if len(series) >= 2:
        lq = series[0][1] * S
        bq = (series[1][1] - series[0][1]) * S
        rows.append((1, series[0][0], series[0][1], lq, bq))
        for i in range(1, len(series)):
            day, x = series[i]
            new_l = (x * S + lq + bq) // 2
            bq = (new_l - lq + 3 * bq) // 4
            lq = new_l
            rows.append((i + 1, day, x, lq, bq))
    schema = StructType(
        [
            StructField("t", LongType()),
            StructField("day", LongType()),
            StructField("x", LongType()),
            StructField("level_q", LongType()),
            StructField("trend_q", LongType()),
        ]
    )
    out = local_rows(spark, rows, schema)
    return out.select(
        "t",
        "day",
        "x",
        "level_q",
        "trend_q",
        (F.col("level_q").cast("double") / F.lit(float(S))).alias("level"),
        (F.col("trend_q").cast("double") / F.lit(float(S))).alias("trend"),
        (
            (F.col("level_q") + F.col("trend_q")).cast("double")
            / F.lit(float(S))
        ).alias("forecast_next"),
    )


# --- Markov removal-effect attribution (round 4) -----------------------------
# Completes the attribution family (q_attribution last-touch,
# q_attribution_multi linear): first-order Markov chain over per-user
# journeys (START → touches → CONV at first purchase / NULL at journey
# end), channel credit = removal effect 1 − P(conv | channel absorbed
# to NULL)/P(conv), shares normalized over channels — the standard
# data-driven attribution model (Anderl et al., public). Exactness:
# absorption probabilities come from a FIXED 25-step fixed-point
# iteration in a 1e12 integer domain — v_i ← (c_iCONV·S + Σ_j c_ij·v_j)
# // c_i· with nonnegative integer floor division, bit-identical in
# Python and DuckDB; removal pins the absorbed channel's value to 0 at
# consumption. The distributed job is the transition-count aggregate
# (two window passes + one hash agg — the 100 TB-heavy part); the
# chain solve touches ≤30 collected scalars (bounded-collect rule,
# PCA precedent). The oracle replays the identical integer
# iteration as unrolled MATERIALIZED CTEs (5 runs × 25 steps on ≤5-row
# frames).
_MKV_S = 10**12
_MKV_K = 25
_MKV_CHANNELS = ("click", "error", "signup", "view")

_MKV_TRANS_SQL = """
    ej AS MATERIALIZED (
        SELECT user_id, event_type,
               CAST(row_number() OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id)
                    AS BIGINT) AS rn
        FROM events
    ), fp AS MATERIALIZED (
        SELECT user_id, CAST(MIN(rn) AS BIGINT) AS prn
        FROM ej WHERE event_type = 'purchase' GROUP BY user_id
    ), jny AS MATERIALIZED (
        SELECT ej.user_id, ej.event_type, ej.rn
        FROM ej LEFT JOIN fp USING (user_id)
        WHERE fp.prn IS NULL OR ej.rn <= fp.prn
    ), w AS MATERIALIZED (
        SELECT user_id, rn, event_type,
               lead(event_type) OVER (PARTITION BY user_id ORDER BY rn)
                   AS nxt
        FROM jny
    ), trans_all AS MATERIALIZED (
        SELECT 'START' AS i,
               CASE WHEN event_type = 'purchase' THEN 'CONV'
                    ELSE event_type END AS j
        FROM w WHERE rn = 1
        UNION ALL
        SELECT event_type AS i,
               CASE WHEN nxt IS NULL THEN 'NULL'
                    WHEN nxt = 'purchase' THEN 'CONV'
                    ELSE nxt END AS j
        FROM w WHERE event_type <> 'purchase'
    ), tc AS MATERIALIZED (
        SELECT i, j, CAST(COUNT(*) AS BIGINT) AS c
        FROM trans_all GROUP BY 1, 2
    ), tm AS MATERIALIZED (
        SELECT i,
               CAST(SUM(CASE WHEN j = 'CONV' THEN c ELSE 0 END) AS BIGINT)
                   AS cconv,
               CAST(SUM(c) AS BIGINT) AS ctot
        FROM tc GROUP BY i
    ), trans AS MATERIALIZED (
        SELECT i, j, c FROM tc WHERE j NOT IN ('CONV', 'NULL')
    )
"""


def _mkv_run_sql(tag: str, removed: str | None) -> list[str]:
    """Unrolled 25-step fixed-point chain for one (possibly removed-
    channel) run; each step is a tiny MATERIALIZED CTE referenced once."""
    ctes = []
    for s in range(_MKV_K):
        name = f"v_{tag}_{s}"
        if s == 0:
            ctes.append(
                f"{name} AS MATERIALIZED (SELECT i,"
                f" (cconv * {_MKV_S}) // ctot AS v FROM tm)"
            )
        else:
            prev = f"v_{tag}_{s - 1}"
            pv = (
                f"CASE WHEN t.j = '{removed}' THEN 0 ELSE p.v END"
                if removed
                else "p.v"
            )
            ctes.append(
                f"{name} AS MATERIALIZED (SELECT tm.i,"
                f" (tm.cconv * {_MKV_S} + COALESCE(s.sv, 0)) // tm.ctot AS v"
                f" FROM tm LEFT JOIN (SELECT t.i,"
                f" CAST(SUM(t.c * {pv}) AS BIGINT) AS sv"
                f" FROM trans t JOIN {prev} p ON p.i = t.j GROUP BY t.i) s"
                f" ON s.i = tm.i)"
            )
    return ctes


_MKV_FINAL = (
    "CAST(floor(1000000000.0 * (1.0 - CAST(p_removed_q AS DOUBLE) / p_base_q)"
    " + 0.5) AS BIGINT)"
)


def _mkv_oracle() -> str:
    chains = _mkv_run_sql("base", None)
    res_rows = []
    for ch in _MKV_CHANNELS:
        chains += _mkv_run_sql(ch, ch)
        res_rows.append(
            f"SELECT '{ch}' AS channel, b.v AS p_base_q, r.v AS p_removed_q"
            f" FROM v_base_{_MKV_K - 1} b, v_{ch}_{_MKV_K - 1} r"
            f" WHERE b.i = 'START' AND r.i = 'START'"
        )
    res = " UNION ALL ".join(res_rows)
    return f"""
    WITH {_MKV_TRANS_SQL}, {', '.join(chains)},
    res AS MATERIALIZED ({res}),
    req AS MATERIALIZED (
        SELECT channel, p_base_q, p_removed_q, {_MKV_FINAL} AS re_q FROM res
    ), tot AS (SELECT CAST(SUM(re_q) AS BIGINT) AS s FROM req)
    SELECT channel, p_base_q, p_removed_q, re_q,
           CAST(p_base_q AS DOUBLE) / 1000000000000.0 AS p_base,
           CAST(p_removed_q AS DOUBLE) / 1000000000000.0 AS p_removed,
           CAST(re_q AS DOUBLE) / 1000000000.0 AS removal_effect,
           CAST(re_q AS DOUBLE) / tot.s AS attribution_share
    FROM req CROSS JOIN tot
    """


@_q("q_markov_attribution", _mkv_oracle())
def q_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    ev = t(spark, sf_dir, "events")
    wrn = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ej = ev.select(
        "user_id",
        "event_type",
        F.row_number().over(wrn).cast("bigint").alias("rn"),
    )
    fp = (
        ej.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("rn").cast("bigint").alias("prn"))
    )
    jny = ej.join(fp, "user_id", "left").where(
        F.col("prn").isNull() | (F.col("rn") <= F.col("prn"))
    )
    wl = Window.partitionBy("user_id").orderBy("rn")
    w = jny.select(
        "user_id",
        "rn",
        "event_type",
        F.lead("event_type").over(wl).alias("nxt"),
    )
    start = w.where(F.col("rn") == 1).select(
        F.lit("START").alias("i"),
        F.when(F.col("event_type") == "purchase", "CONV")
        .otherwise(F.col("event_type"))
        .alias("j"),
    )
    mid = w.where(F.col("event_type") != "purchase").select(
        F.col("event_type").alias("i"),
        F.when(F.col("nxt").isNull(), "NULL")
        .when(F.col("nxt") == "purchase", "CONV")
        .otherwise(F.col("nxt"))
        .alias("j"),
    )
    tc = (
        start.unionAll(mid)
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    counts = {(r["i"], r["j"]): r["c"] for r in tc.collect()}  # ≤30 scalars

    states = sorted({i for i, _ in counts})
    cconv = {i: counts.get((i, "CONV"), 0) for i in states}
    ctot = {i: sum(c for (a, _), c in counts.items() if a == i) for i in states}
    trans = {
        (i, j): c
        for (i, j), c in counts.items()
        if j not in ("CONV", "NULL")
    }

    def solve(removed: str | None) -> int:
        v = {i: 0 for i in states}
        for _ in range(_MKV_K):
            nv = {}
            for i in states:
                sv = sum(
                    c * (0 if j == removed else v.get(j, 0))
                    for (a, j), c in trans.items()
                    if a == i
                )
                nv[i] = (cconv[i] * _MKV_S + sv) // ctot[i]
            v = nv
        return v["START"]

    p_base = solve(None)
    rows = [(ch, p_base, solve(ch)) for ch in _MKV_CHANNELS]
    schema = StructType(
        [
            StructField("channel", StringType()),
            StructField("p_base_q", LongType()),
            StructField("p_removed_q", LongType()),
        ]
    )
    req = local_rows(spark, rows, schema).withColumn(
        "re_q", F.expr(_MKV_FINAL)
    )
    # bounded: channel-transition aggregate — O(|channels|²) rows
    tot = F.sum("re_q").over(Window.partitionBy()).cast("bigint")
    return req.select(
        "channel",
        "p_base_q",
        "p_removed_q",
        "re_q",
        F.expr("CAST(p_base_q AS DOUBLE) / 1000000000000.0").alias("p_base"),
        F.expr("CAST(p_removed_q AS DOUBLE) / 1000000000000.0").alias(
            "p_removed"
        ),
        F.expr("CAST(re_q AS DOUBLE) / 1000000000.0").alias("removal_effect"),
        (F.col("re_q").cast("double") / tot).alias("attribution_share"),
    )


# --- SymSpell deletion-neighborhood fuzzy pairs (round 4) --------------------
# Edit-distance-1 candidate generation WITHOUT an all-pairs levenshtein:
# two strings within one edit share a member of their deletion
# neighborhoods (Garbe's SymSpell, public), so generating the ≤len
# single-deletion variants per name and hash-joining on the variant
# bounds candidates by Σ|group|², the same df-cap arithmetic as the
# shingle dedup family — then ONE levenshtein verify per candidate.
# Run over supplier names (digit-substitution neighbors). Output is the
# deterministic (s1, s2) pair list with the verified distance, capped
# at 200 via TakeOrdered. Scale: variants are a projection explode (no
# shuffle), the candidate join keys on the variant hash, and verify
# touches only candidates — never |names|² comparisons.
@_q(
    "q_symspell_pairs",
    """
    WITH v AS (
        SELECT s_name AS name,
               substr(s_name, 1, i.i - 1) || substr(s_name, i.i + 1)
                   AS variant
        FROM supplier, UNNEST(generate_series(1, len(s_name))) AS i(i)
        UNION ALL
        SELECT s_name, s_name FROM supplier
    ), cand AS (
        SELECT DISTINCT a.name AS s1, b.name AS s2
        FROM v a JOIN v b ON a.variant = b.variant AND a.name < b.name
    ), ver AS (
        SELECT s1, s2, CAST(levenshtein(s1, s2) AS BIGINT) AS lev
        FROM cand
    ), hit AS (
        SELECT s1, s2, lev FROM ver WHERE lev <= 1
    )
    SELECT s1, s2, lev,
           CAST((SELECT COUNT(*) FROM hit) AS BIGINT) AS n_pairs_total,
           CAST(row_number() OVER (ORDER BY s1, s2) AS BIGINT) AS rank
    FROM hit
    QUALIFY rank <= 200
    """,
)
def q_symspell_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = t(spark, sf_dir, "supplier").select(F.col("s_name").alias("name"))
    dels = sup.select(
        "name",
        F.explode(
            F.expr(
                "transform(sequence(1, length(name)),"
                " i -> concat(substr(name, 1, i - 1), substr(name, i + 1)))"
            )
        ).alias("variant"),
    )
    v = dels.unionAll(sup.select("name", F.col("name").alias("variant")))
    a = v.select(F.col("name").alias("s1"), "variant")
    b = v.select(F.col("name").alias("s2"), "variant")
    cand = (
        a.join(b, "variant")
        .where(F.col("s1") < F.col("s2"))
        .select("s1", "s2")
        .distinct()
    )
    hit = cand.select(
        "s1", "s2", F.levenshtein("s1", "s2").cast("bigint").alias("lev")
    ).where(F.col("lev") <= 1)
    # hit is the bounded verified pair set; count it once via a 1-row
    # aggregate joined back (never a per-row subquery at scale)
    hit = track_persist(hit)
    n_total = hit.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs_total")
    )
    top = (
        hit.crossJoin(F.broadcast(n_total))
        .orderBy("s1", "s2")
        .limit(200)
    )
    return top.select(
        "s1",
        "s2",
        "lev",
        "n_pairs_total",
        F.row_number()
        # bounded: rank over the 200-row verified-pair sample (post-limit)
        .over(Window.orderBy("s1", "s2"))
        .cast("bigint")
        .alias("rank"),
    )


# --- 10% trimmed mean (round 4) ----------------------------------------------
# The robust-location companion to q_winsorize (which CLAMPS the tails):
# trimming DROPS the bottom and top deciles and averages the middle —
# rank-based, so the cut is element selection under the (value, event_id)
# total order (never interpolation), and the kept-middle mean routes
# through DECIMAL(38,6) (order-free exact sum, one final division).
@_q(
    "q_trimmed_mean",
    """
    WITH r AS (
        SELECT value,
               CAST(row_number() OVER (ORDER BY value, event_id) AS BIGINT)
                   AS rn,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM events
    ), kept AS (
        SELECT value, n FROM r
        WHERE rn > n // 10 AND rn <= n - n // 10
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_total,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(MIN(value) AS DOUBLE) AS lo_cut,
           CAST(MAX(value) AS DOUBLE) AS hi_cut,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
               AS trimmed_mean
    FROM kept
    """,
)
def q_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    # events are fact-sized: rank + total via the range-partitioned
    # ranker (plans/rank.py) — never a single-partition sort
    r = global_rank(
        ev.select("value", "event_id"),
        ["value", "event_id"],
        rank_col="rn",
        total_col="n",
    ).select("value", "rn", "n")
    kept = r.where(
        (F.col("rn") > F.expr("n DIV 10"))
        & (F.col("rn") <= F.col("n") - F.expr("n DIV 10"))
    )
    return kept.agg(
        F.max("n").cast("bigint").alias("n_total"),
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.min("value").cast("double").alias("lo_cut"),
        F.max("value").cast("double").alias("hi_cut"),
        (
            F.sum(F.col("value").cast(DEC)).cast("double") / F.count(F.lit(1))
        ).alias("trimmed_mean"),
    )


# --- two-proportion power analysis (round 4) ---------------------------------
# The planning companion to q_abtest: given the OBSERVED treatment/
# control purchase rates (odd/even user_id arms), how many users per
# arm does a two-sided α=0.05, power=0.8 z-test need to detect that
# difference? Textbook closed form with the z constants as shared
# double literals (z_{α/2}=1.9599639845400545, z_β=0.8416212335729143 —
# transcendental inputs enter as literals, the q_ndcg policy); the
# formula is ONE fixed-order expression over four exact integer
# counts, evaluated verbatim by both engines. One combinable aggregate.
# Arms are compared on the EVENT-level purchase share (the per-user
# any-purchase rate saturates at 1.0 on this fixture); the p1 = p2
# degenerate case (zero detectable effect → infinite n) is guarded by
# the exact integer cross-product test c1·n2 = c2·n1 and reported as
# the documented sentinel 0.
_ABP_FORMULA = (
    "ceil(pow(1.9599639845400545 * sqrt(2.0 * ((CAST(c1 AS DOUBLE) / n1"
    " + CAST(c2 AS DOUBLE) / n2) / 2.0) * (1.0 - (CAST(c1 AS DOUBLE) / n1"
    " + CAST(c2 AS DOUBLE) / n2) / 2.0))"
    " + 0.8416212335729143 * sqrt(CAST(c1 AS DOUBLE) / n1"
    " * (1.0 - CAST(c1 AS DOUBLE) / n1) + CAST(c2 AS DOUBLE) / n2"
    " * (1.0 - CAST(c2 AS DOUBLE) / n2)), 2)"
    " / pow(CAST(c1 AS DOUBLE) / n1 - CAST(c2 AS DOUBLE) / n2, 2))"
)


@_q(
    "q_ab_power",
    f"""
    WITH s AS (
        SELECT CAST(COUNT(CASE WHEN user_id % 2 = 1 THEN 1 END) AS BIGINT)
                   AS n1,
               CAST(COUNT(CASE WHEN user_id % 2 = 1
                               AND event_type = 'purchase' THEN 1 END)
                    AS BIGINT) AS c1,
               CAST(COUNT(CASE WHEN user_id % 2 = 0 THEN 1 END) AS BIGINT)
                   AS n2,
               CAST(COUNT(CASE WHEN user_id % 2 = 0
                               AND event_type = 'purchase' THEN 1 END)
                    AS BIGINT) AS c2
        FROM events
    )
    SELECT n1, c1, n2, c2,
           CAST(c1 AS DOUBLE) / n1 AS p1,
           CAST(c2 AS DOUBLE) / n2 AS p2,
           CASE WHEN c1 * n2 = c2 * n1 THEN CAST(0 AS BIGINT)
                ELSE CAST({_ABP_FORMULA} AS BIGINT) END
               AS n_required_per_arm
    FROM s
    """,
)
def q_ab_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    arm1 = F.col("user_id") % 2 == 1
    arm0 = F.col("user_id") % 2 == 0
    is_p = F.col("event_type") == "purchase"
    s = ev.agg(
        F.count(F.when(arm1, 1)).cast("bigint").alias("n1"),
        F.count(F.when(arm1 & is_p, 1)).cast("bigint").alias("c1"),
        F.count(F.when(arm0, 1)).cast("bigint").alias("n2"),
        F.count(F.when(arm0 & is_p, 1)).cast("bigint").alias("c2"),
    )
    return s.selectExpr(
        "n1",
        "c1",
        "n2",
        "c2",
        "CAST(c1 AS DOUBLE) / n1 AS p1",
        "CAST(c2 AS DOUBLE) / n2 AS p2",
        "CASE WHEN c1 * n2 = c2 * n1 THEN CAST(0 AS BIGINT)"
        f" ELSE CAST({_ABP_FORMULA} AS BIGINT) END AS n_required_per_arm",
    )


# --- split-conformal prediction interval (round 4) ---------------------------
# Distribution-free uncertainty for the per-type mean predictor: train
# on the user_id%3=0 slice (decimal-routed exact type means), take the
# ⌈(n+1)·0.9⌉-th smallest absolute residual on the %3=1 calibration
# slice (ELEMENT SELECTION under the (residual, event_id) total order —
# never interpolation), and audit empirical coverage on the %3=2 test
# slice — the split-conformal guarantee says coverage ≳ 90%. Every
# count is exact; the residual ordering compares identical IEEE
# doubles; coverage is one division. Scale: one train aggregate
# (broadcast μ table), one calibration rank window, one test scan.
@_q(
    "q_conformal_interval",
    """
    WITH mu AS (
        SELECT event_type,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
                   AS mu
        FROM events WHERE user_id % 3 = 0
        GROUP BY event_type
    ), cal AS (
        SELECT abs(e.value - mu.mu) AS r, e.event_id
        FROM events e JOIN mu ON e.event_type = mu.event_type
        WHERE e.user_id % 3 = 1
    ), rk AS (
        SELECT r,
               CAST(row_number() OVER (ORDER BY r, event_id) AS BIGINT)
                   AS rn,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM cal
    ), qh AS (
        SELECT CAST(MAX(n) AS BIGINT) AS n_cal,
               CAST(MAX(CASE WHEN rn = least(
                        CAST(ceil((n + 1) * 0.9) AS BIGINT), n)
                    THEN r END) AS DOUBLE) AS qhat
        FROM rk
    ), test AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
               CAST(COUNT(CASE WHEN abs(e.value - mu.mu) <= qh.qhat
                          THEN 1 END) AS BIGINT) AS n_covered
        FROM events e JOIN mu ON e.event_type = mu.event_type
        CROSS JOIN qh
        WHERE e.user_id % 3 = 2
    )
    SELECT qh.n_cal, qh.qhat, test.n_test, test.n_covered,
           CAST(test.n_covered AS DOUBLE) / test.n_test AS coverage
    FROM qh CROSS JOIN test
    """,
)
def q_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    mu = (
        ev.where(F.col("user_id") % 3 == 0)
        .groupBy("event_type")
        .agg(
            (
                F.sum(F.col("value").cast(DEC)).cast("double")
                / F.count(F.lit(1))
            ).alias("mu")
        )
    )
    cal = (
        ev.where(F.col("user_id") % 3 == 1)
        .join(F.broadcast(mu), "event_type")
        .select(F.abs(F.col("value") - F.col("mu")).alias("r"), "event_id")
    )
    # calibration residuals are fact-sized: rank + total via the
    # range-partitioned ranker (plans/rank.py)
    rk = global_rank(
        cal, ["r", "event_id"], rank_col="rn", total_col="n"
    ).select("r", "rn", "n")
    pick = F.least(
        F.ceil((F.col("n") + 1) * 0.9).cast("bigint"), F.col("n")
    )
    qh = rk.agg(
        F.max("n").cast("bigint").alias("n_cal"),
        F.max(F.when(F.col("rn") == pick, F.col("r")))
        .cast("double")
        .alias("qhat"),
    )
    test = (
        ev.where(F.col("user_id") % 3 == 2)
        .join(F.broadcast(mu), "event_type")
        .crossJoin(F.broadcast(qh))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.count(
                F.when(
                    F.abs(F.col("value") - F.col("mu")) <= F.col("qhat"), 1
                )
            )
            .cast("bigint")
            .alias("n_covered"),
        )
    )
    return qh.crossJoin(test).select(
        "n_cal",
        "qhat",
        "n_test",
        "n_covered",
        (F.col("n_covered").cast("double") / F.col("n_test")).alias(
            "coverage"
        ),
    )


# --- Kaplan-Meier time-to-purchase survival (round 4) ------------------------
# The survival curve every conversion analysis eventually needs: per
# user, days from first event to first purchase (censored at the last
# observed day when no purchase happens); S(t) = Π_{s≤t} (1 − d_s/n_s)
# over the daily risk table. Exactness: the product recursion runs in
# a 1e12 integer fixed-point domain — s_q(t) = s_q(t−1)·(n_t−d_t) //
# n_t, floor division of nonnegative ints, bit-identical in Python and
# the oracle's recursive CTE. The distributed job is the per-user
# journey aggregate + the ≤31-row daily risk table (reverse cumulative
# at-risk counts); the driver finishes on those bounded rows (Holt/PCA
# precedent). Scale: two hash aggregates and one tiny window.
_KM_S = 10**12


@_q(
    "q_km_survival",
    f"""
    WITH RECURSIVE j AS MATERIALIZED (
        SELECT user_id,
               CAST(MIN(floor(epoch(ts) / 86400)) AS BIGINT) AS d0,
               CAST(MIN(CASE WHEN event_type = 'purchase'
                             THEN floor(epoch(ts) / 86400) END) AS BIGINT)
                   AS dp,
               CAST(MAX(floor(epoch(ts) / 86400)) AS BIGINT) AS dl
        FROM events GROUP BY user_id
    ), obs AS MATERIALIZED (
        SELECT user_id,
               CASE WHEN dp IS NULL THEN dl - d0 ELSE dp - d0 END AS tt,
               CASE WHEN dp IS NULL THEN 0 ELSE 1 END AS ev
        FROM j
    ), mx AS (SELECT CAST(MAX(tt) AS BIGINT) AS m FROM obs),
    days AS MATERIALIZED (
        SELECT CAST(g.d AS BIGINT) AS day FROM mx,
               UNNEST(generate_series(0, mx.m)) AS g(d)
    ), counts AS MATERIALIZED (
        SELECT days.day,
               CAST(COALESCE(SUM(CASE WHEN obs.tt = days.day
                                      AND obs.ev = 1 THEN 1 END), 0)
                    AS BIGINT) AS d_events,
               CAST(COALESCE(SUM(CASE WHEN obs.tt = days.day
                                      AND obs.ev = 0 THEN 1 END), 0)
                    AS BIGINT) AS c_censored
        FROM days LEFT JOIN obs ON obs.tt = days.day
        GROUP BY days.day
    ), risk AS MATERIALIZED (
        SELECT day, d_events, c_censored,
               CAST(SUM(d_events + c_censored) OVER (
                    ORDER BY day DESC) AS BIGINT) AS n_risk
        FROM counts
    ), r AS (
        SELECT day, d_events, c_censored, n_risk,
               (({_KM_S} * (n_risk - d_events)) // n_risk) AS s_q
        FROM risk WHERE day = 0
        UNION ALL
        SELECT k.day, k.d_events, k.c_censored, k.n_risk,
               CASE WHEN k.n_risk = 0 THEN r.s_q
                    ELSE (r.s_q * (k.n_risk - k.d_events)) // k.n_risk END
        FROM r JOIN risk k ON k.day = r.day + 1
    )
    SELECT day, n_risk, d_events, c_censored, s_q,
           CAST(s_q AS DOUBLE) / {_KM_S}.0 AS survival
    FROM r
    """,
)
def q_km_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import LongType, StructField, StructType

    ev = t(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp("ts") / 86400).cast("bigint")
    j = ev.groupBy("user_id").agg(
        F.min(day).alias("d0"),
        F.min(F.when(F.col("event_type") == "purchase", day)).alias("dp"),
        F.max(day).alias("dl"),
    )
    obs = j.select(
        F.when(F.col("dp").isNull(), F.col("dl") - F.col("d0"))
        .otherwise(F.col("dp") - F.col("d0"))
        .alias("tt"),
        F.when(F.col("dp").isNull(), 0).otherwise(1).alias("ev"),
    )
    counts = (
        obs.groupBy("tt")
        .agg(
            F.sum(F.when(F.col("ev") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("d_events"),
            F.sum(F.when(F.col("ev") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("c_censored"),
        )
        .collect()
    )  # ≤31 bounded rows (daily risk table)
    by_day = {int(r["tt"]): (r["d_events"], r["c_censored"]) for r in counts}
    max_d = max(by_day) if by_day else 0
    rows = []
    # reverse cumulative at-risk, then the integer product recursion
    n_risk = {}
    acc = 0
    for d in range(max_d, -1, -1):
        de, ce = by_day.get(d, (0, 0))
        acc += de + ce
        n_risk[d] = acc
    s_q = None
    for d in range(0, max_d + 1):
        de, ce = by_day.get(d, (0, 0))
        nr = n_risk[d]
        if s_q is None:
            s_q = (_KM_S * (nr - de)) // nr
        elif nr == 0:
            pass
        else:
            s_q = (s_q * (nr - de)) // nr
        rows.append((d, nr, de, ce, s_q))
    schema = StructType(
        [
            StructField("day", LongType()),
            StructField("n_risk", LongType()),
            StructField("d_events", LongType()),
            StructField("c_censored", LongType()),
            StructField("s_q", LongType()),
        ]
    )
    out = local_rows(spark, rows, schema)
    return out.select(
        "day",
        "n_risk",
        "d_events",
        "c_censored",
        "s_q",
        (F.col("s_q").cast("double") / F.lit(float(_KM_S))).alias("survival"),
    )


# --- stratified ATE (propensity-score stratification, round 4) ---------------
# The observational companion to q_diff_in_diff: average treatment
# effect of the synthetic odd-user treatment on event value, adjusted
# by stratifying on event_type (the blocking confounder) — Cochran's
# subclassification estimator ATE = Σ_s (n_s/N)(ȳ₁ₛ − ȳ₀ₛ). Cell
# means are decimal-routed exact doubles; each stratum term
# (weight × difference) is ONE double product floor-quantized at 1e-9,
# so the cross-stratum sum is order-free; the finish is one division.
# Strata missing an arm are excluded on an exact integer predicate
# (both engines identically). One 2×strata-cell hash aggregate.
@_q(
    "q_propensity_strata",
    """
    WITH cell AS (
        SELECT event_type,
               CAST(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS BIGINT)
                   AS treated,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
                   AS m
        FROM events GROUP BY 1, 2
    ), strata AS (
        SELECT event_type,
               CAST(SUM(n) AS BIGINT) AS n_s,
               MAX(CASE WHEN treated = 1 THEN m END) AS m1,
               MAX(CASE WHEN treated = 0 THEN m END) AS m0,
               CAST(COUNT(*) AS BIGINT) AS n_arms
        FROM cell GROUP BY event_type
    ), ok AS (
        SELECT event_type, n_s, m1, m0 FROM strata WHERE n_arms = 2
    ), tot AS (SELECT CAST(SUM(n_s) AS BIGINT) AS nn FROM ok)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
           CAST(MAX(tot.nn) AS BIGINT) AS n_events,
           CAST(SUM(CAST(floor(1000000000.0 * (CAST(n_s AS DOUBLE)
                    * (m1 - m0)) + 0.5) AS BIGINT)) AS BIGINT) AS ate_num_q,
           CAST(SUM(CAST(floor(1000000000.0 * (CAST(n_s AS DOUBLE)
                    * (m1 - m0)) + 0.5) AS BIGINT)) AS DOUBLE)
             / MAX(tot.nn) / 1000000000.0 AS ate
    FROM ok CROSS JOIN tot
    """,
)
def q_propensity_strata(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    cell = ev.groupBy(
        "event_type",
        F.when(F.col("user_id") % 2 == 1, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("treated"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (
            F.sum(F.col("value").cast(DEC)).cast("double") / F.count(F.lit(1))
        ).alias("m"),
    )
    strata = cell.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("n_s"),
        F.max(F.when(F.col("treated") == 1, F.col("m"))).alias("m1"),
        F.max(F.when(F.col("treated") == 0, F.col("m"))).alias("m0"),
        F.count(F.lit(1)).cast("bigint").alias("n_arms"),
    )
    ok = strata.where(F.col("n_arms") == 2).select(
        "event_type", "n_s", "m1", "m0"
    )
    tot = ok.agg(F.sum("n_s").cast("bigint").alias("nn"))
    term = F.floor(
        F.lit(1000000000.0)
        * (F.col("n_s").cast("double") * (F.col("m1") - F.col("m0")))
        + F.lit(0.5)
    ).cast("bigint")
    return ok.crossJoin(F.broadcast(tot)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        F.max("nn").cast("bigint").alias("n_events"),
        F.sum(term).cast("bigint").alias("ate_num_q"),
        (
            F.sum(term).cast("double") / F.max("nn") / F.lit(1000000000.0)
        ).alias("ate"),
    )


# --- SAX symbolic series representation (round 4) ----------------------------
# Symbolic Aggregate approXimation (Lin/Keogh, public) of the hourly
# click series: PAA into 6-hour frames (frame statistic = the exact
# INTEGER frame sum — no mean division needed for ordering), alphabet
# cuts at the frame-sum quartiles by ELEMENT SELECTION (rn·k ≤ n
# integer arithmetic, the dcap pattern — never float percentiles), and
# a 4-letter symbol per frame plus the 2-gram motif with the next
# frame — the discretization that makes motif mining and cheap
# similarity possible on huge series. Everything is integer compares;
# no float enters until never. Scale: the series aggregate is the only
# row-grain work; framing/ranking run on O(|frames|) rows.
@_q(
    "q_sax_symbols",
    """
    WITH hourly AS (
        SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events WHERE event_type = 'click'
        GROUP BY 1
    ), base AS (SELECT CAST(MIN(hr) AS BIGINT) AS h0 FROM hourly),
    fr AS (
        SELECT CAST((hr - base.h0) // 6 AS BIGINT) AS frame,
               CAST(SUM(c) AS BIGINT) AS s
        FROM hourly CROSS JOIN base
        GROUP BY 1
    ), rk AS (
        SELECT frame, s,
               CAST(row_number() OVER (ORDER BY s, frame) AS BIGINT) AS rn,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM fr
    ), cuts AS (
        SELECT CAST(MAX(CASE WHEN rn * 4 <= n THEN s END) AS BIGINT) AS q1,
               CAST(MAX(CASE WHEN rn * 2 <= n THEN s END) AS BIGINT) AS q2,
               CAST(MAX(CASE WHEN rn * 4 <= 3 * n THEN s END) AS BIGINT)
                   AS q3
        FROM rk
    ), sym AS (
        SELECT fr.frame, fr.s,
               CASE WHEN fr.s <= cuts.q1 THEN 'a'
                    WHEN fr.s <= cuts.q2 THEN 'b'
                    WHEN fr.s <= cuts.q3 THEN 'c'
                    ELSE 'd' END AS symbol
        FROM fr CROSS JOIN cuts
    )
    SELECT frame, s AS frame_sum, symbol,
           symbol || COALESCE(lead(symbol) OVER (ORDER BY frame), '_')
               AS motif
    FROM sym
    """,
)
def q_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").where(F.col("event_type") == "click")
    hourly = ev.groupBy(
        F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("hr")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    base = hourly.agg(F.min("hr").cast("bigint").alias("h0"))
    fr = (
        hourly.crossJoin(F.broadcast(base))
        .groupBy(
            F.expr("CAST((hr - h0) DIV 6 AS BIGINT)").alias("frame")
        )
        .agg(F.sum("c").cast("bigint").alias("s"))
    )
    rk = fr.select(
        "frame",
        "s",
        # bounded: PAA frame series — O(frames) rows (fixed day grid)
        F.row_number().over(Window.orderBy("s", "frame")).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    cuts = rk.agg(
        F.max(F.when(F.col("rn") * 4 <= F.col("n"), F.col("s")))
        .cast("bigint")
        .alias("q1"),
        F.max(F.when(F.col("rn") * 2 <= F.col("n"), F.col("s")))
        .cast("bigint")
        .alias("q2"),
        F.max(F.when(F.col("rn") * 4 <= 3 * F.col("n"), F.col("s")))
        .cast("bigint")
        .alias("q3"),
    )
    sym = fr.crossJoin(F.broadcast(cuts)).select(
        "frame",
        "s",
        F.when(F.col("s") <= F.col("q1"), "a")
        .when(F.col("s") <= F.col("q2"), "b")
        .when(F.col("s") <= F.col("q3"), "c")
        .otherwise("d")
        .alias("symbol"),
    )
    return sym.select(
        "frame",
        F.col("s").alias("frame_sum"),
        "symbol",
        F.concat(
            F.col("symbol"),
            F.coalesce(
                # bounded: symbol-per-frame relation — O(frames) rows
                F.lead("symbol").over(Window.orderBy("frame")), F.lit("_")
            ),
        ).alias("motif"),
    )


# --- two-sample Cramér–von Mises test (round 4) ------------------------------
# The integrated-difference companion to q_ks_drift (sup-difference)
# and q_mannwhitney (rank-sum): Anderson's two-sample CvM statistic
# T = U/(nmN) − (4mn−1)/(6N), U = n·Σ(rᵢ−i)² + m·Σ(sⱼ−j)², where rᵢ
# are the pooled ranks of sample 1 and i its within-sample ranks —
# ALL exact integers under the pinned (value, event_id) total order,
# so U is an order-free integer and the finish is one fixed-order
# shared-text double expression. Scale: two rank windows over the
# pooled relation + one combinable aggregate.
_CVM_FIN = (
    "CAST(u AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2 * (n1 + n2))"
    " - (4.0 * CAST(n1 AS DOUBLE) * n2 - 1.0) / (6.0 * (n1 + n2))"
)


@_q(
    "q_cvm_test",
    f"""
    WITH pooled AS (
        SELECT event_type, value, event_id,
               CAST(row_number() OVER (ORDER BY value, event_id) AS BIGINT)
                   AS pr,
               CAST(row_number() OVER (PARTITION BY event_type
                                       ORDER BY value, event_id) AS BIGINT)
                   AS sr
        FROM events WHERE event_type IN ('click', 'view')
    ), s AS (
        SELECT
            CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT)
                AS n1,
            CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT)
                AS n2,
            CAST(SUM(CASE WHEN event_type = 'click'
                          THEN (pr - sr) * (pr - sr) END) AS BIGINT) AS d1,
            CAST(SUM(CASE WHEN event_type = 'view'
                          THEN (pr - sr) * (pr - sr) END) AS BIGINT) AS d2
        FROM pooled
    ), u AS (
        SELECT n1, n2, CAST(n1 * d1 + n2 * d2 AS BIGINT) AS u FROM s
    )
    SELECT n1, n2, u, {_CVM_FIN} AS cvm_t
    FROM u
    """,
)
def q_cvm_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "view")
    )
    # events are fact-sized: the pooled rank rides the range-
    # partitioned ranker (plans/rank.py); the per-group rank keeps its
    # partitioned window
    pooled = global_rank(
        ev.select("event_type", "value", "event_id"),
        ["value", "event_id"],
        rank_col="pr",
    ).withColumn(
        "sr",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("value", "event_id"))
        .cast("bigint"),
    )
    d = (F.col("pr") - F.col("sr")) * (F.col("pr") - F.col("sr"))
    s = pooled.agg(
        F.count(F.when(F.col("event_type") == "click", 1))
        .cast("bigint")
        .alias("n1"),
        F.count(F.when(F.col("event_type") == "view", 1))
        .cast("bigint")
        .alias("n2"),
        F.sum(F.when(F.col("event_type") == "click", d))
        .cast("bigint")
        .alias("d1"),
        F.sum(F.when(F.col("event_type") == "view", d))
        .cast("bigint")
        .alias("d2"),
    )
    u = s.select(
        "n1",
        "n2",
        (F.col("n1") * F.col("d1") + F.col("n2") * F.col("d2"))
        .cast("bigint")
        .alias("u"),
    )
    return u.selectExpr("n1", "n2", "u", f"{_CVM_FIN} AS cvm_t")


# --- Kruskal-Wallis H test (round 4) -----------------------------------------
# The k-sample generalization of q_mannwhitney: does value's
# distribution differ across ALL event types at once? Same doubled-rank
# trick (average tie ranks are half-integers, so 2*rank is a pure
# BIGINT built from the distinct-value cumulative counts); per-group
# rank sums are exact integer aggregates; the per-group term R2_g^2/n_g
# enters the cross-group sum as a floor-quantized BIGINT computed in
# the shared double domain (r2s^2 overflows int64 at sf0.1; the double
# product is correctly rounded identically on both engines, so the
# floored term is still deterministic), keeping the sum order-free. H and the tie-corrected H/C finish as shared-text IEEE
# expressions over those integers; C uses the exact tie sum
# T = sum(t^3 - t) off the same distinct-value relation. Plan: ranks
# live on O(|distinct|) rows; the only row-grain work is the
# (type, value) aggregate — one shuffle, map-side combinable.
_KW_H = (
    "(3.0 * CAST(s AS DOUBLE)"
    " / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE))"
    " - 3.0 * CAST(n + 1 AS DOUBLE))"
)
_KW_C = (
    "(1.0 - CAST(tie_sum AS DOUBLE)"
    " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
    " - CAST(n AS DOUBLE)))"
)


@_q(
    "q_kruskal_wallis",
    f"""
    WITH vc AS (
        SELECT value, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events WHERE value IS NOT NULL GROUP BY value
    ), v2 AS (
        SELECT value, cnt,
               CAST(2 * (SUM(cnt) OVER (ORDER BY value
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         - cnt) + cnt + 1 AS BIGINT) AS r2
        FROM vc
    ), gv AS (
        SELECT event_type, value, CAST(COUNT(*) AS BIGINT) AS gcnt
        FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ), per AS (
        SELECT event_type,
               CAST(SUM(gcnt) AS BIGINT) AS n1,
               CAST(SUM(gcnt * r2) AS BIGINT) AS r2s
        FROM gv JOIN v2 USING (value) GROUP BY event_type
    ), terms AS (
        SELECT n1,
               CAST(floor(CAST(r2s AS DOUBLE) * CAST(r2s AS DOUBLE)
                          / CAST(n1 AS DOUBLE)) AS BIGINT) AS q
        FROM per
    ), ties AS (
        SELECT CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_sum
        FROM vc
    ), agg AS (
        SELECT CAST(SUM(n1) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS n_groups,
               CAST(SUM(q) AS BIGINT) AS s
        FROM terms
    )
    SELECT n, n_groups, tie_sum,
           {_KW_H} AS h,
           ({_KW_H} / {_KW_C}) AS h_corrected
    FROM agg CROSS JOIN ties
    """,
)
def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    vc = e.groupBy("value").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    # the value support is near-fact-sized (DOUBLE values): the running
    # rank-sum rides the range-partitioned global_order (plans/rank.py)
    v2 = global_order(vc, ["value"], cum_sums={"_cs": "cnt"}).select(
        "value",
        "cnt",
        (2 * (F.col("_cs") - F.col("cnt")) + F.col("cnt") + 1)
        .cast("bigint")
        .alias("r2"),
    )
    gv = e.groupBy("event_type", "value").agg(
        F.count(F.lit(1)).cast("bigint").alias("gcnt")
    )
    per = gv.join(v2.select("value", "r2"), "value").groupBy(
        "event_type"
    ).agg(
        F.sum("gcnt").cast("bigint").alias("n1"),
        F.sum(F.col("gcnt") * F.col("r2")).cast("bigint").alias("r2s"),
    )
    terms = per.selectExpr(
        "n1",
        "CAST(floor(CAST(r2s AS DOUBLE) * CAST(r2s AS DOUBLE)"
        " / CAST(n1 AS DOUBLE)) AS BIGINT) AS q",
    )
    ties = vc.agg(
        F.sum(
            F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
        )
        .cast("bigint")
        .alias("tie_sum")
    )
    agg = terms.agg(
        F.sum("n1").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum("q").cast("bigint").alias("s"),
    )
    return agg.crossJoin(F.broadcast(ties)).selectExpr(
        "n",
        "n_groups",
        "tie_sum",
        f"{_KW_H} AS h",
        f"({_KW_H} / {_KW_C}) AS h_corrected",
    )


# --- one-way ANOVA F test (round 4) ------------------------------------------
# The parametric companion to q_kruskal_wallis on the same question
# (value by event_type), via the classic sufficient-statistic identity
# SSB = sum_g S_g^2/n_g - S^2/N, SSW = sum y^2 - sum_g S_g^2/n_g.
# Exactness: value is money-like (2 decimals), so cents
# c = floor(value*100 + 0.5) is an exact BIGINT and every sufficient
# statistic (S_g, sum c^2, counts) is an exact integer aggregate; the
# per-group S_g^2/n_g terms are floor-quantized BIGINTs via the shared
# double domain (S_g^2 overflows int64 at sf0.1; both engines round the
# double product identically), keeping the cross-group sum order-free
# and SSB/SSW deterministic integers in the cents^2 domain. The F statistic is one shared-text expression over those
# integers (the 10^4 cents^2 scale cancels in F); SSB/SSW are also
# reported in value units^2 via a single fixed-order division. Plan:
# one map-side-combinable aggregate per group + an O(k) finish.
_AOV_F = (
    "((CAST(ssb_sc AS DOUBLE) / CAST(n_groups - 1 AS DOUBLE))"
    " / (CAST(ssw_sc AS DOUBLE) / CAST(n - n_groups AS DOUBLE)))"
)
_AOV_CENTS = "CAST(floor(value * 100 + 0.5) AS BIGINT)"


@_q(
    "q_anova_f",
    f"""
    WITH c AS (
        SELECT event_type, {_AOV_CENTS} AS c
        FROM events WHERE value IS NOT NULL
    ), per AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n1,
               CAST(SUM(c) AS BIGINT) AS s1,
               CAST(SUM(c * c) AS BIGINT) AS qq1
        FROM c GROUP BY event_type
    ), terms AS (
        SELECT n1, s1, qq1,
               CAST(floor(CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                          / CAST(n1 AS DOUBLE)) AS BIGINT) AS b
        FROM per
    ), agg AS (
        SELECT CAST(SUM(n1) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS n_groups,
               CAST(SUM(s1) AS BIGINT) AS s,
               CAST(SUM(qq1) AS BIGINT) AS qq,
               CAST(SUM(b) AS BIGINT) AS bsum
        FROM terms
    ), sc AS (
        SELECT n, n_groups,
               CAST(bsum - CAST(floor(CAST(s AS DOUBLE)
                    * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT)
                    AS BIGINT) AS ssb_sc,
               CAST(qq - bsum AS BIGINT) AS ssw_sc
        FROM agg
    )
    SELECT n, n_groups,
           CAST(ssb_sc AS DOUBLE) / 10000.0 AS ssb,
           CAST(ssw_sc AS DOUBLE) / 10000.0 AS ssw,
           {_AOV_F} AS f_stat
    FROM sc
    """,
)
def q_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    c = e.selectExpr("event_type", f"{_AOV_CENTS} AS c")
    per = c.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n1"),
        F.sum("c").cast("bigint").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("qq1"),
    )
    terms = per.selectExpr(
        "n1",
        "s1",
        "qq1",
        "CAST(floor(CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
        " / CAST(n1 AS DOUBLE)) AS BIGINT) AS b",
    )
    agg = terms.agg(
        F.sum("n1").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum("s1").cast("bigint").alias("s"),
        F.sum("qq1").cast("bigint").alias("qq"),
        F.sum("b").cast("bigint").alias("bsum"),
    )
    sc = agg.selectExpr(
        "n",
        "n_groups",
        "CAST(bsum - CAST(floor(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)"
        " / CAST(n AS DOUBLE)) AS BIGINT) AS BIGINT) AS ssb_sc",
        "CAST(qq - bsum AS BIGINT) AS ssw_sc",
    )
    return sc.selectExpr(
        "n",
        "n_groups",
        "CAST(ssb_sc AS DOUBLE) / 10000.0 AS ssb",
        "CAST(ssw_sc AS DOUBLE) / 10000.0 AS ssw",
        f"{_AOV_F} AS f_stat",
    )


# --- McNemar paired-proportions test (round 4) --------------------------------
# The paired companion to q_abtest: among the same users, is "ever
# clicked" more prevalent than "ever purchased"? Only the discordant
# cells carry information; the continuity-corrected statistic
# (|b-c|-1)^2/(b+c) is exact integers plus ONE division. Plan: one
# per-user boolean aggregate (map-side combinable on user_id) + an O(1)
# cell count — no joins, no windows.
_MCN = (
    "(CAST((abs(n10 - n01) - 1) * (abs(n10 - n01) - 1) AS DOUBLE)"
    " / CAST(n10 + n01 AS DOUBLE))"
)


@_q(
    "q_mcnemar",
    f"""
    WITH per AS (
        SELECT user_id,
               CAST(MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS a,
               CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS b
        FROM events GROUP BY user_id
    ), cells AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(a * b) AS BIGINT) AS n11,
               CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
               CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
               CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
        FROM per
    )
    SELECT n_users, n11, n10, n01, n00,
           CASE WHEN n10 + n01 = 0 THEN NULL ELSE {_MCN} END AS mcnemar_chi2
    FROM cells
    """,
)
def q_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    per = e.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("a"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("b"),
    )
    cells = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(F.col("a") * F.col("b")).cast("bigint").alias("n11"),
        F.sum(F.col("a") * (1 - F.col("b"))).cast("bigint").alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).cast("bigint").alias("n01"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).cast("bigint").alias("n00"),
    )
    return cells.selectExpr(
        "n_users",
        "n11",
        "n10",
        "n01",
        "n00",
        f"CASE WHEN n10 + n01 = 0 THEN NULL ELSE {_MCN} END AS mcnemar_chi2",
    )


# --- Cochran's Q test (round 4) ------------------------------------------------
# The k-treatment generalization of q_mcnemar: do per-user success rates
# differ across click / view / purchase exposure? Binary per (user,
# treatment); Q = (k-1)(k*sum(C_j^2) - T^2) / (k*T - sum(R_i^2)) — every
# sufficient statistic is an exact integer, the finish is one division.
# Plan: one per-user aggregate producing the three booleans + row total,
# an O(1) global fold; column totals come off the same per-user relation
# (k fixed literals, no second scan of events).
_CQ = (
    "(CAST((k - 1) * (k * sum_cj2 - t_total * t_total) AS DOUBLE)"
    " / CAST(k * t_total - sum_ri2 AS DOUBLE))"
)


@_q(
    "q_cochran_q",
    f"""
    WITH per AS (
        SELECT user_id,
               CAST(MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS x1,
               CAST(MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                    AS BIGINT) AS x2,
               CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS x3
        FROM events GROUP BY user_id
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(3 AS BIGINT) AS k,
               CAST(SUM(x1) AS BIGINT) AS c1,
               CAST(SUM(x2) AS BIGINT) AS c2,
               CAST(SUM(x3) AS BIGINT) AS c3,
               CAST(SUM(x1 + x2 + x3) AS BIGINT) AS t_total,
               CAST(SUM((x1 + x2 + x3) * (x1 + x2 + x3)) AS BIGINT) AS sum_ri2
        FROM per
    ), fin AS (
        SELECT n_users, k, t_total, sum_ri2,
               CAST(c1 * c1 + c2 * c2 + c3 * c3 AS BIGINT) AS sum_cj2
        FROM agg
    )
    SELECT n_users, k, t_total, sum_cj2, sum_ri2,
           CASE WHEN k * t_total - sum_ri2 = 0 THEN NULL ELSE {_CQ} END
               AS cochran_q
    FROM fin
    """,
)
def q_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    per = e.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("x1"),
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("bigint")
        .alias("x2"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("x3"),
    )
    agg = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.lit(3).cast("bigint").alias("k"),
        F.sum("x1").cast("bigint").alias("c1"),
        F.sum("x2").cast("bigint").alias("c2"),
        F.sum("x3").cast("bigint").alias("c3"),
        F.sum(F.col("x1") + F.col("x2") + F.col("x3"))
        .cast("bigint")
        .alias("t_total"),
        F.sum(
            (F.col("x1") + F.col("x2") + F.col("x3"))
            * (F.col("x1") + F.col("x2") + F.col("x3"))
        )
        .cast("bigint")
        .alias("sum_ri2"),
    )
    fin = agg.selectExpr(
        "n_users",
        "k",
        "t_total",
        "sum_ri2",
        "CAST(c1 * c1 + c2 * c2 + c3 * c3 AS BIGINT) AS sum_cj2",
    )
    return fin.selectExpr(
        "n_users",
        "k",
        "t_total",
        "sum_cj2",
        "sum_ri2",
        f"CASE WHEN k * t_total - sum_ri2 = 0 THEN NULL ELSE {_CQ} END"
        " AS cochran_q",
    )


# --- Herfindahl-Hirschman concentration index (round 4) ------------------------
# Traffic-concentration audit: per event type, how concentrated is the
# activity across users? HHI = sum(c_u^2)/N^2 on exact integer counts;
# its reciprocal is the "effective number of users" (the diversity
# number the q_simpson_diversity family reports for tokens). Plan: one
# (type, user) count aggregate + one per-type fold, both map-side
# combinable; output O(|types|).
_HHI = "(CAST(sum_sq AS DOUBLE) / (CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE)))"
_HHI_EFF = "((CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE)) / CAST(sum_sq AS DOUBLE))"


@_q(
    "q_hhi",
    f"""
    WITH cu AS (
        SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), agg AS (
        SELECT event_type,
               CAST(SUM(c) AS BIGINT) AS n_events,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(c * c) AS BIGINT) AS sum_sq
        FROM cu GROUP BY event_type
    )
    SELECT event_type, n_events, n_users, sum_sq,
           {_HHI} AS hhi, {_HHI_EFF} AS effective_users
    FROM agg ORDER BY event_type
    """,
)
def q_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    cu = e.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    agg = cu.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("n_events"),
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sum_sq"),
    )
    return agg.selectExpr(
        "event_type",
        "n_events",
        "n_users",
        "sum_sq",
        f"{_HHI} AS hhi",
        f"{_HHI_EFF} AS effective_users",
    ).orderBy("event_type")


# --- Fano factor / burstiness of hourly arrivals (round 4) ---------------------
# Arrival-process audit per event type: dispersion index of the hourly
# arrival counts (Fano = sample variance / mean; 1 = Poisson-like,
# >1 = bursty) and the Goh-Barabasi burstiness B = (sd-mean)/(sd+mean).
# Buckets are the OBSERVED active hours (documented: zero-hours excluded,
# identical on both sides). Exact integers n, S, Q feed fixed-order
# expressions; sqrt is IEEE-correctly-rounded so B is shared-text safe.
# Plan: one (type, hour) count + one per-type fold — two map-side
# combinable aggregates, no windows.
_FANO = (
    "(CAST(n_hours * qq - s * s AS DOUBLE)"
    " / (CAST(n_hours - 1 AS DOUBLE) * CAST(s AS DOUBLE)))"
)
_FANO_SD = (
    "sqrt(CAST(n_hours * qq - s * s AS DOUBLE)"
    " / (CAST(n_hours AS DOUBLE) * CAST(n_hours - 1 AS DOUBLE)))"
)
_FANO_MEAN = "(CAST(s AS DOUBLE) / CAST(n_hours AS DOUBLE))"
_FANO_B = (
    f"(({_FANO_SD} - {_FANO_MEAN}) / ({_FANO_SD} + {_FANO_MEAN}))"
)


@_q(
    "q_fano",
    f"""
    WITH hb AS (
        SELECT event_type, date_trunc('hour', ts) AS hr,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), agg AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_hours,
               CAST(SUM(c) AS BIGINT) AS s,
               CAST(SUM(c * c) AS BIGINT) AS qq
        FROM hb GROUP BY event_type
    )
    SELECT event_type, n_hours, s AS n_events,
           {_FANO} AS fano, {_FANO_B} AS burstiness
    FROM agg ORDER BY event_type
    """,
)
def q_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    hb = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    agg = hb.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("qq"),
    )
    return agg.selectExpr(
        "event_type",
        "n_hours",
        "s AS n_events",
        f"{_FANO} AS fano",
        f"{_FANO_B} AS burstiness",
    ).orderBy("event_type")


# --- Durbin-Watson autocorrelation statistic (round 4) -------------------------
# Serial-correlation audit on the daily arrival series per event type:
# DW = sum((x_t - x_(t-1))^2) / sum((x_t - xbar)^2), computed via the
# n-multiplied identity DW = n * sum(diff^2) / (n * sum(x^2) - S^2) so
# every term is an exact BIGINT and the finish is one division (2 = no
# autocorrelation, <2 positive, >2 negative). Plan: one (type, day)
# count, one lag window per type (tiny relation), one fold.
_DW = (
    "(CAST(n_days AS DOUBLE) * CAST(num_diff2 AS DOUBLE)"
    " / CAST(n_days * qq - s * s AS DOUBLE))"
)


@_q(
    "q_durbin_watson",
    f"""
    WITH db AS (
        SELECT event_type, date_trunc('day', ts) AS d,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), lagd AS (
        SELECT event_type, c,
               LAG(c) OVER (PARTITION BY event_type ORDER BY d) AS pc
        FROM db
    ), agg AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(c) AS BIGINT) AS s,
               CAST(SUM(c * c) AS BIGINT) AS qq,
               CAST(SUM(CASE WHEN pc IS NULL THEN 0
                             ELSE (c - pc) * (c - pc) END) AS BIGINT)
                   AS num_diff2
        FROM lagd GROUP BY event_type
    )
    SELECT event_type, n_days, s AS n_events, num_diff2, {_DW} AS dw
    FROM agg ORDER BY event_type
    """,
)
def q_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    db = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    w = Window.partitionBy("event_type").orderBy("d")
    lagd = db.select(
        "event_type", "c", F.lag("c").over(w).alias("pc")
    )
    agg = lagd.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("qq"),
        F.sum(
            F.when(F.col("pc").isNull(), 0).otherwise(
                (F.col("c") - F.col("pc")) * (F.col("c") - F.col("pc"))
            )
        )
        .cast("bigint")
        .alias("num_diff2"),
    )
    return agg.selectExpr(
        "event_type",
        "n_days",
        "s AS n_events",
        "num_diff2",
        f"{_DW} AS dw",
    ).orderBy("event_type")


# --- Wald-Wolfowitz runs test (round 4) ----------------------------------------
# Randomness audit on the daily arrival series: are above-median and
# below-median days randomly interleaved, or do they clump (regime
# shifts, ramps)? Median = the SELECTED lower-middle daily count under
# the pinned (count, day) total order (element selection, never
# interpolation); days equal to the median are excluded (standard).
# Runs/n1/n2 are exact integers off one lag pass; z is the textbook
# normal approximation as shared IEEE text. Plan: everything after the
# (day) count aggregate runs on an O(|days|) relation.
_RT_MU = (
    "(1.0 + 2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)"
    " / CAST(n_above + n_below AS DOUBLE))"
)
_RT_SIG = (
    "sqrt(2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)"
    " * (2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)"
    " - CAST(n_above + n_below AS DOUBLE))"
    " / (CAST(n_above + n_below AS DOUBLE)"
    " * CAST(n_above + n_below AS DOUBLE)"
    " * CAST(n_above + n_below - 1 AS DOUBLE)))"
)
_RT_Z = f"((CAST(runs AS DOUBLE) - {_RT_MU}) / {_RT_SIG})"


@_q(
    "q_runs_test",
    f"""
    WITH db AS (
        SELECT date_trunc('day', ts) AS d, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1
    ), med AS (
        SELECT c AS med FROM (
            SELECT c, row_number() OVER (ORDER BY c, d) AS rn,
                   COUNT(*) OVER () AS n
            FROM db
        ) WHERE rn = (n + 1) // 2
    ), signed AS (
        SELECT d, CASE WHEN c > med THEN 1 ELSE 0 END AS s
        FROM db CROSS JOIN med WHERE c <> med
    ), lagd AS (
        SELECT s, LAG(s) OVER (ORDER BY d) AS ps FROM signed
    ), agg AS (
        SELECT CAST(SUM(s) AS BIGINT) AS n_above,
               CAST(SUM(1 - s) AS BIGINT) AS n_below,
               CAST(1 + SUM(CASE WHEN ps IS NOT NULL AND s <> ps
                                 THEN 1 ELSE 0 END) AS BIGINT) AS runs
        FROM lagd
    )
    SELECT (SELECT CAST(med AS DOUBLE) FROM med) AS median_count,
           n_above, n_below, runs, {_RT_Z} AS z
    FROM agg
    """,
)
def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    db = e.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    r = db.select(
        "d",
        "c",
        # bounded: per-day sign series — O(days) rows
        F.row_number().over(Window.orderBy("c", "d")).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    med = r.where(F.col("rn") == F.expr("(n + 1) DIV 2")).select(
        F.col("c").alias("med")
    )
    signed = (
        db.crossJoin(F.broadcast(med))
        .where(F.col("c") != F.col("med"))
        .select(
            "d", F.when(F.col("c") > F.col("med"), 1).otherwise(0).alias("s")
        )
    )
    lagd = signed.select(
        # bounded: per-day sign series — O(days) rows
        "s", F.lag("s").over(Window.orderBy("d")).alias("ps")
    )
    agg = lagd.agg(
        F.sum("s").cast("bigint").alias("n_above"),
        F.sum(1 - F.col("s")).cast("bigint").alias("n_below"),
        (
            F.lit(1)
            + F.sum(
                F.when(
                    F.col("ps").isNotNull() & (F.col("s") != F.col("ps")), 1
                ).otherwise(0)
            )
        )
        .cast("bigint")
        .alias("runs"),
    )
    return agg.crossJoin(
        F.broadcast(med.select(F.col("med").cast("double").alias("median_count")))
    ).selectExpr(
        "median_count", "n_above", "n_below", "runs", f"{_RT_Z} AS z"
    )


# --- Kendall tau-b rank correlation (round 4) ----------------------------------
# Do hours that attract clicks also attract views? Tau-b over the 24
# hour-of-day (click count, view count) pairs — the rank-correlation
# companion to q_spearman, with explicit tie handling. Concordant /
# discordant / tie counts are exact integers from the pair join on the
# O(24) aggregate (at any corpus size the pair stage is constant);
# tau-b's sqrt denominator is shared IEEE text.
_KT_TAU = (
    "(CAST(concordant - discordant AS DOUBLE)"
    " / sqrt(CAST(n_pairs - ties_x AS DOUBLE)"
    " * CAST(n_pairs - ties_y AS DOUBLE)))"
)


@_q(
    "q_kendall_tau",
    f"""
    WITH hb AS (
        SELECT EXTRACT(hour FROM ts) AS hod,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS x,
               CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                    AS BIGINT) AS y
        FROM events GROUP BY 1
    ), pairs AS (
        SELECT a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
        FROM hb a JOIN hb b ON a.hod < b.hod
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(CASE WHEN (x1 - x2) * (y1 - y2) > 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
               CAST(SUM(CASE WHEN (x1 - x2) * (y1 - y2) < 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS discordant,
               CAST(SUM(CASE WHEN x1 = x2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS ties_x,
               CAST(SUM(CASE WHEN y1 = y2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS ties_y
        FROM pairs
    )
    SELECT n_pairs, concordant, discordant, ties_x, ties_y,
           {_KT_TAU} AS tau_b
    FROM agg
    """,
)
def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    hb = e.groupBy(F.hour("ts").alias("hod")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("bigint")
        .alias("y"),
    )
    a = hb.alias("a")
    b = hb.alias("b")
    pairs = a.join(b, F.col("a.hod") < F.col("b.hod")).select(
        F.col("a.x").alias("x1"),
        F.col("a.y").alias("y1"),
        F.col("b.x").alias("x2"),
        F.col("b.y").alias("y2"),
    )
    agg = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(
            F.when((F.col("x1") - F.col("x2")) * (F.col("y1") - F.col("y2")) > 0, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("concordant"),
        F.sum(
            F.when((F.col("x1") - F.col("x2")) * (F.col("y1") - F.col("y2")) < 0, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("discordant"),
        F.sum(F.when(F.col("x1") == F.col("x2"), 1).otherwise(0))
        .cast("bigint")
        .alias("ties_x"),
        F.sum(F.when(F.col("y1") == F.col("y2"), 1).otherwise(0))
        .cast("bigint")
        .alias("ties_y"),
    )
    return agg.selectExpr(
        "n_pairs",
        "concordant",
        "discordant",
        "ties_x",
        "ties_y",
        f"{_KT_TAU} AS tau_b",
    )


# --- Mann-Kendall trend test (round 4) -----------------------------------------
# Monotone-trend audit on the daily arrival series — the hypothesis-test
# companion to q_theilsen (which estimates the slope, this tests it).
# S = sum of pairwise signs and the tie-corrected variance numerator are
# exact integers off the O(|days|) aggregate's pair join; the
# continuity-corrected z is one shared CASE expression.
_MK_Z = (
    "(CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)"
    " / sqrt(CAST(var_num AS DOUBLE) / 18.0)"
    " WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)"
    " / sqrt(CAST(var_num AS DOUBLE) / 18.0)"
    " ELSE 0.0 END)"
)


@_q(
    "q_mann_kendall",
    f"""
    WITH db AS (
        SELECT date_trunc('day', ts) AS d, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1
    ), n AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM db
    ), s AS (
        SELECT CAST(SUM(CASE WHEN b.c > a.c THEN 1
                             WHEN b.c < a.c THEN -1 ELSE 0 END) AS BIGINT)
                   AS s_stat
        FROM db a JOIN db b ON a.d < b.d
    ), ties AS (
        SELECT CAST(COALESCE(SUM(tc * (tc - 1) * (2 * tc + 5)), 0) AS BIGINT)
                   AS tie_term
        FROM (SELECT CAST(COUNT(*) AS BIGINT) AS tc FROM db GROUP BY c)
        WHERE tc > 1
    ), fin AS (
        SELECT n_days, s_stat,
               CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_term
                    AS BIGINT) AS var_num
        FROM n CROSS JOIN s CROSS JOIN ties
    )
    SELECT n_days, s_stat, var_num, {_MK_Z} AS z FROM fin
    """,
)
def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    db = e.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    n = db.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    a = db.alias("a")
    b = db.alias("b")
    s = (
        a.join(b, F.col("a.d") < F.col("b.d"))
        .agg(
            F.sum(
                F.when(F.col("b.c") > F.col("a.c"), 1)
                .when(F.col("b.c") < F.col("a.c"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_stat")
        )
    )
    ties = (
        db.groupBy("c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tc"))
        .where(F.col("tc") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("tc") * (F.col("tc") - 1) * (2 * F.col("tc") + 5)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tie_term")
        )
    )
    fin = (
        n.crossJoin(F.broadcast(s))
        .crossJoin(F.broadcast(ties))
        .selectExpr(
            "n_days",
            "s_stat",
            "CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_term"
            " AS BIGINT) AS var_num",
        )
    )
    return fin.selectExpr("n_days", "s_stat", "var_num", f"{_MK_Z} AS z")


# --- Friedman test (round 4) -----------------------------------------------------
# The blocked-design rank test: within each DAY (block), rank the five
# event types by arrival count; does any type consistently out-rank the
# others across days? Complete blocks come from the explicit
# days × types grid (absent cells = 0, identical on both sides).
# Doubled average tie ranks (the q_kruskal_wallis trick, here per
# block) keep every rank a BIGINT; per-type doubled rank sums and their
# squares are exact integers, and the chi-square (+ tie correction) is
# shared IEEE text. Plan: grid and ranks live on O(|days|·k) rows.
_FR_CHI2 = (
    "(12.0 * (CAST(sum_r2sq AS DOUBLE) / 4.0)"
    " / (CAST(n_blocks AS DOUBLE) * CAST(k AS DOUBLE)"
    " * CAST(k + 1 AS DOUBLE))"
    " - 3.0 * CAST(n_blocks AS DOUBLE) * CAST(k + 1 AS DOUBLE))"
)
_FR_C = (
    "(1.0 - CAST(tie_sum AS DOUBLE)"
    " / (CAST(n_blocks AS DOUBLE) * CAST(k AS DOUBLE)"
    " * (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1.0)))"
)


@_q(
    "q_friedman",
    f"""
    WITH days AS (
        SELECT DISTINCT date_trunc('day', ts) AS d FROM events
    ), types AS (
        SELECT DISTINCT event_type FROM events
    ), obs AS (
        SELECT date_trunc('day', ts) AS d, event_type,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), grid AS (
        SELECT days.d, types.event_type, COALESCE(obs.c, 0) AS c
        FROM days CROSS JOIN types
        LEFT JOIN obs ON obs.d = days.d AND obs.event_type = types.event_type
    ), vc AS (
        SELECT d, c, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM grid GROUP BY 1, 2
    ), v2 AS (
        SELECT d, c,
               CAST(2 * (SUM(cnt) OVER (PARTITION BY d ORDER BY c
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         - cnt) + cnt + 1 AS BIGINT) AS r2
        FROM vc
    ), ranked AS (
        SELECT g.event_type, v.r2
        FROM grid g JOIN v2 v ON g.d = v.d AND g.c = v.c
    ), per AS (
        SELECT event_type, CAST(SUM(r2) AS BIGINT) AS r2sum
        FROM ranked GROUP BY event_type
    ), ties AS (
        SELECT CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_sum
        FROM vc
    ), meta AS (
        SELECT CAST((SELECT COUNT(*) FROM days) AS BIGINT) AS n_blocks,
               CAST((SELECT COUNT(*) FROM types) AS BIGINT) AS k
    ), agg AS (
        SELECT CAST(SUM(r2sum * r2sum) AS BIGINT) AS sum_r2sq FROM per
    )
    SELECT n_blocks, k, tie_sum,
           {_FR_CHI2} AS chi2,
           CASE WHEN {_FR_C} = 0.0 THEN NULL
                ELSE ({_FR_CHI2} / {_FR_C}) END AS chi2_corrected
    FROM meta CROSS JOIN agg CROSS JOIN ties
    """,
)
def q_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    days = e.select(F.date_trunc("day", F.col("ts")).alias("d")).distinct()
    types = e.select("event_type").distinct()
    obs = e.groupBy(
        F.date_trunc("day", F.col("ts")).alias("d"), F.col("event_type")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    grid = (
        days.crossJoin(F.broadcast(types))
        .join(obs, ["d", "event_type"], "left")
        .select("d", "event_type", F.coalesce(F.col("c"), F.lit(0)).alias("c"))
    )
    vc = grid.groupBy("d", "c").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    wcum = (
        Window.partitionBy("d")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    v2 = vc.select(
        "d",
        "c",
        (2 * (F.sum("cnt").over(wcum) - F.col("cnt")) + F.col("cnt") + 1)
        .cast("bigint")
        .alias("r2"),
    )
    ranked = grid.join(v2, ["d", "c"]).select("event_type", "r2")
    per = ranked.groupBy("event_type").agg(
        F.sum("r2").cast("bigint").alias("r2sum")
    )
    ties = vc.agg(
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("bigint")
        .alias("tie_sum")
    )
    meta = days.agg(F.count(F.lit(1)).cast("bigint").alias("n_blocks")).crossJoin(
        F.broadcast(types.agg(F.count(F.lit(1)).cast("bigint").alias("k")))
    )
    agg = per.agg(
        F.sum(F.col("r2sum") * F.col("r2sum")).cast("bigint").alias("sum_r2sq")
    )
    return (
        meta.crossJoin(F.broadcast(agg))
        .crossJoin(F.broadcast(ties))
        .selectExpr(
            "n_blocks",
            "k",
            "tie_sum",
            f"{_FR_CHI2} AS chi2",
            f"CASE WHEN {_FR_C} = 0.0 THEN NULL"
            f" ELSE ({_FR_CHI2} / {_FR_C}) END AS chi2_corrected",
        )
    )


# --- Brown-Forsythe (Levene) variance-homogeneity test (round 4) ----------------
# The assumption-check companion to q_anova_f: are value spreads equal
# across event types? Brown-Forsythe = one-way ANOVA on absolute
# deviations from the GROUP MEDIAN (median = selected lower-middle cents
# element per type — element selection, never interpolation, so the
# deviations are exact BIGINTs in the cents domain). The W statistic
# reuses q_anova_f's exact integer sufficient-statistic identity.
# Plan: one rank window per type on the (type, cents) relation + two
# combinable aggregates; the median relation is O(k) and broadcast.
_BF_W = (
    "((CAST(ssb_sc AS DOUBLE) / CAST(n_groups - 1 AS DOUBLE))"
    " / (CAST(ssw_sc AS DOUBLE) / CAST(n - n_groups AS DOUBLE)))"
)


@_q(
    "q_levene_bf",
    f"""
    WITH c AS (
        SELECT event_type, {_AOV_CENTS} AS c,
               CAST(event_id AS BIGINT) AS event_id
        FROM events WHERE value IS NOT NULL
    ), r AS (
        SELECT event_type, c,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY c, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM c
    ), med AS (
        SELECT event_type, c AS med FROM r WHERE rn = (n + 1) // 2
    ), z AS (
        SELECT c.event_type, CAST(abs(c.c - med.med) AS BIGINT) AS z
        FROM c JOIN med ON c.event_type = med.event_type
    ), per AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n1,
               CAST(SUM(z) AS BIGINT) AS s1,
               CAST(SUM(z * z) AS BIGINT) AS qq1
        FROM z GROUP BY event_type
    ), terms AS (
        SELECT n1, s1, qq1,
               CAST(floor(CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                          / CAST(n1 AS DOUBLE)) AS BIGINT) AS b
        FROM per
    ), agg AS (
        SELECT CAST(SUM(n1) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS n_groups,
               CAST(SUM(s1) AS BIGINT) AS s,
               CAST(SUM(qq1) AS BIGINT) AS qq,
               CAST(SUM(b) AS BIGINT) AS bsum
        FROM terms
    ), sc AS (
        SELECT n, n_groups,
               CAST(bsum - CAST(floor(CAST(s AS DOUBLE)
                    * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT)
                    AS BIGINT) AS ssb_sc,
               CAST(qq - bsum AS BIGINT) AS ssw_sc
        FROM agg
    )
    SELECT n, n_groups, ssb_sc, ssw_sc, {_BF_W} AS w_stat FROM sc
    """,
)
def q_levene_bf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    c = e.selectExpr(
        "event_type",
        f"{_AOV_CENTS} AS c",
        "CAST(event_id AS BIGINT) AS event_id",
    )
    wr = Window.partitionBy("event_type").orderBy("c", "event_id")
    r = c.select(
        "event_type",
        "c",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("event_type"))
        .alias("n"),
    )
    med = r.where(F.col("rn") == F.expr("(n + 1) DIV 2")).select(
        "event_type", F.col("c").alias("med")
    )
    z = c.join(F.broadcast(med), "event_type").select(
        "event_type",
        F.abs(F.col("c") - F.col("med")).cast("bigint").alias("z"),
    )
    per = z.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n1"),
        F.sum("z").cast("bigint").alias("s1"),
        F.sum(F.col("z") * F.col("z")).cast("bigint").alias("qq1"),
    )
    terms = per.selectExpr(
        "n1",
        "s1",
        "qq1",
        "CAST(floor(CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
        " / CAST(n1 AS DOUBLE)) AS BIGINT) AS b",
    )
    agg = terms.agg(
        F.sum("n1").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum("s1").cast("bigint").alias("s"),
        F.sum("qq1").cast("bigint").alias("qq"),
        F.sum("b").cast("bigint").alias("bsum"),
    )
    sc = agg.selectExpr(
        "n",
        "n_groups",
        "CAST(bsum - CAST(floor(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)"
        " / CAST(n AS DOUBLE)) AS BIGINT) AS BIGINT) AS ssb_sc",
        "CAST(qq - bsum AS BIGINT) AS ssw_sc",
    )
    return sc.selectExpr(
        "n", "n_groups", "ssb_sc", "ssw_sc", f"{_BF_W} AS w_stat"
    )


# --- cross-correlation function at lags 0..3 (round 4) --------------------------
# Lead-lag discovery between the click and purchase hourly series (the
# multi-lag generalization of q_lag_corr's single shift): Pearson r at
# each displacement, computed over hour-index-aligned pairs via the
# n-multiplied integer identity so every sufficient statistic is an
# exact BIGINT and r is one shared expression (sqrt is IEEE-exact).
# Hour alignment uses the integer hour index floor(epoch/3600) — exact
# on hour-truncated timestamps in both engines. Buckets are observed
# event-hours (documented, identical on both sides). Plan: one hourly
# aggregate off the raw scan; the lag join and folds run on the
# O(|hours|) relation, constant per added lag.
_CCF_R = (
    "(CAST(n * sxy - sx * sy AS DOUBLE)"
    " / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))"
    " * sqrt(CAST(n * syy - sy * sy AS DOUBLE))))"
)


@_q(
    "q_ccf",
    f"""
    WITH hb AS (
        SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) // 3600
                   AS hidx,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS x,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS y
        FROM events GROUP BY 1
    ), lags AS (
        SELECT unnest([0, 1, 2, 3]) AS lag
    ), p AS (
        SELECT l.lag, a.x, b.y
        FROM lags l
        JOIN hb a ON TRUE
        JOIN hb b ON b.hidx = a.hidx + l.lag
    ), agg AS (
        SELECT lag,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy
        FROM p GROUP BY lag
    )
    SELECT CAST(lag AS BIGINT) AS lag, n, {_CCF_R} AS r
    FROM agg ORDER BY lag
    """,
)
def q_ccf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    hb = e.groupBy(
        F.expr(
            "CAST(floor(unix_timestamp(date_trunc('hour', ts))) AS BIGINT)"
            " DIV 3600"
        ).alias("hidx")
    ).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("y"),
    )
    lags = local_rows(spark, [(i,) for i in range(4)], "lag bigint")
    a = hb.alias("a")
    b = hb.alias("b")
    p = (
        F.broadcast(lags)
        .crossJoin(a)
        .join(b, F.col("b.hidx") == F.col("a.hidx") + F.col("lag"))
        .select("lag", F.col("a.x").alias("x"), F.col("b.y").alias("y"))
    )
    agg = p.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    return agg.selectExpr(
        "CAST(lag AS BIGINT) AS lag", "n", f"{_CCF_R} AS r"
    ).orderBy("lag")


# --- jackknife variance of the CTR ratio estimator (round 4) --------------------
# Delete-one-day jackknife for clicks/views — the classic variance
# recipe for a RATIO of totals, where the naive per-day CTR average is
# biased. Each leave-one-out ratio is ONE division of exact integers
# (identical IEEE result both sides), then quantized at 1e-6 so the
# replicate moments are exact integers and the n-multiplied variance
# identity applies (same precedent as q_poisson_bootstrap's replicate
# path). se and bias are shared-text finishes. Plan: one daily
# aggregate, one broadcast totals join, one combinable fold — the
# replicate count equals |days|, never a data blow-up.
_JK_THETA = "(CAST(c_tot AS DOUBLE) / CAST(v_tot AS DOUBLE))"
_JK_MEAN = "((CAST(qsum AS DOUBLE) / CAST(n_days AS DOUBLE)) / 1000000.0)"
_JK_SE = (
    "((sqrt(CAST(n_days - 1 AS DOUBLE) * CAST(a_sc AS DOUBLE))"
    " / CAST(n_days AS DOUBLE)) / 1000000.0)"
)
_JK_BIAS = f"(CAST(n_days - 1 AS DOUBLE) * ({_JK_MEAN} - {_JK_THETA}))"


@_q(
    "q_jackknife",
    f"""
    WITH db AS (
        SELECT date_trunc('day', ts) AS d,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS c,
               CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                    AS BIGINT) AS v
        FROM events GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS c_tot,
               CAST(SUM(v) AS BIGINT) AS v_tot
        FROM db
    ), loo AS (
        SELECT CAST(floor((CAST(c_tot - c AS DOUBLE)
                           / CAST(v_tot - v AS DOUBLE)) * 1000000.0 + 0.5)
                    AS BIGINT) AS q
        FROM db CROSS JOIN tot
        WHERE v_tot - v > 0
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(q) AS BIGINT) AS qsum,
               CAST(SUM(q * q) AS BIGINT) AS qq
        FROM loo
    ), fin AS (
        SELECT n_days, qsum,
               CAST(n_days * qq - qsum * qsum AS BIGINT) AS a_sc,
               c_tot, v_tot
        FROM agg CROSS JOIN tot
    )
    SELECT n_days, c_tot, v_tot,
           {_JK_THETA} AS theta,
           {_JK_MEAN} AS theta_jk_mean,
           {_JK_SE} AS se_jack,
           {_JK_BIAS} AS bias_jack
    FROM fin
    """,
)
def q_jackknife(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    db = e.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("c"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("bigint")
        .alias("v"),
    )
    tot = db.agg(
        F.sum("c").cast("bigint").alias("c_tot"),
        F.sum("v").cast("bigint").alias("v_tot"),
    )
    loo = (
        db.crossJoin(F.broadcast(tot))
        .where(F.col("v_tot") - F.col("v") > 0)
        .selectExpr(
            "CAST(floor((CAST(c_tot - c AS DOUBLE)"
            " / CAST(v_tot - v AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS q"
        )
    )
    agg = loo.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("q").cast("bigint").alias("qsum"),
        F.sum(F.col("q") * F.col("q")).cast("bigint").alias("qq"),
    )
    fin = agg.crossJoin(F.broadcast(tot)).selectExpr(
        "n_days",
        "qsum",
        "CAST(n_days * qq - qsum * qsum AS BIGINT) AS a_sc",
        "c_tot",
        "v_tot",
    )
    return fin.selectExpr(
        "n_days",
        "c_tot",
        "v_tot",
        f"{_JK_THETA} AS theta",
        f"{_JK_MEAN} AS theta_jk_mean",
        f"{_JK_SE} AS se_jack",
        f"{_JK_BIAS} AS bias_jack",
    )


# --- hash-permutation test for a mean difference (round 4) ----------------------
# The exact-resampling sibling of q_poisson_bootstrap: is the observed
# click-vs-view mean value gap explainable by chance? 32 deterministic
# label permutations (md5(event_id:rep) parity — the established
# cross-engine uniform), each replicate's arm means exact via the cents
# domain, each diff the SAME fixed-order expression text as the observed
# one, so the >= comparison is between identically-computed doubles.
# p = (1 + #extreme) / (1 + B), the standard add-one estimator. Plan:
# the replicate expansion is a 32-way row multiply of the two-type
# subset feeding ONE combinable aggregate — no shuffle grows with B
# beyond the map-side expansion; at 100 TB you'd push the conditional
# sums into one pass exactly as written.
_PT_B = 32
_PT_DIFF = (
    "(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
    " - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))"
)
_PT_DIFF_R = (
    "(CAST(s1r AS DOUBLE) / CAST(n1r AS DOUBLE)"
    " - CAST(s0r AS DOUBLE) / CAST(n0r AS DOUBLE))"
)


@_q(
    "q_perm_test",
    f"""
    WITH base AS (
        SELECT CAST(event_id AS BIGINT) AS event_id,
               {_AOV_CENTS} AS c,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_click
        FROM events
        WHERE value IS NOT NULL AND event_type IN ('click', 'view')
    ), obs AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(is_click) AS BIGINT) AS n1,
               CAST(SUM(is_click * c) AS BIGINT) AS s1,
               CAST(SUM(1 - is_click) AS BIGINT) AS n0,
               CAST(SUM((1 - is_click) * c) AS BIGINT) AS s0
        FROM base
    ), reps AS (
        SELECT b.c, r.b AS rep,
               CAST(CAST('0x' || substr(md5(CAST(b.event_id AS VARCHAR)
                         || ':' || CAST(r.b AS VARCHAR)), 1, 8) AS BIGINT)
                    % 2 AS BIGINT) AS arm
        FROM base b, range(0, {_PT_B}) r(b)
    ), per AS (
        SELECT rep,
               CAST(SUM(arm) AS BIGINT) AS n1r,
               CAST(SUM(arm * c) AS BIGINT) AS s1r,
               CAST(SUM(1 - arm) AS BIGINT) AS n0r,
               CAST(SUM((1 - arm) * c) AS BIGINT) AS s0r
        FROM reps GROUP BY rep
    ), extreme AS (
        SELECT CAST(SUM(CASE WHEN abs({_PT_DIFF_R} / 100.0)
                                  >= abs({_PT_DIFF} / 100.0)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme
        FROM per CROSS JOIN obs
    )
    SELECT n_events, ({_PT_DIFF} / 100.0) AS obs_diff,
           CAST({_PT_B} AS BIGINT) AS n_perms, n_extreme,
           (CAST(1 + n_extreme AS DOUBLE) / CAST(1 + {_PT_B} AS DOUBLE))
               AS p_value
    FROM obs CROSS JOIN extreme
    """,
)
def q_perm_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    base = e.where(
        F.col("value").isNotNull()
        & F.col("event_type").isin("click", "view")
    ).selectExpr(
        "CAST(event_id AS BIGINT) AS event_id",
        f"{_AOV_CENTS} AS c",
        "CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_click",
    )
    obs = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("is_click").cast("bigint").alias("n1"),
        F.sum(F.col("is_click") * F.col("c")).cast("bigint").alias("s1"),
        F.sum(1 - F.col("is_click")).cast("bigint").alias("n0"),
        F.sum((1 - F.col("is_click")) * F.col("c"))
        .cast("bigint")
        .alias("s0"),
    )
    reps = base.select(
        "c",
        "event_id",
        F.explode(F.sequence(F.lit(0), F.lit(_PT_B - 1))).alias("rep"),
    ).select(
        "c",
        "rep",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.col("event_id").cast("string"),
                            F.col("rep").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % 2
        )
        .cast("bigint")
        .alias("arm"),
    )
    per = reps.groupBy("rep").agg(
        F.sum("arm").cast("bigint").alias("n1r"),
        F.sum(F.col("arm") * F.col("c")).cast("bigint").alias("s1r"),
        F.sum(1 - F.col("arm")).cast("bigint").alias("n0r"),
        F.sum((1 - F.col("arm")) * F.col("c")).cast("bigint").alias("s0r"),
    )
    extreme = per.crossJoin(F.broadcast(obs)).agg(
        F.sum(
            F.when(
                F.expr(
                    f"abs({_PT_DIFF_R} / 100.0) >= abs({_PT_DIFF} / 100.0)"
                ),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_extreme")
    )
    return obs.crossJoin(F.broadcast(extreme)).selectExpr(
        "n_events",
        f"({_PT_DIFF} / 100.0) AS obs_diff",
        f"CAST({_PT_B} AS BIGINT) AS n_perms",
        "n_extreme",
        f"(CAST(1 + n_extreme AS DOUBLE) / CAST(1 + {_PT_B} AS DOUBLE))"
        " AS p_value",
    )


# --- MAD robust z-score outliers (round 4) ---------------------------------------
# The robust companion to the rolling z-score detector: median absolute
# deviation per event type (both medians ELEMENT-SELECTED lower-middles
# in the exact cents domain, never interpolated), then the top 20
# events by modified z = 0.6745 * (c - med) / mad under a pinned
# (deviation, event_id) total order. MAD tolerates up to 50% outliers
# where mean/stddev break down. Plan: two rank windows per type on the
# cents relation (range-partitioned sorts at scale; or swap in
# approx_percentile, documented trade) + one broadcast O(k) stats join;
# the top-k is TakeOrdered.
_MAD_Z = (
    "(0.6745 * CAST(c - med AS DOUBLE) / CAST(mad AS DOUBLE))"
)


@_q(
    "q_mad_outliers",
    f"""
    WITH c AS (
        SELECT event_type, {_AOV_CENTS} AS c,
               CAST(event_id AS BIGINT) AS event_id
        FROM events WHERE value IS NOT NULL
    ), r1 AS (
        SELECT event_type, c, event_id,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY c, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM c
    ), med AS (
        SELECT event_type, c AS med FROM r1 WHERE rn = (n + 1) // 2
    ), ad AS (
        SELECT c.event_type, c.c, c.event_id, med.med,
               CAST(abs(c.c - med.med) AS BIGINT) AS absdev
        FROM c JOIN med ON c.event_type = med.event_type
    ), r2 AS (
        SELECT event_type, absdev,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY absdev, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM ad
    ), mad AS (
        SELECT event_type, absdev AS mad FROM r2 WHERE rn = (n + 1) // 2
    ), z AS (
        SELECT ad.event_type, ad.event_id, ad.c, ad.med, mad.mad,
               {_MAD_Z} AS z
        FROM ad JOIN mad ON ad.event_type = mad.event_type
        WHERE mad.mad > 0
    ), rk AS (
        SELECT event_type, event_id,
               CAST(c AS DOUBLE) / 100.0 AS value, z,
               row_number() OVER (ORDER BY abs(z) DESC, event_id) AS rn
        FROM z
    )
    SELECT event_type, event_id, value, z,
           CAST(rn AS INTEGER) AS rank
    FROM rk WHERE rn <= 20
    """,
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    c = e.selectExpr(
        "event_type",
        f"{_AOV_CENTS} AS c",
        "CAST(event_id AS BIGINT) AS event_id",
    )
    wt = Window.partitionBy("event_type")
    r1 = c.select(
        "event_type",
        "c",
        "event_id",
        F.row_number().over(wt.orderBy("c", "event_id")).alias("rn"),
        F.count(F.lit(1)).over(wt).alias("n"),
    )
    med = r1.where(F.col("rn") == F.expr("(n + 1) DIV 2")).select(
        "event_type", F.col("c").alias("med")
    )
    ad = c.join(F.broadcast(med), "event_type").select(
        "event_type",
        "c",
        "event_id",
        "med",
        F.abs(F.col("c") - F.col("med")).cast("bigint").alias("absdev"),
    )
    r2 = ad.select(
        "event_type",
        "absdev",
        F.row_number().over(wt.orderBy("absdev", "event_id")).alias("rn"),
        F.count(F.lit(1)).over(wt).alias("n"),
    )
    mad = r2.where(F.col("rn") == F.expr("(n + 1) DIV 2")).select(
        "event_type", F.col("absdev").alias("mad")
    )
    z = (
        ad.join(F.broadcast(mad), "event_type")
        .where(F.col("mad") > 0)
        .selectExpr("event_type", "event_id", "c", "mad", "med", f"{_MAD_Z} AS z")
    )
    # top-20 selection: sort+limit plans as TakeOrderedAndProject (no
    # global sort); the rank window then runs over the bounded 20-row
    # relation only.
    top20 = z.select(
        "event_type",
        "event_id",
        (F.col("c").cast("double") / 100.0).alias("value"),
        "z",
    ).orderBy(F.abs(F.col("z")).desc(), "event_id").limit(20)
    # bounded: rank over the 20-row top-k relation
    rk = top20.select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.abs(F.col("z")).desc(), "event_id"))
        .alias("rn"),
    )
    return rk.selectExpr(
        "event_type", "event_id", "value", "z", "CAST(rn AS INTEGER) AS rank"
    )


# --- Gumbel extreme-value fit on daily maxima (round 4) --------------------------
# Capacity-planning tail estimate: fit a Gumbel distribution to the
# daily block maxima of value by the method of moments and report the
# 95%/99% return levels ("the daily max exceeded once per 20/100
# days"). Block maxima are exact cents integers; the moment fit uses
# sqrt(6)/pi, Euler's gamma, and -ln(-ln p) as SHARED double literals
# (transcendental inputs enter as literals — the q_ndcg policy); the
# rest is fixed-order IEEE arithmetic over exact integer moments.
# Plan: one (day) max aggregate + one O(|days|) fold.
_EVT_MEAN = "(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0)"
_EVT_SD = (
    "(sqrt(CAST(n * qq - s * s AS DOUBLE)"
    " / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) / 100.0)"
)
_EVT_BETA = f"({_EVT_SD} * 0.779696801233676)"
_EVT_MU = f"({_EVT_MEAN} - 0.5772156649015329 * {_EVT_BETA})"
_EVT_R95 = f"({_EVT_MU} + {_EVT_BETA} * 2.9701952490421637)"
_EVT_R99 = f"({_EVT_MU} + {_EVT_BETA} * 4.600149226776579)"


@_q(
    "q_evt_gumbel",
    f"""
    WITH dm AS (
        SELECT date_trunc('day', ts) AS d,
               CAST(MAX({_AOV_CENTS}) AS BIGINT) AS m
        FROM events WHERE value IS NOT NULL GROUP BY 1
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(m) AS BIGINT) AS s,
               CAST(SUM(m * m) AS BIGINT) AS qq
        FROM dm
    )
    SELECT n, {_EVT_MEAN} AS mean_max, {_EVT_SD} AS sd_max,
           {_EVT_MU} AS gumbel_mu, {_EVT_BETA} AS gumbel_beta,
           {_EVT_R95} AS return_level_95, {_EVT_R99} AS return_level_99
    FROM agg
    """,
)
def q_evt_gumbel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    dm = e.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.expr(f"CAST(MAX({_AOV_CENTS}) AS BIGINT)").alias("m")
    )
    agg = dm.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("m").cast("bigint").alias("s"),
        F.sum(F.col("m") * F.col("m")).cast("bigint").alias("qq"),
    )
    return agg.selectExpr(
        "n",
        f"{_EVT_MEAN} AS mean_max",
        f"{_EVT_SD} AS sd_max",
        f"{_EVT_MU} AS gumbel_mu",
        f"{_EVT_BETA} AS gumbel_beta",
        f"{_EVT_R95} AS return_level_95",
        f"{_EVT_R99} AS return_level_99",
    )


# --- standardized mean difference covariate balance (round 4) --------------------
# The balance table every observational study prints before trusting an
# effect estimate (companion to q_propensity_strata): for each
# covariate, SMD = (mean_t - mean_c) / sqrt((var_t + var_c) / 2)
# between the odd/even user_id arms (the q_ab_power arm convention).
# |SMD| < 0.1 is the customary balance bar. Covariates enter a LONG
# (covariate, arm) relation so ONE combinable aggregate computes every
# exact integer moment; the SMD is shared IEEE text. Plan: one scan,
# one map-side-combinable aggregate, O(covariates) output.
_SMD_MEAN_T = "(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))"
_SMD_MEAN_C = "(CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))"
_SMD_VAR_T = (
    "(CAST(n1 * q1 - s1 * s1 AS DOUBLE)"
    " / (CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE)))"
)
_SMD_VAR_C = (
    "(CAST(n0 * q0 - s0 * s0 AS DOUBLE)"
    " / (CAST(n0 AS DOUBLE) * CAST(n0 - 1 AS DOUBLE)))"
)
_SMD = (
    f"(({_SMD_MEAN_T} - {_SMD_MEAN_C})"
    f" / sqrt(({_SMD_VAR_T} + {_SMD_VAR_C}) / 2.0))"
)


@_q(
    "q_smd_balance",
    f"""
    WITH base AS (
        SELECT CAST(user_id % 2 AS BIGINT) AS arm,
               {_AOV_CENTS} AS v_cents,
               CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hod,
               CAST(EXTRACT(dow FROM ts) AS BIGINT) AS dow
        FROM events WHERE value IS NOT NULL
    ), long AS (
        SELECT arm, 'value_cents' AS covariate, v_cents AS x FROM base
        UNION ALL
        SELECT arm, 'hour_of_day' AS covariate, hod AS x FROM base
        UNION ALL
        SELECT arm, 'day_of_week' AS covariate, dow AS x FROM base
    ), m AS (
        SELECT covariate,
               CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n1,
               CAST(SUM(CASE WHEN arm = 1 THEN x ELSE 0 END) AS BIGINT)
                   AS s1,
               CAST(SUM(CASE WHEN arm = 1 THEN x * x ELSE 0 END) AS BIGINT)
                   AS q1,
               CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n0,
               CAST(SUM(CASE WHEN arm = 0 THEN x ELSE 0 END) AS BIGINT)
                   AS s0,
               CAST(SUM(CASE WHEN arm = 0 THEN x * x ELSE 0 END) AS BIGINT)
                   AS q0
        FROM long GROUP BY covariate
    )
    SELECT covariate, n1, n0,
           {_SMD_MEAN_T} AS mean_t, {_SMD_MEAN_C} AS mean_c,
           {_SMD} AS smd
    FROM m ORDER BY covariate
    """,
)
def q_smd_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    base = e.selectExpr(
        "CAST(user_id % 2 AS BIGINT) AS arm",
        f"{_AOV_CENTS} AS v_cents",
        "CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hod",
        # Spark's dayofweek is 1-based (Sunday=1); DuckDB's dow is
        # 0-based (Sunday=0) — subtract 1 so both sides agree.
        "CAST(dayofweek(ts) - 1 AS BIGINT) AS dow",
    )
    long = (
        base.selectExpr("arm", "'value_cents' AS covariate", "v_cents AS x")
        .unionAll(
            base.selectExpr("arm", "'hour_of_day' AS covariate", "hod AS x")
        )
        .unionAll(
            base.selectExpr("arm", "'day_of_week' AS covariate", "dow AS x")
        )
    )
    m = long.groupBy("covariate").agg(
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("arm") == 1, F.col("x")).otherwise(0))
        .cast("bigint")
        .alias("s1"),
        F.sum(F.when(F.col("arm") == 1, F.col("x") * F.col("x")).otherwise(0))
        .cast("bigint")
        .alias("q1"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n0"),
        F.sum(F.when(F.col("arm") == 0, F.col("x")).otherwise(0))
        .cast("bigint")
        .alias("s0"),
        F.sum(F.when(F.col("arm") == 0, F.col("x") * F.col("x")).otherwise(0))
        .cast("bigint")
        .alias("q0"),
    )
    return m.selectExpr(
        "covariate",
        "n1",
        "n0",
        f"{_SMD_MEAN_T} AS mean_t",
        f"{_SMD_MEAN_C} AS mean_c",
        f"{_SMD} AS smd",
    ).orderBy("covariate")


# --- local-maxima peak detection with salience (round 4) -------------------------
# Monitoring primitive on the hourly arrival series: hours strictly
# above BOTH adjacent observed hours (adjacency = integer hour index
# ±1, so gaps in coverage cannot fake a neighbor), ranked by salience
# = height above the taller neighbor. All integers; top-20 under a
# pinned (salience, hidx) order. Plan: the self-joins are equi-joins on
# hidx±1 over the O(|hours|) aggregate — at 100 TB this is three
# broadcastable relations off one combinable count.
@_q(
    "q_peak_detect",
    """
    WITH hb AS (
        SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) // 3600
                   AS hidx,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1
    ), peaks AS (
        SELECT a.hidx, a.c, l.c AS left_c, r.c AS right_c,
               CAST(a.c - greatest(l.c, r.c) AS BIGINT) AS salience
        FROM hb a
        JOIN hb l ON l.hidx = a.hidx - 1
        JOIN hb r ON r.hidx = a.hidx + 1
        WHERE a.c > l.c AND a.c > r.c
    ), rk AS (
        SELECT hidx, c, left_c, right_c, salience,
               row_number() OVER (ORDER BY salience DESC, hidx) AS rn
        FROM peaks
    )
    SELECT hidx, c, left_c, right_c, salience, CAST(rn AS INTEGER) AS rank
    FROM rk WHERE rn <= 20
    """,
)
def q_peak_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    hb = e.groupBy(
        F.expr(
            "CAST(floor(unix_timestamp(date_trunc('hour', ts))) AS BIGINT)"
            " DIV 3600"
        ).alias("hidx")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    a = hb.alias("a")
    left = hb.alias("l")
    right = hb.alias("r")
    peaks = (
        a.join(left, F.col("l.hidx") == F.col("a.hidx") - 1)
        .join(right, F.col("r.hidx") == F.col("a.hidx") + 1)
        .where(
            (F.col("a.c") > F.col("l.c")) & (F.col("a.c") > F.col("r.c"))
        )
        .select(
            F.col("a.hidx").alias("hidx"),
            F.col("a.c").alias("c"),
            F.col("l.c").alias("left_c"),
            F.col("r.c").alias("right_c"),
            (F.col("a.c") - F.greatest(F.col("l.c"), F.col("r.c")))
            .cast("bigint")
            .alias("salience"),
        )
    )
    rk = peaks.select(
        "*",
        F.row_number()
        # bounded: hourly peak candidates — O(hours) rows
        .over(Window.orderBy(F.desc("salience"), "hidx"))
        .alias("rn"),
    )
    return rk.where(F.col("rn") <= 20).selectExpr(
        "hidx", "c", "left_c", "right_c", "salience",
        "CAST(rn AS INTEGER) AS rank",
    )


# --- Qini uplift curve (round 4) ---------------------------------------------------
# The uplift-model evaluation companion to q_lift_curve: rank users by
# a targeting score (their click volume), split into deciles, and trace
# the cumulative incremental purchases of the treated (odd user_id) arm
# over the control arm scaled to its size:
# qini(k) = cum_pos_t - cum_pos_c * (cum_n_t / cum_n_c). Every cumsum
# is an exact integer; the scaling is a fixed-order two-op expression.
# Plan: one per-user aggregate, one NTILE (global sort), one decile
# fold + cumulative window on 10 rows.
_QINI = (
    "(CAST(cpos_t AS DOUBLE) - CAST(cpos_c AS DOUBLE)"
    " * (CAST(cn_t AS DOUBLE) / CAST(cn_c AS DOUBLE)))"
)


@_q(
    "q_qini",
    f"""
    WITH per AS (
        SELECT user_id,
               CAST(user_id % 2 AS BIGINT) AS treated,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS score,
               CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS y
        FROM events GROUP BY user_id
    ), dec AS (
        SELECT treated, y,
               NTILE(10) OVER (ORDER BY score DESC, user_id) AS decile
        FROM per
    ), agg AS (
        SELECT decile,
               CAST(SUM(treated) AS BIGINT) AS n_t,
               CAST(SUM(1 - treated) AS BIGINT) AS n_c,
               CAST(SUM(treated * y) AS BIGINT) AS pos_t,
               CAST(SUM((1 - treated) * y) AS BIGINT) AS pos_c
        FROM dec GROUP BY decile
    ), cum AS (
        SELECT decile, n_t, n_c, pos_t, pos_c,
               CAST(SUM(n_t) OVER (ORDER BY decile
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cn_t,
               CAST(SUM(n_c) OVER (ORDER BY decile
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cn_c,
               CAST(SUM(pos_t) OVER (ORDER BY decile
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cpos_t,
               CAST(SUM(pos_c) OVER (ORDER BY decile
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cpos_c
        FROM agg
    )
    SELECT CAST(decile AS INTEGER) AS decile, cn_t, cn_c, cpos_t, cpos_c,
           {_QINI} AS qini
    FROM cum ORDER BY decile
    """,
)
def q_qini(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    per = e.groupBy("user_id").agg(
        F.max(F.expr("CAST(user_id % 2 AS BIGINT)")).alias("treated"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("score"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("y"),
    )
    # per-user scores are corpus-shaped at 100 TB: decile via the
    # range-partitioned ntile (plans/rank.py)
    dec = global_ntile(
        per, [F.desc("score"), "user_id"], 10, bucket_col="decile"
    ).select("treated", "y", "decile")
    agg = dec.groupBy("decile").agg(
        F.sum("treated").cast("bigint").alias("n_t"),
        F.sum(1 - F.col("treated")).cast("bigint").alias("n_c"),
        F.sum(F.col("treated") * F.col("y")).cast("bigint").alias("pos_t"),
        F.sum((1 - F.col("treated")) * F.col("y"))
        .cast("bigint")
        .alias("pos_c"),
    )
    wcum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    cum = agg.select(
        "decile",
        F.sum("n_t").over(wcum).cast("bigint").alias("cn_t"),
        F.sum("n_c").over(wcum).cast("bigint").alias("cn_c"),
        F.sum("pos_t").over(wcum).cast("bigint").alias("cpos_t"),
        F.sum("pos_c").over(wcum).cast("bigint").alias("cpos_c"),
    )
    return cum.selectExpr(
        "CAST(decile AS INTEGER) AS decile",
        "cn_t",
        "cn_c",
        "cpos_t",
        "cpos_c",
        f"{_QINI} AS qini",
    ).orderBy("decile")


# --- Bland-Altman agreement analysis (round 4) ------------------------------------
# Method-agreement audit between the click and view hourly series (do
# two tracking paths count the same traffic?): per-hour differences are
# exact integers; mean difference, its sd, and the 95% limits of
# agreement (1.96 as a shared literal) are fixed-order expressions over
# integer moments; the outside-LoA count compares each integer diff
# against the identically-computed double bounds. Plan: one hourly
# aggregate + two combinable folds.
_BA_MEAN = "(CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
_BA_SD = (
    "sqrt(CAST(n * qq - s * s AS DOUBLE)"
    " / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))"
)
_BA_LO = f"({_BA_MEAN} - 1.96 * {_BA_SD})"
_BA_HI = f"({_BA_MEAN} + 1.96 * {_BA_SD})"


@_q(
    "q_bland_altman",
    f"""
    WITH hb AS (
        SELECT date_trunc('hour', ts) AS hr,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT)
                 - CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                        AS BIGINT) AS d
        FROM events GROUP BY 1
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(d) AS BIGINT) AS s,
               CAST(SUM(d * d) AS BIGINT) AS qq
        FROM hb
    ), fin AS (
        SELECT n, s, qq, {_BA_LO} AS loa_lo, {_BA_HI} AS loa_hi FROM agg
    )
    SELECT fin.n, {_BA_MEAN} AS mean_diff, {_BA_SD} AS sd_diff,
           loa_lo, loa_hi,
           (SELECT CAST(SUM(CASE WHEN CAST(d AS DOUBLE) < loa_lo
                                   OR CAST(d AS DOUBLE) > loa_hi
                                 THEN 1 ELSE 0 END) AS BIGINT)
            FROM hb) AS n_outside
    FROM fin
    """,
)
def q_bland_altman(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    hb = e.groupBy(F.date_trunc("hour", F.col("ts")).alias("hr")).agg(
        (
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("bigint")
            - F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            .cast("bigint")
        ).alias("d")
    )
    agg = hb.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("d").cast("bigint").alias("s"),
        F.sum(F.col("d") * F.col("d")).cast("bigint").alias("qq"),
    )
    fin = agg.selectExpr(
        "n", "s", "qq", f"{_BA_LO} AS loa_lo", f"{_BA_HI} AS loa_hi"
    )
    outside = (
        hb.crossJoin(F.broadcast(fin.select("loa_lo", "loa_hi")))
        .agg(
            F.sum(
                F.when(
                    (F.col("d").cast("double") < F.col("loa_lo"))
                    | (F.col("d").cast("double") > F.col("loa_hi")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outside")
        )
    )
    return fin.crossJoin(F.broadcast(outside)).selectExpr(
        "n",
        f"{_BA_MEAN} AS mean_diff",
        f"{_BA_SD} AS sd_diff",
        "loa_lo",
        "loa_hi",
        "n_outside",
    )


# --- dyadic recency-weighted engagement score (round 4) ----------------------------
# Freshness-aware user scoring with an exactly-representable decay: the
# weight halves per day of age (2^(29-age) in integer space — dyadic,
# so the score is an exact BIGINT sum; exponential-decay exp(-λt) would
# be transcendental and order-sensitive). Age is measured in whole days
# back from the corpus' last event day. Top 10 users by (score,
# user_id). Plan: one broadcast max-day scalar, one combinable per-user
# aggregate, TakeOrdered.
_RS_NORM = "(CAST(score AS DOUBLE) / 536870912.0)"


@_q(
    "q_recency_score",
    f"""
    WITH mx AS (
        SELECT CAST(floor(epoch(date_trunc('day', MAX(ts)))) AS BIGINT)
                   // 86400 AS max_day
        FROM events
    ), w AS (
        SELECT user_id,
               CASE WHEN max_day
                         - CAST(floor(epoch(date_trunc('day', ts)))
                                AS BIGINT) // 86400 BETWEEN 0 AND 29
                    THEN (CAST(1 AS BIGINT) << CAST(29 - (max_day
                         - CAST(floor(epoch(date_trunc('day', ts)))
                                AS BIGINT) // 86400) AS INTEGER))
                    ELSE CAST(0 AS BIGINT) END AS wt
        FROM events CROSS JOIN mx
    ), per AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(wt) AS BIGINT) AS score
        FROM w GROUP BY user_id
    ), rk AS (
        SELECT user_id, n_events, score,
               row_number() OVER (ORDER BY score DESC, user_id) AS rn
        FROM per
    )
    SELECT user_id, n_events, score, {_RS_NORM} AS score_norm,
           CAST(rn AS INTEGER) AS rank
    FROM rk WHERE rn <= 10
    """,
)
def q_recency_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    mx = e.agg(
        F.expr(
            "CAST(floor(unix_timestamp(date_trunc('day', MAX(ts))))"
            " AS BIGINT) DIV 86400"
        ).alias("max_day")
    )
    # Clamp: events older than 29 days (a longer future window) get
    # weight 0 instead of an undefined negative shift.
    day_age = (
        "max_day - CAST(floor(unix_timestamp(date_trunc('day', ts)))"
        " AS BIGINT) DIV 86400"
    )
    w = e.crossJoin(F.broadcast(mx)).selectExpr(
        "user_id",
        f"CASE WHEN {day_age} BETWEEN 0 AND 29"
        f" THEN shiftleft(CAST(1 AS BIGINT), CAST(29 - ({day_age}) AS INT))"
        f" ELSE CAST(0 AS BIGINT) END AS wt",
    )
    per = w.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("wt").cast("bigint").alias("score"),
    )
    # top-10 selection: sort+limit plans as TakeOrderedAndProject (no
    # global sort); the rank window then runs over the bounded 10-row
    # relation only.
    top10 = per.orderBy(F.desc("score"), "user_id").limit(10)
    # bounded: rank over the 10-row top-k relation
    rk = top10.select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.desc("score"), "user_id"))
        .alias("rn"),
    )
    return rk.selectExpr(
        "user_id",
        "n_events",
        "score",
        f"{_RS_NORM} AS score_norm",
        "CAST(rn AS INTEGER) AS rank",
    )


# --- CUPED variance-reduced experiment readout (round 4) -------------------------
# The industry-standard pre-period adjustment: user-level pre/post
# spend (first vs second half of the observation window by integer day
# index), arms by odd/even user_id. theta = cov(X,Y)/var(X) over ALL
# users (the pooled CUPED convention), adjusted effect
# (ybar_t - ybar_c) - theta * (xbar_t - xbar_c), and the variance
# reduction rho² — every sufficient statistic (per-user cents sums,
# cross-products) is an exact BIGINT; theta/effects/rho² are fixed-
# order SHARED-TEXT double expressions over them (the n·Sxy products
# overflow int64 at sf0.1, so all moment algebra runs in the double
# domain — identical IEEE results on both engines). Plan: one per-user combinable aggregate, one O(1)
# fold; no joins beyond a broadcast bounds scalar.
_CUPED_THETA = (
    "((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))"
)
_CUPED_NAIVE = (
    "(CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
    " - CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE))"
)
_CUPED_XGAP = (
    "(CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
    " - CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE))"
)
_CUPED_ADJ = f"({_CUPED_NAIVE} - {_CUPED_THETA} * {_CUPED_XGAP})"
_CUPED_COVN = (
    "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
)
_CUPED_VXN = (
    "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
)
_CUPED_VYN = (
    "(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
    " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))"
)
_CUPED_RHO2 = (
    f"(({_CUPED_COVN} * {_CUPED_COVN}) / ({_CUPED_VXN} * {_CUPED_VYN}))"
)


@_q(
    "q_cuped",
    f"""
    WITH bounds AS (
        SELECT (CAST(floor(epoch(date_trunc('day', MIN(ts)))) AS BIGINT)
                    // 86400
                + CAST(floor(epoch(date_trunc('day', MAX(ts)))) AS BIGINT)
                    // 86400 + 1) // 2 AS split_day
        FROM events
    ), per AS (
        SELECT user_id,
               CAST(user_id % 2 AS BIGINT) AS arm,
               CAST(SUM(CASE WHEN CAST(floor(epoch(date_trunc('day', ts)))
                                       AS BIGINT) // 86400 < split_day
                             AND value IS NOT NULL
                             THEN {_AOV_CENTS} ELSE 0 END) AS BIGINT) AS x,
               CAST(SUM(CASE WHEN CAST(floor(epoch(date_trunc('day', ts)))
                                       AS BIGINT) // 86400 >= split_day
                             AND value IS NOT NULL
                             THEN {_AOV_CENTS} ELSE 0 END) AS BIGINT) AS y
        FROM events CROSS JOIN bounds GROUP BY user_id
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy,
               CAST(SUM(arm) AS BIGINT) AS n1,
               CAST(SUM(arm * x) AS BIGINT) AS sx1,
               CAST(SUM(arm * y) AS BIGINT) AS sy1,
               CAST(SUM(1 - arm) AS BIGINT) AS n0,
               CAST(SUM((1 - arm) * x) AS BIGINT) AS sx0,
               CAST(SUM((1 - arm) * y) AS BIGINT) AS sy0
        FROM per
    )
    SELECT n, n1, n0,
           ({_CUPED_THETA}) AS theta,
           ({_CUPED_NAIVE} / 100.0) AS diff_naive,
           ({_CUPED_ADJ} / 100.0) AS diff_cuped,
           {_CUPED_RHO2} AS var_reduction
    FROM agg
    """,
)
def q_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    bounds = e.agg(
        F.expr(
            "(CAST(floor(unix_timestamp(date_trunc('day', MIN(ts))))"
            " AS BIGINT) DIV 86400"
            " + CAST(floor(unix_timestamp(date_trunc('day', MAX(ts))))"
            " AS BIGINT) DIV 86400 + 1) DIV 2"
        ).alias("split_day")
    )
    day_idx = (
        "CAST(floor(unix_timestamp(date_trunc('day', ts))) AS BIGINT)"
        " DIV 86400"
    )
    per = (
        e.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.max(F.expr("CAST(user_id % 2 AS BIGINT)")).alias("arm"),
            F.sum(
                F.expr(
                    f"CASE WHEN {day_idx} < split_day AND value IS NOT NULL"
                    f" THEN {_AOV_CENTS} ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("x"),
            F.sum(
                F.expr(
                    f"CASE WHEN {day_idx} >= split_day AND value IS NOT NULL"
                    f" THEN {_AOV_CENTS} ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("y"),
        )
    )
    agg = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum("arm").cast("bigint").alias("n1"),
        F.sum(F.col("arm") * F.col("x")).cast("bigint").alias("sx1"),
        F.sum(F.col("arm") * F.col("y")).cast("bigint").alias("sy1"),
        F.sum(1 - F.col("arm")).cast("bigint").alias("n0"),
        F.sum((1 - F.col("arm")) * F.col("x")).cast("bigint").alias("sx0"),
        F.sum((1 - F.col("arm")) * F.col("y")).cast("bigint").alias("sy0"),
    )
    return agg.selectExpr(
        "n",
        "n1",
        "n0",
        f"({_CUPED_THETA}) AS theta",
        f"({_CUPED_NAIVE} / 100.0) AS diff_naive",
        f"({_CUPED_ADJ} / 100.0) AS diff_cuped",
        f"{_CUPED_RHO2} AS var_reduction",
    )


# --- sample-ratio-mismatch guardrail (round 4) -------------------------------------
# The first sanity check of any experiment readout (and the reason
# q_abtest/q_cuped arms can be trusted): is the odd/even user_id split
# actually 50/50, overall and within each event type's active users?
# Chi-square GOF against expected halves reduces to (o1-o0)²/n — exact
# integers, one division. Plan: user-grain distinct aggregate per type
# + one global row; all combinable.
_SRM_CHI2 = (
    "(CAST((n_treat - n_control) * (n_treat - n_control) AS DOUBLE)"
    " / CAST(n_treat + n_control AS DOUBLE))"
)


@_q(
    "q_srm",
    f"""
    WITH ut AS (
        SELECT DISTINCT event_type, user_id FROM events
    ), per AS (
        SELECT event_type,
               CAST(SUM(user_id % 2) AS BIGINT) AS n_treat,
               CAST(SUM(1 - user_id % 2) AS BIGINT) AS n_control
        FROM ut GROUP BY event_type
        UNION ALL
        SELECT '_all_' AS event_type,
               CAST(SUM(user_id % 2) AS BIGINT) AS n_treat,
               CAST(SUM(1 - user_id % 2) AS BIGINT) AS n_control
        FROM (SELECT DISTINCT user_id FROM events)
    )
    SELECT event_type, n_treat, n_control, {_SRM_CHI2} AS srm_chi2
    FROM per ORDER BY event_type
    """,
)
def q_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    ut = e.select("event_type", "user_id").distinct()
    per_type = ut.groupBy("event_type").agg(
        F.sum(F.expr("user_id % 2")).cast("bigint").alias("n_treat"),
        F.sum(F.expr("1 - user_id % 2")).cast("bigint").alias("n_control"),
    )
    overall = (
        e.select("user_id")
        .distinct()
        .agg(
            F.sum(F.expr("user_id % 2")).cast("bigint").alias("n_treat"),
            F.sum(F.expr("1 - user_id % 2")).cast("bigint").alias("n_control"),
        )
        .selectExpr("'_all_' AS event_type", "n_treat", "n_control")
    )
    per = per_type.unionAll(overall)
    return per.selectExpr(
        "event_type", "n_treat", "n_control", f"{_SRM_CHI2} AS srm_chi2"
    ).orderBy("event_type")


# --- stationary distribution of the event-type Markov chain (round 4) -------------
# Where does the user journey settle? The long-run occupancy of the
# add-one-smoothed event-type transition chain (smoothing guarantees
# irreducibility, so the stationary distribution exists and is unique),
# via 25 power-iteration steps in a 1e9 integer fixed-point domain —
# bit-identical floor recursion on both sides, BIGINT-safe throughout
# (pi <= 1e9, fp <= 1e9 → products <= 1e18). The distributed stage is
# the transition-count aggregate; the iteration runs on <= k² = 25
# collected scalars (the documented bounded-scalars rule, same as
# q_markov_attribution / q_linkage_em). Oracle: 25 unrolled MATERIALIZED
# steps.
_MST_K = 25
_MST_S = 1_000_000_000


def _mst_oracle() -> str:
    steps = []
    prev = "p0"
    for n in range(1, _MST_K + 1):
        steps.append(
            f"p{n} AS MATERIALIZED (\n"
            f"        SELECT P.j AS i,\n"
            f"               CAST(SUM({prev}.pi * P.fp) // {_MST_S}\n"
            f"                    AS BIGINT) AS pi\n"
            f"        FROM {prev} JOIN P ON P.i = {prev}.i GROUP BY P.j\n"
            f"    )"
        )
        prev = f"p{n}"
    chain = ",\n    ".join(steps)
    return f"""
    WITH seq AS (
        SELECT event_type AS i,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS j
        FROM events
    ), tc AS (
        SELECT i, j, CAST(COUNT(*) AS BIGINT) AS c
        FROM seq WHERE j IS NOT NULL GROUP BY 1, 2
    ), states AS (
        SELECT DISTINCT event_type AS s FROM events
    ), grid AS (
        SELECT a.s AS i, b.s AS j FROM states a CROSS JOIN states b
    ), sm AS (
        SELECT g.i, g.j, CAST(COALESCE(tc.c, 0) + 1 AS BIGINT) AS c
        FROM grid g LEFT JOIN tc ON tc.i = g.i AND tc.j = g.j
    ), rowtot AS (
        SELECT i, CAST(SUM(c) AS BIGINT) AS tot FROM sm GROUP BY i
    ), P AS MATERIALIZED (
        SELECT sm.i, sm.j,
               CAST((sm.c * {_MST_S}) // rowtot.tot AS BIGINT) AS fp
        FROM sm JOIN rowtot ON sm.i = rowtot.i
    ), kk AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k FROM states
    ), p0 AS MATERIALIZED (
        SELECT s AS i, CAST({_MST_S} // k AS BIGINT) AS pi
        FROM states CROSS JOIN kk
    ),
    {chain}
    SELECT i AS event_type, pi AS pi_fp,
           CAST(pi AS DOUBLE) / {_MST_S}.0 AS stationary_p
    FROM p{_MST_K} ORDER BY event_type
    """


@_q("q_markov_stationary", _mst_oracle())
def q_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    ev = t(spark, sf_dir, "events")
    wl = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("i"),
        F.lead("event_type").over(wl).alias("j"),
    )
    tc = (
        seq.where(F.col("j").isNotNull())
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    counts = {(r["i"], r["j"]): r["c"] for r in tc.collect()}  # <= k² scalars
    states = sorted(
        {r["event_type"] for r in ev.select("event_type").distinct().collect()}
    )
    k = len(states)
    sm = {(i, j): counts.get((i, j), 0) + 1 for i in states for j in states}
    tot = {i: sum(sm[(i, j)] for j in states) for i in states}
    fp = {(i, j): (sm[(i, j)] * _MST_S) // tot[i] for i in states for j in states}
    pi = {i: _MST_S // k for i in states}
    for _ in range(_MST_K):
        pi = {
            j: sum(pi[i] * fp[(i, j)] for i in states) // _MST_S
            for j in states
        }
    schema = StructType(
        [StructField("event_type", StringType()), StructField("pi_fp", LongType())]
    )
    out = local_rows(spark, [(s, int(pi[s])) for s in states], schema)
    return out.selectExpr(
        "event_type",
        "pi_fp",
        f"CAST(pi_fp AS DOUBLE) / {_MST_S}.0 AS stationary_p",
    ).orderBy("event_type")


# --- Morisita-Horn hourly-profile overlap (round 4) --------------------------------
# Distribution-overlap index between every pair of event types' hourly
# arrival profiles — the similarity-side complement to the Hellinger/TV
# drift family (those measure distance, this measures community
# overlap; Morisita-Horn is the abundance-aware index ecologists use).
# Cross-multiplied into the all-integer identity
# CmH = 2·Σxy·Nx·Ny / (Σx²·Ny² + Σy²·Nx²) so the output is ONE division
# of exact BIGINTs. Plan: one (type, hour) aggregate; the pair join
# runs on the O(|types|·|hours|) relation keyed by hour.
_MH = (
    "(2.0 * CAST(sxy AS DOUBLE) * CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE)"
    " / (CAST(sxx AS DOUBLE) * CAST(ny AS DOUBLE) * CAST(ny AS DOUBLE)"
    " + CAST(syy AS DOUBLE) * CAST(nx AS DOUBLE) * CAST(nx AS DOUBLE)))"
)


@_q(
    "q_morisita",
    f"""
    WITH hb AS (
        SELECT event_type, date_trunc('hour', ts) AS hr,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), tot AS (
        SELECT event_type, CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(c * c) AS BIGINT) AS ss
        FROM hb GROUP BY event_type
    ), xy AS (
        SELECT a.event_type AS ta, b.event_type AS tb,
               CAST(SUM(a.c * b.c) AS BIGINT) AS sxy
        FROM hb a JOIN hb b ON a.hr = b.hr AND a.event_type < b.event_type
        GROUP BY 1, 2
    ), fin AS (
        SELECT xy.ta, xy.tb, xy.sxy,
               x.n AS nx, x.ss AS sxx, y.n AS ny, y.ss AS syy
        FROM xy
        JOIN tot x ON x.event_type = xy.ta
        JOIN tot y ON y.event_type = xy.tb
    )
    SELECT ta, tb, sxy, {_MH} AS morisita_horn
    FROM fin ORDER BY ta, tb
    """,
)
def q_morisita(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    hb = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    tot = hb.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("ss"),
    )
    a = hb.alias("a")
    b = hb.alias("b")
    xy = (
        a.join(
            b,
            (F.col("a.hr") == F.col("b.hr"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("ta"),
            F.col("b.event_type").alias("tb"),
        )
        .agg(F.sum(F.col("a.c") * F.col("b.c")).cast("bigint").alias("sxy"))
    )
    x = tot.selectExpr("event_type AS ta", "n AS nx", "ss AS sxx")
    y = tot.selectExpr("event_type AS tb", "n AS ny", "ss AS syy")
    fin = xy.join(F.broadcast(x), "ta").join(F.broadcast(y), "tb")
    return fin.selectExpr(
        "ta", "tb", "sxy", f"{_MH} AS morisita_horn"
    ).orderBy("ta", "tb")


# --- Yule's Q association between user traits (round 4) -----------------------------
# Association strength between two per-user binary traits (ever-error
# vs ever-purchase): Yule's Q = (n11·n00 − n10·n01)/(n11·n00 + n10·n01)
# and the raw odds ratio — exact integer cells, fixed-order divisions,
# degenerate margins NULL-guarded. The 2×2-association sibling of
# q_mcnemar (which tests marginal CHANGE, not association). Plan: one
# per-user boolean aggregate + an O(1) fold.
_YQ = (
    "(CAST(n11 * n00 - n10 * n01 AS DOUBLE)"
    " / CAST(n11 * n00 + n10 * n01 AS DOUBLE))"
)
_YQ_OR = (
    "(CAST(n11 * n00 AS DOUBLE) / CAST(n10 * n01 AS DOUBLE))"
)


@_q(
    "q_yule_q",
    f"""
    WITH per AS (
        SELECT user_id,
               CAST(MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS a,
               CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS b
        FROM events GROUP BY user_id
    ), cells AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(a * b) AS BIGINT) AS n11,
               CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
               CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
               CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
        FROM per
    )
    SELECT n_users, n11, n10, n01, n00,
           CASE WHEN n11 * n00 + n10 * n01 = 0 THEN NULL ELSE {_YQ} END
               AS yule_q,
           CASE WHEN n10 * n01 = 0 THEN NULL ELSE {_YQ_OR} END AS odds_ratio
    FROM cells
    """,
)
def q_yule_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    per = e.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("bigint")
        .alias("a"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("b"),
    )
    cells = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(F.col("a") * F.col("b")).cast("bigint").alias("n11"),
        F.sum(F.col("a") * (1 - F.col("b"))).cast("bigint").alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).cast("bigint").alias("n01"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).cast("bigint").alias("n00"),
    )
    return cells.selectExpr(
        "n_users",
        "n11",
        "n10",
        "n01",
        "n00",
        f"CASE WHEN n11 * n00 + n10 * n01 = 0 THEN NULL ELSE {_YQ} END"
        " AS yule_q",
        f"CASE WHEN n10 * n01 = 0 THEN NULL ELSE {_YQ_OR} END AS odds_ratio",
    )


# --- funnel time-to-convert quartiles (round 4) --------------------------------------
# How long do the view → click → purchase funnel hops take? Per user:
# first view, first click AT OR AFTER it, first purchase at or after
# that click (the ordered-funnel contract of q_funnel, here timed).
# Gaps are exact floor(epoch) second differences; per-stage p25/p50/p75
# are ELEMENT-SELECTED under the pinned (gap, user_id) order. Plan:
# three conditional-min aggregates chained by broadcastable user-keyed
# joins (all reuse the user_id hash), one rank window per stage on the
# O(|completers|) gap relation.
@_q(
    "q_funnel_time",
    """
    WITH e AS (
        SELECT user_id, event_type,
               CAST(floor(epoch(ts)) AS BIGINT) AS sec
        FROM events
    ), v AS (
        SELECT user_id, CAST(MIN(sec) AS BIGINT) AS t1
        FROM e WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
        SELECT e.user_id, CAST(MIN(e.sec) AS BIGINT) AS t2
        FROM e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.sec >= v.t1
        GROUP BY e.user_id
    ), p AS (
        SELECT e.user_id, CAST(MIN(e.sec) AS BIGINT) AS t3
        FROM e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.sec >= c.t2
        GROUP BY e.user_id
    ), gaps AS (
        SELECT 'view_to_click' AS stage, v.user_id,
               CAST(c.t2 - v.t1 AS BIGINT) AS gap
        FROM v JOIN c ON v.user_id = c.user_id
        UNION ALL
        SELECT 'click_to_purchase' AS stage, c.user_id,
               CAST(p.t3 - c.t2 AS BIGINT) AS gap
        FROM c JOIN p ON c.user_id = p.user_id
    ), rk AS (
        SELECT stage, gap,
               CAST(row_number() OVER (PARTITION BY stage
                                       ORDER BY gap, user_id) AS BIGINT)
                   AS rn,
               CAST(COUNT(*) OVER (PARTITION BY stage) AS BIGINT) AS n
        FROM gaps
    )
    SELECT stage, CAST(MAX(n) AS BIGINT) AS n_completers,
           CAST(MAX(CASE WHEN rn = (n - 1) * 25 // 100 + 1 THEN gap END)
                AS BIGINT) AS p25,
           CAST(MAX(CASE WHEN rn = (n - 1) * 50 // 100 + 1 THEN gap END)
                AS BIGINT) AS p50,
           CAST(MAX(CASE WHEN rn = (n - 1) * 75 // 100 + 1 THEN gap END)
                AS BIGINT) AS p75
    FROM rk GROUP BY stage ORDER BY stage
    """,
)
def q_funnel_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").selectExpr(
        "user_id",
        "event_type",
        "CAST(floor(unix_timestamp(ts)) AS BIGINT) AS sec",
    )
    v = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("sec").cast("bigint").alias("t1"))
    )
    c = (
        e.join(v, "user_id")
        .where((F.col("event_type") == "click") & (F.col("sec") >= F.col("t1")))
        .groupBy("user_id")
        .agg(F.min("sec").cast("bigint").alias("t2"))
    )
    p = (
        e.join(c, "user_id")
        .where(
            (F.col("event_type") == "purchase") & (F.col("sec") >= F.col("t2"))
        )
        .groupBy("user_id")
        .agg(F.min("sec").cast("bigint").alias("t3"))
    )
    gaps = (
        v.join(c, "user_id")
        .selectExpr(
            "'view_to_click' AS stage",
            "user_id",
            "CAST(t2 - t1 AS BIGINT) AS gap",
        )
        .unionAll(
            c.join(p, "user_id").selectExpr(
                "'click_to_purchase' AS stage",
                "user_id",
                "CAST(t3 - t2 AS BIGINT) AS gap",
            )
        )
    )
    ws = Window.partitionBy("stage")
    rk = gaps.select(
        "stage",
        "gap",
        F.row_number()
        .over(ws.orderBy("gap", "user_id"))
        .cast("bigint")
        .alias("rn"),
        F.count(F.lit(1)).over(ws).cast("bigint").alias("n"),
    )
    return (
        rk.groupBy("stage")
        .agg(
            F.max("n").cast("bigint").alias("n_completers"),
            F.max(
                F.when(
                    F.col("rn") == F.expr("(n - 1) * 25 DIV 100 + 1"),
                    F.col("gap"),
                )
            )
            .cast("bigint")
            .alias("p25"),
            F.max(
                F.when(
                    F.col("rn") == F.expr("(n - 1) * 50 DIV 100 + 1"),
                    F.col("gap"),
                )
            )
            .cast("bigint")
            .alias("p50"),
            F.max(
                F.when(
                    F.col("rn") == F.expr("(n - 1) * 75 DIV 100 + 1"),
                    F.col("gap"),
                )
            )
            .cast("bigint")
            .alias("p75"),
        )
        .orderBy("stage")
    )


# --- 7-day rolling Pearson correlation (round 4) -------------------------------------
# The windowed companion to q_ccf: does the click/purchase coupling
# drift over the month? Pearson r over each trailing 7-day frame of the
# daily count series, via the n-multiplied integer identity — window
# sums of integers are exact, r is one shared expression per day, and
# zero-variance frames are NULL-guarded. Only full frames emit (n=7).
# Plan: one daily aggregate; the five window sums share one ORDER BY d
# sort on the O(|days|) relation.
_RC_R = (
    "(CAST(n * sxy - sx * sy AS DOUBLE)"
    " / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))"
    " * sqrt(CAST(n * syy - sy * sy AS DOUBLE))))"
)


@_q(
    "q_rolling_corr",
    f"""
    WITH db AS (
        SELECT date_trunc('day', ts) AS d,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS x,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS y
        FROM events GROUP BY 1
    ), w AS (
        SELECT d,
               CAST(COUNT(*) OVER fr AS BIGINT) AS n,
               CAST(SUM(x) OVER fr AS BIGINT) AS sx,
               CAST(SUM(y) OVER fr AS BIGINT) AS sy,
               CAST(SUM(x * y) OVER fr AS BIGINT) AS sxy,
               CAST(SUM(x * x) OVER fr AS BIGINT) AS sxx,
               CAST(SUM(y * y) OVER fr AS BIGINT) AS syy
        FROM db
        WINDOW fr AS (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT d,
           CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
                THEN NULL ELSE {_RC_R} END AS r
    FROM w WHERE n = 7 ORDER BY d
    """,
)
def q_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    db = e.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("y"),
    )
    # bounded: daily series — O(days) rows
    fr = Window.orderBy("d").rowsBetween(-6, 0)
    w = db.select(
        "d",
        F.count(F.lit(1)).over(fr).cast("bigint").alias("n"),
        F.sum("x").over(fr).cast("bigint").alias("sx"),
        F.sum("y").over(fr).cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(fr).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(fr).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(fr).cast("bigint").alias("syy"),
    )
    return (
        w.where(F.col("n") == 7)
        .selectExpr(
            "d",
            f"CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0"
            f" THEN NULL ELSE {_RC_R} END AS r",
        )
        .orderBy("d")
    )


# --- hour-of-day seasonality significance (round 4) ----------------------------------
# Is the diurnal profile statistically real? One-way ANOVA of the
# per-(date, hour-of-day) arrival counts grouped by hour-of-day — the
# significance test behind q_seasonality's profile estimate, reusing
# q_anova_f's exact integer sufficient-statistic identity directly on
# counts (integers already — no quantization needed). Plan: one
# (date, hod) count + one combinable per-hod fold + O(1) finish.
@_q(
    "q_hod_anova",
    f"""
    WITH b AS (
        SELECT date_trunc('day', ts) AS d, EXTRACT(hour FROM ts) AS hod,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), per AS (
        SELECT hod,
               CAST(COUNT(*) AS BIGINT) AS n1,
               CAST(SUM(c) AS BIGINT) AS s1,
               CAST(SUM(c * c) AS BIGINT) AS qq1
        FROM b GROUP BY hod
    ), terms AS (
        SELECT n1, s1, qq1, (s1 * s1) // n1 AS bb FROM per
    ), agg AS (
        SELECT CAST(SUM(n1) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS n_groups,
               CAST(SUM(s1) AS BIGINT) AS s,
               CAST(SUM(qq1) AS BIGINT) AS qq,
               CAST(SUM(bb) AS BIGINT) AS bsum
        FROM terms
    ), sc AS (
        SELECT n, n_groups,
               CAST(bsum - CAST(floor(CAST(s AS DOUBLE)
                    * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT)
                    AS BIGINT) AS ssb_sc,
               CAST(qq - bsum AS BIGINT) AS ssw_sc
        FROM agg
    )
    SELECT n, n_groups, ssb_sc, ssw_sc, {_AOV_F} AS f_stat FROM sc
    """,
)
def q_hod_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    b = e.groupBy(
        F.date_trunc("day", F.col("ts")).alias("d"),
        F.hour("ts").alias("hod"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    per = b.groupBy("hod").agg(
        F.count(F.lit(1)).cast("bigint").alias("n1"),
        F.sum("c").cast("bigint").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("qq1"),
    )
    terms = per.selectExpr("n1", "s1", "qq1", "(s1 * s1) DIV n1 AS bb")
    agg = terms.agg(
        F.sum("n1").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum("s1").cast("bigint").alias("s"),
        F.sum("qq1").cast("bigint").alias("qq"),
        F.sum("bb").cast("bigint").alias("bsum"),
    )
    sc = agg.selectExpr(
        "n",
        "n_groups",
        "CAST(bsum - CAST(floor(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)"
        " / CAST(n AS DOUBLE)) AS BIGINT) AS BIGINT) AS ssb_sc",
        "CAST(qq - bsum AS BIGINT) AS ssw_sc",
    )
    return sc.selectExpr(
        "n", "n_groups", "ssb_sc", "ssw_sc", f"{_AOV_F} AS f_stat"
    )


# --- Tukey IQR fence outliers (round 4) ------------------------------------------------
# The boxplot rule next to q_mad_outliers' modified z: per event type,
# element-selected Q1/Q3 in the cents domain, and the 1.5·IQR fences
# kept EXACT by working in doubled cents (lo2 = 2·q1 − 3·iqr,
# hi2 = 2·q3 + 3·iqr, compare 2c against them — no 1.5 float ever
# materializes). Output per type: quartiles, fence-breaking counts,
# outlier share. Plan: one rank window per type + a broadcast O(k)
# quartile join + one combinable fold.
@_q(
    "q_iqr_outliers",
    f"""
    WITH c AS (
        SELECT event_type, {_AOV_CENTS} AS c,
               CAST(event_id AS BIGINT) AS event_id
        FROM events WHERE value IS NOT NULL
    ), r AS (
        SELECT event_type, c,
               CAST(row_number() OVER (PARTITION BY event_type
                                       ORDER BY c, event_id) AS BIGINT)
                   AS rn,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM c
    ), qs AS (
        SELECT event_type,
               CAST(MAX(CASE WHEN rn = (n - 1) * 25 // 100 + 1 THEN c END)
                    AS BIGINT) AS q1,
               CAST(MAX(CASE WHEN rn = (n - 1) * 75 // 100 + 1 THEN c END)
                    AS BIGINT) AS q3
        FROM r GROUP BY event_type
    ), fen AS (
        SELECT event_type, q1, q3,
               CAST(2 * q1 - 3 * (q3 - q1) AS BIGINT) AS lo2,
               CAST(2 * q3 + 3 * (q3 - q1) AS BIGINT) AS hi2
        FROM qs
    ), agg AS (
        SELECT c.event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN 2 * c.c < fen.lo2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_low,
               CAST(SUM(CASE WHEN 2 * c.c > fen.hi2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_high,
               CAST(MAX(fen.q1) AS BIGINT) AS q1,
               CAST(MAX(fen.q3) AS BIGINT) AS q3
        FROM c JOIN fen ON c.event_type = fen.event_type
        GROUP BY c.event_type
    )
    SELECT event_type, n,
           CAST(q1 AS DOUBLE) / 100.0 AS q1_value,
           CAST(q3 AS DOUBLE) / 100.0 AS q3_value,
           n_low, n_high,
           CAST(n_low + n_high AS DOUBLE) / CAST(n AS DOUBLE)
               AS outlier_share
    FROM agg ORDER BY event_type
    """,
)
def q_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    c = e.selectExpr(
        "event_type",
        f"{_AOV_CENTS} AS c",
        "CAST(event_id AS BIGINT) AS event_id",
    )
    wt = Window.partitionBy("event_type")
    r = c.select(
        "event_type",
        "c",
        F.row_number()
        .over(wt.orderBy("c", "event_id"))
        .cast("bigint")
        .alias("rn"),
        F.count(F.lit(1)).over(wt).cast("bigint").alias("n"),
    )
    qs = r.groupBy("event_type").agg(
        F.max(
            F.when(F.col("rn") == F.expr("(n - 1) * 25 DIV 100 + 1"), F.col("c"))
        )
        .cast("bigint")
        .alias("q1"),
        F.max(
            F.when(F.col("rn") == F.expr("(n - 1) * 75 DIV 100 + 1"), F.col("c"))
        )
        .cast("bigint")
        .alias("q3"),
    )
    fen = qs.selectExpr(
        "event_type",
        "q1",
        "q3",
        "CAST(2 * q1 - 3 * (q3 - q1) AS BIGINT) AS lo2",
        "CAST(2 * q3 + 3 * (q3 - q1) AS BIGINT) AS hi2",
    )
    agg = (
        c.join(F.broadcast(fen), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(2 * F.col("c") < F.col("lo2"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_low"),
            F.sum(F.when(2 * F.col("c") > F.col("hi2"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_high"),
            F.max("q1").cast("bigint").alias("q1"),
            F.max("q3").cast("bigint").alias("q3"),
        )
    )
    return agg.selectExpr(
        "event_type",
        "n",
        "CAST(q1 AS DOUBLE) / 100.0 AS q1_value",
        "CAST(q3 AS DOUBLE) / 100.0 AS q3_value",
        "n_low",
        "n_high",
        "CAST(n_low + n_high AS DOUBLE) / CAST(n AS DOUBLE)"
        " AS outlier_share",
    ).orderBy("event_type")


# --- missingness pattern audit (round 4) ------------------------------------------------
# Column-completeness card per event type: null rates for value and
# props plus the 2×2 co-missingness cells (are the two columns' gaps
# correlated — one broken producer, or independent noise?). Exact
# integer counts, fixed-order shares. Plan: one combinable aggregate.
@_q(
    "q_missingness",
    """
    WITH per AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS value_nulls,
               CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS props_nulls,
               CAST(SUM(CASE WHEN value IS NULL AND props IS NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS both_null
        FROM events GROUP BY event_type
    )
    SELECT event_type, n, value_nulls, props_nulls, both_null,
           CAST(value_nulls AS DOUBLE) / CAST(n AS DOUBLE)
               AS value_null_share,
           CAST(props_nulls AS DOUBLE) / CAST(n AS DOUBLE)
               AS props_null_share
    FROM per ORDER BY event_type
    """,
)
def q_missingness(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    per = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("value").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("value_nulls"),
        F.sum(F.when(F.col("props").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("props_nulls"),
        F.sum(
            F.when(F.col("value").isNull() & F.col("props").isNull(), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("both_null"),
    )
    return per.selectExpr(
        "event_type",
        "n",
        "value_nulls",
        "props_nulls",
        "both_null",
        "CAST(value_nulls AS DOUBLE) / CAST(n AS DOUBLE)"
        " AS value_null_share",
        "CAST(props_nulls AS DOUBLE) / CAST(n AS DOUBLE)"
        " AS props_null_share",
    ).orderBy("event_type")


# --- energy-distance two-sample test (round 4) ---------------------------------------
# Szekely's energy statistic between the click and view value samples —
# sensitive to ANY distributional difference (location, scale, shape),
# completing the two-sample ladder (z → MW ranks → KS/CvM shapes →
# energy). The O(n²) pairwise |x−y| sums collapse to EXACT integers via
# the sorted identity Σ_{i<j}|z_i−z_j| = Σ_k (2k−|S|−1)·z_(k) — one
# rank window per sample plus one pooled, so the whole test is three
# sorts and integer folds, never a pair join. Cross-group sum
# A = T(pooled) − T(x) − T(y). The statistic is fixed-order text over
# the integer T's. Plan: rank windows on the cents relation
# (range-partitioned sorts at scale) + combinable folds.
_EN_E = (
    "((2.0 * CAST(a AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))"
    " - 2.0 * CAST(tx AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE))"
    " - 2.0 * CAST(ty AS DOUBLE) / (CAST(n2 AS DOUBLE) * CAST(n2 AS DOUBLE)))"
    " / 100.0)"
)
_EN_STAT = (
    f"((CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
    f" / CAST(n1 + n2 AS DOUBLE)) * {_EN_E})"
)


@_q(
    "q_energy_test",
    f"""
    WITH c AS (
        SELECT event_type, {_AOV_CENTS} AS c,
               CAST(event_id AS BIGINT) AS event_id
        FROM events
        WHERE value IS NOT NULL AND event_type IN ('click', 'view')
    ), rall AS (
        SELECT c,
               CAST(row_number() OVER (ORDER BY c, event_id) AS BIGINT) AS k,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM c
    ), tall AS (
        SELECT CAST(SUM((2 * k - n - 1) * c) AS BIGINT) AS t_all FROM rall
    ), rg AS (
        SELECT event_type, c,
               CAST(row_number() OVER (PARTITION BY event_type
                                       ORDER BY c, event_id) AS BIGINT) AS k,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM c
    ), tg AS (
        SELECT event_type,
               CAST(SUM((2 * k - n - 1) * c) AS BIGINT) AS t_g,
               CAST(MAX(n) AS BIGINT) AS n
        FROM rg GROUP BY event_type
    ), fin AS (
        SELECT
            CAST(MAX(CASE WHEN event_type = 'click' THEN t_g END)
                 AS BIGINT) AS tx,
            CAST(MAX(CASE WHEN event_type = 'click' THEN n END)
                 AS BIGINT) AS n1,
            CAST(MAX(CASE WHEN event_type = 'view' THEN t_g END)
                 AS BIGINT) AS ty,
            CAST(MAX(CASE WHEN event_type = 'view' THEN n END)
                 AS BIGINT) AS n2
        FROM tg
    ), wa AS (
        SELECT fin.*, CAST(tall.t_all - fin.tx - fin.ty AS BIGINT) AS a
        FROM fin CROSS JOIN tall
    )
    SELECT n1, n2, a AS cross_sum_cents,
           {_EN_E} AS energy_distance,
           {_EN_STAT} AS energy_stat
    FROM wa
    """,
)
def q_energy_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & F.col("event_type").isin("click", "view")
    )
    c = e.selectExpr(
        "event_type",
        f"{_AOV_CENTS} AS c",
        "CAST(event_id AS BIGINT) AS event_id",
    )
    # events are fact-sized: the pooled rank + total ride the range-
    # partitioned ranker (plans/rank.py)
    rall = global_rank(
        c.select("c", "event_id"), ["c", "event_id"], rank_col="k",
        total_col="n",
    ).select("c", "k", "n")
    tall = rall.agg(
        F.sum((2 * F.col("k") - F.col("n") - 1) * F.col("c"))
        .cast("bigint")
        .alias("t_all")
    )
    wt = Window.partitionBy("event_type")
    rg = c.select(
        "event_type",
        "c",
        F.row_number()
        .over(wt.orderBy("c", "event_id"))
        .cast("bigint")
        .alias("k"),
        F.count(F.lit(1)).over(wt).cast("bigint").alias("n"),
    )
    tg = rg.groupBy("event_type").agg(
        F.sum((2 * F.col("k") - F.col("n") - 1) * F.col("c"))
        .cast("bigint")
        .alias("t_g"),
        F.max("n").cast("bigint").alias("n"),
    )
    fin = tg.agg(
        F.max(F.when(F.col("event_type") == "click", F.col("t_g")))
        .cast("bigint")
        .alias("tx"),
        F.max(F.when(F.col("event_type") == "click", F.col("n")))
        .cast("bigint")
        .alias("n1"),
        F.max(F.when(F.col("event_type") == "view", F.col("t_g")))
        .cast("bigint")
        .alias("ty"),
        F.max(F.when(F.col("event_type") == "view", F.col("n")))
        .cast("bigint")
        .alias("n2"),
    )
    wa = fin.crossJoin(F.broadcast(tall)).selectExpr(
        "tx", "n1", "ty", "n2", "CAST(t_all - tx - ty AS BIGINT) AS a"
    )
    return wa.selectExpr(
        "n1",
        "n2",
        "a AS cross_sum_cents",
        f"{_EN_E} AS energy_distance",
        f"{_EN_STAT} AS energy_stat",
    )


# --- Jonckheere-Terpstra ordered-trend test (round 4) ---------------------------------
# Does value rise across the ORDERED day parts (night 0-7 < afternoon
# 8-15 < evening 16-23)? JT = Σ_{g<h} U_gh over ordered group pairs —
# the ordered-alternative upgrade of Kruskal-Wallis. Each pairwise U
# reuses the doubled-tie-rank machinery on the POOLED pair relation
# (so 2·JT is an exact BIGINT); the no-ties normal approximation is
# shared text (documented simplification, identical both sides). Plan:
# a 3-pair literal expansion of the scan (bounded), one cumulative
# window per pair on the O(|distinct values|) relation, combinable
# folds.
_JT_Z = (
    "((CAST(jt2 AS DOUBLE) / 2.0 - CAST(mu2 AS DOUBLE) / 2.0)"
    " / sqrt(CAST(var_num AS DOUBLE) / 72.0))"
)


@_q(
    "q_jonckheere",
    f"""
    WITH base AS (
        SELECT CAST(EXTRACT(hour FROM ts) AS BIGINT) // 8 AS g,
               {_AOV_CENTS} AS c
        FROM events WHERE value IS NOT NULL
    ), pairs AS (
        SELECT * FROM (VALUES (1, 0, 1), (2, 0, 2), (3, 1, 2))
            AS t(pid, lo, hi)
    ), longp AS (
        SELECT p.pid, CASE WHEN b.g = p.hi THEN 1 ELSE 0 END AS is_high, b.c
        FROM base b JOIN pairs p ON b.g = p.lo OR b.g = p.hi
    ), vc AS (
        SELECT pid, c, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM longp GROUP BY 1, 2
    ), v2 AS (
        SELECT pid, c,
               CAST(2 * (SUM(cnt) OVER (PARTITION BY pid ORDER BY c
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         - cnt) + cnt + 1 AS BIGINT) AS r2
        FROM vc
    ), hv AS (
        SELECT pid, c, CAST(COUNT(*) AS BIGINT) AS hcnt
        FROM longp WHERE is_high = 1 GROUP BY 1, 2
    ), per AS (
        SELECT hv.pid,
               CAST(SUM(hv.hcnt) AS BIGINT) AS nh,
               CAST(SUM(hv.hcnt * v2.r2) AS BIGINT) AS r2h
        FROM hv JOIN v2 ON hv.pid = v2.pid AND hv.c = v2.c
        GROUP BY hv.pid
    ), u2 AS (
        SELECT CAST(SUM(r2h - nh * (nh + 1)) AS BIGINT) AS jt2 FROM per
    ), gsz AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS ng FROM base GROUP BY g
    ), mv AS (
        SELECT CAST(SUM(ng) AS BIGINT) AS n,
               CAST(SUM(ng * ng * (2 * ng + 3)) AS BIGINT) AS inner_term
        FROM gsz
    ), mu AS (
        SELECT CAST(SUM(a.ng * b.ng) AS BIGINT) AS mu2
        FROM gsz a JOIN gsz b ON a.g < b.g
    ), fin AS (
        SELECT u2.jt2, mu.mu2,
               CAST(mv.n * mv.n * (2 * mv.n + 3) - mv.inner_term AS BIGINT)
                   AS var_num,
               mv.n
        FROM u2 CROSS JOIN mu CROSS JOIN mv
    )
    SELECT n, jt2, mu2, var_num, {_JT_Z} AS z FROM fin
    """,
)
def q_jonckheere(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    base = e.selectExpr(
        "CAST(EXTRACT(hour FROM ts) AS BIGINT) DIV 8 AS g",
        f"{_AOV_CENTS} AS c",
    )
    pairs = local_rows(
        spark, [(1, 0, 2 - 1), (2, 0, 2), (3, 1, 2)], "pid int, lo bigint, hi bigint"
    )
    longp = base.join(
        F.broadcast(pairs),
        (F.col("g") == F.col("lo")) | (F.col("g") == F.col("hi")),
    ).select(
        "pid",
        F.when(F.col("g") == F.col("hi"), 1).otherwise(0).alias("is_high"),
        "c",
    )
    vc = longp.groupBy("pid", "c").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    wcum = (
        Window.partitionBy("pid")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    v2 = vc.select(
        "pid",
        "c",
        (2 * (F.sum("cnt").over(wcum) - F.col("cnt")) + F.col("cnt") + 1)
        .cast("bigint")
        .alias("r2"),
    )
    hv = (
        longp.where(F.col("is_high") == 1)
        .groupBy("pid", "c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("hcnt"))
    )
    per = hv.join(v2, ["pid", "c"]).groupBy("pid").agg(
        F.sum("hcnt").cast("bigint").alias("nh"),
        F.sum(F.col("hcnt") * F.col("r2")).cast("bigint").alias("r2h"),
    )
    u2 = per.agg(
        F.sum(F.col("r2h") - F.col("nh") * (F.col("nh") + 1))
        .cast("bigint")
        .alias("jt2")
    )
    gsz = base.groupBy("g").agg(F.count(F.lit(1)).cast("bigint").alias("ng"))
    mv = gsz.agg(
        F.sum("ng").cast("bigint").alias("n"),
        F.sum(F.col("ng") * F.col("ng") * (2 * F.col("ng") + 3))
        .cast("bigint")
        .alias("inner_term"),
    )
    a = gsz.alias("a")
    b = gsz.alias("b")
    mu = a.join(b, F.col("a.g") < F.col("b.g")).agg(
        F.sum(F.col("a.ng") * F.col("b.ng")).cast("bigint").alias("mu2")
    )
    fin = (
        u2.crossJoin(F.broadcast(mu))
        .crossJoin(F.broadcast(mv))
        .selectExpr(
            "jt2",
            "mu2",
            "CAST(n * n * (2 * n + 3) - inner_term AS BIGINT) AS var_num",
            "n",
        )
    )
    return fin.selectExpr("n", "jt2", "mu2", "var_num", f"{_JT_Z} AS z")


# --- log-rank test between arms (round 4) ----------------------------------------------
# The hypothesis test behind q_km_survival's curve: do the odd/even
# user_id arms convert (first purchase) at the same rate? Per-user
# time-to-event with censoring exactly as KM defines it; at each
# distinct EVENT day t the observed arm-1 events O1 accumulate exactly,
# while the expected count d_t·n1_t/n_t and hypergeometric variance
# term are 1e-12-quantized from identically-computed doubles so their
# sums are order-free integers. chi² = (O1−E1)²/V as shared text.
# Plan: one per-user journey aggregate; the risk table is O(|event
# days|) (≤31 rows) built from a bounded cross join; everything after
# is tiny.
_LR_E1 = "(CAST(e1_q AS DOUBLE) / 1000000000000.0)"
_LR_V = "(CAST(v_q AS DOUBLE) / 1000000000000.0)"
_LR_CHI2 = (
    f"(((CAST(o1 AS DOUBLE) - {_LR_E1}) * (CAST(o1 AS DOUBLE) - {_LR_E1}))"
    f" / {_LR_V})"
)
_LR_ETERM = (
    "CAST(floor(CAST(d * n1 AS DOUBLE) / CAST(n AS DOUBLE)"
    " * 1000000000000.0 + 0.5) AS BIGINT)"
)
_LR_VTERM = (
    "CAST(floor(CAST(d AS DOUBLE) * (CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))"
    " * (1.0 - CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))"
    " * (CAST(n - d AS DOUBLE) / CAST(n - 1 AS DOUBLE))"
    " * 1000000000000.0 + 0.5) AS BIGINT)"
)


@_q(
    "q_logrank",
    f"""
    WITH j AS (
        SELECT user_id,
               CAST(user_id % 2 AS BIGINT) AS arm,
               CAST(MIN(floor(epoch(ts) / 86400)) AS BIGINT) AS d0,
               CAST(MIN(CASE WHEN event_type = 'purchase'
                             THEN floor(epoch(ts) / 86400) END) AS BIGINT)
                   AS dp,
               CAST(MAX(floor(epoch(ts) / 86400)) AS BIGINT) AS dl
        FROM events GROUP BY user_id
    ), obs AS (
        SELECT arm,
               CASE WHEN dp IS NULL THEN dl - d0 ELSE dp - d0 END AS tt,
               CASE WHEN dp IS NULL THEN 0 ELSE 1 END AS ev
        FROM j
    ), et AS (
        SELECT DISTINCT tt AS day FROM obs WHERE ev = 1
    ), risk AS (
        SELECT et.day,
               CAST(SUM(CASE WHEN obs.tt >= et.day THEN 1 ELSE 0 END)
                    AS BIGINT) AS n,
               CAST(SUM(CASE WHEN obs.tt >= et.day AND obs.arm = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN obs.tt = et.day AND obs.ev = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS d,
               CAST(SUM(CASE WHEN obs.tt = et.day AND obs.ev = 1
                             AND obs.arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS d1
        FROM et CROSS JOIN obs GROUP BY et.day
    ), agg AS (
        SELECT CAST(SUM(d1) AS BIGINT) AS o1,
               CAST(SUM({_LR_ETERM}) AS BIGINT) AS e1_q,
               CAST(SUM(CASE WHEN n > 1 THEN {_LR_VTERM} ELSE 0 END)
                    AS BIGINT) AS v_q,
               CAST(COUNT(*) AS BIGINT) AS n_event_days
        FROM risk
    ), nn AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users FROM j
    )
    SELECT n_users, n_event_days, o1, {_LR_E1} AS e1,
           {_LR_V} AS var_lr,
           CASE WHEN v_q = 0 THEN NULL ELSE {_LR_CHI2} END AS logrank_chi2
    FROM agg CROSS JOIN nn
    """,
)
def q_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    j = e.groupBy("user_id").agg(
        F.max(F.expr("CAST(user_id % 2 AS BIGINT)")).alias("arm"),
        F.expr("CAST(MIN(floor(unix_timestamp(ts) / 86400)) AS BIGINT)")
        .alias("d0"),
        F.expr(
            "CAST(MIN(CASE WHEN event_type = 'purchase'"
            " THEN floor(unix_timestamp(ts) / 86400) END) AS BIGINT)"
        ).alias("dp"),
        F.expr("CAST(MAX(floor(unix_timestamp(ts) / 86400)) AS BIGINT)")
        .alias("dl"),
    )
    obs = j.selectExpr(
        "arm",
        "CASE WHEN dp IS NULL THEN dl - d0 ELSE dp - d0 END AS tt",
        "CASE WHEN dp IS NULL THEN 0 ELSE 1 END AS ev",
    )
    et = obs.where(F.col("ev") == 1).select(
        F.col("tt").alias("day")
    ).distinct()
    risk = (
        F.broadcast(et)
        .crossJoin(obs)
        .groupBy("day")
        .agg(
            F.sum(F.when(F.col("tt") >= F.col("day"), 1).otherwise(0))
            .cast("bigint")
            .alias("n"),
            F.sum(
                F.when(
                    (F.col("tt") >= F.col("day")) & (F.col("arm") == 1), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n1"),
            F.sum(
                F.when(
                    (F.col("tt") == F.col("day")) & (F.col("ev") == 1), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("d"),
            F.sum(
                F.when(
                    (F.col("tt") == F.col("day"))
                    & (F.col("ev") == 1)
                    & (F.col("arm") == 1),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("d1"),
        )
    )
    agg = risk.agg(
        F.sum("d1").cast("bigint").alias("o1"),
        F.sum(F.expr(_LR_ETERM)).cast("bigint").alias("e1_q"),
        F.sum(
            F.expr(f"CASE WHEN n > 1 THEN {_LR_VTERM} ELSE 0 END")
        )
        .cast("bigint")
        .alias("v_q"),
        F.count(F.lit(1)).cast("bigint").alias("n_event_days"),
    )
    nn = j.agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    return agg.crossJoin(F.broadcast(nn)).selectExpr(
        "n_users",
        "n_event_days",
        "o1",
        f"{_LR_E1} AS e1",
        f"{_LR_V} AS var_lr",
        f"CASE WHEN v_q = 0 THEN NULL ELSE {_LR_CHI2} END AS logrank_chi2",
    )


# --- partial correlation controlling for exposure (round 4) ----------------------------
# Does the daily click↔purchase coupling survive after controlling for
# view volume (the common-cause confounder)? First-order partial
# correlation r_xy·z = (r_xy − r_xz·r_yz) / sqrt((1−r_xz²)(1−r_yz²)),
# with each pairwise r computed by the n-multiplied integer identity —
# integer moments in, one shared-text expression out. Plan: one daily
# aggregate carrying all nine sufficient statistics + an O(1) fold.
_PC_RXY = (
    "(CAST(n * sxy - sx * sy AS DOUBLE)"
    " / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))"
    " * sqrt(CAST(n * syy - sy * sy AS DOUBLE))))"
)
_PC_RXZ = (
    "(CAST(n * sxz - sx * sz AS DOUBLE)"
    " / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))"
    " * sqrt(CAST(n * szz - sz * sz AS DOUBLE))))"
)
_PC_RYZ = (
    "(CAST(n * syz - sy * sz AS DOUBLE)"
    " / (sqrt(CAST(n * syy - sy * sy AS DOUBLE))"
    " * sqrt(CAST(n * szz - sz * sz AS DOUBLE))))"
)
_PC_PARTIAL = (
    f"(({_PC_RXY} - {_PC_RXZ} * {_PC_RYZ})"
    f" / sqrt((1.0 - {_PC_RXZ} * {_PC_RXZ})"
    f" * (1.0 - {_PC_RYZ} * {_PC_RYZ})))"
)


@_q(
    "q_partial_corr",
    f"""
    WITH db AS (
        SELECT date_trunc('day', ts) AS d,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS x,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS y,
               CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                    AS BIGINT) AS z
        FROM events GROUP BY 1
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(z) AS BIGINT) AS sz,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy,
               CAST(SUM(z * z) AS BIGINT) AS szz,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * z) AS BIGINT) AS sxz,
               CAST(SUM(y * z) AS BIGINT) AS syz
        FROM db
    )
    SELECT n, {_PC_RXY} AS r_xy, {_PC_RXZ} AS r_xz, {_PC_RYZ} AS r_yz,
           {_PC_PARTIAL} AS partial_r
    FROM agg
    """,
)
def q_partial_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    db = e.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("y"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("bigint")
        .alias("z"),
    )
    agg = db.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum("z").cast("bigint").alias("sz"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("z") * F.col("z")).cast("bigint").alias("szz"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("z")).cast("bigint").alias("sxz"),
        F.sum(F.col("y") * F.col("z")).cast("bigint").alias("syz"),
    )
    return agg.selectExpr(
        "n",
        f"{_PC_RXY} AS r_xy",
        f"{_PC_RXZ} AS r_xz",
        f"{_PC_RYZ} AS r_yz",
        f"{_PC_PARTIAL} AS partial_r",
    )


# --- Granger-style lead screen (round 4) -------------------------------------------------
# Does yesterday's click volume improve the prediction of today's
# purchases beyond yesterday's purchases alone? The F comparison of the
# restricted (y ~ y_lag) vs unrestricted (y ~ y_lag + x_lag) OLS fits.
# The centered moments are exact n-multiplied BIGINTs; both residual
# sums are SHARED-TEXT double polynomials over them (D = S11·S22 −
# S12², the 2×2 normal-equation determinant — closed form, no matrix
# inversion; the triple-moment products overflow int64 at sf0.01, so
# the polynomial runs in the fixed-order double domain), and F is one
# fixed-order expression. Plan: one daily aggregate, one lag
# window on the O(|days|) relation, one fold.
_GR_SSER = (
    "(CAST(cyy AS DOUBLE) - CAST(cy1 AS DOUBLE) * CAST(cy1 AS DOUBLE)"
    " / CAST(c11 AS DOUBLE))"
)
_GR_D = (
    "(CAST(c11 AS DOUBLE) * CAST(c22 AS DOUBLE)"
    " - CAST(c12 AS DOUBLE) * CAST(c12 AS DOUBLE))"
)
_GR_SSEU = (
    f"(CAST(cyy AS DOUBLE)"
    f" - (CAST(cy1 AS DOUBLE) * CAST(cy1 AS DOUBLE) * CAST(c22 AS DOUBLE)"
    f" - 2.0 * CAST(cy1 AS DOUBLE) * CAST(cy2 AS DOUBLE)"
    f" * CAST(c12 AS DOUBLE)"
    f" + CAST(cy2 AS DOUBLE) * CAST(cy2 AS DOUBLE) * CAST(c11 AS DOUBLE))"
    f" / {_GR_D})"
)
_GR_F = (
    f"((({_GR_SSER} - {_GR_SSEU}) * CAST(n - 3 AS DOUBLE)) / {_GR_SSEU})"
)


@_q(
    "q_granger_lite",
    f"""
    WITH db AS (
        SELECT date_trunc('day', ts) AS d,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS x,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS y
        FROM events GROUP BY 1
    ), lagd AS (
        SELECT y,
               LAG(y) OVER (ORDER BY d) AS y1,
               LAG(x) OVER (ORDER BY d) AS x1
        FROM db
    ), o AS (
        SELECT y, y1, x1 FROM lagd WHERE y1 IS NOT NULL
    ), m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(y1) AS BIGINT) AS s1,
               CAST(SUM(x1) AS BIGINT) AS s2,
               CAST(SUM(y * y) AS BIGINT) AS syy,
               CAST(SUM(y1 * y1) AS BIGINT) AS s11,
               CAST(SUM(x1 * x1) AS BIGINT) AS s22,
               CAST(SUM(y1 * x1) AS BIGINT) AS s12,
               CAST(SUM(y * y1) AS BIGINT) AS sy1,
               CAST(SUM(y * x1) AS BIGINT) AS sy2
        FROM o
    ), cm AS (
        SELECT n,
               CAST(n * syy - sy * sy AS BIGINT) AS cyy,
               CAST(n * s11 - s1 * s1 AS BIGINT) AS c11,
               CAST(n * s22 - s2 * s2 AS BIGINT) AS c22,
               CAST(n * s12 - s1 * s2 AS BIGINT) AS c12,
               CAST(n * sy1 - sy * s1 AS BIGINT) AS cy1,
               CAST(n * sy2 - sy * s2 AS BIGINT) AS cy2
        FROM m
    )
    SELECT n AS n_obs, {_GR_SSER} AS sse_r, {_GR_SSEU} AS sse_u,
           CASE WHEN {_GR_SSEU} <= 0.0 THEN NULL ELSE {_GR_F} END
               AS f_granger
    FROM cm
    """,
)
def q_granger_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    db = e.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("y"),
    )
    # bounded: daily series — O(days) rows
    w = Window.orderBy("d")
    lagd = db.select(
        "y",
        F.lag("y").over(w).alias("y1"),
        F.lag("x").over(w).alias("x1"),
    )
    o = lagd.where(F.col("y1").isNotNull())
    m = o.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum("y1").cast("bigint").alias("s1"),
        F.sum("x1").cast("bigint").alias("s2"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("y1") * F.col("y1")).cast("bigint").alias("s11"),
        F.sum(F.col("x1") * F.col("x1")).cast("bigint").alias("s22"),
        F.sum(F.col("y1") * F.col("x1")).cast("bigint").alias("s12"),
        F.sum(F.col("y") * F.col("y1")).cast("bigint").alias("sy1"),
        F.sum(F.col("y") * F.col("x1")).cast("bigint").alias("sy2"),
    )
    cm = m.selectExpr(
        "n",
        "CAST(n * syy - sy * sy AS BIGINT) AS cyy",
        "CAST(n * s11 - s1 * s1 AS BIGINT) AS c11",
        "CAST(n * s22 - s2 * s2 AS BIGINT) AS c22",
        "CAST(n * s12 - s1 * s2 AS BIGINT) AS c12",
        "CAST(n * sy1 - sy * s1 AS BIGINT) AS cy1",
        "CAST(n * sy2 - sy * s2 AS BIGINT) AS cy2",
    )
    return cm.selectExpr(
        "n AS n_obs",
        f"{_GR_SSER} AS sse_r",
        f"{_GR_SSEU} AS sse_u",
        f"CASE WHEN {_GR_SSEU} <= 0.0 THEN NULL ELSE {_GR_F} END"
        " AS f_granger",
    )


# --- variance-ratio random-walk test (round 4) --------------------------------------------
# Is the daily arrival series a random walk in aggregate? Lo-MacKinlay
# style VR(5): the variance of non-overlapping 5-day block sums over 5×
# the daily variance, cross-multiplied into ONE division of exact
# integer products (both sample variances enter as n-multiplied integer
# identities). Only complete blocks count. Plan: two count aggregates
# (day, then block) + an O(1) fold.
_VR = (
    "((CAST(nb * qb - sb * sb AS DOUBLE)"
    " * CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))"
    " / (5.0 * CAST(n * q - s * s AS DOUBLE)"
    " * CAST(nb AS DOUBLE) * CAST(nb - 1 AS DOUBLE)))"
)


@_q(
    "q_variance_ratio",
    f"""
    WITH db AS (
        SELECT CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) // 86400
                   AS didx,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1
    ), mn AS (
        SELECT CAST(MIN(didx) AS BIGINT) AS d0 FROM db
    ), daily AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(c) AS BIGINT) AS s,
               CAST(SUM(c * c) AS BIGINT) AS q
        FROM db
    ), blocks AS (
        SELECT (didx - d0) // 5 AS blk,
               CAST(SUM(c) AS BIGINT) AS bc,
               CAST(COUNT(*) AS BIGINT) AS ndays
        FROM db CROSS JOIN mn GROUP BY 1
    ), bstat AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS nb,
               CAST(SUM(bc) AS BIGINT) AS sb,
               CAST(SUM(bc * bc) AS BIGINT) AS qb
        FROM blocks WHERE ndays = 5
    )
    SELECT daily.n AS n_days, bstat.nb AS n_blocks,
           CAST(5 AS BIGINT) AS k, {_VR} AS variance_ratio
    FROM daily CROSS JOIN bstat
    """,
)
def q_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    db = e.groupBy(
        F.expr(
            "CAST(floor(unix_timestamp(date_trunc('day', ts))) AS BIGINT)"
            " DIV 86400"
        ).alias("didx")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    mn = db.agg(F.min("didx").cast("bigint").alias("d0"))
    daily = db.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("q"),
    )
    blocks = (
        db.crossJoin(F.broadcast(mn))
        .groupBy(F.expr("(didx - d0) DIV 5").alias("blk"))
        .agg(
            F.sum("c").cast("bigint").alias("bc"),
            F.count(F.lit(1)).cast("bigint").alias("ndays"),
        )
    )
    bstat = blocks.where(F.col("ndays") == 5).agg(
        F.count(F.lit(1)).cast("bigint").alias("nb"),
        F.sum("bc").cast("bigint").alias("sb"),
        F.sum(F.col("bc") * F.col("bc")).cast("bigint").alias("qb"),
    )
    return daily.crossJoin(F.broadcast(bstat)).selectExpr(
        "n AS n_days",
        "nb AS n_blocks",
        "CAST(5 AS BIGINT) AS k",
        f"{_VR} AS variance_ratio",
    )


# --- partial autocorrelation, lags 1-3 (round 4) ------------------------------------------
# The AR-order diagnostic next to q_acf: PACF via the Durbin-Levinson
# recursion UNROLLED to closed form for three lags (phi11 = r1;
# phi22 = (r2−r1²)/(1−r1²); phi33 from the order-2 coefficients) — no
# loop, one shared-text expression tree over the lag moments. Each
# centered lag product C_k = Σ(n·x_t−S)(n·x_{t+k}−S) is an exact
# BIGINT (n-multiplied centering); r_k = C_k/C_0 one division each.
# Plan: one daily aggregate, three LEAD windows sharing one day sort,
# one fold.
_PA_R1 = "(CAST(c1 AS DOUBLE) / CAST(c0 AS DOUBLE))"
_PA_R2 = "(CAST(c2 AS DOUBLE) / CAST(c0 AS DOUBLE))"
_PA_R3 = "(CAST(c3 AS DOUBLE) / CAST(c0 AS DOUBLE))"
_PA_P22 = (
    f"(({_PA_R2} - {_PA_R1} * {_PA_R1})"
    f" / (1.0 - {_PA_R1} * {_PA_R1}))"
)
_PA_P21 = f"({_PA_R1} * (1.0 - {_PA_P22}))"
_PA_P33 = (
    f"(({_PA_R3} - {_PA_P21} * {_PA_R2} - {_PA_P22} * {_PA_R1})"
    f" / (1.0 - {_PA_P21} * {_PA_R1} - {_PA_P22} * {_PA_R2}))"
)


@_q(
    "q_pacf",
    f"""
    WITH db AS (
        SELECT date_trunc('day', ts) AS d, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s
        FROM db
    ), ld AS (
        SELECT x,
               LEAD(x, 1) OVER (ORDER BY d) AS x1,
               LEAD(x, 2) OVER (ORDER BY d) AS x2,
               LEAD(x, 3) OVER (ORDER BY d) AS x3
        FROM db
    ), cs AS (
        SELECT CAST(SUM((n * x - s) * (n * x - s)) AS BIGINT) AS c0,
               CAST(SUM(CASE WHEN x1 IS NULL THEN 0
                             ELSE (n * x - s) * (n * x1 - s) END)
                    AS BIGINT) AS c1,
               CAST(SUM(CASE WHEN x2 IS NULL THEN 0
                             ELSE (n * x - s) * (n * x2 - s) END)
                    AS BIGINT) AS c2,
               CAST(SUM(CASE WHEN x3 IS NULL THEN 0
                             ELSE (n * x - s) * (n * x3 - s) END)
                    AS BIGINT) AS c3,
               CAST(MAX(n) AS BIGINT) AS n_days
        FROM ld CROSS JOIN tot
    )
    SELECT n_days, {_PA_R1} AS r1, {_PA_R2} AS r2, {_PA_R3} AS r3,
           {_PA_R1} AS pacf1, {_PA_P22} AS pacf2, {_PA_P33} AS pacf3
    FROM cs
    """,
)
def q_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    db = e.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    tot = db.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
    )
    # bounded: daily series — O(days) rows
    w = Window.orderBy("d")
    ld = db.select(
        "x",
        F.lead("x", 1).over(w).alias("x1"),
        F.lead("x", 2).over(w).alias("x2"),
        F.lead("x", 3).over(w).alias("x3"),
    )
    cs = ld.crossJoin(F.broadcast(tot)).agg(
        F.sum((F.col("n") * F.col("x") - F.col("s"))
              * (F.col("n") * F.col("x") - F.col("s")))
        .cast("bigint")
        .alias("c0"),
        F.sum(
            F.when(F.col("x1").isNull(), 0).otherwise(
                (F.col("n") * F.col("x") - F.col("s"))
                * (F.col("n") * F.col("x1") - F.col("s"))
            )
        )
        .cast("bigint")
        .alias("c1"),
        F.sum(
            F.when(F.col("x2").isNull(), 0).otherwise(
                (F.col("n") * F.col("x") - F.col("s"))
                * (F.col("n") * F.col("x2") - F.col("s"))
            )
        )
        .cast("bigint")
        .alias("c2"),
        F.sum(
            F.when(F.col("x3").isNull(), 0).otherwise(
                (F.col("n") * F.col("x") - F.col("s"))
                * (F.col("n") * F.col("x3") - F.col("s"))
            )
        )
        .cast("bigint")
        .alias("c3"),
        F.max("n").cast("bigint").alias("n_days"),
    )
    return cs.selectExpr(
        "n_days",
        f"{_PA_R1} AS r1",
        f"{_PA_R2} AS r2",
        f"{_PA_R3} AS r3",
        f"{_PA_R1} AS pacf1",
        f"{_PA_P22} AS pacf2",
        f"{_PA_P33} AS pacf3",
    )


# --- RFM segment migration matrix (round 4) ------------------------------------------------
# Customer-base dynamics: per user, purchase-intensity segment in each
# half of the window (none / light = 1 / heavy >= 2 purchases) and the
# first-half → second-half transition matrix with row shares. All
# exact integer counts; the half split reuses q_cuped's integer
# day-index midpoint. Plan: one per-user conditional aggregate + one
# (seg, seg) count; O(9) output.
@_q(
    "q_rfm_migration",
    """
    WITH bounds AS (
        SELECT (CAST(floor(epoch(date_trunc('day', MIN(ts)))) AS BIGINT)
                    // 86400
                + CAST(floor(epoch(date_trunc('day', MAX(ts)))) AS BIGINT)
                    // 86400 + 1) // 2 AS split_day
        FROM events
    ), per AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                             AND CAST(floor(epoch(date_trunc('day', ts)))
                                      AS BIGINT) // 86400 < split_day
                             THEN 1 ELSE 0 END) AS BIGINT) AS p1,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                             AND CAST(floor(epoch(date_trunc('day', ts)))
                                      AS BIGINT) // 86400 >= split_day
                             THEN 1 ELSE 0 END) AS BIGINT) AS p2
        FROM events CROSS JOIN bounds GROUP BY user_id
    ), seg AS (
        SELECT CASE WHEN p1 = 0 THEN 'none' WHEN p1 = 1 THEN 'light'
                    ELSE 'heavy' END AS seg_h1,
               CASE WHEN p2 = 0 THEN 'none' WHEN p2 = 1 THEN 'light'
                    ELSE 'heavy' END AS seg_h2
        FROM per
    ), mat AS (
        SELECT seg_h1, seg_h2, CAST(COUNT(*) AS BIGINT) AS n_users
        FROM seg GROUP BY 1, 2
    ), rt AS (
        SELECT seg_h1, CAST(SUM(n_users) AS BIGINT) AS row_total
        FROM mat GROUP BY seg_h1
    )
    SELECT m.seg_h1, m.seg_h2, m.n_users,
           CAST(m.n_users AS DOUBLE) / CAST(rt.row_total AS DOUBLE)
               AS row_share
    FROM mat m JOIN rt ON m.seg_h1 = rt.seg_h1
    ORDER BY m.seg_h1, m.seg_h2
    """,
)
def q_rfm_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    bounds = e.agg(
        F.expr(
            "(CAST(floor(unix_timestamp(date_trunc('day', MIN(ts))))"
            " AS BIGINT) DIV 86400"
            " + CAST(floor(unix_timestamp(date_trunc('day', MAX(ts))))"
            " AS BIGINT) DIV 86400 + 1) DIV 2"
        ).alias("split_day")
    )
    day_idx = (
        "CAST(floor(unix_timestamp(date_trunc('day', ts))) AS BIGINT)"
        " DIV 86400"
    )
    per = (
        e.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.expr(
                    f"CASE WHEN event_type = 'purchase'"
                    f" AND {day_idx} < split_day THEN 1 ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("p1"),
            F.sum(
                F.expr(
                    f"CASE WHEN event_type = 'purchase'"
                    f" AND {day_idx} >= split_day THEN 1 ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("p2"),
        )
    )
    seg = per.selectExpr(
        "CASE WHEN p1 = 0 THEN 'none' WHEN p1 = 1 THEN 'light'"
        " ELSE 'heavy' END AS seg_h1",
        "CASE WHEN p2 = 0 THEN 'none' WHEN p2 = 1 THEN 'light'"
        " ELSE 'heavy' END AS seg_h2",
    )
    mat = seg.groupBy("seg_h1", "seg_h2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    rt = mat.groupBy("seg_h1").agg(
        F.sum("n_users").cast("bigint").alias("row_total")
    )
    return (
        mat.join(F.broadcast(rt), "seg_h1")
        .selectExpr(
            "seg_h1",
            "seg_h2",
            "n_users",
            "CAST(n_users AS DOUBLE) / CAST(row_total AS DOUBLE)"
            " AS row_share",
        )
        .orderBy("seg_h1", "seg_h2")
    )


# --- Neyman optimal sampling allocation (round 4) ------------------------------------------
# Survey-sampling design advisor: for a 1000-row sampling budget over
# the event-type strata, the variance-minimizing allocation
# n_h ∝ N_h·S_h. Per-stratum sd comes from exact integer cents
# moments (shared sqrt text); the weights N_h·S_h are 1e-6-quantized
# BIGINTs so the cross-strata normalizer is an order-free integer sum;
# each allocation is one fixed division. Plan: one combinable moment
# aggregate + an O(k) fold.
_NY_SD = (
    "sqrt(CAST(n1 * qq - s * s AS DOUBLE)"
    " / (CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE)))"
)
_NY_W = (
    f"CAST(floor(CAST(n1 AS DOUBLE) * {_NY_SD} * 1000000.0 + 0.5)"
    f" AS BIGINT)"
)
_NY_ALLOC = "(1000.0 * CAST(w AS DOUBLE) / CAST(wsum AS DOUBLE))"


@_q(
    "q_neyman",
    f"""
    WITH c AS (
        SELECT event_type, {_AOV_CENTS} AS c
        FROM events WHERE value IS NOT NULL
    ), per AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n1,
               CAST(SUM(c) AS BIGINT) AS s,
               CAST(SUM(c * c) AS BIGINT) AS qq
        FROM c GROUP BY event_type
    ), w AS (
        SELECT event_type, n1, {_NY_SD} AS sd, {_NY_W} AS w FROM per
    ), tot AS (
        SELECT CAST(SUM(w) AS BIGINT) AS wsum FROM w
    )
    SELECT event_type, n1 AS n_pop, (sd / 100.0) AS sd_value, w.w,
           {_NY_ALLOC} AS alloc
    FROM w CROSS JOIN tot ORDER BY event_type
    """,
)
def q_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    c = e.selectExpr("event_type", f"{_AOV_CENTS} AS c")
    per = c.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n1"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("qq"),
    )
    w = per.selectExpr(
        "event_type", "n1", f"{_NY_SD} AS sd", f"{_NY_W} AS w"
    )
    tot = w.agg(F.sum("w").cast("bigint").alias("wsum"))
    return (
        w.crossJoin(F.broadcast(tot))
        .selectExpr(
            "event_type",
            "n1 AS n_pop",
            "(sd / 100.0) AS sd_value",
            "w",
            f"{_NY_ALLOC} AS alloc",
        )
        .orderBy("event_type")
    )


# --- minimum-detectable-effect curve (round 4) ----------------------------------------------
# Experiment planning from the other direction of q_ab_power: given
# the observed control purchase rate and candidate per-arm sizes
# {1k, 10k, 100k}, the smallest absolute/relative lift a two-sided
# α=0.05, 80%-power test can detect: MDE = (z_{α/2}+z_β)·sqrt(2p(1−p)/n).
# z constants enter as shared literals; p is one division of exact
# integer counts. Plan: one combinable aggregate + a 3-row broadcast
# grid.
_MDE_P = "(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))"
_MDE = (
    f"(2.8015852181129688"
    f" * sqrt(2.0 * {_MDE_P} * (1.0 - {_MDE_P}) / CAST(n_arm AS DOUBLE)))"
)


@_q(
    "q_mde_curve",
    f"""
    WITH ctl AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_pos
        FROM events WHERE user_id % 2 = 0
    ), grid AS (
        SELECT unnest([1000, 10000, 100000]) AS n_arm
    )
    SELECT CAST(n_arm AS BIGINT) AS n_arm, n, n_pos,
           {_MDE_P} AS p_control,
           {_MDE} AS mde_abs,
           ({_MDE} / {_MDE_P}) AS mde_rel
    FROM ctl CROSS JOIN grid ORDER BY n_arm
    """,
)
def q_mde_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").where(F.expr("user_id % 2 = 0"))
    ctl = e.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("n_pos"),
    )
    grid = local_rows(spark, [(1000,), (10000,), (100000,)], "n_arm bigint")
    return (
        ctl.crossJoin(F.broadcast(grid))
        .selectExpr(
            "CAST(n_arm AS BIGINT) AS n_arm",
            "n",
            "n_pos",
            f"{_MDE_P} AS p_control",
            f"{_MDE} AS mde_abs",
            f"({_MDE} / {_MDE_P}) AS mde_rel",
        )
        .orderBy("n_arm")
    )


# --- DAU growth accounting (round 4) ---------------------------------------------------------
# The product-health decomposition: per day, active users split into
# new (first-ever-seen that day) and returning — the base series every
# growth model consumes. Exact integer counts off a (day, user)
# distinct relation and a per-user first-day aggregate. Plan: two
# combinable aggregates + one broadcastable first-day join (user-keyed
# hash reuse at 100 TB).
@_q(
    "q_growth_accounting",
    """
    WITH du AS (
        SELECT DISTINCT date_trunc('day', ts) AS d, user_id FROM events
    ), fd AS (
        SELECT user_id, MIN(d) AS first_day FROM du GROUP BY user_id
    )
    SELECT du.d,
           CAST(COUNT(*) AS BIGINT) AS dau,
           CAST(SUM(CASE WHEN du.d = fd.first_day THEN 1 ELSE 0 END)
                AS BIGINT) AS new_users,
           CAST(SUM(CASE WHEN du.d <> fd.first_day THEN 1 ELSE 0 END)
                AS BIGINT) AS returning_users
    FROM du JOIN fd ON du.user_id = fd.user_id
    GROUP BY du.d ORDER BY du.d
    """,
)
def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    du = e.select(
        F.date_trunc("day", F.col("ts")).alias("d"), "user_id"
    ).distinct()
    fd = du.groupBy("user_id").agg(F.min("d").alias("first_day"))
    return (
        du.join(fd, "user_id")
        .groupBy("d")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("dau"),
            F.sum(
                F.when(F.col("d") == F.col("first_day"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("new_users"),
            F.sum(
                F.when(F.col("d") != F.col("first_day"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("returning_users"),
        )
        .orderBy("d")
    )


# --- md5-bridge uniformity audit (round 4) -----------------------------------------------
# The engine primitive many queries lean on (Poisson bootstrap,
# permutation test, k-fold, priority sampling) is "md5 prefix is a
# uniform integer" — this query AUDITS it: bucket every event_id's
# 8-hex md5 prefix into 16 bins and test uniformity with the
# chi-square GOF in its all-integer form chi2 = (B·Σo² − n²)/n. Also
# reports the max/min bucket spread. Plan: one combinable bucket count
# + an O(16) fold.
_HU_CHI2 = (
    "(CAST(16 * sq - n * n AS DOUBLE) / CAST(n AS DOUBLE))"
)


@_q(
    "q_hash_uniformity",
    f"""
    WITH h AS (
        SELECT CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)
                    AS BIGINT) % 16 AS b
        FROM events
    ), c AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS o FROM h GROUP BY b
    ), agg AS (
        SELECT CAST(SUM(o) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS n_buckets,
               CAST(SUM(o * o) AS BIGINT) AS sq,
               CAST(MIN(o) AS BIGINT) AS min_bucket,
               CAST(MAX(o) AS BIGINT) AS max_bucket
        FROM c
    )
    SELECT n, n_buckets, min_bucket, max_bucket, {_HU_CHI2} AS chi2
    FROM agg
    """,
)
def q_hash_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    h = e.select(
        (
            F.conv(
                F.substring(F.md5(F.col("event_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("bigint")
            % 16
        ).alias("b")
    )
    c = h.groupBy("b").agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    agg = c.agg(
        F.sum("o").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum(F.col("o") * F.col("o")).cast("bigint").alias("sq"),
        F.min("o").cast("bigint").alias("min_bucket"),
        F.max("o").cast("bigint").alias("max_bucket"),
    )
    return agg.selectExpr(
        "n", "n_buckets", "min_bucket", "max_bucket", f"{_HU_CHI2} AS chi2"
    )


# --- daily quantile ribbon (round 4) ------------------------------------------------------
# The monitoring band every value dashboard draws: per day,
# element-selected p10/p50/p90 of value under the pinned (cents,
# event_id) order — a day-partitioned rank window, never
# interpolation. Plan: one rank window partitioned by day (each
# partition independent — embarrassingly parallel at 100 TB) + one
# per-day fold.
@_q(
    "q_daily_bands",
    f"""
    WITH c AS (
        SELECT date_trunc('day', ts) AS d, {_AOV_CENTS} AS c,
               CAST(event_id AS BIGINT) AS event_id
        FROM events WHERE value IS NOT NULL
    ), rk AS (
        SELECT d, c,
               CAST(row_number() OVER (PARTITION BY d
                    ORDER BY c, event_id) AS BIGINT) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY d) AS BIGINT) AS n
        FROM c
    )
    SELECT d, CAST(MAX(n) AS BIGINT) AS n_events,
           CAST(MAX(CASE WHEN rn = (n - 1) * 10 // 100 + 1 THEN c END)
                AS DOUBLE) / 100.0 AS p10,
           CAST(MAX(CASE WHEN rn = (n - 1) * 50 // 100 + 1 THEN c END)
                AS DOUBLE) / 100.0 AS p50,
           CAST(MAX(CASE WHEN rn = (n - 1) * 90 // 100 + 1 THEN c END)
                AS DOUBLE) / 100.0 AS p90
    FROM rk GROUP BY d ORDER BY d
    """,
)
def q_daily_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    c = e.selectExpr(
        "date_trunc('day', ts) AS d",
        f"{_AOV_CENTS} AS c",
        "CAST(event_id AS BIGINT) AS event_id",
    )
    wd = Window.partitionBy("d")
    rk = c.select(
        "d",
        "c",
        F.row_number()
        .over(wd.orderBy("c", "event_id"))
        .cast("bigint")
        .alias("rn"),
        F.count(F.lit(1)).over(wd).cast("bigint").alias("n"),
    )
    return (
        rk.groupBy("d")
        .agg(
            F.max("n").cast("bigint").alias("n_events"),
            (
                F.max(
                    F.when(
                        F.col("rn") == F.expr("(n - 1) * 10 DIV 100 + 1"),
                        F.col("c"),
                    )
                ).cast("double")
                / 100.0
            ).alias("p10"),
            (
                F.max(
                    F.when(
                        F.col("rn") == F.expr("(n - 1) * 50 DIV 100 + 1"),
                        F.col("c"),
                    )
                ).cast("double")
                / 100.0
            ).alias("p50"),
            (
                F.max(
                    F.when(
                        F.col("rn") == F.expr("(n - 1) * 90 DIV 100 + 1"),
                        F.col("c"),
                    )
                ).cast("double")
                / 100.0
            ).alias("p90"),
        )
        .orderBy("d")
    )


# --- Poisson-bootstrap CI for a mean CONTRAST (round 4) -------------------------------------
# The interval companion to q_perm_test's p-value: 32 hash-weighted
# replicates of the click-minus-view mean gap (each arm's weighted
# mean exact via decimal routing and the q_poisson_bootstrap weight
# construction), with the 2.5%/97.5% band ELEMENT-SELECTED from the
# ranked replicate diffs. Every replicate diff is an identically-
# computed double; ranks are pinned by (diff, rep). Plan: one 32-way
# map-side expansion into a combinable (rep, arm) aggregate + a 32-row
# rank window.
# Round-9 fix (caught by the known-truth replica, NOT by the
# differential gate — both engines shared the wrong text): the weight
# thresholds were hand-derived with e rounded to 2.72
# (1579032135 = 2^32/2.72) instead of the true Poisson(1) cumulative
# pmf; they now reuse q_poisson_bootstrap's _PB_C0/C1/C2
# (floor(2^32·e^-1) etc.), which tests/test_r9window_audit3.py
# re-derives independently with math.exp.
_BD_B = 32


@_q(
    "q_boot_diff",
    f"""
    WITH base AS (
        SELECT CAST(event_id AS BIGINT) AS event_id, value,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_click
        FROM events
        WHERE value IS NOT NULL AND event_type IN ('click', 'view')
    ), g AS (
        SELECT is_click, value, r.b AS rep,
               CAST('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':' ||
                                       CAST(r.b AS VARCHAR)), 1, 8)
                    AS BIGINT) AS h
        FROM base, range(0, {_BD_B}) r(b)
    ), w AS (
        SELECT is_click, value, rep,
               CASE WHEN h < {_PB_C0} THEN 0
                    WHEN h < {_PB_C1} THEN 1
                    WHEN h < {_PB_C2} THEN 2
                    ELSE 3 END AS wt
        FROM g
    ), per AS (
        SELECT rep,
               CAST(SUM(is_click * wt * CAST(value AS DECIMAL(38,6)))
                    AS DOUBLE)
                 / CAST(SUM(is_click * wt) AS BIGINT)
                 - CAST(SUM((1 - is_click) * wt * CAST(value AS DECIMAL(38,6)))
                        AS DOUBLE)
                 / CAST(SUM((1 - is_click) * wt) AS BIGINT) AS diff
        FROM w GROUP BY rep
    ), rk AS (
        SELECT diff, row_number() OVER (ORDER BY diff, rep) AS rn
        FROM per
    )
    SELECT CAST({_BD_B} AS BIGINT) AS n_reps,
           MAX(CASE WHEN rn = 1 THEN diff END) AS boot_min,
           MAX(CASE WHEN rn = 2 THEN diff END) AS boot_lo,
           MAX(CASE WHEN rn = {_BD_B} - 1 THEN diff END) AS boot_hi,
           MAX(CASE WHEN rn = {_BD_B} THEN diff END) AS boot_max
    FROM rk
    """,
)
def q_boot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    base = e.where(
        F.col("value").isNotNull()
        & F.col("event_type").isin("click", "view")
    ).selectExpr(
        "CAST(event_id AS BIGINT) AS event_id",
        "value",
        "CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_click",
    )
    g = base.select(
        "is_click",
        "value",
        F.explode(F.sequence(F.lit(0), F.lit(_BD_B - 1))).alias("rep"),
        "event_id",
    ).select(
        "is_click",
        "value",
        "rep",
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("event_id").cast("string"),
                        F.col("rep").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("h"),
    )
    w = g.selectExpr(
        "is_click",
        "value",
        "rep",
        f"CASE WHEN h < {_PB_C0} THEN 0"
        f" WHEN h < {_PB_C1} THEN 1"
        f" WHEN h < {_PB_C2} THEN 2"
        f" ELSE 3 END AS wt",
    )
    per = w.groupBy("rep").agg(
        (
            F.sum(
                F.col("is_click")
                * F.col("wt")
                * F.col("value").cast("decimal(38,6)")
            ).cast("double")
            / F.sum(F.col("is_click") * F.col("wt")).cast("bigint")
            - F.sum(
                (1 - F.col("is_click"))
                * F.col("wt")
                * F.col("value").cast("decimal(38,6)")
            ).cast("double")
            / F.sum((1 - F.col("is_click")) * F.col("wt")).cast("bigint")
        ).alias("diff")
    )
    from pyspark.sql.window import Window as W

    rk = per.select(
        "diff", F.row_number().over(W.orderBy("diff", "rep")).alias("rn")
    )
    return rk.agg(
        F.lit(_BD_B).cast("bigint").alias("n_reps"),
        F.max(F.when(F.col("rn") == 1, F.col("diff"))).alias("boot_min"),
        F.max(F.when(F.col("rn") == 2, F.col("diff"))).alias("boot_lo"),
        F.max(F.when(F.col("rn") == _BD_B - 1, F.col("diff"))).alias(
            "boot_hi"
        ),
        F.max(F.when(F.col("rn") == _BD_B, F.col("diff"))).alias("boot_max"),
    )


# --- 6-hour scan statistic (round 4) -------------------------------------------------------
# Cluster-burst detection: the maximum event count in ANY 6-hour
# sliding window per type, via an integer RANGE frame over the hour
# index (RANGE, not ROWS — coverage gaps must not shrink the window).
# The argmax window is pinned by (count DESC, hidx). Plan: one hourly
# aggregate + one range-frame window per type + TakeOrdered.
@_q(
    "q_scan_stat",
    """
    WITH hb AS (
        SELECT event_type,
               CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) // 3600
                   AS hidx,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), w AS (
        SELECT event_type, hidx,
               CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY hidx
                    RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS c6
        FROM hb
    ), rk AS (
        SELECT event_type, hidx, c6,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY c6 DESC, hidx) AS rn
        FROM w
    )
    SELECT event_type, hidx AS window_end_hidx, c6 AS max_6h_count
    FROM rk WHERE rn = 1 ORDER BY event_type
    """,
)
def q_scan_stat(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    hb = e.groupBy(
        "event_type",
        F.expr(
            "CAST(floor(unix_timestamp(date_trunc('hour', ts))) AS BIGINT)"
            " DIV 3600"
        ).alias("hidx"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    wr = (
        Window.partitionBy("event_type")
        .orderBy("hidx")
        .rangeBetween(-5, 0)
    )
    w = hb.select(
        "event_type",
        "hidx",
        F.sum("c").over(wr).cast("bigint").alias("c6"),
    )
    rk = w.select(
        "*",
        F.row_number()
        .over(
            Window.partitionBy("event_type").orderBy(F.desc("c6"), "hidx")
        )
        .alias("rn"),
    )
    return (
        rk.where(F.col("rn") == 1)
        .selectExpr(
            "event_type", "hidx AS window_end_hidx", "c6 AS max_6h_count"
        )
        .orderBy("event_type")
    )


# --- record-breaking days vs the iid expectation (round 4) -----------------------------------
# Trend detection without any distributional assumption: in an
# exchangeable series the expected number of running record highs is
# the harmonic number H_n. Observed records come off one running-max
# window (strict >); H_n is computed EXACTLY as the integer sum
# Σ floor(1e15/k) over the day ranks (integer division — no float
# reciprocals), one closing division. Plan: one daily aggregate + one
# day-ordered window + a fold.
@_q(
    "q_record_days",
    """
    WITH db AS (
        SELECT date_trunc('day', ts) AS d, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1
    ), w AS (
        SELECT d, c,
               MAX(c) OVER (ORDER BY d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_max,
               CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS k
        FROM db
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(CASE WHEN prev_max IS NULL OR c > prev_max
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_records,
               CAST(SUM(1000000000000000 // k) AS BIGINT) AS hq
        FROM w
    )
    SELECT n_days, n_records,
           CAST(hq AS DOUBLE) / 1000000000000000.0 AS expected_records,
           CAST(n_records AS DOUBLE)
               - CAST(hq AS DOUBLE) / 1000000000000000.0 AS excess_records
    FROM agg
    """,
)
def q_record_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    db = e.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    # bounded: daily series — O(days) rows
    wo = Window.orderBy("d")
    w = db.select(
        "d",
        "c",
        F.max("c").over(wo.rowsBetween(Window.unboundedPreceding, -1)).alias(
            "prev_max"
        ),
        F.row_number().over(wo).cast("bigint").alias("k"),
    )
    agg = w.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum(
            F.when(
                F.col("prev_max").isNull() | (F.col("c") > F.col("prev_max")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_records"),
        F.sum(F.expr("1000000000000000 DIV k")).cast("bigint").alias("hq"),
    )
    return agg.selectExpr(
        "n_days",
        "n_records",
        "CAST(hq AS DOUBLE) / 1000000000000000.0 AS expected_records",
        "CAST(n_records AS DOUBLE)"
        " - CAST(hq AS DOUBLE) / 1000000000000000.0 AS excess_records",
    )


# --- Ljung-Box portmanteau test, lags 1-5 (round 4) -------------------------------------------
# Is the daily series white noise overall? Q = n(n+2)·Σ r_k²/(n−k)
# over five lags — the joint companion to q_pacf/q_durbin_watson. The
# centered lag products C_k reuse q_pacf's n-multiplied BIGINT
# identity (extended to k=5); Q is ONE shared-text expression over the
# six integers, so there is no float summation to order. Plan: one
# daily aggregate, five LEADs on one sort, one fold.
_LB_TERM = lambda k: (  # noqa: E731 - tiny local text builder
    f"(CAST(c{k} AS DOUBLE) * CAST(c{k} AS DOUBLE)"
    f" / (CAST(c0 AS DOUBLE) * CAST(c0 AS DOUBLE))"
    f" / CAST(n_days - {k} AS DOUBLE))"
)
_LB_Q = (
    "(CAST(n_days AS DOUBLE) * CAST(n_days + 2 AS DOUBLE) * ("
    + " + ".join(_LB_TERM(k) for k in range(1, 6))
    + "))"
)


@_q(
    "q_ljung_box",
    f"""
    WITH db AS (
        SELECT date_trunc('day', ts) AS d, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s
        FROM db
    ), ld AS (
        SELECT x,
               LEAD(x, 1) OVER (ORDER BY d) AS x1,
               LEAD(x, 2) OVER (ORDER BY d) AS x2,
               LEAD(x, 3) OVER (ORDER BY d) AS x3,
               LEAD(x, 4) OVER (ORDER BY d) AS x4,
               LEAD(x, 5) OVER (ORDER BY d) AS x5
        FROM db
    ), cs AS (
        SELECT CAST(SUM((n * x - s) * (n * x - s)) AS BIGINT) AS c0,
               CAST(SUM(CASE WHEN x1 IS NULL THEN 0
                             ELSE (n * x - s) * (n * x1 - s) END)
                    AS BIGINT) AS c1,
               CAST(SUM(CASE WHEN x2 IS NULL THEN 0
                             ELSE (n * x - s) * (n * x2 - s) END)
                    AS BIGINT) AS c2,
               CAST(SUM(CASE WHEN x3 IS NULL THEN 0
                             ELSE (n * x - s) * (n * x3 - s) END)
                    AS BIGINT) AS c3,
               CAST(SUM(CASE WHEN x4 IS NULL THEN 0
                             ELSE (n * x - s) * (n * x4 - s) END)
                    AS BIGINT) AS c4,
               CAST(SUM(CASE WHEN x5 IS NULL THEN 0
                             ELSE (n * x - s) * (n * x5 - s) END)
                    AS BIGINT) AS c5,
               CAST(MAX(n) AS BIGINT) AS n_days
        FROM ld CROSS JOIN tot
    )
    SELECT n_days, {_LB_Q} AS q_stat FROM cs
    """,
)
def q_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    db = e.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    tot = db.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
    )
    # bounded: daily series — O(days) rows
    w = Window.orderBy("d")
    ld = db.select(
        "x",
        *[F.lead("x", k).over(w).alias(f"x{k}") for k in range(1, 6)],
    )
    aggs = [
        F.sum(
            (F.col("n") * F.col("x") - F.col("s"))
            * (F.col("n") * F.col("x") - F.col("s"))
        )
        .cast("bigint")
        .alias("c0")
    ]
    for k in range(1, 6):
        aggs.append(
            F.sum(
                F.when(F.col(f"x{k}").isNull(), 0).otherwise(
                    (F.col("n") * F.col("x") - F.col("s"))
                    * (F.col("n") * F.col(f"x{k}") - F.col("s"))
                )
            )
            .cast("bigint")
            .alias(f"c{k}")
        )
    aggs.append(F.max("n").cast("bigint").alias("n_days"))
    cs = ld.crossJoin(F.broadcast(tot)).agg(*aggs)
    return cs.selectExpr("n_days", f"{_LB_Q} AS q_stat")


# --- Holt-Winters additive smoothing, 7-day season (round 4) ----------------------------------
# The seasonal extension of q_holt: level + trend + a rotating 7-slot
# additive seasonal state over the daily TOTAL series. Dyadic constants
# (α = γ = 1/2, β = 1/4) keep every update an exact floor of a
# power-of-two division in the 2^20 fixed-point domain — bit-identical
# in Python and the oracle's recursive CTE (which carries the seasonal
# ring as seven rotating columns). Initialization: level = first-week
# mean (exact integer floor-division by 7 — non-multiples sit ≥ 1/7
# away from integers, so floor(a/7.0) = a//7), trend = 0, seasonal_i =
# x_i·S − level. The distributed stage is the daily aggregate; the
# ≤31-step recursion finishes on collected scalars (the q_holt rule).
_HW_S = 1 << 20


def _hw_oracle() -> str:
    S = _HW_S
    init_s = ",\n               ".join(
        f"CAST(MAX(CASE WHEN t = {i} THEN x END) * {S}"
        f" - (CAST(SUM(x) AS BIGINT) * {S}) // 7 AS BIGINT) AS s{i}"
        for i in range(1, 8)
    )
    new_l = f"CAST(floor((s.x * {S} - r.s1 + r.lq + r.bq) / 2.0) AS BIGINT)"
    new_b = (
        f"CAST(floor(({new_l} - r.lq + 3 * r.bq) / 4.0) AS BIGINT)"
    )
    new_s = f"CAST(floor((s.x * {S} - {new_l} + r.s1) / 2.0) AS BIGINT)"
    return f"""
    WITH RECURSIVE daily AS MATERIALIZED (
        SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1
    ), seq AS MATERIALIZED (
        SELECT day, x, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
        FROM daily
    ), init AS MATERIALIZED (
        SELECT CAST((CAST(SUM(x) AS BIGINT) * {S}) // 7 AS BIGINT) AS lq,
               {init_s}
        FROM seq WHERE t <= 7
    ), r AS (
        SELECT a.t, a.day, a.x, i.lq, CAST(0 AS BIGINT) AS bq,
               i.s1, i.s2, i.s3, i.s4, i.s5, i.s6, i.s7
        FROM (SELECT t, day, x FROM seq WHERE t = 7) a CROSS JOIN init i
        UNION ALL
        SELECT s.t, s.day, s.x,
               {new_l},
               {new_b},
               r.s2, r.s3, r.s4, r.s5, r.s6, r.s7,
               {new_s}
        FROM r JOIN seq s ON s.t = r.t + 1
    )
    SELECT t, day, x,
           CAST(lq AS DOUBLE) / {S}.0 AS level,
           CAST(bq AS DOUBLE) / {S}.0 AS trend,
           CAST(lq + bq + s1 AS DOUBLE) / {S}.0 AS forecast_next
    FROM r
    """


@_q("q_holt_winters", _hw_oracle())
def q_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import LongType, StructField, StructType

    ev = t(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias("day")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
        .orderBy("day")
    )
    series = [(r["day"], r["x"]) for r in daily.collect()]  # ≤31 scalars
    S = _HW_S
    rows = []
    if len(series) >= 8:
        week = series[:7]
        lq = (sum(x for _, x in week) * S) // 7
        ring = [x * S - lq for _, x in week]
        bq = 0
        d7, x7 = series[6]
        rows.append((7, d7, x7, lq, bq, ring[0]))
        for i in range(7, len(series)):
            day, x = series[i]
            s_old = ring[0]
            new_l = (x * S - s_old + lq + bq) // 2
            bq = (new_l - lq + 3 * bq) // 4
            s_new = (x * S - new_l + s_old) // 2
            ring = ring[1:] + [s_new]
            lq = new_l
            rows.append((i + 1, day, x, lq, bq, ring[0]))
    schema = StructType(
        [
            StructField("t", LongType()),
            StructField("day", LongType()),
            StructField("x", LongType()),
            StructField("lq", LongType()),
            StructField("bq", LongType()),
            StructField("s1", LongType()),
        ]
    )
    out = local_rows(spark, rows, schema)
    return out.selectExpr(
        "t",
        "day",
        "x",
        f"CAST(lq AS DOUBLE) / {S}.0 AS level",
        f"CAST(bq AS DOUBLE) / {S}.0 AS trend",
        f"CAST(lq + bq + s1 AS DOUBLE) / {S}.0 AS forecast_next",
    )


# --- Jarque-Bera normality test (round 4) -----------------------------------------------------
# Are the daily totals Gaussian? JB = n/6·(skew² + kurt_excess²/4)
# from the n-multiplied central moments: m2/m3 terms are exact BIGINTs
# ((n·x−S)³ ≤ ~1e15·days), while the fourth-power terms would overflow
# int64, so each row's u⁴ is computed in the shared double domain and
# floor-quantized back to a BIGINT at a 2^-20 relative scale — both
# engines round the double identically, keeping the sum order-free.
# Skewness/kurtosis/JB are fixed-order shared text. Plan: one daily
# aggregate + one fold.
_JB_SKEW = (
    "(CAST(m3 AS DOUBLE) / CAST(n_days AS DOUBLE)"
    " / ((CAST(m2 AS DOUBLE) / CAST(n_days AS DOUBLE))"
    " * sqrt(CAST(m2 AS DOUBLE) / CAST(n_days AS DOUBLE))))"
)
_JB_KURT = (
    "((CAST(m4q AS DOUBLE) * 1048576.0 / CAST(n_days AS DOUBLE))"
    " / (CAST(m2 AS DOUBLE) / CAST(n_days AS DOUBLE)"
    " * (CAST(m2 AS DOUBLE) / CAST(n_days AS DOUBLE))) - 3.0)"
)
_JB = (
    f"(CAST(n_days AS DOUBLE) / 6.0 * ({_JB_SKEW} * {_JB_SKEW}"
    f" + {_JB_KURT} * {_JB_KURT} / 4.0))"
)


@_q(
    "q_jarque_bera",
    f"""
    WITH db AS (
        SELECT date_trunc('day', ts) AS d, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s
        FROM db
    ), u AS (
        SELECT CAST(n * x - s AS BIGINT) AS un, n FROM db CROSS JOIN tot
    ), cs AS (
        SELECT CAST(MAX(n) AS BIGINT) AS n_days,
               CAST(SUM(un * un) AS BIGINT) AS m2,
               CAST(SUM(un * un * un) AS BIGINT) AS m3,
               CAST(SUM(CAST(floor(CAST(un AS DOUBLE) * CAST(un AS DOUBLE)
                    * CAST(un AS DOUBLE) * CAST(un AS DOUBLE)
                    / 1048576.0) AS BIGINT)) AS BIGINT) AS m4q
        FROM u
    )
    SELECT n_days, {_JB_SKEW} AS skewness, {_JB_KURT} AS excess_kurtosis,
           {_JB} AS jarque_bera
    FROM cs
    """,
)
def q_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    db = e.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    tot = db.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
    )
    u = db.crossJoin(F.broadcast(tot)).selectExpr(
        "CAST(n * x - s AS BIGINT) AS un", "n"
    )
    cs = u.agg(
        F.max("n").cast("bigint").alias("n_days"),
        F.sum(F.col("un") * F.col("un")).cast("bigint").alias("m2"),
        F.sum(F.col("un") * F.col("un") * F.col("un"))
        .cast("bigint")
        .alias("m3"),
        F.sum(
            F.expr(
                "CAST(floor(CAST(un AS DOUBLE) * CAST(un AS DOUBLE)"
                " * CAST(un AS DOUBLE) * CAST(un AS DOUBLE)"
                " / 1048576.0) AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("m4q"),
    )
    return cs.selectExpr(
        "n_days",
        f"{_JB_SKEW} AS skewness",
        f"{_JB_KURT} AS excess_kurtosis",
        f"{_JB} AS jarque_bera",
    )


# --- Page-Hinkley drift detector (round 4) ------------------------------------------------
# The sequential mean-shift detector, replayed in batch over the daily
# series: PH_t = Σ_{i<=t} (x_i − m_i − δ) against its running minimum,
# where m_i is the running mean S_i/i. Each term quantizes to a BIGINT
# at 1e-9 BEFORE the cumulative sum (window aggregation may
# re-associate doubles — DuckDB's segment tree vs Spark's running
# fold — so only integer cumsums are safe), δ = 0.5 events. Output:
# the per-day detector trace with the alert flag at λ = 50. Plan: one
# daily aggregate + two cumulative windows sharing one day sort.
_PH_DELTA_Q = 500_000_000  # 0.5 events at the 1e-9 scale
_PH_LAMBDA_Q = 50_000_000_000  # λ = 50 events


@_q(
    "q_page_hinkley",
    f"""
    WITH db AS (
        SELECT date_trunc('day', ts) AS d, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1
    ), cum AS (
        SELECT d, x,
               CAST(SUM(x) OVER (ORDER BY d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS s,
               CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i
        FROM db
    ), term AS (
        SELECT d, x,
               CAST(floor((CAST(x AS DOUBLE)
                           - CAST(s AS DOUBLE) / CAST(i AS DOUBLE))
                          * 1000000000.0 + 0.5) AS BIGINT)
                   - {_PH_DELTA_Q} AS tq
        FROM cum
    ), ph AS (
        SELECT d, x,
               CAST(SUM(tq) OVER (ORDER BY d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_q
        FROM term
    ), mins AS (
        SELECT d, x, cum_q,
               CAST(MIN(cum_q) OVER (ORDER BY d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS min_q
        FROM ph
    )
    SELECT d, x,
           CAST(cum_q AS DOUBLE) / 1000000000.0 AS ph_cum,
           CAST(cum_q - min_q AS DOUBLE) / 1000000000.0 AS ph_stat,
           CAST(CASE WHEN cum_q - min_q > {_PH_LAMBDA_Q} THEN 1 ELSE 0 END
                AS INTEGER) AS alert
    FROM mins ORDER BY d
    """,
)
def q_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    db = e.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    wo = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cum = db.select(
        "d",
        "x",
        F.sum("x").over(wo).cast("bigint").alias("s"),
        F.row_number().over(Window.orderBy("d")).cast("bigint").alias("i"),
    )
    term = cum.selectExpr(
        "d",
        "x",
        "CAST(floor((CAST(x AS DOUBLE)"
        " - CAST(s AS DOUBLE) / CAST(i AS DOUBLE))"
        f" * 1000000000.0 + 0.5) AS BIGINT) - {_PH_DELTA_Q} AS tq",
    )
    ph = term.select(
        "d", "x", F.sum("tq").over(wo).cast("bigint").alias("cum_q")
    )
    mins = ph.select(
        "d",
        "x",
        "cum_q",
        F.min("cum_q").over(wo).cast("bigint").alias("min_q"),
    )
    return mins.selectExpr(
        "d",
        "x",
        "CAST(cum_q AS DOUBLE) / 1000000000.0 AS ph_cum",
        "CAST(cum_q - min_q AS DOUBLE) / 1000000000.0 AS ph_stat",
        f"CAST(CASE WHEN cum_q - min_q > {_PH_LAMBDA_Q} THEN 1 ELSE 0 END"
        " AS INTEGER) AS alert",
    ).orderBy("d")


# --- global Sen slope (round 4) ---------------------------------------------------------------
# The estimator paired with q_mann_kendall's test (and the global
# sibling of q_theilsen's per-user slopes): the median of all pairwise
# daily-count slopes. Slopes are identically-computed doubles; the
# median is ELEMENT-SELECTED under the pinned (slope, i, j) order.
# Pairs come from the O(|days|) relation — constant at any corpus
# size. Output includes the element-selected quartile band.
@_q(
    "q_sen_slope",
    """
    WITH db AS (
        SELECT date_trunc('day', ts) AS d, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1
    ), ix AS (
        SELECT c, CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i
        FROM db
    ), slopes AS (
        SELECT a.i AS ia, b.i AS ib,
               CAST(b.c - a.c AS DOUBLE) / CAST(b.i - a.i AS DOUBLE)
                   AS slope
        FROM ix a JOIN ix b ON a.i < b.i
    ), rk AS (
        SELECT slope,
               CAST(row_number() OVER (ORDER BY slope, ia, ib) AS BIGINT)
                   AS rn,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM slopes
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_pairs,
           MAX(CASE WHEN rn = (n - 1) * 25 // 100 + 1 THEN slope END)
               AS slope_p25,
           MAX(CASE WHEN rn = (n + 1) // 2 THEN slope END) AS sen_slope,
           MAX(CASE WHEN rn = (n - 1) * 75 // 100 + 1 THEN slope END)
               AS slope_p75
    FROM rk
    """,
)
def q_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    db = e.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    ix = db.select(
        # bounded: daily series — O(days) rows
        "c", F.row_number().over(Window.orderBy("d")).cast("bigint").alias("i")
    )
    a = ix.alias("a")
    b = ix.alias("b")
    slopes = a.join(b, F.col("a.i") < F.col("b.i")).select(
        F.col("a.i").alias("ia"),
        F.col("b.i").alias("ib"),
        (
            (F.col("b.c") - F.col("a.c")).cast("double")
            / (F.col("b.i") - F.col("a.i")).cast("double")
        ).alias("slope"),
    )
    rk = slopes.select(
        "slope",
        F.row_number()
        # bounded: day-pair slopes — O(days²) rows
        .over(Window.orderBy("slope", "ia", "ib"))
        .cast("bigint")
        .alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    return rk.agg(
        F.max("n").cast("bigint").alias("n_pairs"),
        F.max(
            F.when(
                F.col("rn") == F.expr("(n - 1) * 25 DIV 100 + 1"),
                F.col("slope"),
            )
        ).alias("slope_p25"),
        F.max(
            F.when(F.col("rn") == F.expr("(n + 1) DIV 2"), F.col("slope"))
        ).alias("sen_slope"),
        F.max(
            F.when(
                F.col("rn") == F.expr("(n - 1) * 75 DIV 100 + 1"),
                F.col("slope"),
            )
        ).alias("slope_p75"),
    )


# --- Chapman capture-recapture estimate (round 4) -----------------------------------------------
# Coverage estimation by mark-recapture: treat the two window halves as
# capture occasions; the Chapman estimator N̂ = (n1+1)(n2+1)/(m+1) − 1
# (bias-corrected Lincoln-Petersen) estimates the total active
# population the log never fully saw, with Seber's variance as shared
# text over the exact integer capture counts. The data-engineering use:
# estimating true entity counts behind incomplete event capture. Plan:
# one per-user half-presence aggregate + an O(1) fold.
_CR_NHAT = (
    "(CAST(n1 + 1 AS DOUBLE) * CAST(n2 + 1 AS DOUBLE)"
    " / CAST(m + 1 AS DOUBLE) - 1.0)"
)
_CR_VAR = (
    "(CAST(n1 + 1 AS DOUBLE) * CAST(n2 + 1 AS DOUBLE)"
    " * CAST(n1 - m AS DOUBLE) * CAST(n2 - m AS DOUBLE)"
    " / (CAST(m + 1 AS DOUBLE) * CAST(m + 1 AS DOUBLE)"
    " * CAST(m + 2 AS DOUBLE)))"
)


@_q(
    "q_capture_recapture",
    f"""
    WITH bounds AS (
        SELECT (CAST(floor(epoch(date_trunc('day', MIN(ts)))) AS BIGINT)
                    // 86400
                + CAST(floor(epoch(date_trunc('day', MAX(ts)))) AS BIGINT)
                    // 86400 + 1) // 2 AS split_day
        FROM events
    ), per AS (
        SELECT user_id,
               CAST(MAX(CASE WHEN CAST(floor(epoch(date_trunc('day', ts)))
                                       AS BIGINT) // 86400 < split_day
                             THEN 1 ELSE 0 END) AS BIGINT) AS h1,
               CAST(MAX(CASE WHEN CAST(floor(epoch(date_trunc('day', ts)))
                                       AS BIGINT) // 86400 >= split_day
                             THEN 1 ELSE 0 END) AS BIGINT) AS h2
        FROM events CROSS JOIN bounds GROUP BY user_id
    ), agg AS (
        SELECT CAST(SUM(h1) AS BIGINT) AS n1,
               CAST(SUM(h2) AS BIGINT) AS n2,
               CAST(SUM(h1 * h2) AS BIGINT) AS m,
               CAST(COUNT(*) AS BIGINT) AS observed
        FROM per
    )
    SELECT n1, n2, m, observed,
           {_CR_NHAT} AS n_hat,
           sqrt({_CR_VAR}) AS se_hat
    FROM agg
    """,
)
def q_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    bounds = e.agg(
        F.expr(
            "(CAST(floor(unix_timestamp(date_trunc('day', MIN(ts))))"
            " AS BIGINT) DIV 86400"
            " + CAST(floor(unix_timestamp(date_trunc('day', MAX(ts))))"
            " AS BIGINT) DIV 86400 + 1) DIV 2"
        ).alias("split_day")
    )
    day_idx = (
        "CAST(floor(unix_timestamp(date_trunc('day', ts))) AS BIGINT)"
        " DIV 86400"
    )
    per = (
        e.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.max(
                F.expr(
                    f"CASE WHEN {day_idx} < split_day THEN 1 ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("h1"),
            F.max(
                F.expr(
                    f"CASE WHEN {day_idx} >= split_day THEN 1 ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("h2"),
        )
    )
    agg = per.agg(
        F.sum("h1").cast("bigint").alias("n1"),
        F.sum("h2").cast("bigint").alias("n2"),
        F.sum(F.col("h1") * F.col("h2")).cast("bigint").alias("m"),
        F.count(F.lit(1)).cast("bigint").alias("observed"),
    )
    return agg.selectExpr(
        "n1",
        "n2",
        "m",
        "observed",
        f"{_CR_NHAT} AS n_hat",
        f"sqrt({_CR_VAR}) AS se_hat",
    )


# --- Simpson's paradox detector (round 4) --------------------------------------------------------
# The aggregation trap, audited: does the odd/even-arm purchase-rate
# difference hold its SIGN inside every event-type stratum, or does
# the pooled number reverse somewhere (confounding by type mix)? All
# comparisons are integer cross-products (p1 > p2 ⟺ c1·n2 > c2·n1 —
# no rate division enters a decision), rates reported as fixed
# divisions. Output: one row per stratum plus the '_pooled_' row, each
# with its direction and a reversal flag vs pooled. Plan: one
# combinable (type, arm) aggregate + a broadcast pooled row.
@_q(
    "q_simpsons_check",
    """
    WITH per AS (
        SELECT COALESCE(hr_bucket, '_pooled_') AS stratum,
               n1, c1, n0, c0
        FROM (
            SELECT CASE WHEN EXTRACT(hour FROM ts) < 12 THEN 'am'
                        ELSE 'pm' END AS hr_bucket,
                   CAST(SUM(user_id % 2) AS BIGINT) AS n1,
                   CAST(SUM((user_id % 2) * (CASE WHEN event_type = 'purchase'
                            THEN 1 ELSE 0 END)) AS BIGINT) AS c1,
                   CAST(SUM(1 - user_id % 2) AS BIGINT) AS n0,
                   CAST(SUM((1 - user_id % 2)
                            * (CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END)) AS BIGINT) AS c0
            FROM events
            GROUP BY GROUPING SETS ((CASE WHEN EXTRACT(hour FROM ts) < 12
                                          THEN 'am' ELSE 'pm' END), ())
        )
    ), pooled AS (
        SELECT CAST(SIGN(c1 * n0 - c0 * n1) AS BIGINT) AS pooled_dir
        FROM per WHERE stratum = '_pooled_'
    )
    SELECT p.stratum, p.n1, p.c1, p.n0, p.c0,
           CAST(p.c1 AS DOUBLE) / CAST(p.n1 AS DOUBLE) AS rate_treat,
           CAST(p.c0 AS DOUBLE) / CAST(p.n0 AS DOUBLE) AS rate_control,
           CAST(SIGN(p.c1 * p.n0 - p.c0 * p.n1) AS BIGINT) AS direction,
           CAST(CASE WHEN SIGN(p.c1 * p.n0 - p.c0 * p.n1)
                          * pooled.pooled_dir < 0 THEN 1 ELSE 0 END
                AS INTEGER) AS reversal
    FROM per p CROSS JOIN pooled
    ORDER BY p.stratum
    """,
)
def q_simpsons_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    base = e.selectExpr(
        "CASE WHEN EXTRACT(hour FROM ts) < 12 THEN 'am' ELSE 'pm' END"
        " AS hr_bucket",
        "CAST(user_id % 2 AS BIGINT) AS arm",
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y",
    )
    strata = base.groupBy("hr_bucket").agg(
        F.sum("arm").cast("bigint").alias("n1"),
        F.sum(F.col("arm") * F.col("y")).cast("bigint").alias("c1"),
        F.sum(1 - F.col("arm")).cast("bigint").alias("n0"),
        F.sum((1 - F.col("arm")) * F.col("y")).cast("bigint").alias("c0"),
    ).selectExpr("hr_bucket AS stratum", "n1", "c1", "n0", "c0")
    pooled_row = base.agg(
        F.sum("arm").cast("bigint").alias("n1"),
        F.sum(F.col("arm") * F.col("y")).cast("bigint").alias("c1"),
        F.sum(1 - F.col("arm")).cast("bigint").alias("n0"),
        F.sum((1 - F.col("arm")) * F.col("y")).cast("bigint").alias("c0"),
    ).selectExpr("'_pooled_' AS stratum", "n1", "c1", "n0", "c0")
    per = strata.unionAll(pooled_row)
    pooled = pooled_row.selectExpr(
        "CAST(SIGN(c1 * n0 - c0 * n1) AS BIGINT) AS pooled_dir"
    )
    return (
        per.crossJoin(F.broadcast(pooled))
        .selectExpr(
            "stratum",
            "n1",
            "c1",
            "n0",
            "c0",
            "CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS rate_treat",
            "CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS rate_control",
            "CAST(SIGN(c1 * n0 - c0 * n1) AS BIGINT) AS direction",
            "CAST(CASE WHEN SIGN(c1 * n0 - c0 * n1) * pooled_dir < 0"
            " THEN 1 ELSE 0 END AS INTEGER) AS reversal",
        )
        .orderBy("stratum")
    )


# --- churn-baseline classifier evaluation (round 4) ----------------------------------------------
# The baseline every churn model must beat: predict second-half
# inactivity from first-half activity volume at the element-selected
# median threshold, and report the exact confusion matrix with
# accuracy / precision / recall / F1 as fixed divisions. Plan: one
# per-user half aggregate, one rank window for the threshold
# (broadcast scalar), one combinable confusion fold.
@_q(
    "q_churn_baseline",
    """
    WITH bounds AS (
        SELECT (CAST(floor(epoch(date_trunc('day', MIN(ts)))) AS BIGINT)
                    // 86400
                + CAST(floor(epoch(date_trunc('day', MAX(ts)))) AS BIGINT)
                    // 86400 + 1) // 2 AS split_day
        FROM events
    ), per AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN CAST(floor(epoch(date_trunc('day', ts)))
                                       AS BIGINT) // 86400 < split_day
                             THEN 1 ELSE 0 END) AS BIGINT) AS a1,
               CAST(SUM(CASE WHEN CAST(floor(epoch(date_trunc('day', ts)))
                                       AS BIGINT) // 86400 >= split_day
                             THEN 1 ELSE 0 END) AS BIGINT) AS a2
        FROM events CROSS JOIN bounds GROUP BY user_id
    ), thr AS (
        SELECT a1 AS med FROM (
            SELECT a1, row_number() OVER (ORDER BY a1, user_id) AS rn,
                   COUNT(*) OVER () AS n
            FROM per
        ) WHERE rn = (n + 1) // 2
    ), scored AS (
        SELECT CASE WHEN a1 < med THEN 1 ELSE 0 END AS pred_churn,
               CASE WHEN a2 = 0 THEN 1 ELSE 0 END AS churned
        FROM per CROSS JOIN thr
    ), cm AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(pred_churn * churned) AS BIGINT) AS tp,
               CAST(SUM(pred_churn * (1 - churned)) AS BIGINT) AS fp,
               CAST(SUM((1 - pred_churn) * churned) AS BIGINT) AS fn,
               CAST(SUM((1 - pred_churn) * (1 - churned)) AS BIGINT) AS tn
        FROM scored
    )
    SELECT n_users, tp, fp, fn, tn,
           CAST(tp + tn AS DOUBLE) / CAST(n_users AS DOUBLE) AS accuracy,
           CASE WHEN tp + fp = 0 THEN NULL
                ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END
               AS precision_,
           CASE WHEN tp + fn = 0 THEN NULL
                ELSE CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END
               AS recall_,
           CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
                ELSE CAST(2 * tp AS DOUBLE)
                     / CAST(2 * tp + fp + fn AS DOUBLE) END AS f1
    FROM cm
    """,
)
def q_churn_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    bounds = e.agg(
        F.expr(
            "(CAST(floor(unix_timestamp(date_trunc('day', MIN(ts))))"
            " AS BIGINT) DIV 86400"
            " + CAST(floor(unix_timestamp(date_trunc('day', MAX(ts))))"
            " AS BIGINT) DIV 86400 + 1) DIV 2"
        ).alias("split_day")
    )
    day_idx = (
        "CAST(floor(unix_timestamp(date_trunc('day', ts))) AS BIGINT)"
        " DIV 86400"
    )
    per = (
        e.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.expr(f"CASE WHEN {day_idx} < split_day THEN 1 ELSE 0 END")
            )
            .cast("bigint")
            .alias("a1"),
            F.sum(
                F.expr(f"CASE WHEN {day_idx} >= split_day THEN 1 ELSE 0 END")
            )
            .cast("bigint")
            .alias("a2"),
        )
    )
    # per-user activity is corpus-shaped at 100 TB: median rank via
    # the range-partitioned ranker (plans/rank.py)
    r = global_rank(
        per, ["a1", "user_id"], rank_col="rn", total_col="n"
    )
    thr = r.where(F.col("rn") == F.expr("(n + 1) DIV 2")).select(
        F.col("a1").alias("med")
    )
    scored = per.crossJoin(F.broadcast(thr)).selectExpr(
        "CASE WHEN a1 < med THEN 1 ELSE 0 END AS pred_churn",
        "CASE WHEN a2 = 0 THEN 1 ELSE 0 END AS churned",
    )
    cm = scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(F.col("pred_churn") * F.col("churned"))
        .cast("bigint")
        .alias("tp"),
        F.sum(F.col("pred_churn") * (1 - F.col("churned")))
        .cast("bigint")
        .alias("fp"),
        F.sum((1 - F.col("pred_churn")) * F.col("churned"))
        .cast("bigint")
        .alias("fn"),
        F.sum((1 - F.col("pred_churn")) * (1 - F.col("churned")))
        .cast("bigint")
        .alias("tn"),
    )
    return cm.selectExpr(
        "n_users",
        "tp",
        "fp",
        "fn",
        "tn",
        "CAST(tp + tn AS DOUBLE) / CAST(n_users AS DOUBLE) AS accuracy",
        "CASE WHEN tp + fp = 0 THEN NULL"
        " ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END"
        " AS precision_",
        "CASE WHEN tp + fn = 0 THEN NULL"
        " ELSE CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall_",
        "CASE WHEN 2 * tp + fp + fn = 0 THEN NULL"
        " ELSE CAST(2 * tp AS DOUBLE)"
        " / CAST(2 * tp + fp + fn AS DOUBLE) END AS f1",
    )


# --- daypart × weekpart purchase interaction (round 4) ------------------------------------------
# Does the am/pm purchase lift differ between weekdays and weekends?
# The 2×2×outcome interaction read as two odds ratios plus their
# ratio (the odds-ratio interaction), all fixed divisions of exact
# integer cells with zero-guards. Plan: one combinable aggregate over
# the scan; O(1) output.
_DPI_OR = (
    "(CAST(p1 AS DOUBLE) * CAST(n0 - p0 AS DOUBLE)"
    " / (CAST(p0 AS DOUBLE) * CAST(n1 - p1 AS DOUBLE)))"
)


@_q(
    "q_daypart_interaction",
    f"""
    WITH b AS (
        SELECT CASE WHEN EXTRACT(hour FROM ts) < 12 THEN 1 ELSE 0 END AS am,
               -- DuckDB dayofweek is 0-based (Sunday=0, Saturday=6);
               -- the Spark side uses its 1-based (Sunday=1, Saturday=7).
               CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END AS wkend,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events
    ), cells AS (
        SELECT wkend,
               CAST(SUM(am) AS BIGINT) AS n1,
               CAST(SUM(am * y) AS BIGINT) AS p1,
               CAST(SUM(1 - am) AS BIGINT) AS n0,
               CAST(SUM((1 - am) * y) AS BIGINT) AS p0
        FROM b GROUP BY wkend
    ), ors AS (
        SELECT wkend, n1, p1, n0, p0,
               CASE WHEN p0 = 0 OR n1 = p1 THEN NULL ELSE {_DPI_OR} END
                   AS am_odds_ratio
        FROM cells
    )
    SELECT a.n1 AS wkend_am_n, a.p1 AS wkend_am_purchases,
           a.am_odds_ratio AS weekend_or,
           b.am_odds_ratio AS weekday_or,
           CASE WHEN b.am_odds_ratio IS NULL OR a.am_odds_ratio IS NULL
                     OR b.am_odds_ratio = 0.0 THEN NULL
                ELSE a.am_odds_ratio / b.am_odds_ratio END
               AS interaction_ratio
    FROM (SELECT * FROM ors WHERE wkend = 1) a
    CROSS JOIN (SELECT * FROM ors WHERE wkend = 0) b
    """,
)
def q_daypart_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    b = e.selectExpr(
        "CASE WHEN EXTRACT(hour FROM ts) < 12 THEN 1 ELSE 0 END AS am",
        "CASE WHEN dayofweek(ts) IN (1, 7) THEN 1 ELSE 0 END AS wkend",
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y",
    )
    cells = b.groupBy("wkend").agg(
        F.sum("am").cast("bigint").alias("n1"),
        F.sum(F.col("am") * F.col("y")).cast("bigint").alias("p1"),
        F.sum(1 - F.col("am")).cast("bigint").alias("n0"),
        F.sum((1 - F.col("am")) * F.col("y")).cast("bigint").alias("p0"),
    )
    ors = cells.selectExpr(
        "wkend",
        "n1",
        "p1",
        "n0",
        "p0",
        f"CASE WHEN p0 = 0 OR n1 = p1 THEN NULL ELSE {_DPI_OR} END"
        " AS am_odds_ratio",
    )
    a = ors.where(F.col("wkend") == 1).alias("a")
    bb = ors.where(F.col("wkend") == 0).alias("b")
    return a.crossJoin(F.broadcast(bb)).selectExpr(
        "a.n1 AS wkend_am_n",
        "a.p1 AS wkend_am_purchases",
        "a.am_odds_ratio AS weekend_or",
        "b.am_odds_ratio AS weekday_or",
        "CASE WHEN b.am_odds_ratio IS NULL OR a.am_odds_ratio IS NULL"
        " OR b.am_odds_ratio = 0.0 THEN NULL"
        " ELSE a.am_odds_ratio / b.am_odds_ratio END AS interaction_ratio",
    )


# ===================== round-5 additions ====================================


# --- EOQ (economic order quantity) advisor per brand (round 5) -------------
# The classical inventory-planning output: per brand, annual demand D
# (total units sold), a fixed ordering cost S = 100, holding cost
# H = 0.2 x the brand's average retail price, and
# EOQ = sqrt(2 D S / H) with the implied orders-per-year D / EOQ.
# Exactness: D is a decimal-routed sum cast once to double; H is the
# decimal-avg of a dim column; sqrt is correctly-rounded IEEE (safe
# cross-engine, unlike pow); each division appears once in shared text.
# Plan: one fact aggregate keyed by partkey -> broadcast dim join ->
# O(|brands|) rows; map-side combinable all the way.
@_q(
    "q_eoq_advisor",
    f"""
    WITH demand AS (
        SELECT p.p_brand,
               {oracle_dec_sum('l.l_quantity', 'annual_demand')}
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY p.p_brand
    ), price AS (
        SELECT p_brand, {oracle_dec_avg('p_retailprice', 'avg_price')}
        FROM part GROUP BY p_brand
    )
    SELECT d.p_brand, d.annual_demand, pr.avg_price,
           sqrt((2.0 * d.annual_demand * 100.0) / (0.2 * pr.avg_price))
               AS eoq_units,
           d.annual_demand
               / sqrt((2.0 * d.annual_demand * 100.0) / (0.2 * pr.avg_price))
               AS orders_per_year
    FROM demand d JOIN price pr ON pr.p_brand = d.p_brand
    """,
)
def q_eoq_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity")
    parts = t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_retailprice")
    demand = (
        li.join(F.broadcast(parts.select("p_partkey", "p_brand")), li.l_partkey == parts.p_partkey)
        .groupBy("p_brand")
        .agg(dec_sum("l_quantity", "annual_demand"))
    )
    price = parts.groupBy("p_brand").agg(dec_avg("p_retailprice", "avg_price"))
    eoq = "sqrt((2.0 * annual_demand * 100.0) / (0.2 * avg_price))"
    return (
        demand.join(F.broadcast(price), "p_brand")
        .selectExpr(
            "p_brand",
            "annual_demand",
            "avg_price",
            f"{eoq} AS eoq_units",
            f"annual_demand / {eoq} AS orders_per_year",
        )
    )


# --- Kelly criterion per event type (round 5) -------------------------------
# Position sizing from the event stream: per type, order values by
# (ts, event_id), take consecutive diffs, and compute the Kelly
# fraction f = p - (1 - p) / b from the win rate p and the win/loss
# payoff ratio b. Exactness: each diff is ONE IEEE subtraction, then
# quantized to integer micro-units (floor(diff * 1e6)) BEFORE any sum —
# the floor-quantized shared-term discipline — so the win/loss sums are
# exact BIGINTs in both engines; p, b and f are a fixed shared-text
# chain of divisions on deterministic operands. Zero diffs count as
# neither win nor loss. Plan: one lag window per type partition + one
# combinable aggregate; O(|types|) output.
_KELLY_Q = "CAST(floor(dv * 1000000.0) AS BIGINT)"


@_q(
    "q_kelly",
    f"""
    WITH s AS (
        SELECT event_type,
               value - lag(value) OVER (PARTITION BY event_type
                                        ORDER BY ts, event_id) AS dv
        FROM events WHERE value IS NOT NULL
    ), q AS (
        SELECT event_type, {_KELLY_Q} AS qdv FROM s WHERE dv IS NOT NULL
    ), agg AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_moves,
               CAST(SUM(CASE WHEN qdv > 0 THEN 1 ELSE 0 END) AS BIGINT) AS wins,
               CAST(SUM(CASE WHEN qdv < 0 THEN 1 ELSE 0 END) AS BIGINT) AS losses,
               CAST(SUM(CASE WHEN qdv > 0 THEN qdv ELSE 0 END) AS BIGINT) AS win_us,
               CAST(SUM(CASE WHEN qdv < 0 THEN -qdv ELSE 0 END) AS BIGINT) AS loss_us
        FROM q GROUP BY event_type
    )
    SELECT event_type, n_moves, wins, losses,
           CAST(wins AS DOUBLE) / CAST(wins + losses AS DOUBLE) AS win_rate,
           (CAST(win_us AS DOUBLE) / wins) / (CAST(loss_us AS DOUBLE) / losses)
               AS payoff_ratio,
           CAST(wins AS DOUBLE) / CAST(wins + losses AS DOUBLE)
             - (1.0 - CAST(wins AS DOUBLE) / CAST(wins + losses AS DOUBLE))
               / ((CAST(win_us AS DOUBLE) / wins)
                  / (CAST(loss_us AS DOUBLE) / losses))
               AS kelly_fraction
    FROM agg
    """,
)
def q_kelly(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    s = (
        t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_type",
            (F.col("value") - F.lag("value").over(w)).alias("dv"),
        )
        .where(F.col("dv").isNotNull())
        .selectExpr("event_type", f"{_KELLY_Q} AS qdv")
    )
    agg = s.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_moves"),
        F.sum(F.when(F.col("qdv") > 0, 1).otherwise(0)).cast("bigint").alias("wins"),
        F.sum(F.when(F.col("qdv") < 0, 1).otherwise(0)).cast("bigint").alias("losses"),
        F.sum(F.when(F.col("qdv") > 0, F.col("qdv")).otherwise(0))
        .cast("bigint")
        .alias("win_us"),
        F.sum(F.when(F.col("qdv") < 0, -F.col("qdv")).otherwise(0))
        .cast("bigint")
        .alias("loss_us"),
    )
    p = "CAST(wins AS DOUBLE) / CAST(wins + losses AS DOUBLE)"
    b = "(CAST(win_us AS DOUBLE) / wins) / (CAST(loss_us AS DOUBLE) / losses)"
    return agg.selectExpr(
        "event_type",
        "n_moves",
        "wins",
        "losses",
        f"{p} AS win_rate",
        f"{b} AS payoff_ratio",
        f"{p} - (1.0 - {p}) / ({b}) AS kelly_fraction",
    )


# --- exact Shapley channel attribution (round 5) ----------------------------
# Game-theoretic attribution done EXACTLY, no sampling: channels are the
# non-purchase event types, a converted user is one with >= 1 purchase,
# and the coalition value v(S) = number of converted users whose touched
# channel set is a subset of S. That v decomposes into unanimity games
# (one per observed pattern P, scaled by its user count c_P), and the
# Shapley value of a unanimity game splits 1 equally among P's members —
# so credit(i) = SUM over patterns P containing i of c_P / |P|, with NO
# 2^k enumeration. Exactness: |P| <= 4 here, so each user contributes
# the exact integer 12 / |P| (lcm(1..4) = 12) and the final credit is
# one division by 12.0 — pure integer arithmetic until the last op.
# (Contrast q_attribution_multi's positional heuristics: this is the
# axiomatic credit.) Plan: one distinct (user, channel) relation, one
# per-user count window, one channel aggregate — two key shuffles,
# O(|channels|) output; converting users with zero channel touches carry
# the empty pattern and credit nobody (documented).
@_q(
    "q_shapley",
    """
    WITH conv AS (
        SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    ), touch AS (
        SELECT DISTINCT e.user_id, e.event_type AS channel
        FROM events e JOIN conv USING (user_id)
        WHERE e.event_type <> 'purchase'
    ), sized AS (
        SELECT user_id, channel,
               CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS psize
        FROM touch
    )
    SELECT channel,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(12 // psize) AS BIGINT) AS credit_x12,
           CAST(SUM(12 // psize) AS DOUBLE) / 12.0 AS shapley_credit
    FROM sized GROUP BY channel
    """,
)
def q_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    conv = (
        e.where(F.col("event_type") == "purchase").select("user_id").distinct()
    )
    touch = (
        e.where(F.col("event_type") != "purchase")
        .join(conv, "user_id", "left_semi")
        .select("user_id", F.col("event_type").alias("channel"))
        .distinct()
    )
    sized = touch.select(
        "channel",
        F.count(F.lit(1))
        .over(Window.partitionBy("user_id"))
        .cast("bigint")
        .alias("psize"),
    )
    return (
        sized.selectExpr("channel", "12 div psize AS w12")
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("w12").cast("bigint").alias("credit_x12"),
            (F.sum("w12").cast("double") / 12.0).alias("shapley_credit"),
        )
    )


# --- Wasserstein-1 (earth mover's) drift, exact (round 5) -------------------
# The drift metric the KS statistic (q_ks_drift) underweights: W1 is
# the area between the two CDFs, so it sees HOW FAR mass moved, not
# just the single worst gap. Weekday-vs-weekend value distributions per
# event type, computed EXACTLY on the discrete support: values quantize
# to integer micro-units, per-(type, value) counts n1/n2 are integers,
# the running CDF difference is the integer cum1*N2 - cum2*N1 (cleared
# of divisions), and W1 = SUM |cumdiff| * gap / (N1 * N2 * 1e6) — one
# final division. Overflow audit at sf0.1: cumdiff <= N1*N2 ~ 1e8,
# SUM(|cumdiff|*gap) <= N1*N2*range_us ~ 3e16 — inside int64. Plan: one
# (type, value) aggregate + one ordered window per type + one rollup;
# all map-side combinable, support-sized intermediates.
@_q(
    "q_wasserstein_drift",
    """
    WITH g AS (
        SELECT event_type,
               CAST(floor(value * 1000000.0) AS BIGINT) AS qv,
               CASE WHEN EXTRACT(dow FROM ts) IN (0, 6) THEN 1 ELSE 0 END
                   AS is_weekend
        FROM events WHERE value IS NOT NULL
    ), sup AS (
        SELECT event_type, qv,
               CAST(SUM(1 - is_weekend) AS BIGINT) AS n1,
               CAST(SUM(is_weekend) AS BIGINT) AS n2
        FROM g GROUP BY event_type, qv
    ), cum AS (
        SELECT event_type, qv, n1, n2,
               SUM(n1) OVER w AS cum1,
               SUM(n2) OVER w AS cum2,
               SUM(n1) OVER (PARTITION BY event_type) AS t1,
               SUM(n2) OVER (PARTITION BY event_type) AS t2,
               lead(qv) OVER w - qv AS gap
        FROM sup
        WINDOW w AS (PARTITION BY event_type ORDER BY qv)
    )
    SELECT event_type,
           CAST(MAX(t1) AS BIGINT) AS n_weekday,
           CAST(MAX(t2) AS BIGINT) AS n_weekend,
           CAST(SUM(CASE WHEN gap IS NULL THEN 0
                         ELSE abs(cum1 * t2 - cum2 * t1) * gap END) AS DOUBLE)
             / (CAST(MAX(t1) AS DOUBLE) * CAST(MAX(t2) AS DOUBLE) * 1000000.0)
               AS w1_distance
    FROM cum GROUP BY event_type
    """,
)
def q_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = (
        t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .selectExpr(
            "event_type",
            "CAST(floor(value * 1000000.0) AS BIGINT) AS qv",
            # Spark dayofweek is 1-based Sunday=1; DuckDB dow is 0-based
            "CASE WHEN dayofweek(ts) - 1 IN (0, 6) THEN 1 ELSE 0 END"
            " AS is_weekend",
        )
    )
    sup = g.groupBy("event_type", "qv").agg(
        F.sum(F.lit(1) - F.col("is_weekend")).cast("bigint").alias("n1"),
        F.sum("is_weekend").cast("bigint").alias("n2"),
    )
    w = Window.partitionBy("event_type").orderBy("qv")
    wt = Window.partitionBy("event_type")
    cum = sup.select(
        "event_type",
        "n1",
        "n2",
        F.sum("n1").over(w).alias("cum1"),
        F.sum("n2").over(w).alias("cum2"),
        F.sum("n1").over(wt).alias("t1"),
        F.sum("n2").over(wt).alias("t2"),
        (F.lead("qv").over(w) - F.col("qv")).alias("gap"),
    )
    return cum.groupBy("event_type").agg(
        F.max("t1").cast("bigint").alias("n_weekday"),
        F.max("t2").cast("bigint").alias("n_weekend"),
        (
            F.sum(
                F.when(F.col("gap").isNull(), F.lit(0)).otherwise(
                    F.abs(F.col("cum1") * F.col("t2") - F.col("cum2") * F.col("t1"))
                    * F.col("gap")
                )
            ).cast("double")
            / (
                F.max("t1").cast("double")
                * F.max("t2").cast("double")
                * F.lit(1000000.0)
            )
        ).alias("w1_distance"),
    )


# --- inter-event burstiness per user (round 5) ------------------------------
# Goh-Barabási burstiness B = (sigma - mu) / (sigma + mu) of the
# inter-event gaps: B -> -1 for a metronome, 0 for Poisson, +1 for
# extreme bursts — the behavioral fingerprint bot-detection and
# engagement models key on. Exactness: gaps are exact integer seconds
# (floor(epoch) before subtraction); per-user Sum and Sum-of-squares
# are BIGINTs (gaps sum to the user's span <= ~2e7 s, so s1^2 and
# n*s2 stay far inside int64); mu, sigma and B are one shared-text
# chain (sqrt is IEEE-exact). Plan: one lag window + one combinable
# aggregate per user partition; O(|users|) output.
_BURST_MU = "CAST(s1 AS DOUBLE) / n"
_BURST_SIG = "sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)) / n"


@_q(
    "q_burstiness",
    f"""
    WITH g AS (
        SELECT user_id,
               CAST(floor(epoch(ts)) AS BIGINT)
                 - lag(CAST(floor(epoch(ts)) AS BIGINT))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
        FROM events
    ), agg AS (
        SELECT user_id,
               CAST(COUNT(gap_s) AS BIGINT) AS n,
               CAST(SUM(gap_s) AS BIGINT) AS s1,
               CAST(SUM(gap_s * gap_s) AS BIGINT) AS s2
        FROM g WHERE gap_s IS NOT NULL GROUP BY user_id
    )
    SELECT user_id, n AS n_gaps,
           {_BURST_MU} AS mean_gap_s,
           ({_BURST_SIG} - {_BURST_MU}) / ({_BURST_SIG} + {_BURST_MU})
               AS burstiness
    FROM agg WHERE n >= 2
    """,
)
def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    es = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        # unix_micros div 1e6 == DuckDB floor(epoch(ts)) for non-negative
        # epochs — pure integer floor-division, no double round-trip
        F.expr("unix_micros(ts) div 1000000").alias("es"),
    )
    g = es.select(
        "user_id", (F.col("es") - F.lag("es").over(w)).alias("gap_s")
    ).where(F.col("gap_s").isNotNull())
    agg = g.groupBy("user_id").agg(
        F.count("gap_s").cast("bigint").alias("n"),
        F.sum("gap_s").cast("bigint").alias("s1"),
        F.sum(F.col("gap_s") * F.col("gap_s")).cast("bigint").alias("s2"),
    )
    return agg.where(F.col("n") >= 2).selectExpr(
        "user_id",
        "n AS n_gaps",
        f"{_BURST_MU} AS mean_gap_s",
        f"({_BURST_SIG} - {_BURST_MU}) / ({_BURST_SIG} + {_BURST_MU})"
        " AS burstiness",
    )


# --- t-closeness audit (round 5) --------------------------------------------
# Completes the anonymization trio: k-anonymity (q_kanonymity) bounds
# group SIZE, l-diversity (q_anon_ldiversity) bounds distinct sensitive
# values, t-closeness bounds the DISTANCE between each group's
# sensitive-attribute distribution and the global one — a group can be
# large and diverse yet still leak (90% one lang where the corpus is
# 20%). Same quasi-identifier lattice ((source, n_chars // 64)),
# sensitive attribute = lang, distance = total variation, threshold
# t = 0.35. Exactness: TV on categorical support is all-integer until
# one division — |n_gl * N - N_l * n_g| accumulates as exact BIGINTs
# (bounded by N² ~ 2.5e7 at sf0.1) and halves/normalizes once. Plan:
# one (group, lang) aggregate + broadcast global lang margins + one
# group rollup — combinable throughout, output O(|groups|).
_TCLOSE_T = 0.35


@_q(
    "q_tcloseness",
    f"""
    WITH cell AS (
        SELECT source, CAST(n_chars // 64 AS BIGINT) AS len_bucket, lang,
               CAST(COUNT(*) AS BIGINT) AS n_gl
        FROM documents GROUP BY 1, 2, 3
    ), marg AS (
        SELECT lang, CAST(SUM(n_gl) AS BIGINT) AS n_l,
               CAST(SUM(SUM(n_gl)) OVER () AS BIGINT) AS n_total
        FROM cell GROUP BY lang
    ), grp AS (
        SELECT source, len_bucket, CAST(SUM(n_gl) AS BIGINT) AS n_g
        FROM cell GROUP BY 1, 2
    ), terms AS (
        SELECT g.source, g.len_bucket, g.n_g, m.n_total,
               abs(COALESCE(c.n_gl, 0) * m.n_total - m.n_l * g.n_g) AS term
        FROM grp g
        CROSS JOIN marg m
        LEFT JOIN cell c ON c.source = g.source
                        AND c.len_bucket = g.len_bucket
                        AND c.lang = m.lang
    )
    SELECT source, len_bucket,
           CAST(MAX(n_g) AS BIGINT) AS group_size,
           CAST(SUM(term) AS DOUBLE)
             / (2.0 * CAST(MAX(n_g) AS DOUBLE) * CAST(MAX(n_total) AS DOUBLE))
               AS tv_distance,
           (CAST(SUM(term) AS DOUBLE)
             / (2.0 * CAST(MAX(n_g) AS DOUBLE) * CAST(MAX(n_total) AS DOUBLE)))
               <= {_TCLOSE_T} AS t_close
    FROM terms GROUP BY source, len_bucket
    """,
)
def q_tcloseness(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").select(
        "source",
        F.floor(F.col("n_chars") / 64).cast("bigint").alias("len_bucket"),
        "lang",
    )
    cell = d.groupBy("source", "len_bucket", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gl")
    )
    marg = (
        cell.groupBy("lang")
        .agg(F.sum("n_gl").cast("bigint").alias("n_l"))
        .crossJoin(
            F.broadcast(
                cell.agg(F.sum("n_gl").cast("bigint").alias("n_total"))
            )
        )
    )
    grp = cell.groupBy("source", "len_bucket").agg(
        F.sum("n_gl").cast("bigint").alias("n_g")
    )
    terms = (
        grp.crossJoin(F.broadcast(marg))
        .join(cell, ["source", "len_bucket", "lang"], "left")
        .select(
            "source",
            "len_bucket",
            "n_g",
            "n_total",
            F.abs(
                F.coalesce(F.col("n_gl"), F.lit(0)) * F.col("n_total")
                - F.col("n_l") * F.col("n_g")
            ).alias("term"),
        )
    )
    tv = (
        "CAST(SUM(term) AS DOUBLE)"
        " / (2.0 * CAST(MAX(n_g) AS DOUBLE) * CAST(MAX(n_total) AS DOUBLE))"
    )
    return terms.groupBy("source", "len_bucket").agg(
        F.max("n_g").cast("bigint").alias("group_size"),
        F.expr(f"{tv}").alias("tv_distance"),
        F.expr(f"({tv}) <= {_TCLOSE_T}").alias("t_close"),
    )


# --- Tukey median polish on the daypart x type grid (round 5) ---------------
# The robust two-way decomposition: cell = row_effect + col_effect +
# residual, fitted by alternately sweeping out row and column MEDIANS
# (2 full sweeps here) — the EDA classic that survives outliers where
# a two-way ANOVA mean fit does not (no overall term; effects are
# absolute, documented). Exactness: every median is ELEMENT-SELECTED
# (rn = (m+1)//2 with full deterministic tie-breaks), so each number is
# a value both engines computed identically; the polish arithmetic is
# a fixed chain of IEEE subtractions on those selected values. The
# oracle unrolls both sweeps as MATERIALIZED CTEs (the repo's iterative
# oracle discipline). Plan: the only big-data step is the per-cell
# median (one rank window over events); both sweeps then operate on the
# 20-cell grid — tiny windows, zero further scans. At 100 TB swap the
# per-cell rank selection for the same selection over pre-aggregated
# (cell, quantized-value) counts.
def _mp_rowmed(src: str, val: str, part: str, other: str, out: str) -> str:
    return f"""(
    SELECT {part}, {val} AS {out} FROM (
        SELECT {part}, {val},
               row_number() OVER (PARTITION BY {part}
                                  ORDER BY {val}, {other}) AS rn,
               COUNT(*) OVER (PARTITION BY {part}) AS m
        FROM {src}) WHERE rn = (m + 1) // 2
)"""


@_q(
    "q_median_polish",
    f"""
    WITH base AS (
        SELECT CAST(EXTRACT(hour FROM ts) // 6 AS BIGINT) AS daypart,
               event_type, value, event_id
        FROM events WHERE value IS NOT NULL
    ), cellr AS (
        SELECT daypart, event_type, value,
               row_number() OVER (PARTITION BY daypart, event_type
                                  ORDER BY value, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY daypart, event_type) AS m
        FROM base
    ), cell AS MATERIALIZED (
        SELECT daypart, event_type, value AS med
        FROM cellr WHERE rn = (m + 1) // 2
    ), s1r AS MATERIALIZED {_mp_rowmed('cell', 'med', 'daypart', 'event_type', 'rm')},
    p1 AS MATERIALIZED (
        SELECT c.daypart, c.event_type, c.med,
               c.med - r.rm AS resid, r.rm AS row_eff
        FROM cell c JOIN s1r r USING (daypart)
    ), s1c AS MATERIALIZED {_mp_rowmed('p1', 'resid', 'event_type', 'daypart', 'cm')},
    p2 AS MATERIALIZED (
        SELECT p.daypart, p.event_type, p.med,
               p.resid - c.cm AS resid, p.row_eff, c.cm AS col_eff
        FROM p1 p JOIN s1c c USING (event_type)
    ), s2r AS MATERIALIZED {_mp_rowmed('p2', 'resid', 'daypart', 'event_type', 'rm')},
    p3 AS MATERIALIZED (
        SELECT p.daypart, p.event_type, p.med,
               p.resid - r.rm AS resid, p.row_eff + r.rm AS row_eff, p.col_eff
        FROM p2 p JOIN s2r r USING (daypart)
    ), s2c AS MATERIALIZED {_mp_rowmed('p3', 'resid', 'event_type', 'daypart', 'cm')}
    SELECT p.daypart, p.event_type, p.med AS cell_median,
           p.row_eff AS row_effect, p.col_eff + c.cm AS col_effect,
           p.resid - c.cm AS residual
    FROM p3 p JOIN s2c c USING (event_type)
    """,
)
def q_median_polish(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = (
        t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .selectExpr(
            "CAST(hour(ts) div 6 AS BIGINT) AS daypart",
            "event_type",
            "value",
            "event_id",
        )
    )
    wc = Window.partitionBy("daypart", "event_type")
    cell = track_persist(
        base.select(
            "daypart",
            "event_type",
            "value",
            F.row_number().over(wc.orderBy("value", "event_id")).alias("rn"),
            F.count(F.lit(1)).over(wc).alias("m"),
        )
        .where(F.col("rn") == F.expr("(m + 1) div 2"))
        .select("daypart", "event_type", F.col("value").alias("med"))
        # persist: the 20-row grid feeds every sweep's lineage; without
        # it each s/p frame re-derives the events rank window (the
        # q_theilsen shared-relation discipline).
    )

    def rowmed(df: DataFrame, val: str, part: str, other: str, out: str) -> DataFrame:
        w = Window.partitionBy(part)
        return (
            df.select(
                part,
                val,
                F.row_number().over(w.orderBy(val, other)).alias("rn"),
                F.count(F.lit(1)).over(w).alias("m"),
            )
            .where(F.col("rn") == F.expr("(m + 1) div 2"))
            .select(part, F.col(val).alias(out))
        )

    s1r = rowmed(cell, "med", "daypart", "event_type", "rm")
    p1 = cell.join(F.broadcast(s1r), "daypart").select(
        "daypart",
        "event_type",
        "med",
        (F.col("med") - F.col("rm")).alias("resid"),
        F.col("rm").alias("row_eff"),
    )
    p1 = track_persist(p1)
    s1c = rowmed(p1, "resid", "event_type", "daypart", "cm")
    p2 = p1.join(F.broadcast(s1c), "event_type").select(
        "daypart",
        "event_type",
        "med",
        (F.col("resid") - F.col("cm")).alias("resid"),
        "row_eff",
        F.col("cm").alias("col_eff"),
    )
    p2 = track_persist(p2)
    s2r = rowmed(p2, "resid", "daypart", "event_type", "rm")
    p3 = p2.join(F.broadcast(s2r), "daypart").select(
        "daypart",
        "event_type",
        "med",
        (F.col("resid") - F.col("rm")).alias("resid"),
        (F.col("row_eff") + F.col("rm")).alias("row_eff"),
        "col_eff",
    )
    p3 = track_persist(p3)
    s2c = rowmed(p3, "resid", "event_type", "daypart", "cm")
    return p3.join(F.broadcast(s2c), "event_type").select(
        "daypart",
        "event_type",
        F.col("med").alias("cell_median"),
        F.col("row_eff").alias("row_effect"),
        (F.col("col_eff") + F.col("cm")).alias("col_effect"),
        (F.col("resid") - F.col("cm")).alias("residual"),
    )


# --- I-MR control chart on daily means (round 5) -----------------------------
# The Shewhart individuals / moving-range chart — SPC's workhorse when
# subgroup sizes vary (so X-bar/R constants don't apply): chart the
# DAILY mean value per event type, estimate short-term variation from
# the moving range of consecutive daily means, and flag days outside
# X-dbar +/- 2.66 * MR-bar (the d2=1.128 individuals constant, a shared
# literal). Exactness: daily means are decimal-routed; each moving
# range is ONE IEEE |subtraction| quantized to integer micro-units
# before averaging (order-free sums); center line = decimal-sum of
# daily means... itself a mean of deterministic doubles, so it is also
# quantized per-day before the fold. Plan: one daily aggregate, one lag
# window per type, two tiny rollups joined back broadcast — O(days)
# rows throughout. CUSUM/EWMA/Page-Hinkley (already shipped) watch the
# same series sequentially; the I-MR chart is the retrospective view.
_IMR_Q = 1000000.0


@_q(
    "q_control_chart",
    f"""
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
                 / COUNT(value) AS day_mean
        FROM events WHERE value IS NOT NULL
        GROUP BY 1, 2
    ), mr AS (
        SELECT event_type, d, day_mean,
               abs(day_mean - lag(day_mean) OVER w) AS mrange,
               CAST(floor(day_mean * {_IMR_Q}) AS BIGINT) AS qmean,
               CAST(floor(abs(day_mean - lag(day_mean) OVER w) * {_IMR_Q})
                    AS BIGINT) AS qmr
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY d)
    ), lim AS (
        SELECT event_type,
               CAST(SUM(qmean) AS DOUBLE) / COUNT(*) / {_IMR_Q} AS center,
               CAST(SUM(qmr) AS DOUBLE) / COUNT(qmr) / {_IMR_Q} AS mr_bar
        FROM mr GROUP BY event_type
    )
    SELECT m.event_type, m.d AS day, m.day_mean,
           l.center, l.center + 2.66 * l.mr_bar AS ucl,
           l.center - 2.66 * l.mr_bar AS lcl,
           m.day_mean > l.center + 2.66 * l.mr_bar
             OR m.day_mean < l.center - 2.66 * l.mr_bar AS out_of_control
    FROM mr m JOIN lim l ON l.event_type = m.event_type
    """,
)
def q_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .groupBy(
            "event_type",
            F.date_trunc("day", F.col("ts")).alias("d"),
        )
        .agg(
            (
                F.sum(F.col("value").cast("decimal(38,6)")).cast("double")
                / F.count("value")
            ).alias("day_mean")
        )
    )
    w = Window.partitionBy("event_type").orderBy("d")
    mr = daily.select(
        "event_type",
        "d",
        "day_mean",
        F.expr(f"CAST(floor(day_mean * {_IMR_Q}) AS BIGINT)").alias("qmean"),
        (F.col("day_mean") - F.lag("day_mean").over(w)).alias("_diff"),
    ).selectExpr(
        "event_type",
        "d",
        "day_mean",
        "qmean",
        f"CAST(floor(abs(_diff) * {_IMR_Q}) AS BIGINT) AS qmr",
    )
    lim = mr.groupBy("event_type").agg(
        (F.sum("qmean").cast("double") / F.count(F.lit(1)) / F.lit(_IMR_Q)).alias(
            "center"
        ),
        (F.sum("qmr").cast("double") / F.count("qmr") / F.lit(_IMR_Q)).alias(
            "mr_bar"
        ),
    )
    return mr.join(F.broadcast(lim), "event_type").selectExpr(
        "event_type",
        "d AS day",
        "day_mean",
        "center",
        "center + 2.66 * mr_bar AS ucl",
        "center - 2.66 * mr_bar AS lcl",
        "day_mean > center + 2.66 * mr_bar"
        " OR day_mean < center - 2.66 * mr_bar AS out_of_control",
    )


# --- process capability of order-to-ship delay (round 5) ---------------------
# Cp / Cpk against spec limits [0, 120] days: does the fulfilment
# process FIT the promised window, and is it centered? (q_ship_delay
# reports the quantiles; capability indexes are the contractual view a
# supplier scorecard cites.) Exactness: delays are exact integer days,
# so n, Sum d, Sum d^2 are BIGINTs (day gaps < 2000, squared * 600k
# rows ~ 2.4e9 — trivially safe); mu and sigma = sqrt((n*s2 - s1^2)) / n
# are one shared-text chain; Cp and Cpk each add one literal-scaled
# division. Plan: ONE combinable aggregate over the co-partitioned
# fact join; O(|priorities|) output.
_PC_MU = "CAST(s1 AS DOUBLE) / n"
_PC_SIG = "sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)) / n"


@_q(
    "q_process_capability",
    f"""
    WITH d AS (
        SELECT o.o_orderpriority AS priority,
               CAST(floor(epoch(l.l_shipdate) / 86400)
                    - floor(epoch(o.o_orderdate) / 86400) AS BIGINT) AS delay
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), agg AS (
        SELECT priority,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(delay) AS BIGINT) AS s1,
               CAST(SUM(delay * delay) AS BIGINT) AS s2
        FROM d GROUP BY priority
    )
    SELECT priority, n,
           {_PC_MU} AS mean_delay,
           {_PC_SIG} AS sigma_delay,
           120.0 / (6.0 * {_PC_SIG}) AS cp,
           (CASE WHEN 120.0 - {_PC_MU} < {_PC_MU} - 0.0
                 THEN 120.0 - {_PC_MU} ELSE {_PC_MU} - 0.0 END)
             / (3.0 * {_PC_SIG}) AS cpk
    FROM agg
    """,
)
def q_process_capability(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    d = li.join(o, li.l_orderkey == o.o_orderkey).selectExpr(
        "o_orderpriority AS priority",
        "unix_micros(l_shipdate) div 86400000000"
        " - unix_micros(o_orderdate) div 86400000000 AS delay",
    )
    agg = d.groupBy("priority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("delay").cast("bigint").alias("s1"),
        F.sum(F.col("delay") * F.col("delay")).cast("bigint").alias("s2"),
    )
    return agg.selectExpr(
        "priority",
        "n",
        f"{_PC_MU} AS mean_delay",
        f"{_PC_SIG} AS sigma_delay",
        f"120.0 / (6.0 * {_PC_SIG}) AS cp",
        f"(CASE WHEN 120.0 - {_PC_MU} < {_PC_MU} - 0.0"
        f" THEN 120.0 - {_PC_MU} ELSE {_PC_MU} - 0.0 END)"
        f" / (3.0 * {_PC_SIG}) AS cpk",
    )


# --- periodicity detection by balanced folding (round 5) ---------------------
# Which candidate period best explains the daily revenue series? Fold
# the series modulo p for p in {3, 7, 14} and score each period by the
# between-group share of total variance — the folded one-way ANOVA R².
# Exactness: daily revenue is an exact integer cents sum; the series is
# TRUNCATED to floor(D/p)*p days so every fold group holds exactly
# m = D//p days, which clears every denominator: with N = m*p,
# SSB*N*m = p*Sum(s_g^2) - S^2 and SST*N = N*Sum(x^2) - S^2, so
# R² = m*(p*Sum(s_g²) - S²) / (m*(N*Sum(x²) - S²))... the m cancels —
# R² = (p*Sum(s_g²) - S²) / (N*Sum(x²) - S²), ALL-INTEGER until one
# division. Cents (not micro) keep p*Sum(s_g²) under ~2e18 at sf0.1.
# Plan: one daily aggregate (combinable), then three O(D)-row folds —
# a single scan feeds everything. The best period is flagged with a
# deterministic (R² desc, p asc) rank.
@_q(
    "q_period_detect",
    """
    WITH daily AS (
        SELECT CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS dayn,
               CAST(SUM(CAST(floor(o_totalprice / 100.0) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ), idx AS (
        SELECT cents,
               row_number() OVER (ORDER BY dayn) - 1 AS i,
               COUNT(*) OVER () AS d
        FROM daily
    ), folded AS (
        SELECT p.p, i % p.p AS fold, cents
        FROM idx, (VALUES (3), (7), (14)) p(p)
        WHERE i < (d // p.p) * p.p
    ), grp AS (
        SELECT p, fold, CAST(SUM(cents) AS BIGINT) AS s_g
        FROM folded GROUP BY p, fold
    ), tot AS (
        SELECT p,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS s,
               CAST(SUM(cents * cents) AS BIGINT) AS sq
        FROM folded GROUP BY p
    ), scored AS (
        SELECT t.p, t.n AS n_days_used,
               CAST(t.p * g.ssg - t.s * t.s AS DOUBLE)
                 / CAST(t.n * t.sq - t.s * t.s AS DOUBLE) AS r2_between
        FROM tot t JOIN (
            SELECT p, CAST(SUM(s_g * s_g) AS BIGINT) AS ssg FROM grp GROUP BY p
        ) g ON g.p = t.p
    )
    SELECT CAST(p AS BIGINT) AS period, n_days_used, r2_between,
           row_number() OVER (ORDER BY r2_between DESC, p) = 1 AS is_best
    FROM scored
    """,
)
def q_period_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        t(spark, sf_dir, "orders")
        .selectExpr(
            "unix_micros(o_orderdate) div 86400000000 AS dayn",
            "CAST(floor(o_totalprice / 100.0) AS BIGINT) AS cents_row",
        )
        .groupBy("dayn")
        .agg(F.sum("cents_row").cast("bigint").alias("cents"))
    )
    idx = daily.select(
        "cents",
        # bounded: daily series — O(days) rows
        (F.row_number().over(Window.orderBy("dayn")) - 1).alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("d"),
    )
    periods = F.broadcast(
        local_rows(idx.sparkSession, [(3,), (7,), (14,)], "p int")
    )
    folded = (
        idx.crossJoin(periods)
        .where(F.col("i") < F.expr("(d div p) * p"))
        .select("p", F.expr("i % p").alias("fold"), "cents")
    )
    grp = folded.groupBy("p", "fold").agg(
        F.sum("cents").cast("bigint").alias("s_g")
    )
    tot = folded.groupBy("p").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).cast("bigint").alias("sq"),
    )
    ssg = grp.groupBy("p").agg(
        F.sum(F.col("s_g") * F.col("s_g")).cast("bigint").alias("ssg")
    )
    scored = tot.join(F.broadcast(ssg), "p").selectExpr(
        "p",
        "n AS n_days_used",
        "CAST(p * ssg - s * s AS DOUBLE)"
        " / CAST(n * sq - s * s AS DOUBLE) AS r2_between",
    )
    return scored.select(
        F.col("p").cast("bigint").alias("period"),
        "n_days_used",
        "r2_between",
        (
            # bounded: candidate-period scores — O(1) rows
            F.row_number().over(Window.orderBy(F.desc("r2_between"), "p")) == 1
        ).alias("is_best"),
    )


# --- knee/elbow point of the revenue concentration curve (round 5) -----------
# "How many customers matter?" — the knee of the cumulative-revenue
# curve, found with the Kneedle chord rule: rank customers by revenue
# descending, plot cumulative cents against rank, and pick the point
# with the MAXIMUM distance from the chord joining the curve's
# endpoints. Exactness: distance ordering uses the integer cross
# product |(yn-y1)(x-x1) - (xn-x1)(y-y1)| (no sqrt needed — the chord
# norm is constant along the curve), cumulative cents are exact
# BIGINTs, ties break on the smaller rank. Bound: y <= total cents
# ~ 3.8e12 and x <= 15e3 at sf0.1 -> cross terms < 6e16, inside int64.
# Plan: one revenue aggregate + one global rank window (range-partition
# swap at scale, as q_train_order) + an O(n) window max — no joins.
@_q(
    "q_knee_point",
    """
    WITH rev AS (
        SELECT o_custkey,
               CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey
    ), curve AS (
        SELECT CAST(row_number() OVER (ORDER BY cents DESC, o_custkey)
                    AS BIGINT) AS x,
               CAST(SUM(cents) OVER (ORDER BY cents DESC, o_custkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS y
        FROM rev
    ), ends AS (
        -- chord through the curve's ACTUAL endpoints (1, y1)-(xn, yn);
        -- the round-5 draft anchored at (1, 1), which is not on the
        -- curve — the difference term (y1-1)*(xn-x) varies with x, so
        -- the argmax (the knee itself) was a different functional.
        -- Caught by the round-9 Kneedle replica (comment-vs-code), not
        -- by the differential gate (shared text).
        SELECT CAST(MAX(x) AS BIGINT) AS xn, CAST(MAX(y) AS BIGINT) AS yn,
               CAST(MAX(CASE WHEN x = 1 THEN y END) AS BIGINT) AS y1
        FROM curve
    ), d AS (
        SELECT c.x, c.y, e.xn, e.yn,
               abs((e.yn - e.y1) * (c.x - 1) - (e.xn - 1) * (c.y - e.y1))
                   AS cross_d
        FROM curve c CROSS JOIN ends e
    ), best AS (
        SELECT x, y, xn, yn, cross_d,
               row_number() OVER (ORDER BY cross_d DESC, x) AS rn
        FROM d
    )
    SELECT xn AS n_customers, x AS knee_rank,
           CAST(x AS DOUBLE) / CAST(xn AS DOUBLE) AS knee_rank_share,
           CAST(y AS DOUBLE) / CAST(yn AS DOUBLE) AS knee_revenue_share,
           CAST(cross_d AS BIGINT) AS knee_cross_product
    FROM best WHERE rn = 1
    """,
)
def q_knee_point(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    # 100 TB): rank + running revenue via the range-partitioned
    # global_order (plans/rank.py)
    curve = global_order(
        rev,
        [F.desc("cents"), "o_custkey"],
        rank_col="x",
        cum_sums={"y": "cents"},
    ).select("x", F.col("y").cast("bigint").alias("y"))
    ends = curve.agg(
        F.max("x").cast("bigint").alias("xn"),
        F.max("y").cast("bigint").alias("yn"),
        F.max(F.when(F.col("x") == 1, F.col("y")))
        .cast("bigint")
        .alias("y1"),
    )
    d = curve.crossJoin(F.broadcast(ends)).select(
        "x",
        "y",
        "xn",
        "yn",
        F.abs(
            (F.col("yn") - F.col("y1")) * (F.col("x") - 1)
            - (F.col("xn") - 1) * (F.col("y") - F.col("y1"))
        ).alias("cross_d"),
    )
    # argmax selection: sort+limit plans as TakeOrderedAndProject (no
    # global sort over the curve)
    best = d.orderBy(F.desc("cross_d"), "x").limit(1)
    return best.selectExpr(
        "xn AS n_customers",
        "x AS knee_rank",
        "CAST(x AS DOUBLE) / CAST(xn AS DOUBLE) AS knee_rank_share",
        "CAST(y AS DOUBLE) / CAST(yn AS DOUBLE) AS knee_revenue_share",
        "CAST(cross_d AS BIGINT) AS knee_cross_product",
    )


# --- Markov next-event baseline accuracy (round 5) ---------------------------
# The modesty check every sequence model must beat: predict each user's
# next event type as the corpus-wide argmax transition from the current
# type (tie-broken lexicographically), and score in-sample accuracy per
# current type. q_transitions publishes the matrix; this turns it into
# the named baseline metric. All-integer counts, one division; the
# transition matrix is O(types²) and broadcasts. One lag window + two
# small aggregates.
@_q(
    "q_markov_eval",
    """
    WITH pairs AS (
        SELECT event_type AS cur,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nxt
        FROM events
    ), tc AS (
        SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS c
        FROM pairs WHERE nxt IS NOT NULL GROUP BY cur, nxt
    ), pred AS (
        SELECT cur, nxt AS predicted_next FROM (
            SELECT cur, nxt,
                   row_number() OVER (PARTITION BY cur
                                      ORDER BY c DESC, nxt) AS rn
            FROM tc
        ) WHERE rn = 1
    )
    SELECT p.cur AS event_type, pr.predicted_next,
           CAST(SUM(c) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN p.nxt = pr.predicted_next THEN c ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST(SUM(CASE WHEN p.nxt = pr.predicted_next THEN c ELSE 0 END)
                AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS accuracy
    FROM tc p JOIN pred pr ON pr.cur = p.cur
    GROUP BY p.cur, pr.predicted_next
    """,
)
def q_markov_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        t(spark, sf_dir, "events")
        .select(
            F.col("event_type").alias("cur"),
            F.lead("event_type").over(w).alias("nxt"),
        )
        .where(F.col("nxt").isNotNull())
    )
    tc = pairs.groupBy("cur", "nxt").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    pred = (
        tc.select(
            "cur",
            "nxt",
            F.row_number()
            .over(Window.partitionBy("cur").orderBy(F.desc("c"), "nxt"))
            .alias("rn"),
        )
        .where(F.col("rn") == 1)
        .select("cur", F.col("nxt").alias("predicted_next"))
    )
    hit = F.when(F.col("nxt") == F.col("predicted_next"), F.col("c")).otherwise(0)
    return (
        tc.join(F.broadcast(pred), "cur")
        .groupBy(F.col("cur").alias("event_type"), "predicted_next")
        .agg(
            F.sum("c").cast("bigint").alias("n_pairs"),
            F.sum(hit).cast("bigint").alias("n_correct"),
            (F.sum(hit).cast("double") / F.sum("c").cast("double")).alias(
                "accuracy"
            ),
        )
    )


# --- queueing capacity advisor (round 5) --------------------------------------
# Back-of-envelope capacity planning from observed arrivals: per event
# type, the hourly arrival rate lambda over the data span, then for the
# minimal server count m = ceil(lambda / s) and one spare (s = 50
# events/hour/server, a shared literal), the M/M/1-style utilization
# rho = lambda / (m*s), queue length Lq = rho^2 / (1 - rho) and wait
# Wq = Lq / lambda. Exactness: lambda is one exact integer ratio
# (n_events and span hours are BIGINTs); ceil is the integer identity
# (n + d - 1) // d on cleared denominators; rho/Lq/Wq are one fixed
# shared-text division chain. Plan: one aggregate per type + a 2-row
# broadcast margin grid; O(types * 2) output.
_QA_S = 50  # events per hour per server


@_q(
    "q_queueing_advisor",
    f"""
    WITH span AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(floor(epoch(MAX(ts)) / 3600)
                    - floor(epoch(MIN(ts)) / 3600) + 1 AS BIGINT) AS hours
        FROM events GROUP BY event_type
    ), m0 AS (
        SELECT event_type, n, hours,
               (n + {_QA_S} * hours - 1) // ({_QA_S} * hours) AS m_min
        FROM span
    ), grid AS (
        SELECT s.*, g.extra FROM m0 s, (VALUES (0), (1)) g(extra)
    )
    SELECT event_type, n AS n_events, hours,
           CAST(n AS DOUBLE) / CAST(hours AS DOUBLE) AS lambda_per_hour,
           CAST(m_min + extra AS BIGINT) AS servers,
           CAST(n AS DOUBLE)
             / (CAST((m_min + extra) * {_QA_S} AS DOUBLE)
                * CAST(hours AS DOUBLE)) AS utilization,
           (CAST(n AS DOUBLE)
             / (CAST((m_min + extra) * {_QA_S} AS DOUBLE)
                * CAST(hours AS DOUBLE)))
           * (CAST(n AS DOUBLE)
             / (CAST((m_min + extra) * {_QA_S} AS DOUBLE)
                * CAST(hours AS DOUBLE)))
           / (1.0 - CAST(n AS DOUBLE)
             / (CAST((m_min + extra) * {_QA_S} AS DOUBLE)
                * CAST(hours AS DOUBLE))) AS queue_length_lq
    FROM grid
    """,
)
def q_queueing_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    span = t(spark, sf_dir, "events").groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (
            F.expr("unix_micros(MAX(ts)) div 3600000000")
            - F.expr("unix_micros(MIN(ts)) div 3600000000")
            + 1
        )
        .cast("bigint")
        .alias("hours"),
    )
    m0 = span.selectExpr(
        "event_type",
        "n",
        "hours",
        f"(n + {_QA_S} * hours - 1) div ({_QA_S} * hours) AS m_min",
    )
    grid = m0.crossJoin(
        F.broadcast(
            local_rows(span.sparkSession, [(0,), (1,)], "extra int")
        )
    )
    rho = (
        f"CAST(n AS DOUBLE) / (CAST((m_min + extra) * {_QA_S} AS DOUBLE)"
        " * CAST(hours AS DOUBLE))"
    )
    return grid.selectExpr(
        "event_type",
        "n AS n_events",
        "hours",
        "CAST(n AS DOUBLE) / CAST(hours AS DOUBLE) AS lambda_per_hour",
        "CAST(m_min + extra AS BIGINT) AS servers",
        f"{rho} AS utilization",
        f"({rho}) * ({rho}) / (1.0 - {rho}) AS queue_length_lq",
    )


# --- historical VaR / Expected Shortfall (round 5) ----------------------------
# The risk pair behind every trading-desk report: per event type, the
# 95% historical Value-at-Risk (the 5th-percentile return, ELEMENT-
# SELECTED so it is a value both engines computed identically) and the
# Expected Shortfall (mean of the tail AT OR BELOW the VaR element).
# Returns are consecutive-value diffs quantized to integer micro-units
# before ANY aggregation (the q_kelly discipline), so the tail mean is
# an exact integer ratio. Plan: one lag window per type + one rank
# window over the per-type return set + one combinable tail aggregate.
@_q(
    "q_var_es",
    """
    WITH s AS (
        SELECT event_type,
               CAST(floor((value - lag(value) OVER (PARTITION BY event_type
                    ORDER BY ts, event_id)) * 1000000.0) AS BIGINT) AS q
        FROM events WHERE value IS NOT NULL
    ), r AS (
        SELECT event_type, q,
               row_number() OVER (PARTITION BY event_type ORDER BY q) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM s WHERE q IS NOT NULL
    ), var AS (
        SELECT event_type, n, q AS var_q, rn AS var_rank
        FROM r WHERE rn = (n - 1) * 5 // 100 + 1
    )
    SELECT r.event_type, MAX(v.n) AS n_returns,
           CAST(MAX(v.var_q) AS DOUBLE) / 1000000.0 AS var95,
           CAST(SUM(CASE WHEN r.rn <= v.var_rank THEN r.q ELSE 0 END)
                AS DOUBLE)
             / CAST(MAX(v.var_rank) AS DOUBLE) / 1000000.0 AS es95
    FROM r JOIN var v ON v.event_type = r.event_type
    GROUP BY r.event_type
    """,
)
def q_var_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    s = (
        t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_type",
            (F.col("value") - F.lag("value").over(w)).alias("dv"),
        )
        .where(F.col("dv").isNotNull())
        .selectExpr(
            "event_type",
            "CAST(floor(dv * 1000000.0) AS BIGINT) AS q",
        )
    )
    wt = Window.partitionBy("event_type")
    r = s.select(
        "event_type",
        "q",
        F.row_number().over(wt.orderBy("q")).alias("rn"),
        F.count(F.lit(1)).over(wt).cast("bigint").alias("n"),
    )
    var = r.where(F.col("rn") == F.expr("(n - 1) * 5 div 100 + 1")).select(
        "event_type",
        F.col("n").alias("v_n"),
        F.col("q").alias("var_q"),
        F.col("rn").alias("var_rank"),
    )
    return (
        r.join(F.broadcast(var), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("v_n").alias("n_returns"),
            (F.max("var_q").cast("double") / 1000000.0).alias("var95"),
            (
                F.sum(
                    F.when(F.col("rn") <= F.col("var_rank"), F.col("q")).otherwise(
                        0
                    )
                ).cast("double")
                / F.max("var_rank").cast("double")
                / 1000000.0
            ).alias("es95"),
        )
    )


# --- VaR backtest (Kupiec-style breach count, round 5) ------------------------
# Does yesterday's VaR hold up tomorrow? Split each type's return
# series in half chronologically, estimate VaR95 on the FIRST half
# (element-selected), count breaches in the SECOND half, and compare to
# the expected 5% with the exact binomial z = (x - n*p) / sqrt(n*p*(1-p))
# — the Kupiec POF test's normal approximation, kept log-free (shared
# literal p = 0.05, one sqrt). All counts integer; the split point is
# the integer half of the ordered series. One lag window + one rank
# window + two combinable aggregates.
_VBT_Z = (
    "(CAST(breaches AS DOUBLE) - CAST(n2 AS DOUBLE) * 0.05)"
    " / sqrt(CAST(n2 AS DOUBLE) * 0.05 * 0.95)"
)


@_q(
    "q_var_backtest",
    f"""
    WITH s AS (
        SELECT event_type,
               CAST(floor((value - lag(value) OVER (PARTITION BY event_type
                    ORDER BY ts, event_id)) * 1000000.0) AS BIGINT) AS q,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY ts, event_id) AS seq,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS total
        FROM events WHERE value IS NOT NULL
    ), t1 AS (
        SELECT event_type, q,
               row_number() OVER (PARTITION BY event_type ORDER BY q) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n1
        FROM s WHERE q IS NOT NULL AND seq <= total // 2
    ), var1 AS (
        SELECT event_type, n1, q AS var_q
        FROM t1 WHERE rn = (n1 - 1) * 5 // 100 + 1
    ), t2 AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n2,
               v.var_q,
               CAST(SUM(CASE WHEN s.q <= v.var_q THEN 1 ELSE 0 END)
                    AS BIGINT) AS breaches
        FROM s JOIN var1 v USING (event_type)
        WHERE s.q IS NOT NULL AND s.seq > s.total // 2
        GROUP BY event_type, v.var_q
    )
    SELECT event_type, n2 AS n_test_returns,
           CAST(var_q AS DOUBLE) / 1000000.0 AS var95_train,
           breaches,
           CAST(breaches AS DOUBLE) / CAST(n2 AS DOUBLE) AS breach_rate,
           {_VBT_Z} AS kupiec_z
    FROM t2
    """,
)
def q_var_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    wt = Window.partitionBy("event_type")
    s = (
        t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_type",
            (F.col("value") - F.lag("value").over(w)).alias("dv"),
            F.row_number().over(w).alias("seq"),
            F.count(F.lit(1)).over(wt).cast("bigint").alias("total"),
        )
        .selectExpr(
            "event_type",
            "CAST(floor(dv * 1000000.0) AS BIGINT) AS q",
            "seq",
            "total",
        )
    )
    t1 = s.where(
        F.col("q").isNotNull() & (F.col("seq") <= F.expr("total div 2"))
    ).select(
        "event_type",
        "q",
        F.row_number().over(wt.orderBy("q")).alias("rn"),
        F.count(F.lit(1)).over(wt).cast("bigint").alias("n1"),
    )
    var1 = t1.where(F.col("rn") == F.expr("(n1 - 1) * 5 div 100 + 1")).select(
        "event_type", F.col("q").alias("var_q")
    )
    t2 = (
        s.where(F.col("q").isNotNull() & (F.col("seq") > F.expr("total div 2")))
        .join(F.broadcast(var1), "event_type")
        .groupBy("event_type", "var_q")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n2"),
            F.sum(F.when(F.col("q") <= F.col("var_q"), 1).otherwise(0))
            .cast("bigint")
            .alias("breaches"),
        )
    )
    return t2.selectExpr(
        "event_type",
        "n2 AS n_test_returns",
        "CAST(var_q AS DOUBLE) / 1000000.0 AS var95_train",
        "breaches",
        "CAST(breaches AS DOUBLE) / CAST(n2 AS DOUBLE) AS breach_rate",
        f"{_VBT_Z} AS kupiec_z",
    )


# --- two-way fixed effects (within) estimator (round 5) -----------------------
# The workhorse of panel econometrics: on the (event_type x day) panel,
# regress the daily mean value on daily activity with BOTH type and day
# effects swept out (the within transformation), so the slope reads
# "when a type is unusually busy for that day, is its value unusually
# high?" — q_diff_in_diff's 2x2 generalized to the full panel.
# Exactness: cell stats quantize to integer micro-units first, so the
# four means are exact integer ratios; each demeaned residual is a
# fixed chain of IEEE subtractions; the cross products x~*y~ and x~^2
# quantize AGAIN before the final sums (order-free BIGINTs) and the
# slope is one division. Unbalanced cells are used as observed
# (unweighted cell means — the standard unweighted TWFE). Plan: one
# daily-cell aggregate + two margin aggregates (broadcast) + one
# combinable quantized-product sum.
@_q(
    "q_twfe",
    """
    WITH cell AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
               CAST(COUNT(value) AS BIGINT) AS x_n,
               CAST(SUM(CAST(floor(value * 1000000.0) AS BIGINT))
                    AS BIGINT) AS y_us
        FROM events WHERE value IS NOT NULL
        GROUP BY 1, 2
    ), c2 AS (
        SELECT event_type, d,
               CAST(x_n AS DOUBLE) AS x,
               CAST(y_us AS DOUBLE) / CAST(x_n AS DOUBLE) / 1000000.0 AS y
        FROM cell
    ), mi AS (
        SELECT event_type,
               CAST(SUM(CAST(floor(x) AS BIGINT)) AS DOUBLE) / COUNT(*) AS xi,
               CAST(SUM(CAST(floor(y * 1000000.0) AS BIGINT)) AS DOUBLE)
                 / COUNT(*) / 1000000.0 AS yi
        FROM c2 GROUP BY event_type
    ), mt AS (
        SELECT d,
               CAST(SUM(CAST(floor(x) AS BIGINT)) AS DOUBLE) / COUNT(*) AS xt,
               CAST(SUM(CAST(floor(y * 1000000.0) AS BIGINT)) AS DOUBLE)
                 / COUNT(*) / 1000000.0 AS yt
        FROM c2 GROUP BY d
    ), mg AS (
        SELECT CAST(SUM(CAST(floor(x) AS BIGINT)) AS DOUBLE) / COUNT(*) AS xg,
               CAST(SUM(CAST(floor(y * 1000000.0) AS BIGINT)) AS DOUBLE)
                 / COUNT(*) / 1000000.0 AS yg
        FROM c2
    ), resid AS (
        SELECT c.x - i.xi - t.xt + g.xg AS xr,
               c.y - i.yi - t.yt + g.yg AS yr
        FROM c2 c
        JOIN mi i ON i.event_type = c.event_type
        JOIN mt t ON t.d = c.d
        CROSS JOIN mg g
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(CAST(floor(xr * yr * 1000000.0) AS BIGINT)) AS BIGINT)
               AS sxy_q,
           CAST(SUM(CAST(floor(xr * xr * 1000000.0) AS BIGINT)) AS BIGINT)
               AS sxx_q,
           CAST(SUM(CAST(floor(xr * yr * 1000000.0) AS BIGINT)) AS DOUBLE)
             / CAST(SUM(CAST(floor(xr * xr * 1000000.0) AS BIGINT)) AS DOUBLE)
               AS beta_within
    FROM resid
    """,
)
def q_twfe(spark: SparkSession, sf_dir: str) -> DataFrame:
    cell = (
        t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("d"))
        .agg(
            F.count("value").cast("bigint").alias("x_n"),
            F.sum(F.expr("CAST(floor(value * 1000000.0) AS BIGINT)"))
            .cast("bigint")
            .alias("y_us"),
        )
    )
    c2 = cell.selectExpr(
        "event_type",
        "d",
        "CAST(x_n AS DOUBLE) AS x",
        "CAST(y_us AS DOUBLE) / CAST(x_n AS DOUBLE) / 1000000.0 AS y",
    )
    def margins(df, keys):
        agg = df.groupBy(*keys) if keys else df.groupBy()
        return agg.agg(
            (
                F.sum(F.expr("CAST(floor(x) AS BIGINT)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mx"),
            (
                F.sum(F.expr("CAST(floor(y * 1000000.0) AS BIGINT)")).cast(
                    "double"
                )
                / F.count(F.lit(1))
                / 1000000.0
            ).alias("my"),
        )

    mi = margins(c2, ["event_type"]).withColumnsRenamed({"mx": "xi", "my": "yi"})
    mt = margins(c2, ["d"]).withColumnsRenamed({"mx": "xt", "my": "yt"})
    mg = margins(c2, []).withColumnsRenamed({"mx": "xg", "my": "yg"})
    resid = (
        c2.join(F.broadcast(mi), "event_type")
        .join(F.broadcast(mt), "d")
        .crossJoin(F.broadcast(mg))
        .selectExpr("x - xi - xt + xg AS xr", "y - yi - yt + yg AS yr")
    )
    return resid.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.sum(F.expr("CAST(floor(xr * yr * 1000000.0) AS BIGINT)"))
        .cast("bigint")
        .alias("sxy_q"),
        F.sum(F.expr("CAST(floor(xr * xr * 1000000.0) AS BIGINT)"))
        .cast("bigint")
        .alias("sxx_q"),
    ).selectExpr(
        "n_cells",
        "sxy_q",
        "sxx_q",
        "CAST(sxy_q AS DOUBLE) / CAST(sxx_q AS DOUBLE) AS beta_within",
    )


# --- group-sequential A/B monitoring (O'Brien-Fleming, round 5) ----------------
# Peeking done right: the experiment's event stream is split into five
# equal looks (by global event order); at each look the cumulative
# treated-vs-control conversion gap gets a two-proportion z, compared
# against the O'Brien-Fleming spending boundary 2.04 * sqrt(5 / k) —
# wide early, nominal late — so repeated peeking keeps its type-I
# budget. Treatment = odd user_id (the q_srm convention), conversion =
# purchase events. Exactness: all counts are integers off one global
# rank (the range-partitioned ranker, plans/rank.py); the z and the
# boundary are one shared sqrt chain; crossing flags are boolean
# comparisons of those deterministic doubles. Plan: range rank (per-
# range parallel + O(ranges) offsets) + one (look, arm) aggregate + an
# O(5) cumulative window.
_GS_Z = (
    "(CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0)"
    " / sqrt((CAST(s1 + s0 AS DOUBLE) / CAST(n1 + n0 AS DOUBLE))"
    " * (1.0 - CAST(s1 + s0 AS DOUBLE) / CAST(n1 + n0 AS DOUBLE))"
    " * (1.0 / n1 + 1.0 / n0))"
)


@_q(
    "q_group_sequential",
    f"""
    WITH r AS (
        SELECT user_id % 2 AS arm,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv,
               row_number() OVER (ORDER BY event_id) AS rn,
               CAST(COUNT(*) OVER () AS BIGINT) AS total
        FROM events
    ), looks AS (
        SELECT arm, conv, (rn * 5 - 1) // total + 1 AS look FROM r
    ), per AS (
        SELECT look,
               CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
               CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d0,
               CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT)
                   AS c1,
               CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT)
                   AS c0
        FROM looks GROUP BY look
    ), cum AS (
        SELECT look,
               CAST(SUM(d1) OVER w AS BIGINT) AS n1,
               CAST(SUM(d0) OVER w AS BIGINT) AS n0,
               CAST(SUM(c1) OVER w AS BIGINT) AS s1,
               CAST(SUM(c0) OVER w AS BIGINT) AS s0
        FROM per
        WINDOW w AS (ORDER BY look ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
    )
    SELECT CAST(look AS BIGINT) AS look, n1, n0, s1, s0,
           round({_GS_Z}, 9) AS z,
           2.04 * sqrt(5.0 / look) AS obf_boundary,
           abs(round({_GS_Z}, 9)) > 2.04 * sqrt(5.0 / look) AS crossed
    FROM cum ORDER BY look
    """,
)
def q_group_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Global event order + total via the range-partitioned ranker — the
    # full events relation never collapses into one sort task (plan pin:
    # tests/test_plans.py::test_group_sequential_no_global_sort).
    r = global_rank(
        t(spark, sf_dir, "events").select(
            F.expr("user_id % 2").alias("arm"),
            F.expr(
                "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"
            ).alias("conv"),
            "event_id",
        ),
        ["event_id"],
        rank_col="rn",
        total_col="total",
    )
    looks = r.selectExpr("arm", "conv", "(rn * 5 - 1) div total + 1 AS look")
    per = looks.groupBy("look").agg(
        F.sum(F.expr("CASE WHEN arm = 1 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("d1"),
        F.sum(F.expr("CASE WHEN arm = 0 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("d0"),
        F.sum(F.expr("CASE WHEN arm = 1 THEN conv ELSE 0 END"))
        .cast("bigint")
        .alias("c1"),
        F.sum(F.expr("CASE WHEN arm = 0 THEN conv ELSE 0 END"))
        .cast("bigint")
        .alias("c0"),
    )
    # bounded: cumulative looks — 5 rows
    w = Window.orderBy("look").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per.select(
        "look",
        F.sum("d1").over(w).cast("bigint").alias("n1"),
        F.sum("d0").over(w).cast("bigint").alias("n0"),
        F.sum("c1").over(w).cast("bigint").alias("s1"),
        F.sum("c0").over(w).cast("bigint").alias("s0"),
    )
    return cum.selectExpr(
        "CAST(look AS BIGINT) AS look",
        "n1",
        "n0",
        "s1",
        "s0",
        # round(.,9) absolves the 1-ulp FMA-contraction divergence seen
        # in the multi-factor variance product (q_sim_topk precedent)
        f"round({_GS_Z}, 9) AS z",
        "2.04 * sqrt(5.0 / look) AS obf_boundary",
        f"abs(round({_GS_Z}, 9)) > 2.04 * sqrt(5.0 / look) AS crossed",
    ).orderBy("look")


# --- arc price elasticity across discount bands (round 5) ----------------------
# The pricing team's follow-up to q_discount_corr's correlation: the
# ARC elasticity (midpoint formula) between adjacent discount bands —
# (dQ / Q-bar) / (dP / P-bar) with P = 1 - discount — which stays
# log-free and unit-free. Bands are integer percent floors of the
# discount; per-band mean quantity and mean price are exact integer /
# decimal ratios; the elasticity is one fixed shared-text chain over
# LAG values. One combinable band aggregate + an O(bands) window.
_PE_Q = "(CAST(sq AS DOUBLE) / n)"
_PE_P = "(CAST(sp_c AS DOUBLE) / n / 100.0)"


@_q(
    "q_price_elasticity",
    f"""
    WITH b AS (
        SELECT CAST(floor(l_discount * 100.0) AS BIGINT) AS band,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sq,
               CAST(SUM(CAST(floor((1.0 - l_discount) * 100.0) AS BIGINT))
                    AS BIGINT) AS sp_c
        FROM lineitem GROUP BY 1
    ), m AS (
        SELECT band, n, {_PE_Q} AS q_mean, {_PE_P} AS p_mean,
               lag({_PE_Q}) OVER (ORDER BY band) AS q_prev,
               lag({_PE_P}) OVER (ORDER BY band) AS p_prev
        FROM b
    )
    SELECT band, n AS n_lines, q_mean, p_mean,
           ((q_mean - q_prev) / ((q_mean + q_prev) / 2.0))
             / ((p_mean - p_prev) / ((p_mean + p_prev) / 2.0))
               AS arc_elasticity
    FROM m WHERE q_prev IS NOT NULL ORDER BY band
    """,
)
def q_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = (
        t(spark, sf_dir, "lineitem")
        .selectExpr(
            "CAST(floor(l_discount * 100.0) AS BIGINT) AS band",
            "CAST(floor(l_quantity) AS BIGINT) AS qv",
            "CAST(floor((1.0 - l_discount) * 100.0) AS BIGINT) AS pv",
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("qv").cast("bigint").alias("sq"),
            F.sum("pv").cast("bigint").alias("sp_c"),
        )
    )
    # bounded: price bands — O(bands) rows
    w = Window.orderBy("band")
    m = b.selectExpr(
        "band", "n", f"{_PE_Q} AS q_mean", f"{_PE_P} AS p_mean"
    ).select(
        "band",
        "n",
        "q_mean",
        "p_mean",
        F.lag("q_mean").over(w).alias("q_prev"),
        F.lag("p_mean").over(w).alias("p_prev"),
    )
    return (
        m.where(F.col("q_prev").isNotNull())
        .selectExpr(
            "band",
            "n AS n_lines",
            "q_mean",
            "p_mean",
            "((q_mean - q_prev) / ((q_mean + q_prev) / 2.0))"
            " / ((p_mean - p_prev) / ((p_mean + p_prev) / 2.0))"
            " AS arc_elasticity",
        )
        .orderBy("band")
    )


# --- anomaly-detector consensus (round 5) --------------------------------------
# One detector flags noise; three agreeing flag an incident. Per
# (type, day), the daily event count is scored by three shipped
# methods — z-score vs the type's mean/sd, IQR fence, and MAD fence —
# and the consensus requires >= 2 votes. Exactness: counts are
# integers, so mean/sd come from exact integer moments (shared sqrt
# chain); the IQR and MAD cut points are ELEMENT-SELECTED (lower-mid
# quantile convention), and every fence comparison is a deterministic
# double comparison. Plan: one daily aggregate + per-type rank windows
# for the quartiles/medians + one broadcast join back; O(type*days)
# rows.
@_q(
    "q_anomaly_consensus",
    """
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), mo AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(c) AS BIGINT) AS s1,
               CAST(SUM(c * c) AS BIGINT) AS s2
        FROM daily GROUP BY event_type
    ), rk AS (
        SELECT event_type, d, c,
               row_number() OVER (PARTITION BY event_type ORDER BY c, d)
                   AS rn,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM daily
    ), quart AS (
        SELECT event_type,
               CAST(MAX(CASE WHEN rn = (n - 1) * 25 // 100 + 1 THEN c END)
                    AS BIGINT) AS q1,
               CAST(MAX(CASE WHEN rn = (n - 1) * 50 // 100 + 1 THEN c END)
                    AS BIGINT) AS med,
               CAST(MAX(CASE WHEN rn = (n - 1) * 75 // 100 + 1 THEN c END)
                    AS BIGINT) AS q3
        FROM rk GROUP BY event_type
    ), madr AS (
        SELECT q.event_type, abs(d2.c - q.med) AS adev,
               row_number() OVER (PARTITION BY q.event_type
                                  ORDER BY abs(d2.c - q.med), d2.d) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY q.event_type) AS BIGINT) AS n
        FROM daily d2 JOIN quart q ON q.event_type = d2.event_type
    ), mad AS (
        SELECT event_type,
               CAST(MAX(CASE WHEN rn = (n - 1) * 50 // 100 + 1 THEN adev END)
                    AS BIGINT) AS mad
        FROM madr GROUP BY event_type
    ), scored AS (
        SELECT dd.event_type, dd.d, dd.c,
               CASE WHEN abs(CAST(dd.c AS DOUBLE) - CAST(m.s1 AS DOUBLE) / m.n)
                    > 3.0 * (sqrt(CAST(m.n * m.s2 - m.s1 * m.s1 AS DOUBLE))
                             / m.n)
                    THEN 1 ELSE 0 END AS v_z,
               CASE WHEN CAST(dd.c AS DOUBLE)
                         > CAST(q.q3 AS DOUBLE)
                           + 1.5 * CAST(q.q3 - q.q1 AS DOUBLE)
                      OR CAST(dd.c AS DOUBLE)
                         < CAST(q.q1 AS DOUBLE)
                           - 1.5 * CAST(q.q3 - q.q1 AS DOUBLE)
                    THEN 1 ELSE 0 END AS v_iqr,
               CASE WHEN CAST(abs(dd.c - q.med) AS DOUBLE)
                         > 3.0 * 1.4826 * CAST(ma.mad AS DOUBLE)
                    THEN 1 ELSE 0 END AS v_mad
        FROM daily dd
        JOIN mo m ON m.event_type = dd.event_type
        JOIN quart q ON q.event_type = dd.event_type
        JOIN mad ma ON ma.event_type = dd.event_type
    )
    SELECT event_type, d AS day, c AS n_events,
           CAST(v_z AS BIGINT) AS vote_z,
           CAST(v_iqr AS BIGINT) AS vote_iqr,
           CAST(v_mad AS BIGINT) AS vote_mad,
           v_z + v_iqr + v_mad >= 2 AS consensus_anomaly
    FROM scored
    """,
)
def q_anomaly_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        t(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("d"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    mo = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("s2"),
    )
    wt = Window.partitionBy("event_type")
    rk = daily.select(
        "event_type",
        "d",
        "c",
        F.row_number().over(wt.orderBy("c", "d")).alias("rn"),
        F.count(F.lit(1)).over(wt).cast("bigint").alias("n"),
    )
    quart = rk.groupBy("event_type").agg(
        F.max(
            F.when(F.col("rn") == F.expr("(n - 1) * 25 div 100 + 1"), F.col("c"))
        )
        .cast("bigint")
        .alias("q1"),
        F.max(
            F.when(F.col("rn") == F.expr("(n - 1) * 50 div 100 + 1"), F.col("c"))
        )
        .cast("bigint")
        .alias("med"),
        F.max(
            F.when(F.col("rn") == F.expr("(n - 1) * 75 div 100 + 1"), F.col("c"))
        )
        .cast("bigint")
        .alias("q3"),
    )
    madr = daily.join(F.broadcast(quart), "event_type").select(
        "event_type",
        "d",
        F.abs(F.col("c") - F.col("med")).alias("adev"),
    )
    madrk = madr.select(
        "event_type",
        "adev",
        F.row_number().over(wt.orderBy("adev", "d")).alias("rn"),
        F.count(F.lit(1)).over(wt).cast("bigint").alias("n"),
    )
    mad = madrk.groupBy("event_type").agg(
        F.max(
            F.when(
                F.col("rn") == F.expr("(n - 1) * 50 div 100 + 1"), F.col("adev")
            )
        )
        .cast("bigint")
        .alias("mad")
    )
    scored = (
        daily.join(F.broadcast(mo), "event_type")
        .join(F.broadcast(quart), "event_type")
        .join(F.broadcast(mad), "event_type")
        .selectExpr(
            "event_type",
            "d",
            "c",
            "CASE WHEN abs(CAST(c AS DOUBLE) - CAST(s1 AS DOUBLE) / n)"
            " > 3.0 * (sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)) / n)"
            " THEN 1 ELSE 0 END AS v_z",
            "CASE WHEN CAST(c AS DOUBLE) > CAST(q3 AS DOUBLE)"
            " + 1.5 * CAST(q3 - q1 AS DOUBLE)"
            " OR CAST(c AS DOUBLE) < CAST(q1 AS DOUBLE)"
            " - 1.5 * CAST(q3 - q1 AS DOUBLE) THEN 1 ELSE 0 END AS v_iqr",
            "CASE WHEN CAST(abs(c - med) AS DOUBLE)"
            " > 3.0 * 1.4826 * CAST(mad AS DOUBLE) THEN 1 ELSE 0 END AS v_mad",
        )
    )
    return scored.selectExpr(
        "event_type",
        "d AS day",
        "c AS n_events",
        "CAST(v_z AS BIGINT) AS vote_z",
        "CAST(v_iqr AS BIGINT) AS vote_iqr",
        "CAST(v_mad AS BIGINT) AS vote_mad",
        "v_z + v_iqr + v_mad >= 2 AS consensus_anomaly",
    )


# --- SLO error-budget burndown (round 5) ---------------------------------------
# The SRE view of the error stream: against a 5% error-rate SLO over
# the data window, each day consumes budget equal to its error count
# minus its allowance (5% of its traffic, in integer 20ths to stay
# exact: burn_20 = 20 * errors - traffic). The cumulative burn, the
# budget remaining, and the day the budget first went negative fall
# out of one cumulative window over exact integers. One daily
# aggregate + an O(days) window.
@_q(
    "q_error_budget",
    """
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
               CAST(COUNT(*) AS BIGINT) AS traffic,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS errors
        FROM events GROUP BY 1
    ), burn AS (
        SELECT d, traffic, errors,
               CAST(20 * errors - traffic AS BIGINT) AS burn_20,
               CAST(SUM(20 * errors - traffic) OVER (ORDER BY d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_burn_20
        FROM daily
    )
    SELECT d AS day, traffic, errors,
           CAST(errors AS DOUBLE) / CAST(traffic AS DOUBLE) AS error_rate,
           burn_20, cum_burn_20,
           cum_burn_20 > 0 AS budget_exhausted
    FROM burn
    """,
)
def q_error_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        t(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", F.col("ts")).alias("d"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("traffic"),
            F.sum(F.expr("CASE WHEN event_type = 'error' THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("errors"),
        )
    )
    # bounded: daily series — O(days) rows
    w = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    burn = daily.select(
        "d",
        "traffic",
        "errors",
        (F.lit(20) * F.col("errors") - F.col("traffic"))
        .cast("bigint")
        .alias("burn_20"),
        F.sum(F.lit(20) * F.col("errors") - F.col("traffic"))
        .over(w)
        .cast("bigint")
        .alias("cum_burn_20"),
    )
    return burn.selectExpr(
        "d AS day",
        "traffic",
        "errors",
        "CAST(errors AS DOUBLE) / CAST(traffic AS DOUBLE) AS error_rate",
        "burn_20",
        "cum_burn_20",
        "cum_burn_20 > 0 AS budget_exhausted",
    )


# --- CAPM-style market beta per event type (round 5) ---------------------------
# Each type's sensitivity to the market: regress the type's daily mean
# value on the ALL-TYPES daily mean (the "market"), beta = cov / var.
# Exactness: daily means quantize to integer micro-units (exact integer
# sums / counts, floored once), the centered products quantize again
# before summation, and beta/alpha are fixed division chains —
# the q_twfe discipline applied to the two-series case. Plan: one daily
# aggregate per (type, day) + one daily market aggregate (broadcast) +
# one combinable product sum per type; O(types) output.
@_q(
    "q_market_beta",
    """
    WITH cell AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
               CAST(SUM(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT)
                   AS s_us,
               CAST(COUNT(value) AS BIGINT) AS n
        FROM events WHERE value IS NOT NULL
        GROUP BY 1, 2
    ), mkt AS (
        SELECT d,
               CAST(SUM(s_us) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)
                 / 1000000.0 AS m
        FROM cell GROUP BY d
    ), pair AS (
        SELECT c.event_type,
               CAST(c.s_us AS DOUBLE) / CAST(c.n AS DOUBLE) / 1000000.0 AS y,
               k.m AS x
        FROM cell c JOIN mkt k ON k.d = c.d
    ), mu AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS nd,
               CAST(SUM(CAST(floor(y * 1000000.0) AS BIGINT)) AS DOUBLE)
                 / COUNT(*) / 1000000.0 AS ybar,
               CAST(SUM(CAST(floor(x * 1000000.0) AS BIGINT)) AS DOUBLE)
                 / COUNT(*) / 1000000.0 AS xbar
        FROM pair GROUP BY event_type
    )
    SELECT p.event_type, MAX(m.nd) AS n_days,
           CAST(SUM(CAST(floor((p.x - m.xbar) * (p.y - m.ybar) * 1000000.0)
                AS BIGINT)) AS DOUBLE)
             / CAST(SUM(CAST(floor((p.x - m.xbar) * (p.x - m.xbar)
                * 1000000.0) AS BIGINT)) AS DOUBLE) AS beta,
           MAX(m.ybar)
             - CAST(SUM(CAST(floor((p.x - m.xbar) * (p.y - m.ybar)
                  * 1000000.0) AS BIGINT)) AS DOUBLE)
               / CAST(SUM(CAST(floor((p.x - m.xbar) * (p.x - m.xbar)
                  * 1000000.0) AS BIGINT)) AS DOUBLE) * MAX(m.xbar) AS alpha
    FROM pair p JOIN mu m ON m.event_type = p.event_type
    GROUP BY p.event_type
    """,
)
def q_market_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    cell = (
        t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("d"))
        .agg(
            F.sum(F.expr("CAST(floor(value * 1000000.0) AS BIGINT)"))
            .cast("bigint")
            .alias("s_us"),
            F.count("value").cast("bigint").alias("n"),
        )
    )
    mkt = cell.groupBy("d").agg(
        (
            F.sum("s_us").cast("double") / F.sum("n").cast("double") / 1000000.0
        ).alias("m")
    )
    pair = cell.join(F.broadcast(mkt), "d").selectExpr(
        "event_type",
        "CAST(s_us AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0 AS y",
        "m AS x",
    )
    mu = pair.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("nd"),
        (
            F.sum(F.expr("CAST(floor(y * 1000000.0) AS BIGINT)")).cast("double")
            / F.count(F.lit(1))
            / 1000000.0
        ).alias("ybar"),
        (
            F.sum(F.expr("CAST(floor(x * 1000000.0) AS BIGINT)")).cast("double")
            / F.count(F.lit(1))
            / 1000000.0
        ).alias("xbar"),
    )
    joined = pair.join(F.broadcast(mu), "event_type")
    sxy = "SUM(CAST(floor((x - xbar) * (y - ybar) * 1000000.0) AS BIGINT))"
    sxx = "SUM(CAST(floor((x - xbar) * (x - xbar) * 1000000.0) AS BIGINT))"
    return joined.groupBy("event_type").agg(
        F.expr("MAX(nd)").alias("n_days"),
        F.expr(f"CAST({sxy} AS DOUBLE) / CAST({sxx} AS DOUBLE)").alias("beta"),
        F.expr(
            f"MAX(ybar) - CAST({sxy} AS DOUBLE) / CAST({sxx} AS DOUBLE)"
            " * MAX(xbar)"
        ).alias("alpha"),
    )


# --- seasonal-strength index (Wang-Hyndman F_s, round 5) -----------------------
# One number for "how seasonal is this series": F_s = max(0,
# 1 - Var(remainder) / Var(detrended)) on the daily revenue series with
# a weekly (dow) seasonal component. Exactness: revenue quantizes to
# hundreds-units per order (the q_period_detect bound); the centered
# 7-day moving average clears its /7 by scoring det7 = 7*x - sum7
# (pure BIGINT, full windows only); the dow means are deterministic
# doubles whose residuals re-quantize to integers before the variance
# identities n*Sum(x²) - S² — so the ratio is one division of
# integer-derived doubles. Plan: one daily aggregate + one 7-row
# window + one dow aggregate (broadcast) + one combinable moment
# fold; O(1) output.
@_q(
    "q_seasonal_strength",
    """
    WITH daily AS (
        SELECT CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS dayn,
               CAST(EXTRACT(dow FROM o_orderdate) AS BIGINT) AS dow,
               CAST(SUM(CAST(floor(o_totalprice / 100.0) AS BIGINT))
                    AS BIGINT) AS h
        FROM orders GROUP BY 1, 2
    ), det AS (
        SELECT dayn, dow,
               CAST(7 * h - SUM(h) OVER (ORDER BY dayn
                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT)
                   AS det7,
               COUNT(*) OVER (ORDER BY dayn
                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS wn
        FROM daily
    ), full7 AS (
        SELECT dayn, dow, det7 FROM det WHERE wn = 7
    ), dm AS (
        SELECT dow, CAST(SUM(det7) AS DOUBLE) / COUNT(*) AS dmean
        FROM full7 GROUP BY dow
    ), rem AS (
        SELECT f.det7,
               CAST(floor(CAST(f.det7 AS DOUBLE) - d.dmean) AS BIGINT) AS qrem
        FROM full7 f JOIN dm d ON d.dow = f.dow
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days_used,
           CASE WHEN 1.0
                     - CAST(COUNT(*) * SUM(qrem * qrem)
                            - SUM(qrem) * SUM(qrem) AS DOUBLE)
                       / CAST(COUNT(*) * SUM(det7 * det7)
                              - SUM(det7) * SUM(det7) AS DOUBLE) < 0.0
                THEN 0.0
                ELSE 1.0
                     - CAST(COUNT(*) * SUM(qrem * qrem)
                            - SUM(qrem) * SUM(qrem) AS DOUBLE)
                       / CAST(COUNT(*) * SUM(det7 * det7)
                              - SUM(det7) * SUM(det7) AS DOUBLE)
           END AS f_seasonal,
           (1.0 - CAST(COUNT(*) * SUM(qrem * qrem)
                       - SUM(qrem) * SUM(qrem) AS DOUBLE)
                  / CAST(COUNT(*) * SUM(det7 * det7)
                         - SUM(det7) * SUM(det7) AS DOUBLE)) >= 0.3
               AS strongly_seasonal
    FROM rem
    """,
)
def q_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        t(spark, sf_dir, "orders")
        .selectExpr(
            "unix_micros(o_orderdate) div 86400000000 AS dayn",
            # Spark dayofweek is 1-based Sunday=1; DuckDB dow is 0-based
            "CAST(dayofweek(o_orderdate) - 1 AS BIGINT) AS dow",
            "CAST(floor(o_totalprice / 100.0) AS BIGINT) AS hrow",
        )
        .groupBy("dayn", "dow")
        .agg(F.sum("hrow").cast("bigint").alias("h"))
    )
    # bounded: daily series — O(days) rows
    w7 = Window.orderBy("dayn").rowsBetween(-3, 3)
    det = daily.select(
        "dayn",
        "dow",
        (F.lit(7) * F.col("h") - F.sum("h").over(w7)).cast("bigint").alias(
            "det7"
        ),
        F.count(F.lit(1)).over(w7).alias("wn"),
    )
    full7 = det.where(F.col("wn") == 7).select("dayn", "dow", "det7")
    dm = full7.groupBy("dow").agg(
        (F.sum("det7").cast("double") / F.count(F.lit(1))).alias("dmean")
    )
    rem = full7.join(F.broadcast(dm), "dow").selectExpr(
        "det7",
        "CAST(floor(CAST(det7 AS DOUBLE) - dmean) AS BIGINT) AS qrem",
    )
    ratio = (
        "CAST(COUNT(*) * SUM(qrem * qrem) - SUM(qrem) * SUM(qrem) AS DOUBLE)"
        " / CAST(COUNT(*) * SUM(det7 * det7) - SUM(det7) * SUM(det7)"
        " AS DOUBLE)"
    )
    return rem.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days_used"),
        F.expr(
            f"CASE WHEN 1.0 - {ratio} < 0.0 THEN 0.0 ELSE 1.0 - {ratio} END"
        ).alias("f_seasonal"),
        F.expr(f"(1.0 - {ratio}) >= 0.3").alias("strongly_seasonal"),
    )


# --- aggregate day-N retention curve (round 5) ---------------------------------
# The headline growth curve q_retention's cohort matrix rolls up to:
# across ALL cohorts, what fraction of users are active again exactly
# N days after their first day, for N in {1, 3, 7, 14}. Numerators and
# denominators are exact distinct-user counts (a cohort only counts
# toward N if the data window could still observe it: first day + N <=
# global max day). One min-aggregate per user + one distinct user-day
# relation + a 4-row broadcast grid.
@_q(
    "q_retention_curve",
    """
    WITH ud AS (
        SELECT DISTINCT user_id,
               CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d
        FROM events
    ), firsts AS (
        SELECT user_id, CAST(MIN(d) AS BIGINT) AS d0 FROM ud GROUP BY user_id
    ), maxd AS (
        SELECT CAST(MAX(d) AS BIGINT) AS dmax FROM ud
    ), grid AS (SELECT n FROM (VALUES (1), (3), (7), (14)) g(n)),
    eligible AS (
        SELECT f.user_id, f.d0, g.n
        FROM firsts f CROSS JOIN grid g CROSS JOIN maxd m
        WHERE f.d0 + g.n <= m.dmax
    )
    SELECT CAST(e.n AS BIGINT) AS day_n,
           CAST(COUNT(*) AS BIGINT) AS n_eligible,
           CAST(SUM(CASE WHEN u.user_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_retained,
           CAST(SUM(CASE WHEN u.user_id IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS retention_rate
    FROM eligible e
    LEFT JOIN ud u ON u.user_id = e.user_id AND u.d = e.d0 + e.n
    GROUP BY e.n
    """,
)
def q_retention_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    ud = (
        t(spark, sf_dir, "events")
        .selectExpr("user_id", "unix_micros(ts) div 86400000000 AS d")
        .distinct()
    )
    firsts = ud.groupBy("user_id").agg(F.min("d").cast("bigint").alias("d0"))
    maxd = ud.agg(F.max("d").cast("bigint").alias("dmax"))
    grid = F.broadcast(
        local_rows(ud.sparkSession, [(1,), (3,), (7,), (14,)], "n int")
    )
    eligible = (
        firsts.crossJoin(grid)
        .crossJoin(F.broadcast(maxd))
        .where(F.col("d0") + F.col("n") <= F.col("dmax"))
    )
    ret = ud.selectExpr("user_id", "d AS d_ret")
    joined = eligible.join(
        ret,
        (eligible.user_id == ret.user_id)
        & (F.col("d_ret") == F.col("d0") + F.col("n")),
        "left",
    )
    return joined.groupBy("n").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_eligible"),
        F.sum(F.when(F.col("d_ret").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_retained"),
    ).selectExpr(
        "CAST(n AS BIGINT) AS day_n",
        "n_eligible",
        "n_retained",
        "CAST(n_retained AS DOUBLE) / CAST(n_eligible AS DOUBLE)"
        " AS retention_rate",
    )


# --- DAU/MAU stickiness (round 5) -----------------------------------------------
# The engagement ratio boards track: per day, DAU and the trailing-28-
# day MAU, stickiness = DAU / MAU. Exact distinct-user counts; the MAU
# is a bounded 28-day range join against the distinct user-day relation
# (at 100 TB: 28x the user-day relation, the standard bounded-window
# expansion — never user x day cartesian). Output one row per day with
# a full trailing window.
@_q(
    "q_stickiness",
    """
    WITH ud AS (
        SELECT DISTINCT user_id,
               CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d
        FROM events
    ), days AS (
        SELECT DISTINCT d FROM ud
    ), bounds AS (
        SELECT CAST(MIN(d) AS BIGINT) AS dmin FROM ud
    ), dau AS (
        SELECT d, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY d
    ), mau AS (
        SELECT dy.d, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS mau
        FROM days dy JOIN ud u ON u.d BETWEEN dy.d - 27 AND dy.d
        GROUP BY dy.d
    )
    SELECT d.d AS day_n, d.dau, m.mau,
           CAST(d.dau AS DOUBLE) / CAST(m.mau AS DOUBLE) AS stickiness
    FROM dau d JOIN mau m ON m.d = d.d CROSS JOIN bounds b
    WHERE d.d >= b.dmin + 27
    """,
)
def q_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ud = track_persist(
        t(spark, sf_dir, "events")
        .selectExpr("user_id", "unix_micros(ts) div 86400000000 AS d")
        .distinct()
    )
    days = ud.select("d").distinct()
    bounds = ud.agg(F.min("d").cast("bigint").alias("dmin"))
    dau = ud.groupBy("d").agg(F.count(F.lit(1)).cast("bigint").alias("dau"))
    u = ud.selectExpr("user_id", "d AS ud_d")
    mau = (
        days.join(
            u,
            (F.col("ud_d") >= F.col("d") - 27) & (F.col("ud_d") <= F.col("d")),
        )
        .groupBy("d")
        .agg(F.countDistinct("user_id").cast("bigint").alias("mau"))
    )
    return (
        dau.join(mau, "d")
        .crossJoin(F.broadcast(bounds))
        .where(F.col("d") >= F.col("dmin") + 27)
        .selectExpr(
            "d AS day_n",
            "dau",
            "mau",
            "CAST(dau AS DOUBLE) / CAST(mau AS DOUBLE) AS stickiness",
        )
    )


# --- day-over-day audience overlap (round 5) ------------------------------------
# Audience stability as a time series: for each consecutive day pair,
# the Jaccard of the two days' active-user sets — the retention pulse
# churn dashboards plot between the cohort refreshes. Exact integer set
# algebra off ONE distinct user-day relation: the intersection is a
# self-join on (user, d+1), union = |A| + |B| - |A∩B|. O(days) output.
@_q(
    "q_dau_overlap",
    """
    WITH ud AS (
        SELECT DISTINCT user_id,
               CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d
        FROM events
    ), dau AS (
        SELECT d, CAST(COUNT(*) AS BIGINT) AS n FROM ud GROUP BY d
    ), inter AS (
        SELECT a.d AS d, CAST(COUNT(*) AS BIGINT) AS both
        FROM ud a JOIN ud b ON b.user_id = a.user_id AND b.d = a.d + 1
        GROUP BY a.d
    )
    SELECT c.d AS day_n, c.n AS dau_today, nx.n AS dau_next,
           CAST(COALESCE(i.both, 0) AS BIGINT) AS n_both,
           CAST(COALESCE(i.both, 0) AS DOUBLE)
             / CAST(c.n + nx.n - COALESCE(i.both, 0) AS DOUBLE) AS jaccard
    FROM dau c
    JOIN dau nx ON nx.d = c.d + 1
    LEFT JOIN inter i ON i.d = c.d
    """,
)
def q_dau_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ud = track_persist(
        t(spark, sf_dir, "events")
        .selectExpr("user_id", "unix_micros(ts) div 86400000000 AS d")
        .distinct()
    )
    dau = ud.groupBy("d").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a, b = ud.alias("a"), ud.alias("b")
    inter = (
        a.join(
            b,
            (F.col("b.user_id") == F.col("a.user_id"))
            & (F.col("b.d") == F.col("a.d") + 1),
        )
        .groupBy(F.col("a.d").alias("d"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("both"))
    )
    nx = dau.selectExpr("d - 1 AS d", "n AS n_next")
    return (
        dau.join(nx, "d")
        .join(inter, "d", "left")
        .na.fill({"both": 0})
        .selectExpr(
            "d AS day_n",
            "n AS dau_today",
            "n_next AS dau_next",
            "CAST(both AS BIGINT) AS n_both",
            "CAST(both AS DOUBLE) / CAST(n + n_next - both AS DOUBLE)"
            " AS jaccard",
        )
    )


# --- chi-square cell residuals (round 5) -----------------------------------------
# q_chi2 reports the statistic; the DIAGNOSTIC is the standardized
# Pearson residual per cell, (O - E) / sqrt(E), which says WHICH
# (event_type, daypart) combinations drive the dependence and in which
# direction. Exactness: O and the margins are exact integers; E =
# row*col/N is one fixed division; the residual adds one subtraction,
# one sqrt, one division — a shared-text chain. One cell aggregate +
# broadcast margins; O(cells) output.
_CR_E = "(CAST(rm AS DOUBLE) * CAST(cm AS DOUBLE) / CAST(n AS DOUBLE))"


@_q(
    "q_crosstab_residuals",
    f"""
    WITH cell AS (
        SELECT event_type, CAST(EXTRACT(hour FROM ts) // 6 AS BIGINT)
                   AS daypart,
               CAST(COUNT(*) AS BIGINT) AS o
        FROM events GROUP BY 1, 2
    ), rms AS (
        SELECT event_type, CAST(SUM(o) AS BIGINT) AS rm FROM cell GROUP BY 1
    ), cms AS (
        SELECT daypart, CAST(SUM(o) AS BIGINT) AS cm FROM cell GROUP BY 1
    ), nn AS (
        SELECT CAST(SUM(o) AS BIGINT) AS n FROM cell
    )
    SELECT c.event_type, c.daypart, c.o AS observed,
           {_CR_E} AS expected,
           (CAST(c.o AS DOUBLE) - {_CR_E}) / sqrt({_CR_E}) AS std_residual,
           abs((CAST(c.o AS DOUBLE) - {_CR_E}) / sqrt({_CR_E})) > 2.0
               AS significant_cell
    FROM cell c
    JOIN rms r ON r.event_type = c.event_type
    JOIN cms m ON m.daypart = c.daypart
    CROSS JOIN nn
    """,
)
def q_crosstab_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    cell = (
        t(spark, sf_dir, "events")
        .selectExpr("event_type", "CAST(hour(ts) div 6 AS BIGINT) AS daypart")
        .groupBy("event_type", "daypart")
        .agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    )
    rms = cell.groupBy("event_type").agg(F.sum("o").cast("bigint").alias("rm"))
    cms = cell.groupBy("daypart").agg(F.sum("o").cast("bigint").alias("cm"))
    nn = cell.agg(F.sum("o").cast("bigint").alias("n"))
    return (
        cell.join(F.broadcast(rms), "event_type")
        .join(F.broadcast(cms), "daypart")
        .crossJoin(F.broadcast(nn))
        .selectExpr(
            "event_type",
            "daypart",
            "o AS observed",
            f"{_CR_E} AS expected",
            f"(CAST(o AS DOUBLE) - {_CR_E}) / sqrt({_CR_E}) AS std_residual",
            f"abs((CAST(o AS DOUBLE) - {_CR_E}) / sqrt({_CR_E})) > 2.0"
            " AS significant_cell",
        )
    )


# --- daily new-vs-returning split (round 5) --------------------------------------
# q_growth_accounting's monthly ledger at the day grain: each day's
# active users split into NEW (this is their first day) and RETURNING,
# with the new-user share — the top chart of every growth dashboard.
# Exact distinct counts off one user-day relation + one min-aggregate;
# O(days) output.
@_q(
    "q_new_vs_returning",
    """
    WITH ud AS (
        SELECT DISTINCT user_id,
               CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d
        FROM events
    ), firsts AS (
        SELECT user_id, CAST(MIN(d) AS BIGINT) AS d0 FROM ud GROUP BY user_id
    )
    SELECT u.d AS day_n,
           CAST(COUNT(*) AS BIGINT) AS dau,
           CAST(SUM(CASE WHEN f.d0 = u.d THEN 1 ELSE 0 END) AS BIGINT)
               AS new_users,
           CAST(SUM(CASE WHEN f.d0 < u.d THEN 1 ELSE 0 END) AS BIGINT)
               AS returning_users,
           CAST(SUM(CASE WHEN f.d0 = u.d THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS new_share
    FROM ud u JOIN firsts f ON f.user_id = u.user_id
    GROUP BY u.d
    """,
)
def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    ud = (
        t(spark, sf_dir, "events")
        .selectExpr("user_id", "unix_micros(ts) div 86400000000 AS d")
        .distinct()
    )
    firsts = ud.groupBy("user_id").agg(F.min("d").cast("bigint").alias("d0"))
    return (
        ud.join(firsts, "user_id")
        .groupBy("d")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("dau"),
            F.sum(F.when(F.col("d0") == F.col("d"), 1).otherwise(0))
            .cast("bigint")
            .alias("new_users"),
            F.sum(F.when(F.col("d0") < F.col("d"), 1).otherwise(0))
            .cast("bigint")
            .alias("returning_users"),
        )
        .selectExpr(
            "d AS day_n",
            "dau",
            "new_users",
            "returning_users",
            "CAST(new_users AS DOUBLE) / CAST(dau AS DOUBLE) AS new_share",
        )
    )


# --- time-constrained window funnel (round 6) --------------------------------
# ClickHouse-windowFunnel semantics, EXISTENCE form: a user reaches step
# 2 if ANY click falls within 3600 s strictly after ANY view, and step 3
# if a purchase falls within 3600 s strictly after such a QUALIFIED
# click (contrast q_funnel, which chains the EARLIEST anchors greedily
# and can miss a valid later chain). Step predicates are per-user range
# semi-joins on exact integer seconds; at 100 TB each is one shuffle on
# user_id with per-user-bounded probe sets. All outputs are distinct-
# user counts — exact integers.
@_q(
    "q_window_funnel",
    """
    WITH e AS (
        SELECT user_id, event_type,
               CAST(floor(epoch(ts)) AS BIGINT) AS s
        FROM events
    ), v AS (SELECT user_id, s FROM e WHERE event_type = 'view'),
    c AS (SELECT user_id, s FROM e WHERE event_type = 'click'),
    p AS (SELECT user_id, s FROM e WHERE event_type = 'purchase'),
    qc AS (
        SELECT DISTINCT c.user_id, c.s FROM c JOIN v
          ON c.user_id = v.user_id AND c.s > v.s AND c.s <= v.s + 3600
    ), s3 AS (
        SELECT DISTINCT p.user_id FROM p JOIN qc
          ON p.user_id = qc.user_id AND p.s > qc.s AND p.s <= qc.s + 3600
    )
    SELECT CAST(1 AS BIGINT) AS funnel_step,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM v
    UNION ALL
    SELECT CAST(2 AS BIGINT),
           CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM qc
    UNION ALL
    SELECT CAST(3 AS BIGINT), CAST(COUNT(*) AS BIGINT) FROM s3
    """,
)
def q_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.floor(F.unix_timestamp("ts")).cast("bigint").alias("s"),
    )
    v = e.where(F.col("event_type") == "view").select("user_id", "s")
    c = e.where(F.col("event_type") == "click").select("user_id", "s")
    p = e.where(F.col("event_type") == "purchase").select("user_id", "s")
    va = v.alias("v")
    qc = (
        c.alias("c")
        .join(
            va,
            (F.col("c.user_id") == F.col("v.user_id"))
            & (F.col("c.s") > F.col("v.s"))
            & (F.col("c.s") <= F.col("v.s") + 3600),
            "leftsemi",
        )
        .distinct()
    )
    s3 = (
        p.alias("p")
        .join(
            qc.alias("q"),
            (F.col("p.user_id") == F.col("q.user_id"))
            & (F.col("p.s") > F.col("q.s"))
            & (F.col("p.s") <= F.col("q.s") + 3600),
            "leftsemi",
        )
        .select("user_id")
        .distinct()
    )
    one = lambda df, step: df.agg(  # noqa: E731
        F.lit(step).cast("bigint").alias("funnel_step"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    ).select("funnel_step", "n_users")
    return one(v, 1).unionAll(one(qc, 2)).unionAll(one(s3, 3))


# --- ordered-sequence match with exclusion (round 6) -------------------------
# sequenceMatch('(?1)(?!3)(?2)'): does the user have a view followed by
# a click with NO purchase strictly between? Exact reformulation that
# needs no pair enumeration: a click matches iff the latest view/
# purchase event before it (per-user (ts, event_id) order) is a view —
# one PARTITIONED cumulative-max window per user, no global window, no
# state object. Counts are distinct-user integers; share is one fixed
# division.
@_q(
    "q_sequence_match",
    """
    WITH e AS (
        SELECT user_id, event_type, ts, event_id,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS pos
        FROM events WHERE event_type IN ('view', 'click', 'purchase')
    ), m AS (
        SELECT user_id, event_type,
               MAX(CASE WHEN event_type = 'view' THEN pos END) OVER w
                   AS lastv,
               MAX(CASE WHEN event_type = 'purchase' THEN pos END) OVER w
                   AS lastp
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), per AS (
        SELECT user_id,
               MAX(CASE WHEN event_type = 'click' AND lastv IS NOT NULL
                         AND (lastp IS NULL OR lastv > lastp)
                        THEN 1 ELSE 0 END) AS matched
        FROM m GROUP BY user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(matched) AS BIGINT) AS n_matched,
           CAST(SUM(matched) AS DOUBLE) / COUNT(*) AS match_share
    FROM per
    """,
)
def q_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (
        t(spark, sf_dir, "events")
        .where(F.col("event_type").isin("view", "click", "purchase"))
        .select("user_id", "event_type", "ts", "event_id")
    )
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pos = e.withColumn("pos", F.row_number().over(wu))
    wprev = Window.partitionBy("user_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, -1
    )
    m = pos.select(
        "user_id",
        "event_type",
        F.max(
            F.when(F.col("event_type") == "view", F.col("pos"))
        ).over(wprev).alias("lastv"),
        F.max(
            F.when(F.col("event_type") == "purchase", F.col("pos"))
        ).over(wprev).alias("lastp"),
    )
    per = m.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "click")
                & F.col("lastv").isNotNull()
                & (F.col("lastp").isNull() | (F.col("lastv") > F.col("lastp"))),
                1,
            ).otherwise(0)
        ).alias("matched")
    )
    return per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("matched").cast("bigint").alias("n_matched"),
        (F.sum("matched").cast("double") / F.count(F.lit(1))).alias(
            "match_share"
        ),
    )


# --- Mood's median test (round 6) --------------------------------------------
# Nonparametric k-sample location test: split every value at the GLOBAL
# lower median (selected, never interpolated — via the range-partitioned
# ranker, plans/rank.py) and compare each event_type's above/below split
# against its expected share. All counts are exact integers; the
# expected count and standardized residual are one shared-text IEEE
# expression per output row (no cross-row double sum).
_MOOD_RES = (
    "((CAST(n_above AS DOUBLE) - CAST(n_g * tot_above AS DOUBLE) / tot)"
    " / sqrt(CAST(n_g * tot_above AS DOUBLE) / tot"
    " * (1.0 - CAST(tot_above AS DOUBLE) / tot)))"
)


@_q(
    "q_mood_median",
    f"""
    WITH v AS (
        SELECT event_type, value, event_id FROM events
        WHERE value IS NOT NULL
    ), r AS (
        SELECT value,
               ROW_NUMBER() OVER (ORDER BY value, event_id) AS rn,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM v
    ), med AS (
        SELECT value AS med FROM r WHERE rn = (n + 1) // 2
    ), cls AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN value > med THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_above,
               CAST(SUM(CASE WHEN value < med THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_below,
               CAST(SUM(CASE WHEN value = med THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_tie,
               CAST(COUNT(*) AS BIGINT) AS n_g
        FROM v CROSS JOIN med GROUP BY event_type
    ), tot AS (
        SELECT CAST(SUM(n_above) AS BIGINT) AS tot_above,
               CAST(SUM(n_g) AS BIGINT) AS tot
        FROM cls
    )
    SELECT event_type, n_g, n_above, n_below, n_tie,
           {_MOOD_RES} AS residual
    FROM cls CROSS JOIN tot
    """,
)
def q_mood_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_streaming_spark.plans.rank import global_rank

    v = (
        t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select("event_type", "value", "event_id")
    )
    r = global_rank(
        v.select("value", "event_id"),
        ["value", "event_id"],
        rank_col="rn",
        total_col="n",
    )
    med = r.where(F.col("rn") == F.expr("(n + 1) DIV 2")).select(
        F.col("value").alias("med")
    )
    cls = (
        v.crossJoin(F.broadcast(med))
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("value") > F.col("med"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_above"),
            F.sum(F.when(F.col("value") < F.col("med"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_below"),
            F.sum(F.when(F.col("value") == F.col("med"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_tie"),
            F.count(F.lit(1)).cast("bigint").alias("n_g"),
        )
    )
    tot = cls.agg(
        F.sum("n_above").cast("bigint").alias("tot_above"),
        F.sum("n_g").cast("bigint").alias("tot"),
    )
    return cls.crossJoin(F.broadcast(tot)).selectExpr(
        "event_type",
        "n_g",
        "n_above",
        "n_below",
        "n_tie",
        f"{_MOOD_RES} AS residual",
    )


# --- MASE + tracking signal of the seasonal-naive forecast (round 6) ---------
# Forecast-accuracy floor every model must beat, on the daily click
# series: seasonal-naive (lag-7) absolute errors scaled by the in-sample
# naive (lag-1) MAE, plus the cumulative-bias tracking signal. Sums of
# absolute integer errors stay BIGINT; mase = sae7*n1 / (sae1*n7) and
# ts = se7*n7 / sae7 are each ONE division over exact integer products.
# Plan: one day aggregate (bounded O(days)) + two lag self-joins.
@_q(
    "q_mase",
    """
    WITH daily AS (
        SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events WHERE event_type = 'click' GROUP BY 1
    ), e1 AS (
        SELECT a.x - b.x AS e FROM daily a JOIN daily b ON a.day = b.day + 1
    ), e7 AS (
        SELECT a.x - b.x AS e FROM daily a JOIN daily b ON a.day = b.day + 7
    ), s AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM e1) AS n1,
               (SELECT CAST(SUM(ABS(e)) AS BIGINT) FROM e1) AS sae1,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM e7) AS n7,
               (SELECT CAST(SUM(ABS(e)) AS BIGINT) FROM e7) AS sae7,
               (SELECT CAST(SUM(e) AS BIGINT) FROM e7) AS se7
    )
    SELECT n1, sae1, n7, sae7, se7,
           CAST(sae7 * n1 AS DOUBLE) / CAST(sae1 * n7 AS DOUBLE) AS mase,
           CAST(se7 * n7 AS DOUBLE) / CAST(sae7 AS DOUBLE)
               AS tracking_signal
    FROM s
    """,
)
def q_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        t(spark, sf_dir, "events")
        .where(F.col("event_type") == "click")
        .groupBy(
            F.expr("CAST(floor(unix_timestamp(ts) / 86400) AS BIGINT)").alias(
                "day"
            )
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    a, b = daily.alias("a"), daily.alias("b")

    def errs(lag: int) -> DataFrame:
        return a.join(
            b, F.col("a.day") == F.col("b.day") + lag
        ).select((F.col("a.x") - F.col("b.x")).alias("e"))

    s1 = errs(1).agg(
        F.count(F.lit(1)).cast("bigint").alias("n1"),
        F.sum(F.abs(F.col("e"))).cast("bigint").alias("sae1"),
    )
    s7 = errs(7).agg(
        F.count(F.lit(1)).cast("bigint").alias("n7"),
        F.sum(F.abs(F.col("e"))).cast("bigint").alias("sae7"),
        F.sum("e").cast("bigint").alias("se7"),
    )
    return s1.crossJoin(s7).selectExpr(
        "n1",
        "sae1",
        "n7",
        "sae7",
        "se7",
        "CAST(sae7 * n1 AS DOUBLE) / CAST(sae1 * n7 AS DOUBLE) AS mase",
        "CAST(se7 * n7 AS DOUBLE) / CAST(sae7 AS DOUBLE) AS tracking_signal",
    )


# --- Cox-Stuart trend sign test (round 6) ------------------------------------
# The assumption-free trend check: pair day i with day i + n/2 and count
# sign flips — a significant surplus of '+' means upward trend. Pairs
# come from one integer-index self-join over the O(days) daily series
# (bounded relation); the output is pure integer counts.
@_q(
    "q_cox_stuart",
    """
    WITH daily AS (
        SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events WHERE event_type = 'click' GROUP BY 1
    ), idx AS (
        SELECT x, ROW_NUMBER() OVER (ORDER BY day) AS i,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM daily
    ), pairs AS (
        SELECT a.x AS xa, b.x AS xb
        FROM idx a JOIN idx b ON b.i = a.i + a.n // 2
        WHERE a.i <= a.n // 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN xb > xa THEN 1 ELSE 0 END) AS BIGINT)
               AS n_plus,
           CAST(SUM(CASE WHEN xb < xa THEN 1 ELSE 0 END) AS BIGINT)
               AS n_minus,
           CAST(SUM(CASE WHEN xb > xa THEN 1 ELSE 0 END)
                - SUM(CASE WHEN xb < xa THEN 1 ELSE 0 END) AS BIGINT)
               AS trend_sign
    FROM pairs
    """,
)
def q_cox_stuart(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        t(spark, sf_dir, "events")
        .where(F.col("event_type") == "click")
        .groupBy(
            F.expr("CAST(floor(unix_timestamp(ts) / 86400) AS BIGINT)").alias(
                "day"
            )
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    # bounded: daily series — O(days) rows
    idx = daily.select(
        "x",
        F.row_number().over(Window.orderBy("day")).alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    a, b = idx.alias("a"), idx.alias("b")
    pairs = a.join(
        b, F.col("b.i") == F.col("a.i") + F.expr("a.n DIV 2")
    ).where(F.expr("a.i <= a.n DIV 2")).select(
        F.col("a.x").alias("xa"), F.col("b.x").alias("xb")
    )
    return pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.when(F.col("xb") > F.col("xa"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_plus"),
        F.sum(F.when(F.col("xb") < F.col("xa"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_minus"),
        (
            F.sum(F.when(F.col("xb") > F.col("xa"), 1).otherwise(0))
            - F.sum(F.when(F.col("xb") < F.col("xa"), 1).otherwise(0))
        )
        .cast("bigint")
        .alias("trend_sign"),
    )


# --- Grubbs outlier test on the daily series (round 6) -----------------------
# Single-outlier test: G = max|x - mean| / sd over daily click counts.
# The deviation is kept EXACT until the last op: |x*n - S| is a BIGINT
# (so the argmax day is integer-selected, tie-broken by earliest day via
# an integer equality join + MIN), and G = M / (n * sd) with sd from the
# exact (n, S, Q) sufficient statistics — one shared-text IEEE chain.
_GRUBBS_G = (
    "(CAST(m AS DOUBLE) / (CAST(n AS DOUBLE)"
    " * sqrt(CAST(n * q - s * s AS DOUBLE)"
    " / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))))"
)


@_q(
    "q_grubbs",
    f"""
    WITH daily AS (
        SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events WHERE event_type = 'click' GROUP BY 1
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS s,
               CAST(SUM(x * x) AS BIGINT) AS q
        FROM daily
    ), dev AS (
        SELECT day, x, ABS(x * n - s) AS d FROM daily CROSS JOIN s
    ), mx AS (
        SELECT CAST(MAX(d) AS BIGINT) AS m FROM dev
    )
    SELECT s.n AS n_days,
           (SELECT CAST(MIN(day) AS BIGINT) FROM dev, mx WHERE d = m)
               AS suspect_day,
           (SELECT CAST(MIN(x) AS BIGINT) FROM dev, mx WHERE d = m)
               AS suspect_count,
           {_GRUBBS_G} AS g_stat
    FROM s CROSS JOIN mx
    """,
)
def q_grubbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        t(spark, sf_dir, "events")
        .where(F.col("event_type") == "click")
        .groupBy(
            F.expr("CAST(floor(unix_timestamp(ts) / 86400) AS BIGINT)").alias(
                "day"
            )
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    s = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("q"),
    )
    dev = daily.crossJoin(F.broadcast(s)).select(
        "day", "x", F.abs(F.col("x") * F.col("n") - F.col("s")).alias("d")
    )
    mx = dev.agg(F.max("d").cast("bigint").alias("m"))
    pick = (
        dev.join(F.broadcast(mx), F.col("d") == F.col("m"))
        .agg(
            F.min("day").cast("bigint").alias("suspect_day"),
            F.min("x").cast("bigint").alias("suspect_count"),
        )
    )
    return (
        s.crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(pick))
        .selectExpr(
            "n AS n_days",
            "suspect_day",
            "suspect_count",
            f"{_GRUBBS_G} AS g_stat",
        )
    )


# --- Ansari-Bradley scale test (round 6) -------------------------------------
# Rank-based dispersion comparison of click vs view values: pooled
# ranks under the (value, event_id) total order fold inward as
# min(rank, n+1-rank) — small scores at the extremes, large in the
# middle — and each group's score sum is compared to its null
# expectation. The pooled rank rides the range-partitioned ranker
# (plans/rank.py); scores and sums are exact BIGINTs; the expectation
# is one shared-text CASE (even/odd n). (Textbook midrank tie handling
# is replaced by the deterministic total order — documented deviation,
# identical in both engines.)
_AB_EXP = (
    "(CASE WHEN n % 2 = 0"
    " THEN CAST(n_g AS DOUBLE) * (n + 2) / 4.0"
    " ELSE CAST(n_g AS DOUBLE) * (n + 1) * (n + 1) / (4.0 * n) END)"
)


@_q(
    "q_ansari_bradley",
    f"""
    WITH v AS (
        SELECT event_type, value, event_id FROM events
        WHERE value IS NOT NULL AND event_type IN ('click', 'view')
    ), r AS (
        SELECT event_type,
               ROW_NUMBER() OVER (ORDER BY value, event_id) AS rn,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM v
    ), s AS (
        SELECT event_type,
               CAST(MAX(n) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS n_g,
               CAST(SUM(LEAST(rn, n + 1 - rn)) AS BIGINT) AS ab_sum
        FROM r GROUP BY event_type
    )
    SELECT event_type, n_g, ab_sum,
           {_AB_EXP} AS expected_sum,
           CAST(ab_sum AS DOUBLE) - {_AB_EXP} AS deviation
    FROM s
    """,
)
def q_ansari_bradley(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = (
        t(spark, sf_dir, "events")
        .where(
            F.col("value").isNotNull()
            & F.col("event_type").isin("click", "view")
        )
        .select("event_type", "value", "event_id")
    )
    r = global_rank(
        v, ["value", "event_id"], rank_col="rn", total_col="n"
    ).select("event_type", "rn", "n")
    s = r.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum(F.least(F.col("rn"), F.col("n") + 1 - F.col("rn")))
        .cast("bigint")
        .alias("ab_sum"),
    )
    return s.selectExpr(
        "event_type",
        "n_g",
        "ab_sum",
        f"{_AB_EXP} AS expected_sum",
        f"CAST(ab_sum AS DOUBLE) - {_AB_EXP} AS deviation",
    )


# --- Page's L trend test over week blocks (round 6) --------------------------
# Ordered-alternatives test: within each COMPLETE week (all 7 days
# present), rank the daily click counts 1..7 (ties broken by day of
# week — deterministic total order); Page's L = Σ_dow (dow+1) · R_dow
# where R_dow is the rank sum across weeks. Every rank window is
# PARTITIONED by week; the output is pure integers.
@_q(
    "q_page_trend",
    """
    WITH daily AS (
        SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events WHERE event_type = 'click' GROUP BY 1
    ), wk AS (
        SELECT day // 7 AS week, day % 7 AS dow, x FROM daily
    ), full_weeks AS (
        SELECT week FROM wk GROUP BY week HAVING COUNT(*) = 7
    ), ranked AS (
        SELECT w.week, w.dow,
               ROW_NUMBER() OVER (PARTITION BY w.week
                                  ORDER BY w.x, w.dow) AS r
        FROM wk w JOIN full_weeks USING (week)
    ), sums AS (
        SELECT dow, CAST(SUM(r) AS BIGINT) AS rank_sum,
               CAST(COUNT(*) AS BIGINT) AS n_weeks
        FROM ranked GROUP BY dow
    )
    SELECT CAST(MAX(n_weeks) AS BIGINT) AS n_weeks,
           CAST(SUM((dow + 1) * rank_sum) AS BIGINT) AS page_l
    FROM sums
    """,
)
def q_page_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        t(spark, sf_dir, "events")
        .where(F.col("event_type") == "click")
        .groupBy(
            F.expr("CAST(floor(unix_timestamp(ts) / 86400) AS BIGINT)").alias(
                "day"
            )
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    wk = daily.selectExpr("day DIV 7 AS week", "day % 7 AS dow", "x")
    full_weeks = wk.groupBy("week").agg(F.count(F.lit(1)).alias("c")).where(
        F.col("c") == 7
    ).select("week")
    ranked = wk.join(full_weeks, "week").select(
        "week",
        "dow",
        F.row_number()
        .over(Window.partitionBy("week").orderBy("x", "dow"))
        .alias("r"),
    )
    sums = ranked.groupBy("dow").agg(
        F.sum("r").cast("bigint").alias("rank_sum"),
        F.count(F.lit(1)).cast("bigint").alias("n_weeks"),
    )
    return sums.agg(
        F.max("n_weeks").cast("bigint").alias("n_weeks"),
        F.sum((F.col("dow") + 1) * F.col("rank_sum"))
        .cast("bigint")
        .alias("page_l"),
    )


# --- Hodges-Lehmann location estimator (round 6) -----------------------------
# The robust pseudo-median of the daily click series: the median of all
# Walsh averages (x_i + x_j)/2, i <= j. Pair sums stay BIGINT; the
# median SUM is SELECTED under the (s, i, j) total order (lower middle)
# and the single division by 2 happens last — so the estimate is exact.
# Pairs come from an O(days²) self-join — bounded at any corpus size.
@_q(
    "q_hodges_lehmann",
    """
    WITH daily AS (
        SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events WHERE event_type = 'click' GROUP BY 1
    ), pairs AS (
        SELECT a.x + b.x AS s, a.day AS i, b.day AS j
        FROM daily a JOIN daily b ON a.day <= b.day
    ), r AS (
        SELECT s,
               ROW_NUMBER() OVER (ORDER BY s, i, j) AS rn,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM pairs
    )
    SELECT CAST((SELECT COUNT(*) FROM daily) AS BIGINT) AS n_days,
           CAST(MAX(n) AS BIGINT) AS n_pairs,
           CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN s END) AS DOUBLE) / 2.0
               AS hl_estimate
    FROM r
    """,
)
def q_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        t(spark, sf_dir, "events")
        .where(F.col("event_type") == "click")
        .groupBy(
            F.expr("CAST(floor(unix_timestamp(ts) / 86400) AS BIGINT)").alias(
                "day"
            )
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(b, F.col("a.day") <= F.col("b.day")).select(
        (F.col("a.x") + F.col("b.x")).alias("s"),
        F.col("a.day").alias("i"),
        F.col("b.day").alias("j"),
    )
    # bounded: Walsh-average pairs of the daily series — O(days²) rows
    r = pairs.select(
        "s",
        F.row_number().over(Window.orderBy("s", "i", "j")).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    nd = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    return (
        r.agg(
            F.max("n").cast("bigint").alias("n_pairs"),
            (
                F.max(
                    F.when(F.col("rn") == F.expr("(n + 1) DIV 2"), F.col("s"))
                ).cast("double")
                / 2.0
            ).alias("hl_estimate"),
        )
        .crossJoin(F.broadcast(nd))
        .select("n_days", "n_pairs", "hl_estimate")
    )


# --- exact Gini coefficient of customer revenue (round 6) --------------------
# The single-number inequality headline above q_lorenz_deciles' curve:
# G = (2·Σ rank·x − (n+1)·Σx) / (n·Σx) over per-customer revenue cents,
# ranked ascending by (cents, custkey) via the range-partitioned ranker
# (plans/rank.py). Σ rank·x stays BIGINT at the gate scales (~1e14 at
# sf0.1; route it through DECIMAL(38,0) partials beyond ~sf10 — noted,
# the formula is unchanged); G is one shared-text division chain.
_GINI_G = (
    "((2.0 * CAST(w AS DOUBLE) - CAST(n + 1 AS DOUBLE) * CAST(s AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE)))"
)


@_q(
    "q_gini_revenue",
    f"""
    WITH rev AS (
        SELECT o_custkey,
               CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey
    ), r AS (
        SELECT cents,
               ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS rn
        FROM rev
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS s,
               CAST(SUM(rn * cents) AS BIGINT) AS w
        FROM r
    )
    SELECT n AS n_customers, s AS total_cents, w AS rank_weighted_cents,
           {_GINI_G} AS gini
    FROM s
    """,
)
def q_gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    rev = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.expr("CAST(floor(o_totalprice * 100.0) AS BIGINT)"))
            .cast("bigint")
            .alias("cents")
        )
    )
    r = global_rank(rev, ["cents", "o_custkey"], rank_col="rn")
    s = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
        F.sum(F.col("rn") * F.col("cents")).cast("bigint").alias("w"),
    )
    return s.selectExpr(
        "n AS n_customers",
        "s AS total_cents",
        "w AS rank_weighted_cents",
        f"{_GINI_G} AS gini",
    )


# --- global percentile placement (round 6) -----------------------------------
# PERCENT_RANK over the whole orders fact, distributed: with the unique
# (o_totalprice, o_orderkey) total order, SQL PERCENT_RANK's RANK equals
# ROW_NUMBER, so the placement is (rn − 1)/(n − 1) off the range-
# partitioned ranker (plans/rank.py) — bit-identical to the oracle's
# window and never a single sort task. Output is one row per order
# (the operator IS the per-row feature).
@_q(
    "q_percent_rank",
    """
    SELECT o_orderkey, o_totalprice,
           PERCENT_RANK() OVER (ORDER BY o_totalprice, o_orderkey) AS pct
    FROM orders
    """,
)
def q_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    r = global_rank(
        o, ["o_totalprice", "o_orderkey"], rank_col="_rn", total_col="_n"
    )
    return r.select(
        "o_orderkey",
        "o_totalprice",
        (
            (F.col("_rn") - 1).cast("double")
            / (F.col("_n") - 1).cast("double")
        ).alias("pct"),
    )


# --- fixed-width histogram with empty bins (round 6) -------------------------
# The reporting histogram q_equidepth_bins (equal COUNT) does not give:
# equal WIDTH buckets including the empty ones — a generated bucket grid
# left-joined against the aggregated counts, so gaps render as 0 rather
# than vanishing. Bucket ids are integer floor-divisions; the grid spans
# [min_bucket, max_bucket] via sequence/generate_series. All integers.
_BH_WIDTH = 50_000


@_q(
    "q_bucket_histogram",
    f"""
    WITH b AS (
        SELECT CAST(floor(o_totalprice / {_BH_WIDTH}) AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders GROUP BY 1
    ), ext AS (
        SELECT CAST(MIN(bucket) AS BIGINT) AS lo,
               CAST(MAX(bucket) AS BIGINT) AS hi
        FROM b
    ), grid AS (
        SELECT unnest(generate_series(lo, hi)) AS bucket FROM ext
    )
    SELECT g.bucket,
           CAST(g.bucket * {_BH_WIDTH} AS BIGINT) AS lo_price,
           CAST((g.bucket + 1) * {_BH_WIDTH} AS BIGINT) AS hi_price,
           CAST(COALESCE(b.n, 0) AS BIGINT) AS n_orders
    FROM grid g LEFT JOIN b ON g.bucket = b.bucket
    """,
)
def q_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = (
        t(spark, sf_dir, "orders")
        .groupBy(
            F.expr(f"CAST(floor(o_totalprice / {_BH_WIDTH}) AS BIGINT)").alias(
                "bucket"
            )
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    ext = b.agg(
        F.min("bucket").cast("bigint").alias("lo"),
        F.max("bucket").cast("bigint").alias("hi"),
    )
    grid = ext.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("bucket")
    )
    return (
        grid.join(b, "bucket", "left")
        .select(
            "bucket",
            (F.col("bucket") * _BH_WIDTH).cast("bigint").alias("lo_price"),
            ((F.col("bucket") + 1) * _BH_WIDTH)
            .cast("bigint")
            .alias("hi_price"),
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n_orders"),
        )
    )


# --- first-touch / last-touch journey matrix (round 6) -----------------------
# Per user, the chronologically first and last event types (selected
# exactly via min_by/max_by over the (ts, event_id) struct — the
# q_ohlc_bars idiom), then the first→last transition matrix with
# shares. Selection is deterministic under the total order; counts are
# exact integers. Plan: one per-user aggregate + one matrix aggregate.
@_q(
    "q_first_last_touch",
    """
    WITH r AS (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS ra,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rd
        FROM events
    ), per AS (
        SELECT user_id,
               MAX(CASE WHEN ra = 1 THEN event_type END) AS first_type,
               MAX(CASE WHEN rd = 1 THEN event_type END) AS last_type
        FROM r GROUP BY user_id
    ), m AS (
        SELECT first_type, last_type, CAST(COUNT(*) AS BIGINT) AS n_users
        FROM per GROUP BY 1, 2
    ), tot AS (SELECT CAST(SUM(n_users) AS BIGINT) AS n FROM m)
    SELECT first_type, last_type, n_users,
           CAST(n_users AS DOUBLE) / n AS share
    FROM m CROSS JOIN tot
    """,
)
def q_first_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    per = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.min_by("event_type", F.struct("ts", "event_id")).alias(
                "first_type"
            ),
            F.max_by("event_type", F.struct("ts", "event_id")).alias(
                "last_type"
            ),
        )
    )
    m = per.groupBy("first_type", "last_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    tot = m.agg(F.sum("n_users").cast("bigint").alias("n"))
    return m.crossJoin(F.broadcast(tot)).select(
        "first_type",
        "last_type",
        "n_users",
        (F.col("n_users").cast("double") / F.col("n")).alias("share"),
    )


# --- day-over-day rank shifts (round 6) --------------------------------------
# Leaderboard churn: rank event types by daily count (PARTITIONED
# per-day windows, deterministic (count desc, type) order), join
# adjacent days, report every type-day whose rank moved. Bounded
# relation throughout (days × types); integer ranks and deltas.
@_q(
    "q_rank_shift",
    """
    WITH daily AS (
        SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day, event_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ), rk AS (
        SELECT day, event_type, n,
               CAST(ROW_NUMBER() OVER (PARTITION BY day
                                       ORDER BY n DESC, event_type)
                    AS BIGINT) AS r
        FROM daily
    )
    SELECT a.day, a.event_type, a.n, a.r AS rank_today,
           b.r AS rank_yesterday,
           CAST(b.r - a.r AS BIGINT) AS rank_gain
    FROM rk a JOIN rk b
      ON a.event_type = b.event_type AND a.day = b.day + 1
    WHERE a.r <> b.r
    """,
)
def q_rank_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        t(spark, sf_dir, "events")
        .groupBy(
            F.expr("CAST(floor(unix_timestamp(ts) / 86400) AS BIGINT)").alias(
                "day"
            ),
            "event_type",
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    rk = daily.select(
        "day",
        "event_type",
        "n",
        F.row_number()
        .over(
            Window.partitionBy("day").orderBy(F.desc("n"), "event_type")
        )
        .cast("bigint")
        .alias("r"),
    )
    a, b = rk.alias("a"), rk.alias("b")
    return (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.day") == F.col("b.day") + 1),
        )
        .where(F.col("a.r") != F.col("b.r"))
        .select(
            F.col("a.day").alias("day"),
            F.col("a.event_type").alias("event_type"),
            F.col("a.n").alias("n"),
            F.col("a.r").alias("rank_today"),
            F.col("b.r").alias("rank_yesterday"),
            (F.col("b.r") - F.col("a.r")).cast("bigint").alias("rank_gain"),
        )
    )


# --- peak concurrent sessions (round 6) --------------------------------------
# Capacity headline: the maximum number of simultaneously open user
# sessions (30-min-gap sessionization) and when it happens. Session
# boundaries become a ±1 delta stream; the concurrency curve is the
# running sum of deltas in (second, delta, user) order — a FACT-SIZED
# global cumulative, computed with the range-partitioned global_order
# (plans/rank.py), never a single-partition window. The argmax second
# is integer-selected (max concurrency, then MIN second — session
# STARTS at the peak tie). Ends sort before starts at the same second
# (delta −1 < +1), the closed-open [start, end) convention.
@_q(
    "q_max_concurrency",
    """
    WITH e AS (
        SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s,
               event_id
        FROM events
    ), marked AS (
        SELECT user_id, s, event_id,
               CASE WHEN s - LAG(s) OVER (PARTITION BY user_id
                                          ORDER BY s, event_id) > 1800
                         OR LAG(s) OVER (PARTITION BY user_id
                                         ORDER BY s, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_start
        FROM e
    ), sess AS (
        SELECT user_id,
               CAST(MIN(s) AS BIGINT) AS s_start,
               CAST(MAX(s) + 1800 AS BIGINT) AS s_end
        FROM (
            SELECT user_id, s,
                   SUM(is_start) OVER (PARTITION BY user_id
                                       ORDER BY s, event_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS sess_id
            FROM marked
        ) GROUP BY user_id, sess_id
    ), deltas AS (
        SELECT s_start AS s, 1 AS delta, user_id FROM sess
        UNION ALL
        SELECT s_end AS s, -1 AS delta, user_id FROM sess
    ), curve AS (
        SELECT s, delta,
               SUM(delta) OVER (ORDER BY s, delta, user_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS conc
        FROM deltas
    ), mx AS (
        SELECT CAST(MAX(conc) AS BIGINT) AS max_concurrency FROM curve
    )
    SELECT mx.max_concurrency,
           (SELECT CAST(MIN(s) AS BIGINT) FROM curve, mx
             WHERE conc = mx.max_concurrency) AS peak_second,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM sess) AS n_sessions
    FROM mx
    """,
)
def q_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.unix_timestamp("ts")).cast("bigint").alias("s"),
        "event_id",
    )
    wu = Window.partitionBy("user_id").orderBy("s", "event_id")
    marked = e.select(
        "user_id",
        "s",
        "event_id",
        F.when(
            (F.col("s") - F.lag("s").over(wu) > 1800)
            | F.lag("s").over(wu).isNull(),
            1,
        )
        .otherwise(0)
        .alias("is_start"),
    )
    # ADVICE r6: the cumulative sess_id window must share the exact
    # (s, event_id) order that derived is_start — ordering by s alone
    # leaves rows tied on (user_id, s) to engine-dependent tie order,
    # and the sf0.1 fixture has such a tie at a session boundary.
    wcum = Window.partitionBy("user_id").orderBy("s", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # sess fans out to THREE consumers (both union legs of deltas + the
    # n_sessions branch); persist once so the per-user sort/sessionize
    # chain over events evaluates once, released between queries by the
    # registry wrapper (plans/rank.py lifecycle).
    sess = track_persist(
        marked.withColumn("sess_id", F.sum("is_start").over(wcum))
        .groupBy("user_id", "sess_id")
        .agg(
            F.min("s").cast("bigint").alias("s_start"),
            (F.max("s") + 1800).cast("bigint").alias("s_end"),
        )
    )
    deltas = sess.select(
        F.col("s_start").alias("s"), F.lit(1).alias("delta"), "user_id"
    ).unionAll(
        sess.select(
            F.col("s_end").alias("s"), F.lit(-1).alias("delta"), "user_id"
        )
    )
    curve = global_order(
        deltas, ["s", "delta", "user_id"], cum_sums={"conc": "delta"}
    ).select("s", F.col("conc").cast("bigint").alias("conc"))
    mx = curve.agg(F.max("conc").cast("bigint").alias("max_concurrency"))
    peak = curve.join(
        F.broadcast(mx), F.col("conc") == F.col("max_concurrency")
    ).agg(F.min("s").cast("bigint").alias("peak_second"))
    ns = sess.agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"))
    return (
        mx.crossJoin(F.broadcast(peak))
        .crossJoin(F.broadcast(ns))
        .select("max_concurrency", "peak_second", "n_sessions")
    )


# --- user lifetime-span distribution (round 6) -------------------------------
# Engagement shape: per user, the span in whole days between first and
# last event; then the span histogram. Exact integer day diffs off one
# per-user min/max aggregate — fully combinable, no windows.
@_q(
    "q_lifetime_span_dist",
    """
    WITH per AS (
        SELECT user_id,
               CAST(floor(epoch(MAX(ts)) / 86400)
                    - floor(epoch(MIN(ts)) / 86400) AS BIGINT) AS span_days
        FROM events GROUP BY user_id
    )
    SELECT span_days,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM per GROUP BY span_days
    """,
)
def q_lifetime_span_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    per = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            (
                F.floor(F.unix_timestamp(F.max("ts")) / 86400)
                - F.floor(F.unix_timestamp(F.min("ts")) / 86400)
            )
            .cast("bigint")
            .alias("span_days")
        )
    )
    return per.groupBy("span_days").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )


# --- deterministic per-group mode (round 6) ----------------------------------
# The exact mode of the cents-quantized value per event type, with the
# tie pinned (count desc, value asc) so both engines select the same
# element — the categorical-imputation statistic approx functions can't
# give exactly. One (type, cents) aggregate + a PARTITIONED argmax.
@_q(
    "q_mode_value",
    """
    WITH c AS (
        SELECT event_type,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    )
    SELECT event_type, cents AS mode_cents, n AS mode_count
    FROM c QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY n DESC, cents) = 1
    """,
)
def q_mode_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .groupBy(
            "event_type",
            F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("cents"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    return (
        c.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy(F.desc("n"), "cents")
            ),
        )
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("cents").alias("mode_cents"),
            F.col("n").alias("mode_count"),
        )
    )


# --- Wilcoxon signed-rank test (round 6) -------------------------------------
# Paired location test: per user, second-half minus first-half event
# counts (integer day-index split); |diffs| ranked GLOBALLY under the
# (|d|, user_id) total order via the range-partitioned ranker
# (plans/rank.py); W+ = Σ ranks of positive diffs — exact BIGINTs, zero
# diffs dropped per the standard procedure. The normal-approximation z
# is one shared-text chain over (w_plus, n).
_WX_Z = (
    "((CAST(w_plus AS DOUBLE) - CAST(n * (n + 1) AS DOUBLE) / 4.0)"
    " / sqrt(CAST(n * (n + 1) * (2 * n + 1) AS DOUBLE) / 24.0))"
)


@_q(
    "q_wilcoxon_signed_rank",
    f"""
    WITH b AS (
        SELECT CAST(MIN(floor(epoch(ts) / 86400)) AS BIGINT) AS d0,
               CAST(MAX(floor(epoch(ts) / 86400)) AS BIGINT) AS d1
        FROM events
    ), per AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN floor(epoch(ts) / 86400) - b.d0
                                  < (b.d1 - b.d0 + 1) // 2
                             THEN 1 ELSE 0 END) AS BIGINT) AS c1,
               CAST(SUM(CASE WHEN floor(epoch(ts) / 86400) - b.d0
                                  >= (b.d1 - b.d0 + 1) // 2
                             THEN 1 ELSE 0 END) AS BIGINT) AS c2
        FROM events CROSS JOIN b GROUP BY user_id
    ), d AS (
        SELECT user_id, c2 - c1 AS diff, ABS(c2 - c1) AS ad
        FROM per WHERE c2 <> c1
    ), r AS (
        SELECT diff,
               CAST(ROW_NUMBER() OVER (ORDER BY ad, user_id) AS BIGINT)
                   AS rn,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM d
    ), s AS (
        SELECT CAST(MAX(n) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN diff > 0 THEN rn ELSE 0 END) AS BIGINT)
                   AS w_plus
        FROM r
    )
    SELECT n, w_plus, {_WX_Z} AS z FROM s
    """,
)
def q_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_streaming_spark.plans.rank import global_rank

    ev = t(spark, sf_dir, "events")
    b = ev.agg(
        F.min(F.floor(F.unix_timestamp("ts") / 86400)).cast("bigint").alias("d0"),
        F.max(F.floor(F.unix_timestamp("ts") / 86400)).cast("bigint").alias("d1"),
    )
    day = "floor(unix_timestamp(ts) / 86400)"
    per = (
        ev.crossJoin(F.broadcast(b))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.expr(
                    f"CASE WHEN {day} - d0 < (d1 - d0 + 1) DIV 2"
                    " THEN 1 ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("c1"),
            F.sum(
                F.expr(
                    f"CASE WHEN {day} - d0 >= (d1 - d0 + 1) DIV 2"
                    " THEN 1 ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("c2"),
        )
    )
    d = per.where(F.col("c2") != F.col("c1")).select(
        "user_id",
        (F.col("c2") - F.col("c1")).alias("diff"),
        F.abs(F.col("c2") - F.col("c1")).alias("ad"),
    )
    r = global_rank(d, ["ad", "user_id"], rank_col="rn", total_col="n")
    s = r.agg(
        F.max("n").cast("bigint").alias("n"),
        F.sum(F.when(F.col("diff") > 0, F.col("rn")).otherwise(0))
        .cast("bigint")
        .alias("w_plus"),
    )
    return s.selectExpr("n", "w_plus", f"{_WX_Z} AS z")


# --- quantile treatment shift (round 6) --------------------------------------
# Where in the distribution do click and view values differ? Per-group
# decile cut points are ELEMENT-SELECTED under each group's
# (value, event_id) total order (PARTITIONED rank — per-group, never
# global), joined side by side with the integer-exact shift in cents.
@_q(
    "q_quantile_shift",
    """
    WITH v AS (
        SELECT event_type,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents, event_id
        FROM events
        WHERE value IS NOT NULL AND event_type IN ('click', 'view')
    ), r AS (
        SELECT event_type, cents,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY cents, event_id) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM v
    ), g AS (
        SELECT CAST(g.x AS BIGINT) AS decile
        FROM (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9)) g(x)
    ), cuts AS (
        SELECT g.decile, r.event_type, MAX(r.cents) AS cut_cents
        FROM g JOIN r ON r.rn = (r.n * g.decile) // 10
        GROUP BY 1, 2
    )
    SELECT a.decile,
           CAST(a.cut_cents AS BIGINT) AS click_cents,
           CAST(b.cut_cents AS BIGINT) AS view_cents,
           CAST(a.cut_cents - b.cut_cents AS BIGINT) AS shift_cents
    FROM cuts a JOIN cuts b
      ON a.decile = b.decile
     AND a.event_type = 'click' AND b.event_type = 'view'
    """,
)
def q_quantile_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = (
        t(spark, sf_dir, "events")
        .where(
            F.col("value").isNotNull()
            & F.col("event_type").isin("click", "view")
        )
        .selectExpr(
            "event_type",
            "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents",
            "event_id",
        )
    )
    wt = Window.partitionBy("event_type")
    r = v.select(
        "event_type",
        "cents",
        F.row_number().over(wt.orderBy("cents", "event_id")).alias("rn"),
        F.count(F.lit(1)).over(wt).cast("bigint").alias("n"),
    )
    g = F.broadcast(
        local_rows(r.sparkSession, [(i,) for i in range(1, 10)], "decile long")
    )
    cuts = (
        g.join(r, r.rn == F.expr("(n * decile) DIV 10"))
        .groupBy("decile", "event_type")
        .agg(F.max("cents").alias("cut_cents"))
    )
    a = cuts.where(F.col("event_type") == "click").select(
        "decile", F.col("cut_cents").alias("click_cents")
    )
    b = cuts.where(F.col("event_type") == "view").select(
        "decile", F.col("cut_cents").alias("view_cents")
    )
    return a.join(b, "decile").select(
        "decile",
        F.col("click_cents").cast("bigint").alias("click_cents"),
        F.col("view_cents").cast("bigint").alias("view_cents"),
        (F.col("click_cents") - F.col("view_cents"))
        .cast("bigint")
        .alias("shift_cents"),
    )


# --- month-over-month revenue bridge (round 6) -------------------------------
# The FP&A decomposition: ΔRev between adjacent months split into a
# volume effect (Δn · avg price, base month) and a price/mix effect
# (residual). Division-free: effects are reported as cents·n products
# cleared of denominators — volume_effect_scaled = (n2 − n1)·c1 and
# mix_effect_scaled = n1·c2 − n2·c1 are exact BIGINTs satisfying
# v + m = (c2 − c1)·n1 ... the bridge identity is checked by the
# oracle's own algebra. One month aggregate + adjacent-month self-join
# (bounded O(months)); calendar month index via EXTRACT (the
# q_monthly_swing idiom — both engines agree on calendar extraction).
@_q(
    "q_revenue_bridge",
    """
    WITH m AS (
        SELECT CAST(EXTRACT(year FROM o_orderdate) * 12
                    + EXTRACT(month FROM o_orderdate) AS BIGINT) AS midx,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1
    )
    SELECT a.midx,
           a.n AS n_orders, b.n AS prev_n_orders,
           a.cents AS cents, b.cents AS prev_cents,
           CAST(a.cents - b.cents AS BIGINT) AS delta_cents,
           CAST((a.n - b.n) * b.cents AS BIGINT) AS volume_effect_nscaled,
           CAST(b.n * a.cents - a.n * b.cents AS BIGINT)
               AS mix_effect_nscaled
    FROM m a JOIN m b ON a.midx = b.midx + 1
    """,
)
def q_revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = (
        t(spark, sf_dir, "orders")
        .groupBy(
            F.expr(
                "CAST(EXTRACT(year FROM o_orderdate) * 12"
                " + EXTRACT(month FROM o_orderdate) AS BIGINT)"
            ).alias("midx")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.expr("CAST(floor(o_totalprice * 100.0) AS BIGINT)"))
            .cast("bigint")
            .alias("cents"),
        )
    )
    a, b = m.alias("a"), m.alias("b")
    return a.join(b, F.col("a.midx") == F.col("b.midx") + 1).select(
        F.col("a.midx").alias("midx"),
        F.col("a.n").alias("n_orders"),
        F.col("b.n").alias("prev_n_orders"),
        F.col("a.cents").alias("cents"),
        F.col("b.cents").alias("prev_cents"),
        (F.col("a.cents") - F.col("b.cents")).cast("bigint").alias(
            "delta_cents"
        ),
        ((F.col("a.n") - F.col("b.n")) * F.col("b.cents"))
        .cast("bigint")
        .alias("volume_effect_nscaled"),
        (F.col("b.n") * F.col("a.cents") - F.col("a.n") * F.col("b.cents"))
        .cast("bigint")
        .alias("mix_effect_nscaled"),
    )


# --- session-size distribution (round 6) -------------------------------------
# How many events does a session hold? 30-min-gap sessionization (the
# q_max_concurrency boundary rule), then the session-size histogram —
# engagement shape in one relation. Partitioned windows only; integer
# histogram.
@_q(
    "q_session_size_dist",
    """
    WITH e AS (
        SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s, event_id
        FROM events
    ), marked AS (
        SELECT user_id, s, event_id,
               CASE WHEN s - LAG(s) OVER (PARTITION BY user_id
                                          ORDER BY s, event_id) > 1800
                         OR LAG(s) OVER (PARTITION BY user_id
                                         ORDER BY s, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_start
        FROM e
    ), sess AS (
        SELECT user_id,
               SUM(is_start) OVER (PARTITION BY user_id ORDER BY s, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS sess_id
        FROM marked
    ), sizes AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS session_size
        FROM sess GROUP BY user_id, sess_id
    )
    SELECT session_size, CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM sizes GROUP BY session_size
    """,
)
def q_session_size_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.unix_timestamp("ts")).cast("bigint").alias("s"),
        "event_id",
    )
    wu = Window.partitionBy("user_id").orderBy("s", "event_id")
    marked = e.select(
        "user_id",
        "s",
        "event_id",
        F.when(
            (F.col("s") - F.lag("s").over(wu) > 1800)
            | F.lag("s").over(wu).isNull(),
            1,
        )
        .otherwise(0)
        .alias("is_start"),
    )
    # ADVICE r6: sess_id cumulative must use the same (s, event_id) tie
    # order that derived is_start (see q_max_concurrency).
    wcum = Window.partitionBy("user_id").orderBy("s", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sizes = (
        marked.withColumn("sess_id", F.sum("is_start").over(wcum))
        .groupBy("user_id", "sess_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("session_size"))
    )
    return sizes.groupBy("session_size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions")
    )


# --- first-week activation split (round 6) -----------------------------------
# Growth accounting's activation lens: per user, events inside the
# first 7 days after their own first event vs after; the activation
# share per cohort week of first touch. Exact integer day arithmetic
# off one per-user min broadcast-free self-aggregate.
@_q(
    "q_activation_week",
    """
    WITH per AS (
        SELECT user_id,
               CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d,
               CAST(MIN(floor(epoch(ts) / 86400))
                    OVER (PARTITION BY user_id) AS BIGINT) AS d0
        FROM events
    ), agg AS (
        SELECT user_id, CAST(MIN(d0) // 7 AS BIGINT) AS cohort_week,
               CAST(SUM(CASE WHEN d - d0 < 7 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_first_week,
               CAST(SUM(CASE WHEN d - d0 >= 7 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_later
        FROM per GROUP BY user_id
    )
    SELECT cohort_week,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(n_first_week) AS BIGINT) AS first_week_events,
           CAST(SUM(n_later) AS BIGINT) AS later_events,
           CAST(SUM(CASE WHEN n_later > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_retained,
           CAST(SUM(CASE WHEN n_later > 0 THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS retained_share
    FROM agg GROUP BY cohort_week
    """,
)
def q_activation_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    per = t(spark, sf_dir, "events").select(
        "user_id",
        F.expr("CAST(floor(unix_timestamp(ts) / 86400) AS BIGINT)").alias("d"),
    ).withColumn(
        "d0",
        F.min("d").over(Window.partitionBy("user_id")).cast("bigint"),
    )
    agg = per.groupBy("user_id").agg(
        F.expr("CAST(MIN(d0) DIV 7 AS BIGINT)").alias("cohort_week"),
        F.sum(F.when(F.col("d") - F.col("d0") < 7, 1).otherwise(0))
        .cast("bigint")
        .alias("n_first_week"),
        F.sum(F.when(F.col("d") - F.col("d0") >= 7, 1).otherwise(0))
        .cast("bigint")
        .alias("n_later"),
    )
    return agg.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("n_first_week").cast("bigint").alias("first_week_events"),
        F.sum("n_later").cast("bigint").alias("later_events"),
        F.sum(F.when(F.col("n_later") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_retained"),
        (
            F.sum(F.when(F.col("n_later") > 0, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("retained_share"),
    )


# --- Atkinson inequality index, ε = 2 (round 6) ------------------------------
# The welfare-weighted inequality companion to q_gini_revenue: A(2) =
# 1 − harmonic_mean/μ over per-customer revenue. The harmonic sum's
# reciprocals are PRE-QUANTIZED per row (floor(1e12/cents) — exact
# integer division, identical both engines), so the fold is an
# order-free BIGINT sum; the final index is one shared-text chain over
# (n, Σcents, Σrecip_q).
_ATK_A = (
    "(1.0 - (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 1000000000000.0"
    " / CAST(rq AS DOUBLE)) / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))"
)


@_q(
    "q_atkinson_index",
    f"""
    WITH rev AS (
        SELECT o_custkey,
               CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS s,
               CAST(SUM(1000000000000 // cents) AS BIGINT) AS rq
        FROM rev WHERE cents > 0
    )
    SELECT n AS n_customers, s AS total_cents, rq AS recip_q_sum,
           {_ATK_A} AS atkinson_2
    FROM s
    """,
)
def q_atkinson_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    rev = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.expr("CAST(floor(o_totalprice * 100.0) AS BIGINT)"))
            .cast("bigint")
            .alias("cents")
        )
    )
    s = rev.where(F.col("cents") > 0).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
        F.sum(F.expr("1000000000000 DIV cents")).cast("bigint").alias("rq"),
    )
    return s.selectExpr(
        "n AS n_customers",
        "s AS total_cents",
        "rq AS recip_q_sum",
        f"{_ATK_A} AS atkinson_2",
    )


# --- graph conductance of the parity cut (round 6) ---------------------------
# How partition-friendly is the supplier–part co-purchase graph? For
# the supplier-key parity cut: conductance = cut_edges / min(vol_even,
# vol_odd) over the distinct (supplier, part) edge set — all integer
# counts, one division. One distinct-edge aggregate; the cut test is a
# per-edge parity expression (no join at all).
@_q(
    "q_graph_conductance",
    """
    WITH e AS (
        SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
               CAST(SUM(CASE WHEN s % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS vol_even,
               CAST(SUM(CASE WHEN s % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS vol_odd,
               CAST(SUM(CASE WHEN s % 2 <> p % 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS cut_edges
        FROM e
    )
    SELECT n_edges, vol_even, vol_odd, cut_edges,
           CAST(cut_edges AS DOUBLE) / LEAST(vol_even, vol_odd)
               AS conductance
    FROM agg
    """,
)
def q_graph_conductance(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (
        t(spark, sf_dir, "lineitem")
        .select(
            F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
        )
        .distinct()
    )
    agg = e.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges"),
        F.sum(F.when(F.col("s") % 2 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("vol_even"),
        F.sum(F.when(F.col("s") % 2 == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("vol_odd"),
        F.sum(F.when(F.col("s") % 2 != F.col("p") % 2, 1).otherwise(0))
        .cast("bigint")
        .alias("cut_edges"),
    )
    return agg.selectExpr(
        "n_edges",
        "vol_even",
        "vol_odd",
        "cut_edges",
        "CAST(cut_edges AS DOUBLE) / LEAST(vol_even, vol_odd)"
        " AS conductance",
    )


# --- weighted Jaccard between adjacent days (round 6) ------------------------
# q_dau_overlap's binary user overlap, upgraded to event WEIGHT: per
# adjacent day pair, Σ min(c₁,c₂)/Σ max(c₁,c₂) over per-user event
# counts — exact integers until one division. The day-pair join keys on
# (user, day+1): never a cross-day cartesian.
@_q(
    "q_weighted_jaccard_days",
    """
    WITH ud AS (
        SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d, user_id,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), x AS (SELECT d, user_id, c AS c1 FROM ud),
    y AS (SELECT d - 1 AS d, user_id, c AS c2 FROM ud),
    p AS (
        SELECT COALESCE(x.d, y.d) AS d,
               COALESCE(x.c1, 0) AS c1, COALESCE(y.c2, 0) AS c2
        FROM x FULL JOIN y ON x.d = y.d AND x.user_id = y.user_id
    ), days AS (SELECT DISTINCT d FROM ud),
    valid AS (
        SELECT a.d FROM days a JOIN days b ON b.d = a.d + 1
    )
    SELECT p.d AS day,
           CAST(SUM(LEAST(c1, c2)) AS BIGINT) AS min_sum,
           CAST(SUM(GREATEST(c1, c2)) AS BIGINT) AS max_sum,
           CAST(SUM(LEAST(c1, c2)) AS DOUBLE) / SUM(GREATEST(c1, c2))
               AS weighted_jaccard
    FROM p JOIN valid ON p.d = valid.d GROUP BY p.d
    """,
)
def q_weighted_jaccard_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    ud = (
        t(spark, sf_dir, "events")
        .groupBy(
            F.expr("CAST(floor(unix_timestamp(ts) / 86400) AS BIGINT)").alias(
                "d"
            ),
            "user_id",
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    x = ud.select("d", "user_id", F.col("c").alias("c1"))
    y = ud.select(
        (F.col("d") - 1).alias("d"), "user_id", F.col("c").alias("c2")
    )
    pairs = x.join(y, ["d", "user_id"], "full").select(
        "d",
        F.coalesce("c1", F.lit(0)).alias("c1"),
        F.coalesce("c2", F.lit(0)).alias("c2"),
    )
    # keep only days that exist on BOTH sides' calendars (a full join
    # row with d from the shifted side only would fabricate a pair for
    # the day before the first day)
    days = ud.select("d").distinct()
    valid = days.alias("a").join(
        days.alias("b"), F.col("b.d") == F.col("a.d") + 1
    ).select(F.col("a.d").alias("d"))
    return (
        pairs.join(F.broadcast(valid), "d")
        .groupBy(F.col("d").alias("day"))
        .agg(
            F.sum(F.least("c1", "c2")).cast("bigint").alias("min_sum"),
            F.sum(F.greatest("c1", "c2")).cast("bigint").alias("max_sum"),
            (
                F.sum(F.least("c1", "c2")).cast("double")
                / F.sum(F.greatest("c1", "c2"))
            ).alias("weighted_jaccard"),
        )
    )


# --- new-item revenue share (round 6) ----------------------------------------
# Assortment freshness: parts FIRST sold in the trailing 90 days before
# the corpus frontier, and their share of trailing-90-day revenue.
# Exact: first-sale day per part is an integer MIN; the frontier is a
# 1-row broadcast; revenue is exact cents. One part aggregate + one
# trailing-window aggregate.
@_q(
    "q_new_items_share",
    """
    WITH f AS (
        SELECT CAST(MAX(floor(epoch(l_shipdate) / 86400)) AS BIGINT) AS fd
        FROM lineitem
    ), firsts AS (
        SELECT l_partkey,
               CAST(MIN(floor(epoch(l_shipdate) / 86400)) AS BIGINT)
                   AS first_day
        FROM lineitem GROUP BY l_partkey
    ), tr90 AS (
        SELECT l.l_partkey,
               CAST(floor(l.l_extendedprice * 100.0) AS BIGINT) AS cents,
               fi.first_day, f.fd
        FROM lineitem l
        JOIN firsts fi ON l.l_partkey = fi.l_partkey
        CROSS JOIN f
        WHERE floor(epoch(l.l_shipdate) / 86400) > f.fd - 90
    )
    SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts_sold,
           CAST(COUNT(DISTINCT CASE WHEN first_day > fd - 90
                                    THEN l_partkey END) AS BIGINT)
               AS n_new_parts,
           CAST(SUM(cents) AS BIGINT) AS trailing_cents,
           CAST(SUM(CASE WHEN first_day > fd - 90 THEN cents ELSE 0 END)
                AS BIGINT) AS new_part_cents,
           CAST(SUM(CASE WHEN first_day > fd - 90 THEN cents ELSE 0 END)
                AS DOUBLE) / SUM(cents) AS new_revenue_share
    FROM tr90
    """,
)
def q_new_items_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    day = "CAST(floor(unix_timestamp(l_shipdate) / 86400) AS BIGINT)"
    f = li.agg(F.expr(f"MAX({day})").cast("bigint").alias("fd"))
    firsts = li.groupBy("l_partkey").agg(
        F.expr(f"MIN({day})").cast("bigint").alias("first_day")
    )
    trailing = (
        li.select(
            "l_partkey",
            F.expr("CAST(floor(l_extendedprice * 100.0) AS BIGINT)").alias(
                "cents"
            ),
            F.expr(day).alias("d"),
        )
        .join(firsts, "l_partkey")
        .crossJoin(F.broadcast(f))
        .where(F.col("d") > F.col("fd") - 90)
    )
    return trailing.agg(
        F.countDistinct("l_partkey").cast("bigint").alias("n_parts_sold"),
        F.countDistinct(
            F.when(F.col("first_day") > F.col("fd") - 90, F.col("l_partkey"))
        )
        .cast("bigint")
        .alias("n_new_parts"),
        F.sum("cents").cast("bigint").alias("trailing_cents"),
        F.sum(
            F.when(F.col("first_day") > F.col("fd") - 90, F.col("cents"))
            .otherwise(0)
        )
        .cast("bigint")
        .alias("new_part_cents"),
        (
            F.sum(
                F.when(
                    F.col("first_day") > F.col("fd") - 90, F.col("cents")
                ).otherwise(0)
            ).cast("double")
            / F.sum("cents")
        ).alias("new_revenue_share"),
    )


# --- weekend vs weekday uplift (round 6) -------------------------------------
# Per event type: events per weekend day vs per weekday. Day-of-week is
# ENGINE-NEUTRAL integer arithmetic — dow = (epoch_day + 4) % 7 with
# 0 = Sunday (1970-01-01 was a Thursday) — sidestepping the EXTRACT(dow)
# convention mismatch q_daypart_interaction had to reconcile. Exact
# integer counts; per-day rates are single divisions; uplift is the
# cleared-denominator cross ratio.
@_q(
    "q_weekend_uplift",
    """
    WITH d AS (
        SELECT event_type,
               CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
               CASE WHEN (CAST(floor(epoch(ts) / 86400) AS BIGINT) + 4) % 7
                         IN (0, 6) THEN 1 ELSE 0 END AS is_we
        FROM events
    ), days AS (
        SELECT CAST(COUNT(DISTINCT CASE WHEN is_we = 1 THEN day END)
                    AS BIGINT) AS n_we_days,
               CAST(COUNT(DISTINCT CASE WHEN is_we = 0 THEN day END)
                    AS BIGINT) AS n_wd_days
        FROM d
    ), per AS (
        SELECT event_type,
               CAST(SUM(is_we) AS BIGINT) AS we_events,
               CAST(SUM(1 - is_we) AS BIGINT) AS wd_events
        FROM d GROUP BY event_type
    )
    SELECT event_type, we_events, wd_events,
           CAST(we_events AS DOUBLE) / n_we_days AS we_per_day,
           CAST(wd_events AS DOUBLE) / n_wd_days AS wd_per_day,
           CAST(we_events * n_wd_days AS DOUBLE)
               / CAST(wd_events * n_we_days AS DOUBLE) AS weekend_uplift
    FROM per CROSS JOIN days
    """,
)
def q_weekend_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("CAST(floor(unix_timestamp(ts) / 86400) AS BIGINT)").alias(
            "day"
        ),
        F.expr(
            "CASE WHEN (CAST(floor(unix_timestamp(ts) / 86400) AS BIGINT)"
            " + 4) % 7 IN (0, 6) THEN 1 ELSE 0 END"
        ).alias("is_we"),
    )
    days = d.agg(
        F.countDistinct(F.when(F.col("is_we") == 1, F.col("day")))
        .cast("bigint")
        .alias("n_we_days"),
        F.countDistinct(F.when(F.col("is_we") == 0, F.col("day")))
        .cast("bigint")
        .alias("n_wd_days"),
    )
    per = d.groupBy("event_type").agg(
        F.sum("is_we").cast("bigint").alias("we_events"),
        F.sum(1 - F.col("is_we")).cast("bigint").alias("wd_events"),
    )
    return per.crossJoin(F.broadcast(days)).selectExpr(
        "event_type",
        "we_events",
        "wd_events",
        "CAST(we_events AS DOUBLE) / n_we_days AS we_per_day",
        "CAST(wd_events AS DOUBLE) / n_wd_days AS wd_per_day",
        "CAST(we_events * n_wd_days AS DOUBLE)"
        " / CAST(wd_events * n_we_days AS DOUBLE) AS weekend_uplift",
    )


# --- behavioral-diversity distribution (round 6) -----------------------------
# How many distinct event types does a user touch? The engagement-depth
# histogram: exact per-user distinct counts, then the distribution.
# One (user, type) distinct + two combinable aggregates.
@_q(
    "q_type_diversity_dist",
    """
    WITH per AS (
        SELECT user_id, CAST(COUNT(DISTINCT event_type) AS BIGINT)
                   AS n_types
        FROM events GROUP BY user_id
    )
    SELECT n_types, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM per GROUP BY n_types
    """,
)
def q_type_diversity_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    per = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.countDistinct("event_type").cast("bigint").alias("n_types"))
    )
    return per.groupBy("n_types").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )


# --- window funnel by signup cohort (round 6) --------------------------------
# q_window_funnel's reach counts split by the user's signup cohort week
# (first-event week): does conversion quality differ by vintage? Same
# existence semantics — per-user range semi-joins on integer seconds —
# with the cohort joined on afterwards; everything shuffles on user_id
# only. Exact distinct-user integers per (cohort_week, step).
@_q(
    "q_funnel_by_cohort",
    """
    WITH e AS (
        SELECT user_id, event_type,
               CAST(floor(epoch(ts)) AS BIGINT) AS s
        FROM events
    ), cohort AS (
        SELECT user_id,
               CAST(MIN(s) // 604800 AS BIGINT) AS cohort_week
        FROM e GROUP BY user_id
    ), v AS (SELECT user_id, s FROM e WHERE event_type = 'view'),
    c AS (SELECT user_id, s FROM e WHERE event_type = 'click'),
    p AS (SELECT user_id, s FROM e WHERE event_type = 'purchase'),
    qc AS (
        SELECT DISTINCT c.user_id, c.s FROM c JOIN v
          ON c.user_id = v.user_id AND c.s > v.s AND c.s <= v.s + 3600
    ), s3 AS (
        SELECT DISTINCT p.user_id FROM p JOIN qc
          ON p.user_id = qc.user_id AND p.s > qc.s AND p.s <= qc.s + 3600
    ), reach AS (
        SELECT user_id, CAST(1 AS BIGINT) AS step FROM v GROUP BY user_id
        UNION ALL
        SELECT user_id, CAST(2 AS BIGINT) FROM qc GROUP BY user_id
        UNION ALL
        SELECT user_id, CAST(3 AS BIGINT) FROM s3 GROUP BY user_id
    )
    SELECT co.cohort_week, r.step,
           CAST(COUNT(DISTINCT r.user_id) AS BIGINT) AS n_users
    FROM reach r JOIN cohort co USING (user_id)
    GROUP BY 1, 2
    """,
)
def q_funnel_by_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.floor(F.unix_timestamp("ts")).cast("bigint").alias("s"),
    )
    cohort = e.groupBy("user_id").agg(
        F.expr("CAST(MIN(s) DIV 604800 AS BIGINT)").alias("cohort_week")
    )
    v = e.where(F.col("event_type") == "view").select("user_id", "s")
    c = e.where(F.col("event_type") == "click").select("user_id", "s")
    p = e.where(F.col("event_type") == "purchase").select("user_id", "s")
    qc = (
        c.alias("c")
        .join(
            v.alias("v"),
            (F.col("c.user_id") == F.col("v.user_id"))
            & (F.col("c.s") > F.col("v.s"))
            & (F.col("c.s") <= F.col("v.s") + 3600),
            "leftsemi",
        )
        .distinct()
    )
    s3 = (
        p.alias("p")
        .join(
            qc.alias("q"),
            (F.col("p.user_id") == F.col("q.user_id"))
            & (F.col("p.s") > F.col("q.s"))
            & (F.col("p.s") <= F.col("q.s") + 3600),
            "leftsemi",
        )
        .select("user_id")
        .distinct()
    )
    reach = (
        v.select("user_id").distinct().select(
            "user_id", F.lit(1).cast("bigint").alias("step")
        )
        .unionAll(
            qc.select("user_id").distinct().select(
                "user_id", F.lit(2).cast("bigint").alias("step")
            )
        )
        .unionAll(s3.select("user_id", F.lit(3).cast("bigint").alias("step")))
    )
    return (
        reach.join(cohort, "user_id")
        .groupBy("cohort_week", "step")
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_users"))
    )


# --- events before first purchase (round 6) ----------------------------------
# Path-length-to-conversion: for each converting user, how many events
# strictly precede the first purchase under the (ts, event_id) total
# order? The anchor is element-selected per user (min purchase struct);
# the count is one conditional aggregate against the broadcast-joined
# anchor — exact integers; output is the distribution histogram.
@_q(
    "q_events_to_purchase",
    """
    WITH anchors AS (
        SELECT user_id, ts AS p_ts, event_id AS p_id
        FROM events WHERE event_type = 'purchase'
        QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) = 1
    ), per AS (
        SELECT e.user_id,
               CAST(SUM(CASE WHEN e.ts < a.p_ts
                              OR (e.ts = a.p_ts AND e.event_id < a.p_id)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_before
        FROM events e JOIN anchors a ON e.user_id = a.user_id
        GROUP BY e.user_id
    )
    SELECT n_before, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM per GROUP BY n_before
    """,
)
def q_events_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    wp = Window.partitionBy("user_id").orderBy("ts", "event_id")
    anchors = (
        ev.where(F.col("event_type") == "purchase")
        .withColumn("rn", F.row_number().over(wp))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("p_id"),
        )
    )
    per = (
        ev.join(anchors, "user_id")
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    (F.col("ts") < F.col("p_ts"))
                    | (
                        (F.col("ts") == F.col("p_ts"))
                        & (F.col("event_id") < F.col("p_id"))
                    ),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_before")
        )
    )
    return per.groupBy("n_before").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )


# --- Cliff's delta ordinal effect size (round 7) ------------------------------
# The nonparametric effect size behind q_mannwhitney's test: delta =
# (#(a>b) - #(a<b)) / (n1*n2), one-vs-rest per event type over the
# value column. NEVER pairwise: with 2R_mid the doubled midrank-sum
# (q_mannwhitney's exact-integer idiom), 2*U_mid = 2R_mid - n1*(n1+1)
# and delta = (2*U_mid - n1*n2) / (n1*n2) — all bigint until one double
# division shared verbatim by both engines. The value-support running
# rank rides the range-partitioned global_order (plans/rank.py).
# 100 TB: one value-support aggregate + one fact-sized groupBy; n1*n2
# needs DECIMAL(38,0) past ~3e9 rows per group (comment, not code —
# the fixture peaks at 2e4).
_CLIFF_DELTA = (
    "CAST(r1_2 - n1 * (n1 + 1) - n1 * n2 AS DOUBLE)"
    " / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))"
)


@_q(
    "q_cliff_delta",
    f"""
    WITH vc AS (
        SELECT value, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events WHERE value IS NOT NULL GROUP BY value
    ), v2 AS (
        SELECT value,
               CAST(2 * (SUM(cnt) OVER (ORDER BY value
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         - cnt) + cnt + 1 AS BIGINT) AS r2
        FROM vc
    ), gv AS (
        SELECT event_type, value, CAST(COUNT(*) AS BIGINT) AS gcnt
        FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM events
        WHERE value IS NOT NULL
    ), per AS (
        SELECT event_type,
               CAST(SUM(gcnt) AS BIGINT) AS n1,
               CAST(SUM(gcnt * r2) AS BIGINT) AS r1_2
        FROM gv JOIN v2 USING (value) GROUP BY event_type
    ), sized AS (
        SELECT event_type, n1, CAST(n - n1 AS BIGINT) AS n2, r1_2
        FROM per CROSS JOIN tot
    )
    SELECT event_type, n1, n2,
           CAST(r1_2 - n1 * (n1 + 1) - n1 * n2 AS BIGINT) AS gt_minus_lt,
           {_CLIFF_DELTA} AS cliff_delta
    FROM sized
    """,
)
def q_cliff_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    vc = e.groupBy("value").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    # value support is near-fact-sized (DOUBLE values): range-partitioned
    v2 = global_order(vc, ["value"], cum_sums={"_cs": "cnt"}).select(
        "value",
        (2 * (F.col("_cs") - F.col("cnt")) + F.col("cnt") + 1)
        .cast("bigint")
        .alias("r2"),
    )
    gv = e.groupBy("event_type", "value").agg(
        F.count(F.lit(1)).cast("bigint").alias("gcnt")
    )
    tot = e.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    per = gv.join(v2, "value").groupBy("event_type").agg(
        F.sum("gcnt").cast("bigint").alias("n1"),
        F.sum(F.col("gcnt") * F.col("r2")).cast("bigint").alias("r1_2"),
    )
    sized = per.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n1",
        (F.col("n") - F.col("n1")).cast("bigint").alias("n2"),
        "r1_2",
    )
    return sized.select(
        "event_type",
        "n1",
        "n2",
        (
            F.col("r1_2") - F.col("n1") * (F.col("n1") + 1)
            - F.col("n1") * F.col("n2")
        )
        .cast("bigint")
        .alias("gt_minus_lt"),
        F.expr(_CLIFF_DELTA).alias("cliff_delta"),
    )


# --- Kuiper two-sample drift statistic (round 7) ------------------------------
# q_ks_drift's cyclic-sensitive sibling: V = D+ + D- where D+ =
# max(F_a - F_b) and D- = max(F_b - F_a) over the combined value
# support — equally sensitive at the distribution tails where KS
# saturates. Same exact-integer CDF machinery as KS (per-value counts,
# running sums, one double division per side), but the Spark running
# sums ride the range-partitioned global_order instead of a
# single-partition SQL window: the value support is near-fact-sized.
@_q(
    "q_kuiper_drift",
    """
    WITH s AS (
        SELECT value,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a,
               CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS b
        FROM events WHERE event_type IN ('click', 'view')
    ), c AS (
        SELECT value,
               CAST(SUM(SUM(a)) OVER (ORDER BY value) AS BIGINT) AS ca,
               CAST(SUM(SUM(b)) OVER (ORDER BY value) AS BIGINT) AS cb,
               CAST(SUM(SUM(a)) OVER () AS BIGINT) AS na,
               CAST(SUM(SUM(b)) OVER () AS BIGINT) AS nb
        FROM s GROUP BY value
    )
    SELECT MAX(CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb) AS d_plus,
           MAX(CAST(cb AS DOUBLE) / nb - CAST(ca AS DOUBLE) / na) AS d_minus,
           MAX(CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb)
             + MAX(CAST(cb AS DOUBLE) / nb - CAST(ca AS DOUBLE) / na)
               AS kuiper_v,
           CAST(MAX(na) AS BIGINT) AS n_a,
           CAST(MAX(nb) AS BIGINT) AS n_b
    FROM c
    """,
)
def q_kuiper_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "view")
    )
    s = e.select(
        "value",
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("a"),
        F.when(F.col("event_type") == "view", 1).otherwise(0).alias("b"),
    )
    per = s.groupBy("value").agg(
        F.sum("a").alias("sa"), F.sum("b").alias("sb")
    )
    c = global_order(
        per,
        ["value"],
        cum_sums={"ca": "sa", "cb": "sb"},
        sum_totals={"na": "sa", "nb": "sb"},
    )
    fa = F.col("ca").cast("double") / F.col("na")
    fb = F.col("cb").cast("double") / F.col("nb")
    return c.agg(
        F.max(fa - fb).alias("d_plus"),
        F.max(fb - fa).alias("d_minus"),
        (F.max(fa - fb) + F.max(fb - fa)).alias("kuiper_v"),
        F.max("na").cast("bigint").alias("n_a"),
        F.max("nb").cast("bigint").alias("n_b"),
    )


# --- transition dwell-time distribution (round 7) -----------------------------
# q_transitions counts WHICH state follows which; this measures HOW LONG
# the hop takes: per (prev_type, next_type), exact whole-second gap
# percentiles, element-selected with the q_ship_delay idiom (rn =
# (n-1)*p DIV 100 + 1 under the pinned (gap, event_id) total order) so
# both engines pick the same row. Plan: ONE hash shuffle on user_id for
# the LEAD chain, then partitioned rank windows per transition pair —
# the window's partition key IS the group key, no single-partition
# collapse anywhere. mean_s = exact integer sum / count, one division.
@_q(
    "q_dwell_stats",
    """
    WITH seq AS (
        SELECT user_id, event_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS s,
               event_type AS prev_type,
               LEAD(event_type) OVER w AS next_type,
               LEAD(CAST(floor(epoch(ts)) AS BIGINT)) OVER w AS next_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), g AS (
        SELECT prev_type, next_type, next_s - s AS gap_s, event_id
        FROM seq WHERE next_type IS NOT NULL
    ), rk AS (
        SELECT prev_type, next_type, gap_s,
               CAST(row_number() OVER (PARTITION BY prev_type, next_type
                    ORDER BY gap_s, event_id) AS BIGINT) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY prev_type, next_type)
                    AS BIGINT) AS n,
               CAST(SUM(gap_s) OVER (PARTITION BY prev_type, next_type)
                    AS BIGINT) AS tot
        FROM g
    )
    SELECT prev_type, next_type, CAST(MAX(n) AS BIGINT) AS n_gaps,
           CAST(MAX(CASE WHEN rn = (n - 1) * 50 // 100 + 1
                         THEN gap_s END) AS BIGINT) AS p50_s,
           CAST(MAX(CASE WHEN rn = (n - 1) * 90 // 100 + 1
                         THEN gap_s END) AS BIGINT) AS p90_s,
           CAST(MAX(tot) AS DOUBLE) / MAX(n) AS mean_s
    FROM rk GROUP BY prev_type, next_type
    """,
)
def q_dwell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.floor(F.unix_timestamp("ts")).cast("bigint").alias("s"),
        "event_type",
        "ts",
    )
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("prev_type"),
        F.lead("event_type").over(wu).alias("next_type"),
        (F.lead("s").over(wu) - F.col("s")).alias("gap_s"),
        "event_id",
    ).where(F.col("next_type").isNotNull())
    wp = Window.partitionBy("prev_type", "next_type")
    rk = seq.select(
        "prev_type",
        "next_type",
        "gap_s",
        F.row_number()
        .over(wp.orderBy("gap_s", "event_id"))
        .cast("bigint")
        .alias("rn"),
        F.count(F.lit(1)).over(wp).cast("bigint").alias("n"),
        F.sum("gap_s").over(wp).cast("bigint").alias("tot"),
    )
    return rk.groupBy("prev_type", "next_type").agg(
        F.max("n").cast("bigint").alias("n_gaps"),
        F.max(
            F.when(
                F.col("rn")
                == F.expr("(n - 1) * 50 DIV 100 + 1"),
                F.col("gap_s"),
            )
        )
        .cast("bigint")
        .alias("p50_s"),
        F.max(
            F.when(
                F.col("rn")
                == F.expr("(n - 1) * 90 DIV 100 + 1"),
                F.col("gap_s"),
            )
        )
        .cast("bigint")
        .alias("p90_s"),
        (F.max("tot").cast("double") / F.max("n")).alias("mean_s"),
    )


# --- small-partition compaction advisor (round 7) -----------------------------
# The lakehouse maintenance planner next to q_partition_planner: given
# per-day row counts (the "file sizes" of a day-partitioned events
# table), pack consecutive days into compaction groups of ~TARGET rows
# — group id = exclusive-prefix-rows DIV TARGET, so a group closes as
# soon as the running total crosses the next multiple. Exact integers
# end-to-end. The cumulative runs over the O(days) daily series; at
# 100 TB the day grid is still tiny — the fact scan is the per-day
# count, one map-side-combinable aggregate.
_COMPACT_TARGET = 5000


@_q(
    "q_compaction_advisor",
    f"""
    WITH daily AS (
        SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM events GROUP BY 1
    ), packed AS (
        SELECT day, n_rows,
               CAST((SUM(n_rows) OVER (ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - n_rows) // {_COMPACT_TARGET} AS BIGINT) AS grp
        FROM daily
    )
    SELECT grp AS group_id,
           CAST(MIN(day) AS BIGINT) AS day_first,
           CAST(MAX(day) AS BIGINT) AS day_last,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(n_rows) AS BIGINT) AS n_rows,
           CAST((SUM(n_rows) + {_COMPACT_TARGET} - 1)
                // {_COMPACT_TARGET} AS BIGINT) AS n_files_out
    FROM packed GROUP BY grp
    """,
)
def q_compaction_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        t(spark, sf_dir, "events")
        .groupBy(
            F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias("day")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    )
    # bounded: daily series — O(days) rows
    wcum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    packed = daily.select(
        "day",
        "n_rows",
        ((F.sum("n_rows").over(wcum) - F.col("n_rows")) / _COMPACT_TARGET)
        .cast("bigint")
        .alias("grp"),
    )
    return packed.groupBy(F.col("grp").alias("group_id")).agg(
        F.min("day").cast("bigint").alias("day_first"),
        F.max("day").cast("bigint").alias("day_last"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.floor(
            (F.sum("n_rows") + _COMPACT_TARGET - 1) / _COMPACT_TARGET
        )
        .cast("bigint")
        .alias("n_files_out"),
    )


# --- user × event-type affinity lift (round 7) --------------------------------
# Personalization's first feature: how over-represented is type t in
# user u's history vs the global mix? lift = n_ut * N / (n_u * n_t) —
# all exact integers until one double division written identically in
# both engines (no logs: lift, not PMI, by the repo's no-transcendental
# policy). Support-filtered (n_ut >= 5), top-20 by (lift, user, type)
# via sort+limit — TakeOrderedAndProject, never a fact-sized rank.
# Plan: n_ut and n_u share the user_id hash partitioning; n_t (5 rows)
# and N (1 row) broadcast.
_AFFINITY_LIFT = (
    "CAST(n_ut AS DOUBLE) * CAST(n AS DOUBLE)"
    " / (CAST(n_u AS DOUBLE) * CAST(n_t AS DOUBLE))"
)


@_q(
    "q_user_type_affinity",
    f"""
    WITH ut AS (
        SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n_ut
        FROM events GROUP BY 1, 2
    ), u AS (
        SELECT user_id, CAST(SUM(n_ut) AS BIGINT) AS n_u FROM ut GROUP BY 1
    ), ty AS (
        SELECT event_type, CAST(SUM(n_ut) AS BIGINT) AS n_t
        FROM ut GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(n_ut) AS BIGINT) AS n FROM ut
    )
    SELECT user_id, event_type, n_ut, n_u, n_t,
           {_AFFINITY_LIFT} AS lift
    FROM ut JOIN u USING (user_id) JOIN ty USING (event_type) CROSS JOIN tot
    WHERE n_ut >= 5
    ORDER BY lift DESC, user_id, event_type LIMIT 20
    """,
)
def q_user_type_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ut = (
        t(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ut"))
    )
    u = ut.groupBy("user_id").agg(F.sum("n_ut").cast("bigint").alias("n_u"))
    ty = ut.groupBy("event_type").agg(
        F.sum("n_ut").cast("bigint").alias("n_t")
    )
    tot = ut.agg(F.sum("n_ut").cast("bigint").alias("n"))
    j = (
        ut.join(u, "user_id")
        .join(F.broadcast(ty), "event_type")
        .crossJoin(F.broadcast(tot))
        .where(F.col("n_ut") >= 5)
        .select(
            "user_id",
            "event_type",
            "n_ut",
            "n_u",
            "n_t",
            F.expr(_AFFINITY_LIFT).alias("lift"),
        )
    )
    # top-20 selection: sort+limit plans as TakeOrderedAndProject
    return j.orderBy(F.desc("lift"), "user_id", "event_type").limit(20)


# --- KMV (k-minimum-values) distinct-count sketch audit (round 7) -------------
# The bottom-k sibling of the audited HLL pack (B14): hash the key space
# with a SHARED arithmetic hash (engine hash() functions differ, so the
# multiplicative hash is written once: h = (v*2654435761 + 12345) mod
# (2^31 - 1)), keep the k smallest DISTINCT hashes, estimate distinct =
# (k-1) * M / h_(k). The k-th minimum is a sort+limit
# (TakeOrderedAndProject — per-partition heaps, exactly how a
# distributed bottom-k sketch merges); the exact count rides the same
# dedup shuffle. Deterministic end-to-end, so both engines report the
# identical estimate AND its true relative error.
_KMV_K = 64
_KMV_M = 2147483647
# Shared by the SQL oracle and F.expr on the Spark side (spec, not
# gate-checkable code — see _KMV_SET_EST_UNION below): an unsaturated
# sketch (k_used < k) holds the ENTIRE value set, so the estimate is
# exactly k_used; only a saturated sketch uses (k-1)*M/h_k.
_KMV_EST = (
    f"CASE WHEN k_used < {_KMV_K} THEN CAST(k_used AS DOUBLE)"
    f" ELSE CAST({_KMV_K - 1} AS DOUBLE) * {_KMV_M} / h_k END"
)


@_q(
    "q_kmv_distinct",
    f"""
    WITH v AS (
        SELECT DISTINCT ((CAST(floor(value * 100 + 0.5) AS BIGINT)
                          % {_KMV_M}) * 2654435761 + 12345) % {_KMV_M} AS h
        FROM events WHERE value IS NOT NULL
    ), kth AS (
        SELECT MAX(h) AS h_k, CAST(COUNT(*) AS BIGINT) AS k_used
        FROM (SELECT h FROM v ORDER BY h LIMIT {_KMV_K})
    ), ex AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS exact_distinct FROM v
    )
    SELECT k_used, CAST(h_k AS BIGINT) AS h_k,
           {_KMV_EST} AS est_distinct,
           exact_distinct,
           (({_KMV_EST}) - exact_distinct) / exact_distinct AS rel_err
    FROM kth CROSS JOIN ex
    """,
)
def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = (
        t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            (
                # key reduced mod M BEFORE the Knuth multiply so the
                # product stays < 2^63 for the full BIGINT key domain
                # (ADVICE r7: unreduced, DuckDB raises on overflow while
                # non-ANSI Spark wraps — engine divergence at scale)
                ((F.floor(F.col("value") * 100 + 0.5).cast("bigint")
                  % _KMV_M) * 2654435761 + 12345) % _KMV_M
            ).alias("h")
        )
        .distinct()
    )
    # bottom-k selection: sort+limit plans as TakeOrderedAndProject
    kth = (
        v.orderBy("h")
        .limit(_KMV_K)
        .agg(
            F.max("h").alias("h_k"),
            F.count(F.lit(1)).cast("bigint").alias("k_used"),
        )
    )
    ex = v.agg(F.count(F.lit(1)).cast("bigint").alias("exact_distinct"))
    est = F.expr(_KMV_EST)
    return (
        kth.crossJoin(F.broadcast(ex))
        .select(
            "k_used",
            F.col("h_k").cast("bigint").alias("h_k"),
            est.alias("est_distinct"),
            "exact_distinct",
            ((est - F.col("exact_distinct")) / F.col("exact_distinct")).alias(
                "rel_err"
            ),
        )
    )


# --- largest-remainder quota apportionment (round 7) --------------------------
# The deterministic sampler allocator: split a fixed budget K across
# (lang, source) strata PROPORTIONALLY with Hamilton's largest-remainder
# method — base = K*n_s DIV N to every stratum, then one extra to the
# strata with the largest integer remainders (K*n_s MOD N, ties by
# (lang, source)) until exactly K are allocated. Pure integer
# arithmetic: no floating quota ever computed, so the allocation is
# bit-identical and always sums to K. The remainder rank runs over the
# O(strata) grid (bounded); the stratum counts are one combinable
# aggregate.
_QUOTA_K = 1000


@_q(
    "q_quota_apportion",
    f"""
    WITH s AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY 1, 2
    ), tot AS (
        SELECT CAST(SUM(n_docs) AS BIGINT) AS n,
               CAST(SUM({_QUOTA_K} * n_docs // n2.n) AS BIGINT) AS base_sum
        FROM s CROSS JOIN (SELECT CAST(SUM(n_docs) AS BIGINT) AS n FROM s) n2
    ), r AS (
        SELECT lang, source, n_docs,
               CAST({_QUOTA_K} * n_docs // n AS BIGINT) AS base,
               CAST({_QUOTA_K} * n_docs % n AS BIGINT) AS rem,
               CAST(row_number() OVER (ORDER BY {_QUOTA_K} * n_docs % n DESC,
                                       lang, source) AS BIGINT) AS rrank,
               CAST({_QUOTA_K} - base_sum AS BIGINT) AS extras
        FROM s CROSS JOIN tot
    )
    SELECT lang, source, n_docs, base, rem,
           CAST(base + CASE WHEN rrank <= extras THEN 1 ELSE 0 END AS BIGINT)
               AS alloc
    FROM r
    """,
)
def q_quota_apportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = (
        t(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    tot = s.agg(
        F.sum("n_docs").cast("bigint").alias("n"),
    )
    w = s.crossJoin(F.broadcast(tot)).select(
        "lang",
        "source",
        "n_docs",
        F.expr(f"CAST({_QUOTA_K} * n_docs DIV n AS BIGINT)").alias("base"),
        F.expr(f"CAST({_QUOTA_K} * n_docs % n AS BIGINT)").alias("rem"),
    )
    base_sum = w.agg(F.sum("base").cast("bigint").alias("base_sum"))
    from pyspark.sql.window import Window

    # bounded: remainder rank over the O(strata) grid (~100 rows)
    ranked = (
        w.crossJoin(F.broadcast(base_sum))
        .withColumn(
            "rrank",
            F.row_number()
            .over(Window.orderBy(F.desc("rem"), "lang", "source"))
            .cast("bigint"),
        )
        .withColumn("extras", (F.lit(_QUOTA_K) - F.col("base_sum")).cast("bigint"))
    )
    return ranked.select(
        "lang",
        "source",
        "n_docs",
        "base",
        "rem",
        (
            F.col("base")
            + F.when(F.col("rrank") <= F.col("extras"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("alloc"),
    )


# --- KMV set-operation estimates (round 7) -------------------------------------
# The algebra that makes bottom-k sketches USEFUL at 100 TB: two
# pre-deduplicated key sets (a user-day is "active-clicking" /
# "active-purchasing") are each summarized by the k smallest values of a
# SHARED arithmetic hash, the sketches merge by re-taking the bottom k of
# the union (TakeOrderedAndProject — per-partition heaps, exactly how
# distributed KMV union works), and intersection/Jaccard fall out of
# MEMBERSHIP of the union sketch in each side: rho = |S ∩ A ∩ B| / k,
# est_jaccard = rho, est_intersection = rho * est_union (Beyer et al.,
# SIGMOD'07). Every membership probe broadcasts the ≤64-row sketch and
# streams the deduped side once — the only fat shuffles are the two
# per-side dedups and the exact-audit semi join, which exists purely to
# report the estimator's true error next to the estimate.
# Deterministic end-to-end (shared multiplicative hash, exact integers,
# fixed-order double divisions), so both engines report identical
# estimates AND identical true errors.
_KMV_SET_K = 64
# Shared by the SQL oracle and F.expr on the Spark side, so the
# differential gate cannot catch a defect in it — review it as spec, not
# code (ADVICE r7: an earlier revision hardcoded the unrelated _KMV_K
# constant here, and mis-estimated when the sketch is unsaturated). When
# k_used < k the sketch holds the ENTIRE union, so the estimate is
# exactly k_used; only a saturated sketch uses the (k-1)*M/h_k form.
_KMV_SET_EST_UNION = (
    f"CASE WHEN k_used < {_KMV_SET_K} THEN CAST(k_used AS DOUBLE)"
    f" ELSE CAST({_KMV_SET_K - 1} AS DOUBLE) * {_KMV_M} / h_k END"
)


@_q(
    "q_kmv_setops",
    f"""
    WITH a AS (
        SELECT DISTINCT (((user_id * 1000 + dayofyear(ts)) % {_KMV_M})
                         * 2654435761 + 12345) % {_KMV_M} AS h
        FROM events WHERE event_type = 'click'
    ), b AS (
        SELECT DISTINCT (((user_id * 1000 + dayofyear(ts)) % {_KMV_M})
                         * 2654435761 + 12345) % {_KMV_M} AS h
        FROM events WHERE event_type = 'purchase'
    ), u AS (
        SELECT h FROM (SELECT h FROM a UNION SELECT h FROM b) t
        ORDER BY h LIMIT {_KMV_SET_K}
    ), kth AS (
        SELECT MAX(h) AS h_k, CAST(COUNT(*) AS BIGINT) AS k_used FROM u
    ), memb AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_both FROM u
        WHERE h IN (SELECT h FROM a) AND h IN (SELECT h FROM b)
    ), ex AS (
        SELECT CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS exact_a,
               CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS exact_b,
               CAST((SELECT COUNT(*) FROM
                     (SELECT h FROM a INTERSECT SELECT h FROM b))
                    AS BIGINT) AS exact_inter
    )
    SELECT k_used, CAST(h_k AS BIGINT) AS h_k, n_both,
           {_KMV_SET_EST_UNION} AS est_union,
           CAST(n_both AS DOUBLE) / k_used AS est_jaccard,
           CAST(n_both AS DOUBLE) / k_used * ({_KMV_SET_EST_UNION})
             AS est_intersection,
           exact_a + exact_b - exact_inter AS exact_union,
           exact_inter,
           CAST(exact_inter AS DOUBLE)
             / (exact_a + exact_b - exact_inter) AS exact_jaccard
    FROM kth CROSS JOIN memb CROSS JOIN ex
    """,
)
def q_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    # key reduced mod M BEFORE the Knuth multiply: keeps the product
    # < 2^63 for user_id up to ~9.2e12 (ADVICE r7 — unreduced, the two
    # engines diverge past user_id ~3.4e6: DuckDB raises, Spark wraps)
    key = (F.col("user_id") * 1000 + F.dayofyear("ts")).cast("bigint")
    h = (((key % _KMV_M) * F.lit(2654435761) + F.lit(12345)) % _KMV_M).alias(
        "h"
    )

    a = ev.where(F.col("event_type") == "click").select(h).distinct()
    b = ev.where(F.col("event_type") == "purchase").select(h).distinct()

    # union sketch: bottom-k selection plans as TakeOrderedAndProject
    u = a.union(b).distinct().orderBy("h").limit(_KMV_SET_K)
    kth = u.agg(
        F.max("h").alias("h_k"),
        F.count(F.lit(1)).cast("bigint").alias("k_used"),
    )
    # membership probes: broadcast the ≤64-row sketch, stream each side
    in_a = a.join(F.broadcast(u), "h", "leftsemi")
    in_b = b.join(F.broadcast(u), "h", "leftsemi")
    n_both = in_a.join(F.broadcast(in_b), "h", "leftsemi").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_both")
    )
    # exact audit: one fact-fact semi join on the already-deduped sides
    ex = (
        a.agg(F.count(F.lit(1)).cast("bigint").alias("exact_a"))
        .crossJoin(
            F.broadcast(
                b.agg(F.count(F.lit(1)).cast("bigint").alias("exact_b"))
            )
        )
        .crossJoin(
            F.broadcast(
                a.join(b, "h", "leftsemi").agg(
                    F.count(F.lit(1)).cast("bigint").alias("exact_inter")
                )
            )
        )
    )
    est_union = F.expr(_KMV_SET_EST_UNION)
    rho = F.col("n_both").cast("double") / F.col("k_used")
    return (
        kth.crossJoin(F.broadcast(n_both))
        .crossJoin(F.broadcast(ex))
        .select(
            "k_used",
            F.col("h_k").cast("bigint").alias("h_k"),
            "n_both",
            est_union.alias("est_union"),
            rho.alias("est_jaccard"),
            (rho * est_union).alias("est_intersection"),
            (F.col("exact_a") + F.col("exact_b") - F.col("exact_inter")).alias(
                "exact_union"
            ),
            "exact_inter",
            (
                F.col("exact_inter").cast("double")
                / (F.col("exact_a") + F.col("exact_b") - F.col("exact_inter"))
            ).alias("exact_jaccard"),
        )
    )


# --- RANSAC robust line fit (round 7) ------------------------------------------
# Robust model fitting under outliers — the estimator OLS cannot be:
# q_ols_by_group's least squares moves with every contaminated row, while
# RANSAC scores a BOUNDED set of candidate models by inlier consensus and
# keeps the best. Candidates are deterministic, not random: the 32 rows
# with the smallest shared-hash values (TakeOrderedAndProject — the
# "random sample" of classic RANSAC replaced by a hash order both engines
# compute identically) pair up consecutively into ≤16 two-point lines
# through (l_quantity, price-in-cents). The inlier test clears the slope
# denominator so it stays in exact BIGINT arithmetic:
#   |yc - yc1 - (x - x1)·dy/dx| ≤ eps  ⇔  |dx·(yc-yc1) - (x-x1)·dy| ≤ eps·|dx|
# Plan: seed = sort+limit (bounded 32 rows); models broadcast; scoring is
# ONE pass over the fact — a BroadcastNestedLoopJoin fan-out of ≤16×
# followed by a combinable hash aggregate (map-side partials). At 100 TB
# the only cost is that single scan; no fact-sized shuffle anywhere.
_RANSAC_SEED = 32
_RANSAC_EPS_CENTS = 20000


@_q(
    "q_ransac",
    f"""
    WITH pts AS (
        SELECT CAST(l_quantity AS BIGINT) AS x,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS yc,
               (((l_orderkey * 7 + l_linenumber) % {_KMV_M})
                * 2654435761 + 12345) % {_KMV_M} AS h,
               l_orderkey, l_linenumber
        FROM lineitem
    ), seed AS (
        SELECT x, yc,
               row_number() OVER (ORDER BY h, l_orderkey, l_linenumber)
                 AS rn
        FROM (SELECT * FROM pts ORDER BY h, l_orderkey, l_linenumber
              LIMIT {_RANSAC_SEED}) s
    ), models AS (
        SELECT CAST((e1.rn + 1) / 2 AS BIGINT) AS model_id,
               e1.x AS x1, e1.yc AS yc1,
               e2.yc - e1.yc AS dy, e2.x - e1.x AS dx
        FROM seed e1 JOIN seed e2 ON e2.rn = e1.rn + 1
        WHERE e1.rn % 2 = 1 AND e2.x <> e1.x
    ), scored AS (
        SELECT m.model_id, m.x1, m.yc1, m.dy, m.dx,
               CAST(SUM(CASE WHEN abs(m.dx * (p.yc - m.yc1)
                                       - (p.x - m.x1) * m.dy)
                                  <= {_RANSAC_EPS_CENTS} * abs(m.dx)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_inliers,
               CAST(COUNT(*) AS BIGINT) AS n_pts
        FROM models m CROSS JOIN pts p
        GROUP BY 1, 2, 3, 4, 5
    )
    SELECT model_id, x1, yc1, dy, dx, n_inliers,
           CAST(n_inliers AS DOUBLE) / n_pts AS inlier_share,
           CAST(row_number() OVER (ORDER BY n_inliers DESC, model_id)
                AS BIGINT) AS consensus_rank
    FROM scored
    """,
)
def q_ransac(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_quantity").cast("bigint").alias("x"),
        F.floor(F.col("l_extendedprice") * 100 + 0.5)
        .cast("bigint")
        .alias("yc"),
        (
            # key reduced mod M before the Knuth multiply (ADVICE r7:
            # unreduced, BIGINT overflow past l_orderkey ~4.9e8 — TPC-H
            # sf >~ 100 — makes DuckDB raise while non-ANSI Spark wraps)
            (((F.col("l_orderkey") * 7 + F.col("l_linenumber")) % _KMV_M)
             * F.lit(2654435761) + F.lit(12345)) % _KMV_M
        ).alias("h"),
        "l_orderkey",
        "l_linenumber",
    )
    # bounded: 32-row sort+limit seed (TakeOrdered), then pair rn i,i+1
    seed = (
        pts.orderBy("h", "l_orderkey", "l_linenumber")
        .limit(_RANSAC_SEED)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy("h", "l_orderkey", "l_linenumber")
            ),
        )
        .select("x", "yc", "rn")
    )
    e1 = seed.alias("e1")
    e2 = seed.alias("e2")
    models = (
        e1.join(e2, F.col("e2.rn") == F.col("e1.rn") + 1)
        .where((F.col("e1.rn") % 2 == 1) & (F.col("e2.x") != F.col("e1.x")))
        .select(
            ((F.col("e1.rn") + 1) / 2).cast("bigint").alias("model_id"),
            F.col("e1.x").alias("x1"),
            F.col("e1.yc").alias("yc1"),
            (F.col("e2.yc") - F.col("e1.yc")).alias("dy"),
            (F.col("e2.x") - F.col("e1.x")).alias("dx"),
        )
    )
    resid = F.abs(
        F.col("dx") * (F.col("yc") - F.col("yc1"))
        - (F.col("x") - F.col("x1")) * F.col("dy")
    )
    scored = (
        pts.crossJoin(F.broadcast(models))
        .groupBy("model_id", "x1", "yc1", "dy", "dx")
        .agg(
            F.sum(
                F.when(
                    resid <= _RANSAC_EPS_CENTS * F.abs(F.col("dx")), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_inliers"),
            F.count(F.lit(1)).cast("bigint").alias("n_pts"),
        )
    )
    return scored.select(
        "model_id",
        "x1",
        "yc1",
        "dy",
        "dx",
        "n_inliers",
        (F.col("n_inliers").cast("double") / F.col("n_pts")).alias(
            "inlier_share"
        ),
        # bounded: 16-row model grid (one row per candidate pair)
        F.row_number()
        .over(Window.orderBy(F.desc("n_inliers"), "model_id"))
        .cast("bigint")
        .alias("consensus_rank"),
    )


# ========================= round 8 additions ==============================
# Twelve statistics/pipeline operators, all transcendental-free (the
# module exactness policy: integer/decimal sufficient statistics, the
# q_chi2 explicit-quantize pattern for per-cell double terms, sqrt only
# at scalar finishes, logs only as precomputed Python literals — the
# q_ndcg policy). Reference parity: the reference's surface stops at
# parse/window/store (spark/streaming-shorttime.py); these extend the
# analytics layer per SURVEY.md §2 Table C.

# --- Goodman-Kruskal lambda (round 8) -------------------------------------
# Proportional-reduction-in-error association: how much better does
# knowing the weekday predict the event type than always guessing the
# modal type? lambda = (sum_rows max_col n - max_col marginal) /
# (N - max_col marginal) — pure integer counts until one shared final
# division. Categorical-association family beside q_cramers_v (chi2-
# based) and q_yule_q (2x2-odds-based); lambda is the error-rate view.
# Plan: one (dow, type) count over a 7x|types| grid, two tiny re-aggs,
# one broadcast cross join of 1-row relations — map-side combinable,
# O(1) output. The dow LABELS differ across engines (DuckDB 0-based,
# Spark 1-based) but lambda is label-invariant, so the shared text never
# mentions a label.
# NULLIF guards the degenerate single-event-type input (n_events ==
# max_marginal): both engines then yield NULL, where a bare /0 diverges
# (non-ANSI Spark NULL vs DuckDB ieee inf/NaN) — ADVICE r8.
_GKL = (
    "(CAST(sum_row_max - max_marginal AS DOUBLE)"
    " / CAST(NULLIF(n_events - max_marginal, 0) AS DOUBLE))"
)


@_q(
    "q_gk_lambda",
    f"""
    WITH c AS (
        SELECT dayofweek(ts) AS dow, event_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ), rm AS (
        SELECT CAST(SUM(mx) AS BIGINT) AS sum_row_max
        FROM (SELECT dow, MAX(n) AS mx FROM c GROUP BY dow)
    ), cm AS (
        SELECT CAST(MAX(s) AS BIGINT) AS max_marginal,
               CAST(SUM(s) AS BIGINT) AS n_events
        FROM (SELECT event_type, SUM(n) AS s FROM c GROUP BY event_type)
    )
    SELECT n_events, sum_row_max, max_marginal, {_GKL} AS gk_lambda
    FROM rm CROSS JOIN cm
    """,
)
def q_gk_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    c = e.groupBy(F.dayofweek("ts").alias("dow"), "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    rm = (
        c.groupBy("dow")
        .agg(F.max("n").alias("mx"))
        .agg(F.sum("mx").cast("bigint").alias("sum_row_max"))
    )
    cm = (
        c.groupBy("event_type")
        .agg(F.sum("n").alias("s"))
        .agg(
            F.max("s").cast("bigint").alias("max_marginal"),
            F.sum("s").cast("bigint").alias("n_events"),
        )
    )
    return rm.crossJoin(F.broadcast(cm)).selectExpr(
        "n_events", "sum_row_max", "max_marginal", f"{_GKL} AS gk_lambda"
    )


# --- Le Cam / triangular-discrimination drift (round 8) -------------------
# Distribution drift between weekday and weekend value mixes over a
# fixed-width bucket grid: LC(P,Q) = sum_b (p_b - q_b)^2 / (p_b + q_b).
# Unlike KL/PSI this is RATIONAL (no logarithm), bounded in [0, 2], and
# symmetric — the transcendental-free member of the drift family beside
# q_ks_drift (sup-CDF), q_hellinger_drift (sqrt-based) and
# q_wasserstein_drift (exact EMD). Per-bucket terms are doubles from
# exact integer counts, explicitly quantized at 1e-12 and summed as
# BIGINT (the q_chi2 pattern) so the <=10-term sum is order-free.
# Plan: one (bucket, is_weekend) count over a bounded value grid, one
# 1-row totals broadcast, O(1) output.
_LECAM_P = "(CAST(nwd AS DOUBLE) / CAST(twd AS DOUBLE))"
_LECAM_Q = "(CAST(nwe AS DOUBLE) / CAST(twe AS DOUBLE))"
_LECAM_TERM = (
    f"(({_LECAM_P} - {_LECAM_Q}) * ({_LECAM_P} - {_LECAM_Q})"
    f" / ({_LECAM_P} + {_LECAM_Q}))"
)


@_q(
    "q_lecam_drift",
    f"""
    WITH b AS (
        SELECT CAST(least(floor(value / 50), 9.0) AS BIGINT) AS bkt,
               -- DuckDB dayofweek is 0-based (Sunday=0, Saturday=6)
               CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END AS we
        FROM events WHERE value IS NOT NULL
    ), c AS (
        SELECT bkt,
               CAST(SUM(1 - we) AS BIGINT) AS nwd,
               CAST(SUM(we) AS BIGINT) AS nwe
        FROM b GROUP BY bkt
    ), tot AS (
        SELECT CAST(SUM(nwd) AS BIGINT) AS twd,
               CAST(SUM(nwe) AS BIGINT) AS twe
        FROM c
    ), term AS (
        SELECT CAST(floor({_LECAM_TERM} * 1000000000000 + 0.5) AS BIGINT)
                   AS tq,
               twd, twe
        FROM c CROSS JOIN tot
    )
    SELECT CAST(SUM(tq) AS DOUBLE) / 1000000000000 AS lecam,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(MAX(twd) AS BIGINT) AS n_weekday,
           CAST(MAX(twe) AS BIGINT) AS n_weekend
    FROM term
    """,
)
def q_lecam_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    b = e.select(
        F.least(F.floor(F.col("value") / 50), F.lit(9.0))
        .cast("bigint")
        .alias("bkt"),
        # Spark dayofweek is 1-based (Sunday=1, Saturday=7)
        F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("we"),
    )
    c = b.groupBy("bkt").agg(
        F.sum(1 - F.col("we")).cast("bigint").alias("nwd"),
        F.sum("we").cast("bigint").alias("nwe"),
    )
    tot = c.agg(
        F.sum("nwd").cast("bigint").alias("twd"),
        F.sum("nwe").cast("bigint").alias("twe"),
    )
    term = c.crossJoin(F.broadcast(tot)).selectExpr(
        f"CAST(floor({_LECAM_TERM} * 1000000000000 + 0.5) AS BIGINT) AS tq",
        "twd",
        "twe",
    )
    return term.agg(
        (F.sum("tq").cast("double") / F.lit(1000000000000)).alias("lecam"),
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.max("twd").cast("bigint").alias("n_weekday"),
        F.max("twe").cast("bigint").alias("n_weekend"),
    )


# --- Chow structural-break test (round 8) ---------------------------------
# Did the value ~ day regression change between the first and second
# half of the month? F = ((SSE_pooled - SSE_1 - SSE_2) / k) /
# ((SSE_1 + SSE_2) / (n - 2k)) with k = 2 (slope + intercept). All five
# moments per half route through DECIMAL(38,6) (exact, order-free); SSE
# is one shared fixed-order double expression per segment; the pooled
# moments are 2-element double sums (a single IEEE addition — order-free
# by commutativity). Structural-change family beside q_changepoint
# (CUSUM location) and q_cox_stuart (sign trend): Chow TESTS a declared
# break. Plan: one map-side moment aggregate by half, two 1-row cross
# joins, O(1) output.
def _chow_sse(n: str, sx: str, sy: str, sxy: str, sxx: str, syy: str) -> str:
    nd = f"CAST({n} AS DOUBLE)"
    return (
        f"(({syy} - {sy} * {sy} / {nd})"
        f" - ({sxy} - {sx} * {sy} / {nd})"
        f" * ({sxy} - {sx} * {sy} / {nd})"
        f" / ({sxx} - {sx} * {sx} / {nd}))"
    )


_CHOW_F = (
    "(((sse_pooled - sse_halves) / 2.0)"
    " / (sse_halves / (CAST(n_events AS DOUBLE) - 4.0)))"
)


@_q(
    "q_chow_test",
    f"""
    WITH r AS (
        SELECT CASE WHEN dayofyear(ts) <= 15 THEN 0 ELSE 1 END AS g,
               CAST(dayofyear(ts) AS BIGINT) AS x,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
        FROM events WHERE value IS NOT NULL
    ), h AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
               {oracle_dec_sum("x", "sx")}, {oracle_dec_sum("y", "sy")},
               {oracle_dec_sum("x * y", "sxy")},
               {oracle_dec_sum("x * x", "sxx")},
               {oracle_dec_sum("y * y", "syy")}
        FROM r GROUP BY g
    ), s2 AS (
        SELECT SUM({_chow_sse("n", "sx", "sy", "sxy", "sxx", "syy")})
                   AS sse_halves
        FROM h
    ), p AS (
        SELECT CAST(SUM(n) AS BIGINT) AS n_events, SUM(sx) AS sx,
               SUM(sy) AS sy, SUM(sxy) AS sxy, SUM(sxx) AS sxx,
               SUM(syy) AS syy
        FROM h
    ), ps AS (
        SELECT n_events,
               {_chow_sse("n_events", "sx", "sy", "sxy", "sxx", "syy")}
                   AS sse_pooled
        FROM p
    )
    SELECT n_events, sse_pooled, sse_halves, {_CHOW_F} AS chow_f
    FROM ps CROSS JOIN s2
    """,
)
def q_chow_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    r = e.select(
        F.when(F.dayofyear("ts") <= 15, 0).otherwise(1).alias("g"),
        F.dayofyear("ts").cast("bigint").alias("x"),
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("y"),
    )
    h = r.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        dec_sum("x", "sx"),
        dec_sum("y", "sy"),
        dec_sum(F.col("x") * F.col("y"), "sxy"),
        dec_sum(F.col("x") * F.col("x"), "sxx"),
        dec_sum(F.col("y") * F.col("y"), "syy"),
    )
    s2 = h.selectExpr(
        f"{_chow_sse('n', 'sx', 'sy', 'sxy', 'sxx', 'syy')} AS sse"
    ).agg(F.sum("sse").alias("sse_halves"))
    ps = (
        h.agg(
            F.sum("n").cast("bigint").alias("n_events"),
            F.sum("sx").alias("sx"),
            F.sum("sy").alias("sy"),
            F.sum("sxy").alias("sxy"),
            F.sum("sxx").alias("sxx"),
            F.sum("syy").alias("syy"),
        )
        .selectExpr(
            "n_events",
            f"{_chow_sse('n_events', 'sx', 'sy', 'sxy', 'sxx', 'syy')}"
            " AS sse_pooled",
        )
    )
    return ps.crossJoin(F.broadcast(s2)).selectExpr(
        "n_events", "sse_pooled", "sse_halves", f"{_CHOW_F} AS chow_f"
    )


# --- Cochran-Armitage trend test (round 8) --------------------------------
# Is purchase share monotonically associated with the value bucket?
# Z = (N*sum(w*r_i) - R*sum(w*n_i)) / sqrt(R(N-R)/N * (N*sum(w^2 n_i)
# - sum(w n_i)^2)) over ordered integer scores w = bucket id. Every
# sufficient statistic is an exact BIGINT off one bounded-grid
# aggregate (w <= 9 so w*n and w^2*n stay integer-safe to n ~ 1e17);
# the finish is one shared division + IEEE sqrt. Trend family beside
# q_chi2 (unordered association), q_mann_kendall (time trend) and
# q_jonckheere (rank-based ordered alternative) — this is the
# proportions-specific 1-df version. Plan: one (bucket) aggregate over
# a <=10-cell grid, O(1) output, map-side combinable.
_CA_NUM = (
    "(CAST(n AS DOUBLE) * CAST(swr AS DOUBLE)"
    " - CAST(r AS DOUBLE) * CAST(swn AS DOUBLE))"
)
_CA_VAR = (
    "(CAST(r AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(r AS DOUBLE))"
    " / CAST(n AS DOUBLE)"
    " * (CAST(n AS DOUBLE) * CAST(swwn AS DOUBLE)"
    " - CAST(swn AS DOUBLE) * CAST(swn AS DOUBLE)))"
)
_CA_Z = f"({_CA_NUM} / sqrt({_CA_VAR}))"


@_q(
    "q_cochran_armitage",
    f"""
    WITH b AS (
        SELECT CAST(least(floor(value / 50), 9.0) AS BIGINT) AS w,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS r
        FROM events WHERE value IS NOT NULL
    ), g AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS n_i,
               CAST(SUM(r) AS BIGINT) AS r_i
        FROM b GROUP BY w
    ), a AS (
        SELECT CAST(SUM(n_i) AS BIGINT) AS n, CAST(SUM(r_i) AS BIGINT) AS r,
               CAST(SUM(w * r_i) AS BIGINT) AS swr,
               CAST(SUM(w * n_i) AS BIGINT) AS swn,
               CAST(SUM(w * w * n_i) AS BIGINT) AS swwn
        FROM g
    )
    SELECT n, r AS n_purchase, {_CA_Z} AS z_trend,
           {_CA_Z} * {_CA_Z} AS z2_trend
    FROM a
    """,
)
def q_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    b = e.select(
        F.least(F.floor(F.col("value") / 50), F.lit(9.0))
        .cast("bigint")
        .alias("w"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("r"),
    )
    g = b.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_i"),
        F.sum("r").cast("bigint").alias("r_i"),
    )
    a = g.agg(
        F.sum("n_i").cast("bigint").alias("n"),
        F.sum("r_i").cast("bigint").alias("r"),
        F.sum(F.col("w") * F.col("r_i")).cast("bigint").alias("swr"),
        F.sum(F.col("w") * F.col("n_i")).cast("bigint").alias("swn"),
        F.sum(F.col("w") * F.col("w") * F.col("n_i"))
        .cast("bigint")
        .alias("swwn"),
    )
    return a.selectExpr(
        "n",
        "r AS n_purchase",
        f"{_CA_Z} AS z_trend",
        f"{_CA_Z} * {_CA_Z} AS z2_trend",
    )


# --- Cronbach's alpha (round 8) --------------------------------------------
# Internal-consistency reliability of the event-type "items" measured
# daily: items j = event types, observations d = days, x_dj = daily
# count. alpha = k/(k-1) * (1 - sum_j var_j / var_total). Each variance
# NUMERATOR v = n*sum(x^2) - sum(x)^2 is integer-valued (days absent a
# type contribute zero to both sums, so sparse (day, type) cells are
# correct as-is); it is computed from decimal-routed moments and
# quantized at 1e0 (exact: the value IS an integer while inside 2^53,
# deterministically rounded beyond — both engines share the IEEE
# sequence), so the k-term and 1-term sums are order-free BIGINTs.
# Reliability family beside q_fleiss_kappa / q_cohen_kappa (rater
# agreement) — alpha is the continuous-item view. Plan: one (day, type)
# count, two tiny re-aggs, 1-row broadcast joins, O(1) output.
# Headroom: sum(c*c) multiplies BIGINT before the decimal cast —
# integer-safe to ~3e9 events per (day, type) cell (~sf 5000 on this
# fixture's 30-day span).
_CRONBACH_V = "floor(CAST(n_days AS DOUBLE) * sxx - sx * sx + 0.5)"
_CRONBACH_VT = "floor(CAST(n_days AS DOUBLE) * stt - st * st + 0.5)"
_CRONBACH_A = (
    "(CAST(k_items AS DOUBLE) / (CAST(k_items AS DOUBLE) - 1.0)"
    " * (1.0 - CAST(sum_item_var AS DOUBLE) / CAST(total_var AS DOUBLE)))"
)


@_q(
    "q_cronbach_alpha",
    f"""
    WITH d AS (
        SELECT date_trunc('day', ts) AS d, event_type,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), it AS (
        SELECT event_type, {oracle_dec_sum("c", "sx")},
               {oracle_dec_sum("c * c", "sxx")}
        FROM d GROUP BY event_type
    ), dt AS (
        SELECT d, CAST(SUM(c) AS BIGINT) AS tc FROM d GROUP BY d
    ), nn AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
               {oracle_dec_sum("tc", "st")},
               {oracle_dec_sum("tc * tc", "stt")}
        FROM dt
    ), iv AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k_items,
               CAST(SUM(CAST({_CRONBACH_V} AS BIGINT)) AS BIGINT)
                   AS sum_item_var,
               CAST(MAX(n_days) AS BIGINT) AS n_days
        FROM it CROSS JOIN nn
    ), tv AS (
        SELECT CAST({_CRONBACH_VT} AS BIGINT) AS total_var FROM nn
    )
    SELECT n_days, k_items, sum_item_var, total_var,
           {_CRONBACH_A} AS cronbach_alpha
    FROM iv CROSS JOIN tv
    """,
)
def q_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    d = e.groupBy(
        F.date_trunc("day", F.col("ts")).alias("d"), "event_type"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    it = d.groupBy("event_type").agg(
        dec_sum("c", "sx"), dec_sum(F.col("c") * F.col("c"), "sxx")
    )
    dt = d.groupBy("d").agg(F.sum("c").cast("bigint").alias("tc"))
    nn = dt.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        dec_sum("tc", "st"),
        dec_sum(F.col("tc") * F.col("tc"), "stt"),
    )
    iv = (
        it.crossJoin(F.broadcast(nn))
        .selectExpr(f"CAST({_CRONBACH_V} AS BIGINT) AS v", "n_days")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("k_items"),
            F.sum("v").cast("bigint").alias("sum_item_var"),
            F.max("n_days").cast("bigint").alias("n_days"),
        )
    )
    tv = nn.selectExpr(f"CAST({_CRONBACH_VT} AS BIGINT) AS total_var")
    return iv.crossJoin(F.broadcast(tv)).selectExpr(
        "n_days",
        "k_items",
        "sum_item_var",
        "total_var",
        f"{_CRONBACH_A} AS cronbach_alpha",
    )


# --- Intraclass correlation ICC(1) (round 8) -------------------------------
# One-way random-effects ICC of value (cents domain) within event_type:
# how much of the value variance is BETWEEN types? SSB/SSW come from
# decimal-routed moments; the per-group T_i^2/n_i terms are quantized at
# 1e-2 and summed as BIGINT (q_chi2 pattern, k = |types| cells;
# integer-safe to ~sf 100 on this fixture), n0 is the unbalanced-design
# correction (N - sum n_i^2 / N) / (a - 1) with the n_i^2/N terms
# quantized at 1e-6. Variance-decomposition family beside q_anova_f
# (the F-test on the same decomposition) — ICC reports the proportion,
# not the test. Plan: one map-side moment aggregate by type, 1-row
# broadcasts, O(1) output.
_ICC_MSB = "((st2 / 100.0 - g * g / CAST(n AS DOUBLE)) / (CAST(a AS DOUBLE) - 1.0))"
_ICC_MSW = "((syy - st2 / 100.0) / (CAST(n AS DOUBLE) - CAST(a AS DOUBLE)))"
_ICC_N0 = (
    "((CAST(n AS DOUBLE) - CAST(sq AS DOUBLE) / 1000000.0)"
    " / (CAST(a AS DOUBLE) - 1.0))"
)
_ICC = (
    f"(({_ICC_MSB} - {_ICC_MSW})"
    f" / ({_ICC_MSB} + ({_ICC_N0} - 1.0) * {_ICC_MSW}))"
)


@_q(
    "q_icc_value",
    f"""
    WITH r AS (
        SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
        FROM events WHERE value IS NOT NULL
    ), grp AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_i,
               {oracle_dec_sum("y", "t_i")}, {oracle_dec_sum("y * y", "yy_i")}
        FROM r GROUP BY event_type
    ), tot AS (
        SELECT CAST(SUM(n_i) AS BIGINT) AS n FROM grp
    ), terms AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS a,
               CAST(SUM(CAST(floor(t_i * t_i / CAST(n_i AS DOUBLE) * 100
                                   + 0.5) AS BIGINT)) AS BIGINT) AS st2,
               CAST(SUM(CAST(floor(CAST(n_i AS DOUBLE) * CAST(n_i AS DOUBLE)
                                   / CAST(n AS DOUBLE) * 1000000 + 0.5)
                             AS BIGINT)) AS BIGINT) AS sq,
               SUM(t_i) AS g, SUM(yy_i) AS syy,
               CAST(MAX(n) AS BIGINT) AS n
        FROM grp CROSS JOIN tot
    )
    SELECT n AS n_events, a AS k_groups, {_ICC_MSB} AS msb, {_ICC_MSW} AS msw,
           {_ICC_N0} AS n0, {_ICC} AS icc
    FROM terms
    """,
)
def q_icc_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    r = e.select(
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("y"),
    )
    grp = r.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_i"),
        dec_sum("y", "t_i"),
        dec_sum(F.col("y") * F.col("y"), "yy_i"),
    )
    tot = grp.agg(F.sum("n_i").cast("bigint").alias("n"))
    terms = grp.crossJoin(F.broadcast(tot)).agg(
        F.count(F.lit(1)).cast("bigint").alias("a"),
        F.sum(
            F.expr(
                "CAST(floor(t_i * t_i / CAST(n_i AS DOUBLE) * 100 + 0.5)"
                " AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("st2"),
        F.sum(
            F.expr(
                "CAST(floor(CAST(n_i AS DOUBLE) * CAST(n_i AS DOUBLE)"
                " / CAST(n AS DOUBLE) * 1000000 + 0.5) AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("sq"),
        F.sum("t_i").alias("g"),
        F.sum("yy_i").alias("syy"),
        F.max("n").cast("bigint").alias("n"),
    )
    return terms.selectExpr(
        "n AS n_events",
        "a AS k_groups",
        f"{_ICC_MSB} AS msb",
        f"{_ICC_MSW} AS msw",
        f"{_ICC_N0} AS n0",
        f"{_ICC} AS icc",
    )


# --- Davies-Bouldin index (round 8) ----------------------------------------
# Cluster-validity score of the event-type partition over the 1-D value
# space (cents domain): DB = (1/k) sum_i max_{j != i} (s_i + s_j) /
# |mu_i - mu_j| with s_i the mean absolute deviation. The per-row
# deviation uses the EXACT integer identity |y - mu_i| = |y*n_i - S_i|
# / n_i (S_i = exact decimal cents sum), so the fact-sized sum routes
# decimals with an integer-valued summand — zero quantization on the
# big sum; only the k-term final mean is quantized (1e-9, q_chi2
# pattern). Validity family beside q_silhouette (pairwise view) and
# q_medoid: DB is the centroid-scatter view and needs only two scans.
# Plan: one moment aggregate by type, one broadcast join back for the
# deviation sum, a k x k broadcast self-join (k = |types|), O(1) output.
def _db_r(an: str, adev: str, as_: str, bn: str, bdev: str, bs: str) -> str:
    """Shared R_ij text — same operation sequence under either engine's
    column qualifiers, so the IEEE result is bit-identical."""
    scat_a = f"({adev} / (CAST({an} AS DOUBLE) * CAST({an} AS DOUBLE)))"
    scat_b = f"({bdev} / (CAST({bn} AS DOUBLE) * CAST({bn} AS DOUBLE)))"
    gap = f"abs({as_} / CAST({an} AS DOUBLE) - {bs} / CAST({bn} AS DOUBLE))"
    # NULLIF guards the equal-means pair (gap = 0): both engines then
    # yield NULL (which MAX/SUM skip identically), where a bare /0
    # diverges (non-ANSI Spark NULL vs DuckDB ieee inf) — ADVICE r8.
    return f"(({scat_a} + {scat_b}) / NULLIF({gap}, 0.0))"


@_q(
    "q_davies_bouldin",
    f"""
    WITH r AS (
        SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
        FROM events WHERE value IS NOT NULL
    ), dim AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_i,
               {oracle_dec_sum("y", "s_i")}
        FROM r GROUP BY event_type
    ), dev AS (
        SELECT r.event_type,
               {oracle_dec_sum(
                   "abs(CAST(y AS DOUBLE) * CAST(n_i AS DOUBLE) - s_i)",
                   "dev_i",
               )}
        FROM r JOIN dim ON r.event_type = dim.event_type
        GROUP BY r.event_type
    ), cl AS (
        SELECT dim.event_type, n_i, s_i, dev_i
        FROM dim JOIN dev ON dim.event_type = dev.event_type
    ), pairs AS (
        SELECT a.event_type,
               MAX({_db_r("a.n_i", "a.dev_i", "a.s_i",
                          "b.n_i", "b.dev_i", "b.s_i")}) AS max_r
        FROM cl a JOIN cl b ON a.event_type <> b.event_type
        GROUP BY a.event_type
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS k_clusters,
           CAST(SUM(CAST(floor(max_r * 1000000000 + 0.5) AS BIGINT))
                AS DOUBLE) / 1000000000 / COUNT(*) AS db_index
    FROM pairs
    """,
)
def q_davies_bouldin(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    r = e.select(
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("y"),
    )
    dim = r.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_i"), dec_sum("y", "s_i")
    )
    dev = (
        r.join(F.broadcast(dim), "event_type")
        .groupBy("event_type")
        .agg(
            dec_sum(
                F.abs(
                    F.col("y").cast("double") * F.col("n_i").cast("double")
                    - F.col("s_i")
                ),
                "dev_i",
            )
        )
    )
    cl = dim.join(dev, "event_type")
    a = cl.selectExpr(
        "event_type", "n_i AS a_n_i", "s_i AS a_s_i", "dev_i AS a_dev_i"
    )
    b = cl.selectExpr(
        "event_type AS b_type", "n_i AS b_n_i", "s_i AS b_s_i",
        "dev_i AS b_dev_i",
    )
    r_expr = _db_r(
        "a_n_i", "a_dev_i", "a_s_i", "b_n_i", "b_dev_i", "b_s_i"
    )
    pairs = (
        a.join(F.broadcast(b), F.col("event_type") != F.col("b_type"))
        .groupBy("event_type")
        .agg(F.expr(f"MAX({r_expr})").alias("max_r"))
    )
    return pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("k_clusters"),
        (
            F.sum(
                F.expr(
                    "CAST(floor(max_r * 1000000000 + 0.5) AS BIGINT)"
                )
            ).cast("double")
            / F.lit(1000000000)
            / F.count(F.lit(1))
        ).alias("db_index"),
    )


# --- Allan variance ladder (round 8) ---------------------------------------
# Frequency-stability view of the daily arrival series: AVAR(tau) =
# sum_k (S_{k+1} - S_k)^2 / (2 (M-1) tau^2) over non-overlapping tau-day
# bins (only FULL bins kept), tau in {1, 2, 4, 8}. Distinguishes white
# noise (slope -1 in tau) from drift — the multi-resolution counterpart
# of q_fano's single-scale dispersion. Bin sums are exact BIGINTs; the
# squared diff is an IEEE double of exact inputs routed through the
# decimal sum (exact while |diff| <= 9.4e7 events/bin — far past this
# fixture's scale — and correctly-rounded identically beyond). Plan:
# one (day) count, a 4-tau literal explode, lag windows PARTITIONED by
# tau over O(days/tau) rows, O(taus) output.
_AVAR = (
    "(sum_d2 / (2.0 * (CAST(m_bins AS DOUBLE) - 1.0)"
    " * CAST(tau AS DOUBLE) * CAST(tau AS DOUBLE)))"
)


@_q(
    "q_allan_variance",
    f"""
    WITH daily AS (
        SELECT CAST(dayofyear(ts) AS BIGINT) AS doy,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1
    ), bins AS (
        SELECT tau,
               CAST(floor((doy - 1) / CAST(tau AS DOUBLE)) AS BIGINT) AS k,
               CAST(SUM(c) AS BIGINT) AS s,
               CAST(COUNT(*) AS BIGINT) AS nd
        FROM daily CROSS JOIN (VALUES (1), (2), (4), (8)) AS taus(tau)
        GROUP BY 1, 2
    ), full_bins AS (
        SELECT tau, k, s FROM bins WHERE nd = tau
    ), diffs AS (
        SELECT tau, s - LAG(s) OVER (PARTITION BY tau ORDER BY k) AS d
        FROM full_bins
    ), agg AS (
        SELECT tau, CAST(COUNT(*) + 1 AS BIGINT) AS m_bins,
               {oracle_dec_sum(
                   "CAST(d AS DOUBLE) * CAST(d AS DOUBLE)", "sum_d2"
               )}
        FROM diffs WHERE d IS NOT NULL GROUP BY tau
    )
    SELECT CAST(tau AS BIGINT) AS tau, m_bins, sum_d2, {_AVAR} AS avar
    FROM agg ORDER BY tau
    """,
)
def q_allan_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(F.dayofyear("ts").cast("bigint").alias("doy")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    taus = daily.select(
        "doy",
        "c",
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(4), F.lit(8))).alias(
            "tau"
        ),
    )
    bins = taus.groupBy(
        "tau",
        F.expr(
            "CAST(floor((doy - 1) / CAST(tau AS DOUBLE)) AS BIGINT)"
        ).alias("k"),
    ).agg(
        F.sum("c").cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("nd"),
    )
    full_bins = bins.where(F.col("nd") == F.col("tau")).select(
        "tau", "k", "s"
    )
    w = Window.partitionBy("tau").orderBy("k")
    diffs = full_bins.select(
        "tau", (F.col("s") - F.lag("s").over(w)).alias("d")
    ).where(F.col("d").isNotNull())
    agg = diffs.groupBy("tau").agg(
        (F.count(F.lit(1)) + 1).cast("bigint").alias("m_bins"),
        dec_sum(
            F.col("d").cast("double") * F.col("d").cast("double"), "sum_d2"
        ),
    )
    return agg.selectExpr(
        "CAST(tau AS BIGINT) AS tau", "m_bins", "sum_d2", f"{_AVAR} AS avar"
    ).orderBy("tau")


# --- Rescaled-range (R/S) ladder (round 8) ----------------------------------
# Hurst-style long-memory diagnostic on the daily arrival series: for
# window sizes n in {5, 10, 15}, split the day sequence into full
# non-overlapping windows, compute R = range of cumulative deviations
# from the window mean (the 0 baseline included, the classic Z_0 = 0
# convention) and S = the population std, and report the mean R/S per
# size. White noise grows ~ n^0.5; persistent series grow faster. The
# cumulative deviation uses the exact integer identity
# Z_t = (n*C_t - t*S_w)/n, so R's numerator is an exact BIGINT range;
# S is one IEEE sqrt of exact moments; the per-size mean over <=6
# windows is quantized at 1e-9 (q_chi2 pattern). No log-log fit — the
# statistic table stays transcendental-free (slope left to the reader,
# the q_ndcg literals policy does not apply to outputs). Zero-variance
# windows are excluded by spec. Long-memory family beside q_acf /
# q_variance_ratio. Plan: one (day) count; every window below runs on
# the O(days) aggregate; O(sizes) output.
_RS = (
    "(CAST(r_num AS DOUBLE) / CAST(n_size AS DOUBLE)"
    " / sqrt((CAST(qq AS DOUBLE) - CAST(s_w AS DOUBLE) * CAST(s_w AS DOUBLE)"
    " / CAST(n_size AS DOUBLE)) / CAST(n_size AS DOUBLE)))"
)


@_q(
    "q_rescaled_range",
    f"""
    WITH daily AS (
        SELECT CAST(dayofyear(ts) AS BIGINT) AS doy,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1
    ), idx AS (
        SELECT c, CAST(ROW_NUMBER() OVER (ORDER BY doy) AS BIGINT) AS rn
        FROM daily
    ), ex AS (
        SELECT n_size, c, rn,
               CAST(floor((rn - 1) / CAST(n_size AS DOUBLE)) AS BIGINT) AS w,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY n_size,
                       CAST(floor((rn - 1) / CAST(n_size AS DOUBLE))
                            AS BIGINT)
                   ORDER BY rn) AS BIGINT) AS pos
        FROM idx CROSS JOIN (VALUES (5), (10), (15)) AS sizes(n_size)
    ), cum AS (
        SELECT n_size, w, pos, c,
               CAST(SUM(c) OVER (PARTITION BY n_size, w ORDER BY pos)
                    AS BIGINT) AS ct,
               CAST(SUM(c) OVER (PARTITION BY n_size, w) AS BIGINT) AS s_w,
               CAST(SUM(c * c) OVER (PARTITION BY n_size, w) AS BIGINT)
                   AS qq,
               CAST(COUNT(*) OVER (PARTITION BY n_size, w) AS BIGINT) AS nd
        FROM ex
    ), win AS (
        SELECT n_size, w,
               GREATEST(MAX(n_size * ct - pos * s_w), 0)
                 - LEAST(MIN(n_size * ct - pos * s_w), 0) AS r_num,
               CAST(MAX(s_w) AS BIGINT) AS s_w,
               CAST(MAX(qq) AS BIGINT) AS qq
        FROM cum WHERE nd = n_size
        GROUP BY n_size, w
        HAVING CAST(MAX(qq) AS BIGINT) * n_size
                 <> CAST(MAX(s_w) AS BIGINT) * CAST(MAX(s_w) AS BIGINT)
    ), rs AS (
        SELECT n_size,
               CAST(floor({_RS} * 1000000000 + 0.5) AS BIGINT) AS rs_q
        FROM win
    )
    SELECT CAST(n_size AS BIGINT) AS n_size,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(rs_q) AS DOUBLE) / 1000000000 / COUNT(*) AS mean_rs
    FROM rs GROUP BY n_size ORDER BY n_size
    """,
)
def q_rescaled_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(F.dayofyear("ts").cast("bigint").alias("doy")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    # bounded: O(days) daily-count aggregate — the day index ranks the
    # 30-row daily relation, never the fact table
    idx = daily.select(
        "c",
        F.row_number().over(Window.orderBy("doy")).cast("bigint").alias(
            "rn"
        ),
    )
    ex = idx.select(
        "c",
        "rn",
        F.explode(F.array(F.lit(5), F.lit(10), F.lit(15))).alias("n_size"),
    ).withColumn(
        "w",
        F.expr("CAST(floor((rn - 1) / CAST(n_size AS DOUBLE)) AS BIGINT)"),
    )
    wp = Window.partitionBy("n_size", "w").orderBy("rn")
    wall = Window.partitionBy("n_size", "w")
    cum = ex.select(
        "n_size",
        "w",
        "c",
        F.row_number().over(wp).cast("bigint").alias("pos"),
        F.sum("c").over(wp).cast("bigint").alias("ct"),
        F.sum("c").over(wall).cast("bigint").alias("s_w"),
        F.sum(F.col("c") * F.col("c")).over(wall).cast("bigint").alias("qq"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("nd"),
    )
    win = (
        cum.where(F.col("nd") == F.col("n_size"))
        .groupBy("n_size", "w")
        .agg(
            (
                F.greatest(
                    F.max(
                        F.col("n_size") * F.col("ct")
                        - F.col("pos") * F.col("s_w")
                    ),
                    F.lit(0),
                )
                - F.least(
                    F.min(
                        F.col("n_size") * F.col("ct")
                        - F.col("pos") * F.col("s_w")
                    ),
                    F.lit(0),
                )
            ).alias("r_num"),
            F.max("s_w").cast("bigint").alias("s_w"),
            F.max("qq").cast("bigint").alias("qq"),
        )
        .where(
            F.col("qq") * F.col("n_size") != F.col("s_w") * F.col("s_w")
        )
    )
    rs = win.selectExpr(
        "n_size",
        f"CAST(floor({_RS} * 1000000000 + 0.5) AS BIGINT) AS rs_q",
    )
    return (
        rs.groupBy("n_size")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_windows"),
            (
                F.sum("rs_q").cast("double")
                / F.lit(1000000000)
                / F.count(F.lit(1))
            ).alias("mean_rs"),
        )
        .selectExpr(
            "CAST(n_size AS BIGINT) AS n_size", "n_windows", "mean_rs"
        )
        .orderBy("n_size")
    )


# --- SPRT conversion-rate monitor (round 8) ---------------------------------
# Wald's sequential probability ratio test on the daily purchase share:
# H0 p = 0.20 vs H1 p = 0.25, alpha = beta = 0.05. The cumulative
# log-likelihood ratio is LLR_t = S_t*ln(p1/p0) + (N_t-S_t)*
# ln((1-p1)/(1-p0)) — the two log factors and the ln boundaries enter
# as PRECOMPUTED double literals (the q_ndcg policy: no in-engine
# transcendental), and S_t/N_t are exact cumulative BIGINTs, so each
# day's LLR is two multiplies + one add of exact inputs. Sequential-
# testing family beside q_group_sequential (Pocock-style looks) — SPRT
# is the continuous-monitoring boundary. Plan: one (day) aggregate;
# the cumulative window runs on the O(days) relation; O(days) output.
_SPRT_L1 = "0.22314355131420976"  # ln(0.25/0.20)
_SPRT_L0 = "-0.06453852113757118"  # ln(0.75/0.80)
_SPRT_A = "2.9444389791664403"  # ln(0.95/0.05)
_SPRT_B = "-2.9444389791664403"  # ln(0.05/0.95)
_SPRT_LLR = (
    f"(CAST(s_cum AS DOUBLE) * {_SPRT_L1}"
    f" + (CAST(n_cum AS DOUBLE) - CAST(s_cum AS DOUBLE)) * {_SPRT_L0})"
)
_SPRT_DECISION = (
    f"CASE WHEN {_SPRT_LLR} >= {_SPRT_A} THEN 'accept_h1'"
    f" WHEN {_SPRT_LLR} <= {_SPRT_B} THEN 'accept_h0'"
    f" ELSE 'continue' END"
)


@_q(
    "q_sprt_monitor",
    f"""
    WITH daily AS (
        SELECT CAST(dayofyear(ts) AS BIGINT) AS doy,
               CAST(COUNT(*) AS BIGINT) AS n_d,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS s_d
        FROM events GROUP BY 1
    ), cum AS (
        SELECT doy,
               CAST(SUM(n_d) OVER (ORDER BY doy) AS BIGINT) AS n_cum,
               CAST(SUM(s_d) OVER (ORDER BY doy) AS BIGINT) AS s_cum
        FROM daily
    )
    SELECT doy, n_cum, s_cum, {_SPRT_LLR} AS llr,
           {_SPRT_DECISION} AS decision
    FROM cum ORDER BY doy
    """,
)
def q_sprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(F.dayofyear("ts").cast("bigint").alias("doy")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_d"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("s_d"),
    )
    # bounded: O(days) daily aggregate — the SPRT look sequence is one
    # row per day, never fact-sized
    wc = Window.orderBy("doy").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = daily.select(
        "doy",
        F.sum("n_d").over(wc).cast("bigint").alias("n_cum"),
        F.sum("s_d").over(wc).cast("bigint").alias("s_cum"),
    )
    return cum.selectExpr(
        "doy",
        "n_cum",
        "s_cum",
        f"{_SPRT_LLR} AS llr",
        f"{_SPRT_DECISION} AS decision",
    ).orderBy("doy")


# --- Palma inequality ratio (round 8) ---------------------------------------
# Revenue concentration: (top-10% customers' revenue) / (bottom-40%
# customers' revenue), the inequality measure that ignores the stable
# middle 50% — the policy-world complement of q_gini_revenue and
# q_lorenz_deciles. Customer revenue is an exact cents BIGINT off the
# decimal route; ranks come from the distributed sampled ranker
# (plans/rank.py — never a single-task global window); the group cut
# points floor(n/10) / floor(4n/10) are shared integer-floor text.
# Plan: one orders aggregate by customer, the range-partitioned rank,
# one final 1-row fold. O(1) output.
# NULLIF guards the degenerate n_customers < 3 input (floor(0.4 n) = 0
# selects nobody, bottom_cents = 0): both engines then yield NULL, where
# a bare /0 diverges (non-ANSI Spark NULL vs DuckDB ieee inf) — ADVICE r8.
_PALMA = (
    "(CAST(top_cents AS DOUBLE) / CAST(NULLIF(bottom_cents, 0) AS DOUBLE))"
)


@_q(
    "q_palma_ratio",
    f"""
    WITH cust AS (
        SELECT o_custkey,
               CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS rev_cents
        FROM orders GROUP BY o_custkey
    ), ranked AS (
        SELECT rev_cents,
               CAST(ROW_NUMBER() OVER (ORDER BY rev_cents, o_custkey)
                    AS BIGINT) AS rnk,
               CAST(COUNT(*) OVER () AS BIGINT) AS nc
        FROM cust
    ), agg AS (
        SELECT CAST(MAX(nc) AS BIGINT) AS n_customers,
               CAST(floor(CAST(MAX(nc) AS DOUBLE) * 0.1) AS BIGINT) AS k_top,
               CAST(floor(CAST(MAX(nc) AS DOUBLE) * 0.4) AS BIGINT)
                   AS k_bottom,
               CAST(SUM(CASE WHEN rnk > nc - CAST(floor(CAST(nc AS DOUBLE)
                                  * 0.1) AS BIGINT)
                             THEN rev_cents ELSE 0 END) AS BIGINT)
                   AS top_cents,
               CAST(SUM(CASE WHEN rnk <= CAST(floor(CAST(nc AS DOUBLE)
                                  * 0.4) AS BIGINT)
                             THEN rev_cents ELSE 0 END) AS BIGINT)
                   AS bottom_cents
        FROM ranked
    )
    SELECT n_customers, k_top, k_bottom, top_cents, bottom_cents,
           {_PALMA} AS palma_ratio
    FROM agg
    """,
)
def q_palma_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
        )
        .cast("bigint")
        .alias("rev_cents")
    )
    ranked = global_order(
        cust,
        ["rev_cents", "o_custkey"],
        rank_col="rnk",
        total_col="nc",
    )
    agg = ranked.agg(
        F.max("nc").cast("bigint").alias("n_customers"),
        F.expr(
            "CAST(floor(CAST(MAX(nc) AS DOUBLE) * 0.1) AS BIGINT)"
        ).alias("k_top"),
        F.expr(
            "CAST(floor(CAST(MAX(nc) AS DOUBLE) * 0.4) AS BIGINT)"
        ).alias("k_bottom"),
        F.expr(
            "CAST(SUM(CASE WHEN rnk > nc - CAST(floor(CAST(nc AS DOUBLE)"
            " * 0.1) AS BIGINT) THEN rev_cents ELSE 0 END) AS BIGINT)"
        ).alias("top_cents"),
        F.expr(
            "CAST(SUM(CASE WHEN rnk <= CAST(floor(CAST(nc AS DOUBLE)"
            " * 0.4) AS BIGINT) THEN rev_cents ELSE 0 END) AS BIGINT)"
        ).alias("bottom_cents"),
    )
    return agg.selectExpr(
        "n_customers",
        "k_top",
        "k_bottom",
        "top_cents",
        "bottom_cents",
        f"{_PALMA} AS palma_ratio",
    )


# --- Breusch-Pagan heteroscedasticity test (round 8) ------------------------
# Does the residual variance of the value ~ day regression change with
# the day? LM = n * R^2 of the auxiliary regression of the squared
# residual on the regressor. Two passes: (1) decimal-routed moments fix
# slope/intercept as shared IEEE doubles; (2) each row's squared
# residual is an IEEE double of exact inputs, explicitly quantized at
# 1e-2 (BIGINT-safe: max e^2*100 ~ 2.4e11 per row), and the auxiliary
# moments sum the QUANTIZED INTEGER domain (R^2 is invariant to the
# u-scale, so the /100 never needs to happen): u and u*x are exact
# BIGINTs; u*u is an integer-valued double (exact below 2^53,
# correctly-rounded identically beyond) so its decimal cast has no
# half-ulp knife edge (common.py second rule). These sums route
# DECIMAL(38,0), not (38,6): at suu's ~1e26 magnitude the (38,6)
# unscaled integer exceeds 2^53, and DuckDB's two-step
# unscaled->double->/1e6 conversion then differs from Spark's
# single BigDecimal conversion by an ulp; scale 0 removes the divide
# so both engines do ONE correctly-rounded conversion. Family
# beside q_durbin_watson (serial correlation) and q_jarque_bera
# (normality) — BP is the variance-stability leg. Plan: two map-side
# moment aggregates over the fact scan + a 1-row broadcast; O(1)
# output.
_BP_SLOPE = (
    "((CAST(n AS DOUBLE) * sxy - sx * sy)"
    " / (CAST(n AS DOUBLE) * sxx - sx * sx))"
)
_BP_ICEPT = f"((sy - {_BP_SLOPE} * sx) / CAST(n AS DOUBLE))"
_BP_R2 = (
    "((CAST(n AS DOUBLE) * sux - su * sx)"
    " * (CAST(n AS DOUBLE) * sux - su * sx)"
    " / ((CAST(n AS DOUBLE) * suu - su * su)"
    " * (CAST(n AS DOUBLE) * sxx - sx * sx)))"
)
_BP_LM = f"(CAST(n AS DOUBLE) * {_BP_R2})"


@_q(
    "q_breusch_pagan",
    f"""
    WITH r AS (
        SELECT CAST(dayofyear(ts) AS BIGINT) AS x,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
        FROM events WHERE value IS NOT NULL
    ), m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               {oracle_dec_sum("x", "sx")}, {oracle_dec_sum("y", "sy")},
               {oracle_dec_sum("x * y", "sxy")},
               {oracle_dec_sum("x * x", "sxx")}
        FROM r
    ), params AS (
        SELECT n, sx, sxx, {_BP_SLOPE} AS slope, {_BP_ICEPT} AS icept
        FROM m
    ), u AS (
        SELECT x, slope, icept, n, sx, sxx,
               CAST(floor((CAST(y AS DOUBLE) - icept
                           - slope * CAST(x AS DOUBLE))
                          * (CAST(y AS DOUBLE) - icept
                             - slope * CAST(x AS DOUBLE))
                          * 100 + 0.5) AS BIGINT) AS uq
        FROM r CROSS JOIN params
    ), aux AS (
        SELECT CAST(MAX(n) AS BIGINT) AS n, MAX(sx) AS sx, MAX(sxx) AS sxx,
               MAX(slope) AS slope, MAX(icept) AS icept,
               CAST(SUM(CAST(uq AS DECIMAL(38,0))) AS DOUBLE) AS su,
               CAST(SUM(CAST(uq * x AS DECIMAL(38,0))) AS DOUBLE) AS sux,
               CAST(SUM(CAST(CAST(uq AS DOUBLE) * CAST(uq AS DOUBLE)
                             AS DECIMAL(38,0))) AS DOUBLE) AS suu
        FROM u
    )
    SELECT n AS n_events, slope, icept AS intercept, {_BP_R2} AS r2_aux,
           {_BP_LM} AS bp_lm
    FROM aux
    """,
)
def q_breusch_pagan(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    r = e.select(
        F.dayofyear("ts").cast("bigint").alias("x"),
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("y"),
    )
    m = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        dec_sum("x", "sx"),
        dec_sum("y", "sy"),
        dec_sum(F.col("x") * F.col("y"), "sxy"),
        dec_sum(F.col("x") * F.col("x"), "sxx"),
    )
    params = m.selectExpr(
        "n", "sx", "sxx", f"{_BP_SLOPE} AS slope", f"{_BP_ICEPT} AS icept"
    )
    u = r.crossJoin(F.broadcast(params)).selectExpr(
        "x",
        "slope",
        "icept",
        "n",
        "sx",
        "sxx",
        "CAST(floor((CAST(y AS DOUBLE) - icept - slope * CAST(x AS DOUBLE))"
        " * (CAST(y AS DOUBLE) - icept - slope * CAST(x AS DOUBLE))"
        " * 100 + 0.5) AS BIGINT) AS uq",
    )
    aux = u.agg(
        F.max("n").cast("bigint").alias("n"),
        F.max("sx").alias("sx"),
        F.max("sxx").alias("sxx"),
        F.max("slope").alias("slope"),
        F.max("icept").alias("icept"),
        F.sum(F.col("uq").cast("decimal(38,0)"))
        .cast("double")
        .alias("su"),
        F.sum((F.col("uq") * F.col("x")).cast("decimal(38,0)"))
        .cast("double")
        .alias("sux"),
        F.sum(
            F.expr("CAST(uq AS DOUBLE) * CAST(uq AS DOUBLE)").cast(
                "decimal(38,0)"
            )
        )
        .cast("double")
        .alias("suu"),
    )
    return aux.selectExpr(
        "n AS n_events",
        "slope",
        "icept AS intercept",
        f"{_BP_R2} AS r2_aux",
        f"{_BP_LM} AS bp_lm",
    )


# ========================= round 9 additions ==============================
# Ten statistics/inequality/association operators, all transcendental-
# free (the module exactness policy: integer/decimal sufficient
# statistics, doubles only as final shared-text finishes, NULLIF on
# every denominator that can be zero on a degenerate input — the
# ADVICE r8 rule applied from birth). Reference parity: the reference's
# surface stops at parse/window/store (spark/streaming-shorttime.py);
# these extend the analytics layer per SURVEY.md §2 Table C.

# --- Somers' D ordinal association (round 9) -------------------------------
# Asymmetric ordinal association D_yx over orders: does the price band
# (Y) move with the priority band (X)? D_yx = (Nc - Nd) / (Nc + Nd +
# Ty), Ty = pairs tied on Y but differing on X — the directional member
# of the concordance family beside q_kendall_tau (symmetric) and
# q_gk_gamma (tie-dropping). Pair counts come from the BOUNDED
# contingency grid (<= 5 priorities x 6 price bands), never from row
# pairs: Nc = sum over cell pairs (a,b), a.px < b.px and a.yb < b.yb,
# of n_a * n_b. Cell products are doubles of exact integer counts
# routed through the decimal sum. CAVEAT (ADVICE r9, applies to this
# whole pair family — q_somers_d, q_gk_gamma, q_stuart_tau_c, and the
# spatial q_moran_i/q_geary_c): cross-engine parity of the
# DECIMAL(38,6)→DOUBLE finish is exact only while the scaled sum stays
# below 2^53 (~9e15); beyond that DuckDB's int128/1e6 two-step cast can
# round differently from Spark (observed on q_gini_md at sf0.1), and
# nc/nd here are ~n² pair counts that vastly exceed it at 100 TB scale.
# Value-dependent beyond 2^53, NOT fully pinned — unlike the cents sums
# there is no BIGINT-exact alternative for a product-of-counts sum.
_PAIR_PROD = "CAST(a.n AS DOUBLE) * CAST(b.n AS DOUBLE)"
_SOMERS_D = (
    "(CAST(nc - nd AS DOUBLE) / CAST(NULLIF(nc + nd + ty, 0.0) AS DOUBLE))"
)


@_q(
    "q_somers_d",
    f"""
    WITH g AS (
        SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS px,
               CAST(least(floor(o_totalprice / 100000), 5.0) AS BIGINT) AS yb,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders GROUP BY 1, 2
    ), p AS (
        SELECT {oracle_dec_sum(
            f"CASE WHEN a.yb < b.yb THEN {_PAIR_PROD} ELSE 0.0 END", "nc"
        )},
               {oracle_dec_sum(
            f"CASE WHEN a.yb > b.yb THEN {_PAIR_PROD} ELSE 0.0 END", "nd"
        )},
               {oracle_dec_sum(
            f"CASE WHEN a.yb = b.yb THEN {_PAIR_PROD} ELSE 0.0 END", "ty"
        )}
        FROM g a JOIN g b ON a.px < b.px
    )
    SELECT nc, nd, ty, {_SOMERS_D} AS somers_d FROM p
    """,
)
def q_somers_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    g = o.groupBy(
        F.expr("CAST(substring(o_orderpriority, 1, 1) AS BIGINT)").alias("px"),
        F.expr(
            "CAST(least(floor(o_totalprice / 100000), 5.0) AS BIGINT)"
        ).alias("yb"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a = g.selectExpr("px AS a_px", "yb AS a_yb", "n AS a_n")
    b = g.selectExpr("px AS b_px", "yb AS b_yb", "n AS b_n")
    prod = "CAST(a_n AS DOUBLE) * CAST(b_n AS DOUBLE)"
    pairs = a.join(F.broadcast(b), F.col("a_px") < F.col("b_px"))
    p = pairs.agg(
        dec_sum(F.expr(f"CASE WHEN a_yb < b_yb THEN {prod} ELSE 0.0 END"), "nc"),
        dec_sum(F.expr(f"CASE WHEN a_yb > b_yb THEN {prod} ELSE 0.0 END"), "nd"),
        dec_sum(F.expr(f"CASE WHEN a_yb = b_yb THEN {prod} ELSE 0.0 END"), "ty"),
    )
    return p.selectExpr("nc", "nd", "ty", f"{_SOMERS_D} AS somers_d")


# --- Goodman-Kruskal gamma (round 9) ----------------------------------------
# The tie-dropping concordance coefficient over events: hour-of-day (X,
# 0-23 — identical in both engines, unlike dayofweek's labeling) vs
# value band (Y, 10 fixed-width buckets). gamma = (Nc - Nd)/(Nc + Nd) —
# the PRE-family companion of q_gk_lambda (both Goodman-Kruskal, lambda
# on error rate, gamma on pair concordance). Same bounded-grid pair
# algebra as q_somers_d (<= 24 x 10 cells, broadcast self-join).
_GK_GAMMA = "(CAST(nc - nd AS DOUBLE) / CAST(NULLIF(nc + nd, 0.0) AS DOUBLE))"


@_q(
    "q_gk_gamma",
    f"""
    WITH g AS (
        SELECT CAST(hour(ts) AS BIGINT) AS px,
               CAST(least(floor(value / 50), 9.0) AS BIGINT) AS yb,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ), p AS (
        SELECT {oracle_dec_sum(
            f"CASE WHEN a.yb < b.yb THEN {_PAIR_PROD} ELSE 0.0 END", "nc"
        )},
               {oracle_dec_sum(
            f"CASE WHEN a.yb > b.yb THEN {_PAIR_PROD} ELSE 0.0 END", "nd"
        )}
        FROM g a JOIN g b ON a.px < b.px
    )
    SELECT nc, nd, {_GK_GAMMA} AS gk_gamma FROM p
    """,
)
def q_gk_gamma(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    g = e.groupBy(
        F.hour("ts").cast("bigint").alias("px"),
        F.expr("CAST(least(floor(value / 50), 9.0) AS BIGINT)").alias("yb"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a = g.selectExpr("px AS a_px", "yb AS a_yb", "n AS a_n")
    b = g.selectExpr("px AS b_px", "yb AS b_yb", "n AS b_n")
    prod = "CAST(a_n AS DOUBLE) * CAST(b_n AS DOUBLE)"
    pairs = a.join(F.broadcast(b), F.col("a_px") < F.col("b_px"))
    p = pairs.agg(
        dec_sum(F.expr(f"CASE WHEN a_yb < b_yb THEN {prod} ELSE 0.0 END"), "nc"),
        dec_sum(F.expr(f"CASE WHEN a_yb > b_yb THEN {prod} ELSE 0.0 END"), "nd"),
    )
    return p.selectExpr("nc", "nd", f"{_GK_GAMMA} AS gk_gamma")


# --- Stuart's tau-c (round 9) ------------------------------------------------
# Concordance for RECTANGULAR grids, where tau-b under-corrects:
# tau_c = 2m(Nc - Nd) / (n^2 (m-1)), m = min(#rows, #cols) — over
# lineitem's line-number (X, 1-7) vs quantity band (Y, 5 fixed
# buckets). Same bounded-grid pair algebra; m and n are exact integer
# aggregates of the grid itself, so the finish is one shared
# expression. Output is the full evidence row (nc, nd, n, m, tau_c).
_TAU_C = (
    "(2.0 * CAST(m AS DOUBLE) * (nc - nd)"
    " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
    " * CAST(NULLIF(m - 1, 0) AS DOUBLE)))"
)


@_q(
    "q_stuart_tau_c",
    f"""
    WITH g AS (
        SELECT CAST(l_linenumber AS BIGINT) AS px,
               CAST(least(floor(l_quantity / 10), 4.0) AS BIGINT) AS yb,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem GROUP BY 1, 2
    ), dims AS (
        SELECT CAST(SUM(n) AS BIGINT) AS n,
               CAST(least(COUNT(DISTINCT px), COUNT(DISTINCT yb)) AS BIGINT)
                   AS m
        FROM g
    ), p AS (
        SELECT {oracle_dec_sum(
            f"CASE WHEN a.yb < b.yb THEN {_PAIR_PROD} ELSE 0.0 END", "nc"
        )},
               {oracle_dec_sum(
            f"CASE WHEN a.yb > b.yb THEN {_PAIR_PROD} ELSE 0.0 END", "nd"
        )}
        FROM g a JOIN g b ON a.px < b.px
    )
    SELECT nc, nd, n, m, {_TAU_C} AS tau_c FROM p CROSS JOIN dims
    """,
)
def q_stuart_tau_c(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    g = li.groupBy(
        F.col("l_linenumber").cast("bigint").alias("px"),
        F.expr("CAST(least(floor(l_quantity / 10), 4.0) AS BIGINT)").alias("yb"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    dims = g.agg(
        F.sum("n").cast("bigint").alias("n"),
        F.least(F.countDistinct("px"), F.countDistinct("yb"))
        .cast("bigint")
        .alias("m"),
    )
    a = g.selectExpr("px AS a_px", "yb AS a_yb", "n AS a_n")
    b = g.selectExpr("px AS b_px", "yb AS b_yb", "n AS b_n")
    prod = "CAST(a_n AS DOUBLE) * CAST(b_n AS DOUBLE)"
    pairs = a.join(F.broadcast(b), F.col("a_px") < F.col("b_px"))
    p = pairs.agg(
        dec_sum(F.expr(f"CASE WHEN a_yb < b_yb THEN {prod} ELSE 0.0 END"), "nc"),
        dec_sum(F.expr(f"CASE WHEN a_yb > b_yb THEN {prod} ELSE 0.0 END"), "nd"),
    )
    return p.crossJoin(F.broadcast(dims)).selectExpr(
        "nc", "nd", "n", "m", f"{_TAU_C} AS tau_c"
    )


# --- Mantel-Haenszel pooled odds ratio (round 9) ----------------------------
# Confounder-adjusted association: is a high-value order associated
# with urgent priority AFTER stratifying by the customer's nation?
# OR_MH = sum_i(a_i d_i / n_i) / sum_i(b_i c_i / n_i) over per-nation
# 2x2 tables. Per-stratum terms are doubles of exact integer counts,
# explicitly quantized at 1e-6 and summed as BIGINT (the q_chi2
# pattern) so the <=25-term sums are order-free. 1e-6, not 1e-9
# (ADVICE r9): at the 100 TB regime a*d/n is ~3e17 per stratum and a
# 25-term sum of 1e9-scaled terms would sit within 25% of 2^63 —
# 1e6 buys three orders of headroom, still far below double noise; the final ratio is one
# shared division with a NULLIF guard (degenerate: no stratum has both
# a non-exposed urgent and an exposed non-urgent order). Plan: one
# dim join (nation key off the customer table), one (nation) count
# aggregate, O(1) output.
_MH_OR = "(CAST(num_q AS DOUBLE) / CAST(NULLIF(den_q, 0) AS DOUBLE))"


@_q(
    "q_mh_odds",
    f"""
    WITH j AS (
        SELECT c.c_nationkey AS nk,
               CASE WHEN o.o_totalprice > 150000 THEN 1 ELSE 0 END AS e,
               CASE WHEN substring(o.o_orderpriority, 1, 1) IN ('1', '2')
                    THEN 1 ELSE 0 END AS y
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), s AS (
        SELECT nk,
               CAST(SUM(e * y) AS BIGINT) AS a,
               CAST(SUM(e * (1 - y)) AS BIGINT) AS b,
               CAST(SUM((1 - e) * y) AS BIGINT) AS c,
               CAST(SUM((1 - e) * (1 - y)) AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM j GROUP BY nk
    ), q AS (
        SELECT CAST(SUM(CAST(floor(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                                   / CAST(n AS DOUBLE) * 1000000 + 0.5)
                             AS BIGINT)) AS BIGINT) AS num_q,
               CAST(SUM(CAST(floor(CAST(b AS DOUBLE) * CAST(c AS DOUBLE)
                                   / CAST(n AS DOUBLE) * 1000000 + 0.5)
                             AS BIGINT)) AS BIGINT) AS den_q,
               CAST(COUNT(*) AS BIGINT) AS n_strata
        FROM s
    )
    SELECT n_strata, num_q, den_q, {_MH_OR} AS or_mh FROM q
    """,
)
def q_mh_odds(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    j = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_nationkey").alias("nk"),
        F.expr("CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END").alias("e"),
        F.expr(
            "CASE WHEN substring(o_orderpriority, 1, 1) IN ('1', '2')"
            " THEN 1 ELSE 0 END"
        ).alias("y"),
    )
    s = j.groupBy("nk").agg(
        F.sum(F.col("e") * F.col("y")).cast("bigint").alias("a"),
        F.sum(F.col("e") * (1 - F.col("y"))).cast("bigint").alias("b"),
        F.sum((1 - F.col("e")) * F.col("y")).cast("bigint").alias("c"),
        F.sum((1 - F.col("e")) * (1 - F.col("y"))).cast("bigint").alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    q = s.agg(
        F.sum(
            F.expr(
                "CAST(floor(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)"
                " / CAST(n AS DOUBLE) * 1000000 + 0.5) AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("num_q"),
        F.sum(
            F.expr(
                "CAST(floor(CAST(b AS DOUBLE) * CAST(c AS DOUBLE)"
                " / CAST(n AS DOUBLE) * 1000000 + 0.5) AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("den_q"),
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
    )
    return q.selectExpr("n_strata", "num_q", "den_q", f"{_MH_OR} AS or_mh")


# --- Dixon's Q outlier gap test (round 9) -----------------------------------
# Is the extreme value in each event_type's sample suspiciously far
# from its neighbor? Q_low = (x(2) - x(1)) / range, Q_high = (x(n) -
# x(n-1)) / range — computed on ORDER STATISTICS WITH DUPLICATES: if
# the min (max) occurs more than once, its neighbor IS the min (max)
# and Q = 0, which the CASE encodes instead of a row sort. Completes
# the outlier family beside q_grubbs (variance-based) and
# q_mad_outliers (robust-center-based) with the small-sample gap view.
# Exactness: order statistics are exact selections; the two finishes
# are shared single divisions with a NULLIF range guard (degenerate:
# all values equal). Plan: two fact-sized aggregates (extremes, then
# strict-neighbor extremes under a broadcast join) — no sort, no
# window, O(|types|) output.
_DIXON_LOW = (
    "(CAST(CASE WHEN n_min > 1 THEN xmin ELSE x2 END - xmin AS DOUBLE)"
    " / CAST(NULLIF(xmax - xmin, 0.0) AS DOUBLE))"
)
_DIXON_HIGH = (
    "(CAST(xmax - CASE WHEN n_max > 1 THEN xmax ELSE xn1 END AS DOUBLE)"
    " / CAST(NULLIF(xmax - xmin, 0.0) AS DOUBLE))"
)


@_q(
    "q_dixon_q",
    f"""
    WITH m AS (
        SELECT event_type, MIN(value) AS xmin, MAX(value) AS xmax,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events WHERE value IS NOT NULL GROUP BY event_type
    ), s AS (
        SELECT e.event_type, m.xmin, m.xmax, m.n,
               CAST(SUM(CASE WHEN e.value = m.xmin THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_min,
               CAST(SUM(CASE WHEN e.value = m.xmax THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_max,
               MIN(CASE WHEN e.value > m.xmin THEN e.value END) AS x2,
               MAX(CASE WHEN e.value < m.xmax THEN e.value END) AS xn1
        FROM events e JOIN m ON e.event_type = m.event_type
        WHERE e.value IS NOT NULL
        GROUP BY e.event_type, m.xmin, m.xmax, m.n
    )
    SELECT event_type, n, xmin, xmax,
           {_DIXON_LOW} AS q_low, {_DIXON_HIGH} AS q_high
    FROM s
    """,
)
def q_dixon_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    m = e.groupBy("event_type").agg(
        F.min("value").alias("xmin"),
        F.max("value").alias("xmax"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    s = (
        e.join(F.broadcast(m), "event_type")
        .groupBy("event_type", "xmin", "xmax", "n")
        .agg(
            F.sum(F.expr("CASE WHEN value = xmin THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n_min"),
            F.sum(F.expr("CASE WHEN value = xmax THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n_max"),
            F.min(F.expr("CASE WHEN value > xmin THEN value END")).alias("x2"),
            F.max(F.expr("CASE WHEN value < xmax THEN value END")).alias("xn1"),
        )
    )
    return s.selectExpr(
        "event_type",
        "n",
        "xmin",
        "xmax",
        f"{_DIXON_LOW} AS q_low",
        f"{_DIXON_HIGH} AS q_high",
    )


# --- Lorenz asymmetry coefficient (round 9) ---------------------------------
# WHERE the revenue inequality lives: S = F(mu) + L(mu) — the share of
# customers below the mean plus the revenue share they hold. S < 1
# means inequality is driven by many small customers, S > 1 by a few
# giants; complements q_gini_revenue (how much) and q_palma_ratio
# (tails) with the shape read. "Below the mean" is the exact integer
# comparison rev*C < R cleared of division, evaluated as doubles of
# exact integers identically in both engines. Plan: one customer
# aggregate, a 1-row totals broadcast, one conditional re-aggregate —
# no sort, no window, O(1) output.
_LORENZ_S = (
    "(CAST(m_below AS DOUBLE) / CAST(NULLIF(n_customers, 0) AS DOUBLE)"
    " + CAST(low_cents AS DOUBLE) / CAST(NULLIF(total_cents, 0) AS DOUBLE))"
)


@_q(
    "q_lorenz_asymmetry",
    f"""
    WITH cust AS (
        SELECT o_custkey,
               CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS rev
        FROM orders GROUP BY o_custkey
    ), tot AS (
        SELECT CAST(SUM(rev) AS BIGINT) AS total_cents,
               CAST(COUNT(*) AS BIGINT) AS n_customers
        FROM cust
    ), agg AS (
        SELECT MAX(n_customers) AS n_customers,
               MAX(total_cents) AS total_cents,
               CAST(SUM(CASE WHEN CAST(rev AS DOUBLE) * n_customers
                                  < CAST(total_cents AS DOUBLE)
                             THEN 1 ELSE 0 END) AS BIGINT) AS m_below,
               CAST(SUM(CASE WHEN CAST(rev AS DOUBLE) * n_customers
                                  < CAST(total_cents AS DOUBLE)
                             THEN rev ELSE 0 END) AS BIGINT) AS low_cents
        FROM cust CROSS JOIN tot
    )
    SELECT n_customers, m_below, low_cents, {_LORENZ_S} AS s_lorenz
    FROM agg
    """,
)
def q_lorenz_asymmetry(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("rev")
    )
    tot = cust.agg(
        F.sum("rev").cast("bigint").alias("total_cents"),
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
    )
    below = (
        "CAST(rev AS DOUBLE) * n_customers < CAST(total_cents AS DOUBLE)"
    )
    agg = cust.crossJoin(F.broadcast(tot)).agg(
        F.max("n_customers").alias("n_customers"),
        F.max("total_cents").alias("total_cents"),
        F.sum(F.expr(f"CASE WHEN {below} THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("m_below"),
        # ADVICE r9: rev is already integer cents, so the below-mean
        # revenue mass sums exactly as a plain BIGINT (like q_gini_md's
        # sum_cents) — the DECIMAL(38,6)→DOUBLE dec_sum finish it used
        # before diverges cross-engine once the scaled total passes 2^53.
        F.sum(F.expr(f"CASE WHEN {below} THEN rev ELSE 0 END"))
        .cast("bigint")
        .alias("low_cents"),
    )
    return agg.selectExpr(
        "n_customers", "m_below", "low_cents", f"{_LORENZ_S} AS s_lorenz"
    )


# --- Kendall's W coefficient of concordance (round 9) ------------------------
# Do the days of the month agree on how event types rank by volume?
# Each day-of-month is a judge ranking the k event types by count
# (strict ranks, count-desc with the type name as the deterministic
# tie-break — documented spec, identical in both engines). W = 12 S /
# (m^2 (k^3 - k)); with integer ranks 2R_i - m(k+1) is a pure BIGINT,
# so S4 = sum((2R_i - m(k+1))^2) = 4S is exact and W = 3 S4 /
# (m^2 (k^3 - k)) is one shared division (NULLIF guards k = 1).
# Plan: one (day, type) count, a bounded 31 x k dense grid (missing
# combos count 0 — absent rows would silently shrink a judge's
# ranking), per-judge windows over <= k rows, O(1) output.
_KENDALL_W = (
    "(3.0 * s4 / (CAST(m AS DOUBLE) * CAST(m AS DOUBLE)"
    " * CAST(NULLIF(k * k * k - k, 0) AS DOUBLE)))"
)


@_q(
    "q_kendall_w",
    f"""
    WITH c AS (
        SELECT CAST(day(ts) AS BIGINT) AS dom, event_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ), grid AS (
        SELECT d.dom, ty.event_type, COALESCE(c.n, 0) AS n
        FROM (SELECT DISTINCT dom FROM c) d
        CROSS JOIN (SELECT DISTINCT event_type FROM c) ty
        LEFT JOIN c ON c.dom = d.dom AND c.event_type = ty.event_type
    ), ranked AS (
        SELECT dom, event_type,
               CAST(ROW_NUMBER() OVER (PARTITION BY dom
                                       ORDER BY n DESC, event_type)
                    AS BIGINT) AS rnk
        FROM grid
    ), ri AS (
        SELECT event_type, CAST(SUM(rnk) AS BIGINT) AS r_i
        FROM ranked GROUP BY event_type
    ), dims AS (
        SELECT CAST(COUNT(DISTINCT dom) AS BIGINT) AS m,
               CAST(COUNT(DISTINCT event_type) AS BIGINT) AS k
        FROM c
    ), s AS (
        SELECT MAX(m) AS m, MAX(k) AS k,
               {oracle_dec_sum(
        "CAST((2 * r_i - m * (k + 1)) * (2 * r_i - m * (k + 1)) AS DOUBLE)",
        "s4",
    )}
        FROM ri CROSS JOIN dims
    )
    SELECT m AS m_judges, k AS k_items, s4, {_KENDALL_W} AS w_kendall
    FROM s
    """,
)
def q_kendall_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    c = e.groupBy(
        F.dayofmonth("ts").cast("bigint").alias("dom"), "event_type"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    doms = c.select("dom").distinct()
    types = c.select("event_type").distinct()
    grid = (
        doms.crossJoin(F.broadcast(types))
        .join(c, ["dom", "event_type"], "left")
        .select("dom", "event_type", F.coalesce("n", F.lit(0)).alias("n"))
    )
    # per-judge ranking window: bounded by the event-type vocabulary
    # (|partition| <= k, a handful), never fact-sized
    w = Window.partitionBy("dom").orderBy(F.desc("n"), "event_type")
    ranked = grid.select(
        "dom", "event_type", F.row_number().over(w).cast("bigint").alias("rnk")
    )
    ri = ranked.groupBy("event_type").agg(
        F.sum("rnk").cast("bigint").alias("r_i")
    )
    dims = c.agg(
        F.countDistinct("dom").cast("bigint").alias("m"),
        F.countDistinct("event_type").cast("bigint").alias("k"),
    )
    s = ri.crossJoin(F.broadcast(dims)).agg(
        F.max("m").alias("m"),
        F.max("k").alias("k"),
        dec_sum(
            F.expr(
                "CAST((2 * r_i - m * (k + 1))"
                " * (2 * r_i - m * (k + 1)) AS DOUBLE)"
            ),
            "s4",
        ),
    )
    return s.selectExpr(
        "m AS m_judges", "k AS k_items", "s4", f"{_KENDALL_W} AS w_kendall"
    )


# --- Hoover / Robin Hood index (round 9) -------------------------------------
# What share of total revenue would have to move between nations for
# every nation's revenue share to equal its customer share? H = (1/2)
# sum_i |rev_i/R - cust_i/C| — the transfer view of inequality beside
# q_gini_revenue (area view) and q_hhi_by_nation (concentration view).
# Each nation's |share gap| is an IEEE double of exact integers,
# explicitly quantized at 1e-15 and summed as BIGINT (the q_chi2
# pattern; shares are <= 1 so the 25-term sum tops out near 2.5e16) —
# NOT a decimal sum of the cleared-of-division products: those reach
# rev_i*C ~ 1e24 at 100 TB, and DuckDB's DECIMAL -> DOUBLE cast rounds
# differently from Spark's past 2^53 (caught by the sf0.1 gate this
# round on q_gini_md's cents total). Plan: one dim-joined orders
# aggregate + one customer aggregate onto the O(25)-row nation
# relation, a 1-row totals broadcast, O(1) output.
_HOOVER_TERM = (
    "CAST(floor(abs(CAST(rev_cents AS DOUBLE) / total_cents"
    " - CAST(n_cust AS DOUBLE) / n_cust_total)"
    " * 1000000000000000 + 0.5) AS BIGINT)"
)
_HOOVER = "(CAST(num_q AS DOUBLE) / 2000000000000000.0)"


@_q(
    "q_hoover_index",
    f"""
    WITH rev AS (
        SELECT c.c_nationkey AS nk,
               CAST(SUM(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS rev_cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_nationkey
    ), cnt AS (
        SELECT c_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_cust
        FROM customer GROUP BY c_nationkey
    ), nat AS (
        SELECT cnt.nk, COALESCE(rev.rev_cents, 0) AS rev_cents, cnt.n_cust
        FROM cnt LEFT JOIN rev ON cnt.nk = rev.nk
    ), tot AS (
        SELECT CAST(SUM(rev_cents) AS BIGINT) AS total_cents,
               CAST(SUM(n_cust) AS BIGINT) AS n_cust_total
        FROM nat
    ), agg AS (
        SELECT MAX(total_cents) AS total_cents,
               MAX(n_cust_total) AS n_cust_total,
               CAST(COUNT(*) AS BIGINT) AS n_nations,
               CAST(SUM({_HOOVER_TERM}) AS BIGINT) AS num_q
        FROM nat CROSS JOIN tot
    )
    SELECT n_nations, total_cents, n_cust_total, {_HOOVER} AS hoover
    FROM agg
    """,
)
def q_hoover_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    cu = t(spark, sf_dir, "customer")
    rev = (
        o.join(
            cu.select("c_custkey", "c_nationkey"),
            o.o_custkey == F.col("c_custkey"),
        )
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
            .cast("bigint")
            .alias("rev_cents")
        )
    )
    cnt = cu.groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cust")
    )
    nat = cnt.join(rev, "nk", "left").select(
        "nk",
        F.coalesce("rev_cents", F.lit(0)).cast("bigint").alias("rev_cents"),
        "n_cust",
    )
    tot = nat.agg(
        F.sum("rev_cents").cast("bigint").alias("total_cents"),
        F.sum("n_cust").cast("bigint").alias("n_cust_total"),
    )
    agg = nat.crossJoin(F.broadcast(tot)).agg(
        F.max("total_cents").alias("total_cents"),
        F.max("n_cust_total").alias("n_cust_total"),
        F.count(F.lit(1)).cast("bigint").alias("n_nations"),
        F.sum(F.expr(_HOOVER_TERM)).cast("bigint").alias("num_q"),
    )
    return agg.selectExpr(
        "n_nations", "total_cents", "n_cust_total", f"{_HOOVER} AS hoover"
    )


# --- Gini mean absolute difference per group (round 9) ----------------------
# The dispersion that q_gini_revenue's concentration hides: the mean
# absolute price difference between two random orders of the same
# priority, MD = sum_ij |x_i - x_j| / (n (n-1)), plus the relative MD
# (= 2 Gini). Never pairwise: with the sorted-prefix identity
# sum_ij |x_i - x_j| = 2 sum_i (2i - n - 1) x_(i), the double sum
# collapses onto the group-ranked relation. Ranks ride the
# range-partitioned global ranker (plans/rank.py) on the composite
# (priority, cents, orderkey) key — the within-group index is the
# global rank minus the group's base rank, so no per-group window ever
# sees a fact-sized partition. Terms are pure BIGINTs (i <= n, cents
# <= 1e7: product < 2^63 up to ~9e11 rows/group) summed exactly via
# DECIMAL(38,6); the cents total is a plain BIGINT sum (NOT dec_sum —
# DuckDB's DECIMAL -> DOUBLE cast is a two-step int128/1e6 conversion
# that rounds differently from Spark's correctly-rounded one once the
# SCALED value passes 2^53: 753509526545000000 came back ...544.9999,
# caught by the sf0.1 gate this round; bigint -> double is correctly
# rounded in both engines). Plan: one ranked sort, two tiny aggregates.
_GINI_MD = (
    "(2.0 * t_sum / (CAST(n AS DOUBLE)"
    " * CAST(NULLIF(n - 1, 0) AS DOUBLE)))"
)
_GINI_RMD = (
    f"({_GINI_MD}"
    " / NULLIF(CAST(sum_cents AS DOUBLE) / CAST(n AS DOUBLE), 0.0))"
)


@_q(
    "q_gini_md",
    f"""
    WITH r AS (
        SELECT o_orderpriority,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
               CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                       ORDER BY o_totalprice, o_orderkey)
                    AS BIGINT) AS i,
               CAST(COUNT(*) OVER (PARTITION BY o_orderpriority)
                    AS BIGINT) AS n
        FROM orders
    ), g AS (
        SELECT o_orderpriority, MAX(n) AS n,
               {oracle_dec_sum("CAST((2 * i - n - 1) * cents AS DOUBLE)",
                               "t_sum")},
               CAST(SUM(cents) AS BIGINT) AS sum_cents
        FROM r GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, n, {_GINI_MD} AS md_cents, {_GINI_RMD} AS rel_md
    FROM g
    """,
)
def q_gini_md(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderkey",
        "o_totalprice",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias(
            "cents"
        ),
    )
    ranked = global_order(
        o,
        ["o_orderpriority", "o_totalprice", "o_orderkey"],
        rank_col="grk",
    )
    base = ranked.groupBy("o_orderpriority").agg(
        F.min("grk").alias("base"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    j = ranked.join(F.broadcast(base), "o_orderpriority").select(
        "o_orderpriority",
        "n",
        "cents",
        (F.col("grk") - F.col("base") + 1).cast("bigint").alias("i"),
    )
    g = j.groupBy("o_orderpriority").agg(
        F.max("n").alias("n"),
        dec_sum(
            F.expr("CAST((2 * i - n - 1) * cents AS DOUBLE)"), "t_sum"
        ),
        F.sum("cents").cast("bigint").alias("sum_cents"),
    )
    return g.selectExpr(
        "o_orderpriority",
        "n",
        f"{_GINI_MD} AS md_cents",
        f"{_GINI_RMD} AS rel_md",
    )


# --- Bowley quartile skewness (round 9) --------------------------------------
# Distribution-shape audit per event_type without moments: (Q1 + Q3 -
# 2 Q2) / (Q3 - Q1), the robust skewness in [-1, 1] — complements
# q_stats_moments (third-moment skew is outlier-dominated) and rides
# the PINNED percentile_cont interpolation convention (Spark
# `percentile` == DuckDB `quantile_cont`, verified bit-identical —
# q_percentile_cont / tests). NULLIF guards the zero-IQR degenerate
# (over half the group on one value). Plan: one order-carrying hash
# aggregate, O(|types|) output.
_BOWLEY = "((q1 + q3 - 2 * q2) / NULLIF(q3 - q1, 0.0))"


@_q(
    "q_bowley_skew",
    f"""
    WITH q AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               quantile_cont(CAST(value AS DOUBLE), 0.25) AS q1,
               quantile_cont(CAST(value AS DOUBLE), 0.5) AS q2,
               quantile_cont(CAST(value AS DOUBLE), 0.75) AS q3
        FROM events WHERE value IS NOT NULL GROUP BY event_type
    )
    SELECT event_type, n, q1, q2, q3, {_BOWLEY} AS bowley_skew FROM q
    """,
)
def q_bowley_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    v = F.col("value").cast("double")
    q = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.percentile(v, F.lit(0.25)).alias("q1"),
        F.percentile(v, F.lit(0.5)).alias("q2"),
        F.percentile(v, F.lit(0.75)).alias("q3"),
    )
    return q.selectExpr(
        "event_type", "n", "q1", "q2", "q3", f"{_BOWLEY} AS bowley_skew"
    )


# ========================= round 10 additions ==============================
# Twelve operators under the growth cap (VERDICT r9 task 2): two chance-
# corrected agreement coefficients, one PRE association measure, five
# nonparametric two-sample tests, one kernel drift metric, one rank
# change-point, one spatial K function (geo.py), one clustering-validity
# index. Same module exactness policy as rounds 8-9: integer/decimal
# sufficient statistics, doubles only in shared-text finishes, NULLIF on
# every degenerate denominator, and the DECIMAL->DOUBLE >2^53 caveat
# (see the round-9 pair-family note above) on every dec_sum of count
# products. Reference parity: the reference's analytics surface stops at
# parse/window/store (spark/streaming-shorttime.py:53-61); these extend
# SURVEY.md section 2 Table C.

# --- Cohen's weighted kappa (round 10) --------------------------------------
# Chance-corrected agreement between two ordinal reads of the same
# order: priority band (substring of o_orderpriority, 0-4) vs price
# band (floor(o_totalprice/100000) capped at 4) on a shared 5-point
# scale. Linear weights: the 1/(k-1) normalizer cancels in the ratio,
# so kappa_w = 1 - n * D_obs / D_exp with D_obs = sum |i-j| O_ij (pure
# BIGINT — |i-j| <= 4) and D_exp = sum |i-j| R_i C_j (margin products
# routed through the decimal sum; >2^53 caveat applies at scale). The
# partner of q_cohen_kappa (unweighted) for ordinal scales where
# near-misses should count less than far-misses. Plan: one fact-sized
# groupBy onto the <= 25-cell grid, two margin re-aggregates of the
# grid, one broadcast 5x5 margin cross join, O(1) output.
_WKAPPA = (
    "(1.0 - CAST(n AS DOUBLE) * CAST(d_obs AS DOUBLE)"
    " / NULLIF(d_exp, 0.0))"
)


@_q(
    "q_weighted_kappa",
    f"""
    WITH g AS (
        SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT) - 1 AS i,
               CAST(least(floor(o_totalprice / 100000), 4.0) AS BIGINT) AS j,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM orders GROUP BY 1, 2
    ), dims AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(abs(i - j) * c) AS BIGINT) AS d_obs
        FROM g
    ), rm AS (
        SELECT i, CAST(SUM(c) AS BIGINT) AS r FROM g GROUP BY i
    ), cm AS (
        SELECT j, CAST(SUM(c) AS BIGINT) AS col FROM g GROUP BY j
    ), e AS (
        SELECT {oracle_dec_sum(
        "abs(rm.i - cm.j) * CAST(rm.r AS DOUBLE) * CAST(cm.col AS DOUBLE)",
        "d_exp",
    )}
        FROM rm CROSS JOIN cm
    )
    SELECT n, d_obs, d_exp, {_WKAPPA} AS kappa_w
    FROM dims CROSS JOIN e
    """,
)
def q_weighted_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    g = o.groupBy(
        (F.expr("CAST(substring(o_orderpriority, 1, 1) AS BIGINT)") - 1)
        .alias("i"),
        F.expr("CAST(least(floor(o_totalprice / 100000), 4.0) AS BIGINT)")
        .alias("j"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    dims = g.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.expr("abs(i - j) * c")).cast("bigint").alias("d_obs"),
    )
    rm = g.groupBy("i").agg(F.sum("c").cast("bigint").alias("r"))
    cm = g.groupBy("j").agg(F.sum("c").cast("bigint").alias("col"))
    e = rm.crossJoin(F.broadcast(cm)).agg(
        dec_sum(
            F.expr("abs(i - j) * CAST(r AS DOUBLE) * CAST(col AS DOUBLE)"),
            "d_exp",
        )
    )
    return dims.crossJoin(F.broadcast(e)).selectExpr(
        "n", "d_obs", "d_exp", f"{_WKAPPA} AS kappa_w"
    )


# --- Gwet's AC1 agreement coefficient (round 10) -----------------------------
# The paradox-resistant companion of q_weighted_kappa: kappa collapses
# when the margins are skewed (high raw agreement, near-zero kappa —
# the "kappa paradox"); Gwet's chance term uses the MEAN margin per
# category instead of the product, so AC1 stays interpretable. Same two
# raters. p_a = sum O_qq / n; p_e = sum_q pi_q (1 - pi_q) / (k - 1)
# with pi_q = (R_q + C_q) / 2n, evaluated by the integer identity
# pi(1-pi) = (R+C)(2n-R-C)/(4n^2): the <= 5 products route through the
# decimal sum (>2^53 caveat), the 4n^2(k-1) division is one shared
# finish. k = categories observed in EITHER margin, via one
# union-aggregate of the grid (a category one rater never uses still
# dilutes chance; a full-outer margin join cannot broadcast, the union
# needs no join at all). Plan: same grid as q_weighted_kappa + one
# bounded union-aggregate.
_AC1 = (
    "((p_a - p_e) / NULLIF(1.0 - p_e, 0.0))"
)


@_q(
    "q_gwet_ac1",
    f"""
    WITH g AS (
        SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT) - 1 AS i,
               CAST(least(floor(o_totalprice / 100000), 4.0) AS BIGINT) AS j,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM orders GROUP BY 1, 2
    ), dims AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN i = j THEN c ELSE 0 END) AS BIGINT)
                   AS agree
        FROM g
    ), marg AS (
        SELECT q, CAST(SUM(c) AS BIGINT) AS rc FROM (
            SELECT i AS q, c FROM g
            UNION ALL
            SELECT j AS q, c FROM g
        ) AS m GROUP BY q
    ), e AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               {oracle_dec_sum(
        "CAST(rc AS DOUBLE)"
        " * (2.0 * CAST(n AS DOUBLE) - CAST(rc AS DOUBLE))",
        "s_pi",
    )}
        FROM marg CROSS JOIN dims GROUP BY n
    )
    SELECT n, k,
           CAST(agree AS DOUBLE) / CAST(n AS DOUBLE) AS p_a,
           s_pi / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                   * CAST(NULLIF(k - 1, 0) AS DOUBLE)) AS p_e,
           ((CAST(agree AS DOUBLE) / CAST(n AS DOUBLE))
            - s_pi / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                      * CAST(NULLIF(k - 1, 0) AS DOUBLE)))
           / NULLIF(1.0 - s_pi / (4.0 * CAST(n AS DOUBLE)
                                  * CAST(n AS DOUBLE)
                                  * CAST(NULLIF(k - 1, 0) AS DOUBLE)),
                    0.0) AS ac1
    FROM dims CROSS JOIN e
    """,
)
def q_gwet_ac1(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    g = o.groupBy(
        (F.expr("CAST(substring(o_orderpriority, 1, 1) AS BIGINT)") - 1)
        .alias("i"),
        F.expr("CAST(least(floor(o_totalprice / 100000), 4.0) AS BIGINT)")
        .alias("j"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    dims = g.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.expr("CASE WHEN i = j THEN c ELSE 0 END"))
        .cast("bigint")
        .alias("agree"),
    )
    # R_q + C_q as ONE union-aggregate over the grid — a full-outer
    # margin join cannot broadcast (Spark requires shuffling both sides
    # of a full outer), and the union needs no join at all.
    marg = (
        g.select(F.col("i").alias("q"), "c")
        .unionByName(g.select(F.col("j").alias("q"), "c"))
        .groupBy("q")
        .agg(F.sum("c").cast("bigint").alias("rc"))
    )
    e = marg.crossJoin(F.broadcast(dims.select("n"))).groupBy("n").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        dec_sum(
            F.expr(
                "CAST(rc AS DOUBLE)"
                " * (2.0 * CAST(n AS DOUBLE) - CAST(rc AS DOUBLE))"
            ),
            "s_pi",
        ),
    ).select("k", "s_pi")
    pe = (
        "s_pi / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
        " * CAST(NULLIF(k - 1, 0) AS DOUBLE))"
    )
    pa = "CAST(agree AS DOUBLE) / CAST(n AS DOUBLE)"
    return dims.crossJoin(F.broadcast(e)).selectExpr(
        "n",
        "k",
        f"{pa} AS p_a",
        f"{pe} AS p_e",
        f"(({pa}) - {pe}) / NULLIF(1.0 - {pe}, 0.0) AS ac1",
    )


# --- Goodman-Kruskal tau (round 10) ------------------------------------------
# Proportional-reduction-in-error association: how much better do we
# predict the value band (Y, 10 fixed-width buckets) knowing the
# event_type (X)? tau = (n S1 - S2) / (n^2 - S2) with S1 = sum_ij
# n_ij^2 / n_i+ and S2 = sum_j n_+j^2 — the variance-based PRE member
# beside q_gk_lambda (modal error) and q_gk_gamma (pair concordance),
# completing the Goodman-Kruskal family. Exactness: the per-row-class
# inner sums I_x = sum_j n_xj^2 and the margin squares ride
# DECIMAL(19,0)-squared sums (exact integers to 1e38); the one
# non-integer quantity, I_x / n_x, is EXPLICITLY quantized at 1e-6 and
# summed as BIGINT (the q_chi2/q_mh_odds pattern — each term is
# bounded by n_x, so the quantized sum stays below n * 1e6 ~ 1e18 at
# the 100 TB regime) so the <= |X|-term sum is order-free, not an
# implicit DECIMAL(38,6) rounding. Plan: one fact-sized groupBy onto
# the <= 5 x 10 grid, two margin re-aggregates, O(1) output.
_GK_TAU = (
    "((CAST(n AS DOUBLE) * (CAST(s1q AS DOUBLE) / 1000000.0) - s2)"
    " / NULLIF(CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - s2, 0.0))"
)


@_q(
    "q_gk_tau",
    f"""
    WITH g AS (
        SELECT event_type AS x,
               CAST(least(floor(value / 50), 9.0) AS BIGINT) AS y,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ), perx AS (
        SELECT x, CAST(SUM(c) AS BIGINT) AS nx,
               CAST(SUM(CAST(c AS DECIMAL(19,0))
                        * CAST(c AS DECIMAL(19,0))) AS DOUBLE) AS ix
        FROM g GROUP BY x
    ), s1t AS (
        SELECT CAST(SUM(CAST(floor(ix / CAST(nx AS DOUBLE) * 1000000
                                   + 0.5) AS BIGINT)) AS BIGINT) AS s1q
        FROM perx
    ), cmt AS (
        SELECT {oracle_dec_sum(
        "CAST(ny AS DOUBLE) * CAST(ny AS DOUBLE)", "s2"
    )},
               CAST(SUM(ny) AS BIGINT) AS n
        FROM (SELECT y, CAST(SUM(c) AS BIGINT) AS ny FROM g GROUP BY y)
    )
    SELECT n, s1q, s2, {_GK_TAU} AS gk_tau
    FROM s1t CROSS JOIN cmt
    """,
)
def q_gk_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    g = e.groupBy(
        F.col("event_type").alias("x"),
        F.expr("CAST(least(floor(value / 50), 9.0) AS BIGINT)").alias("y"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    perx = g.groupBy("x").agg(
        F.sum("c").cast("bigint").alias("nx"),
        F.sum(
            F.expr("CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0))")
        )
        .cast("double")
        .alias("ix"),
    )
    s1t = perx.agg(
        F.sum(
            F.expr(
                "CAST(floor(ix / CAST(nx AS DOUBLE) * 1000000 + 0.5)"
                " AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("s1q")
    )
    cmt = (
        g.groupBy("y")
        .agg(F.sum("c").cast("bigint").alias("ny"))
        .agg(
            dec_sum(
                F.expr("CAST(ny AS DOUBLE) * CAST(ny AS DOUBLE)"), "s2"
            ),
            F.sum("ny").cast("bigint").alias("n"),
        )
    )
    return s1t.crossJoin(F.broadcast(cmt)).selectExpr(
        "n", "s1q", "s2", f"{_GK_TAU} AS gk_tau"
    )


# --- Cucconi two-sample location-scale test (round 10) -----------------------
# Does the 'view' value distribution differ from 'click' in location OR
# scale, in one test? Cucconi's C combines the squared-rank sum U and
# the squared-contrary-rank sum V with their known correlation — older
# than and competitive with Lepage, rarely shipped by engines. Strict
# ranks over the combined sample, (value, event_id) tie-break
# (documented spec, identical both engines). Exactness: U = sum r^2 and
# V = sum (N+1-r)^2 ride DECIMAL(19,0) x DECIMAL(19,0) -> DECIMAL(38,0)
# sums — exact integers to 1e38 (sum <= N^3, safe to N ~ 4.6e12), no
# double rounding before the final shared-text standardization
# (means/variances are closed-form polynomials in m, n, N;
# rho = 2(N^2-4)/((2N+1)(8N+11)) - 1). Spark plan: the range-
# partitioned global ranker (plans/rank.py — never a single-partition
# window), one conditional aggregate, O(1) output.
_CUC_EU = "(CAST(n2 AS DOUBLE) * (nn + 1.0) * (2.0 * nn + 1.0) / 6.0)"
_CUC_VAR = (
    "(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) * (nn + 1.0)"
    " * (2.0 * nn + 1.0) * (8.0 * nn + 11.0) / 180.0)"
)
_CUC_RHO = (
    "(2.0 * (nn * nn - 4.0) / ((2.0 * nn + 1.0) * (8.0 * nn + 11.0)) - 1.0)"
)
_CUC_BODY = f"""
    SELECT n1, n2, u_sum, v_sum,
           (zu * zu + zv * zv - 2.0 * {_CUC_RHO} * zu * zv)
           / NULLIF(2.0 * (1.0 - {_CUC_RHO} * {_CUC_RHO}), 0.0) AS c_stat
    FROM (
        SELECT n1, n2, u_sum, v_sum,
               CAST(n1 + n2 AS DOUBLE) AS nn,
               (u_sum - {_CUC_EU}) / NULLIF(sqrt({_CUC_VAR}), 0.0) AS zu,
               (v_sum - {_CUC_EU}) / NULLIF(sqrt({_CUC_VAR}), 0.0) AS zv
        FROM (
            SELECT n1, n2, u_sum, v_sum, CAST(n1 + n2 AS DOUBLE) AS nn
            FROM cucconi_agg
        ) AS wide
    ) AS z
"""
_RANKED_PAIR_SQL = """
        SELECT g,
               CAST(ROW_NUMBER() OVER (ORDER BY value, event_id) AS BIGINT)
                   AS rk,
               CAST(COUNT(*) OVER () AS BIGINT) AS nn
        FROM (
            SELECT value, event_id,
                   CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS g
            FROM events
            WHERE value IS NOT NULL AND event_type IN ('click', 'view')
        ) AS s
"""


def _ranked_pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared two-sample ranked relation for the round-10 rank tests:
    'click' (g=0) vs 'view' (g=1) event values, strict global ranks
    with the (value, event_id) tie-break via the range-partitioned
    distributed ranker."""
    e = (
        t(spark, sf_dir, "events")
        .where(
            F.col("value").isNotNull()
            & F.col("event_type").isin("click", "view")
        )
        .select(
            "value",
            "event_id",
            F.expr(
                "CASE WHEN event_type = 'view' THEN 1 ELSE 0 END"
            ).alias("g"),
        )
    )
    return global_order(
        e, ["value", "event_id"], rank_col="rk", total_col="nn"
    )


@_q(
    "q_cucconi",
    f"""
    WITH r AS (
        {_RANKED_PAIR_SQL}
    ), cucconi_agg AS (
        SELECT CAST(SUM(1 - g) AS BIGINT) AS n1,
               CAST(SUM(g) AS BIGINT) AS n2,
               CAST(SUM(CASE WHEN g = 1
                             THEN CAST(rk AS DECIMAL(19,0))
                                  * CAST(rk AS DECIMAL(19,0)) END)
                    AS DOUBLE) AS u_sum,
               CAST(SUM(CASE WHEN g = 1
                             THEN CAST(nn + 1 - rk AS DECIMAL(19,0))
                                  * CAST(nn + 1 - rk AS DECIMAL(19,0)) END)
                    AS DOUBLE) AS v_sum
        FROM r
    )
    {_CUC_BODY}
    """,
)
def q_cucconi(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _ranked_pair(spark, sf_dir)
    agg = r.agg(
        F.sum(1 - F.col("g")).cast("bigint").alias("n1"),
        F.sum("g").cast("bigint").alias("n2"),
        F.sum(
            F.expr(
                "CASE WHEN g = 1 THEN CAST(rk AS DECIMAL(19,0))"
                " * CAST(rk AS DECIMAL(19,0)) END"
            )
        )
        .cast("double")
        .alias("u_sum"),
        F.sum(
            F.expr(
                "CASE WHEN g = 1 THEN CAST(nn + 1 - rk AS DECIMAL(19,0))"
                " * CAST(nn + 1 - rk AS DECIMAL(19,0)) END"
            )
        )
        .cast("double")
        .alias("v_sum"),
    )
    # Per-query view name (ADVICE r10): a generic session-global "agg"
    # could cross-wire two of these queries built in one session.
    agg.createOrReplaceTempView("cucconi_agg")
    return spark.sql(_CUC_BODY)


# --- Lepage two-sample location-scale test (round 10) ------------------------
# The textbook location-scale combination: L = Z_W^2 + Z_A^2, Wilcoxon
# rank-sum (location) + Ansari-Bradley folded ranks (scale), same
# 'click'/'view' split and strict-rank spec as q_cucconi so the two
# tests read the same data the same way. a_i = least(r, N+1-r); both
# sums are exact DECIMAL(38,0) sums of BIGINTs; E/Var are the closed
# forms with Ansari-Bradley's split by N parity (one shared CASE).
# Plan: global ranker + one aggregate, O(1) output.
_LEP_ZW = (
    "((w_sum - CAST(n2 AS DOUBLE) * (nn + 1.0) / 2.0)"
    " / NULLIF(sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
    " * (nn + 1.0) / 12.0), 0.0))"
)
_LEP_EA = (
    "(CASE WHEN nni % 2 = 0"
    " THEN CAST(n2 AS DOUBLE) * (nn + 2.0) / 4.0"
    " ELSE CAST(n2 AS DOUBLE) * (nn + 1.0) * (nn + 1.0)"
    " / (4.0 * NULLIF(nn, 0.0))"
    " END)"
)
_LEP_VA = (
    "(CASE WHEN nni % 2 = 0"
    " THEN CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) * (nn + 2.0)"
    " * (nn - 2.0) / (48.0 * NULLIF(nn - 1.0, 0.0))"
    " ELSE CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) * (nn + 1.0)"
    " * (3.0 + nn * nn) / (48.0 * nn * nn)"
    " END)"
)
_LEP_BODY = f"""
    SELECT n1, n2, w_sum, a_sum,
           zw * zw + za * za AS lepage_l
    FROM (
        SELECT n1, n2, w_sum, a_sum,
               {_LEP_ZW} AS zw,
               (a_sum - {_LEP_EA}) / NULLIF(sqrt({_LEP_VA}), 0.0) AS za
        FROM (
            SELECT n1, n2, w_sum, a_sum,
                   CAST(n1 + n2 AS DOUBLE) AS nn, n1 + n2 AS nni
            FROM lepage_agg
        ) AS wide
    ) AS z
"""


@_q(
    "q_lepage",
    f"""
    WITH r AS (
        {_RANKED_PAIR_SQL}
    ), lepage_agg AS (
        SELECT CAST(SUM(1 - g) AS BIGINT) AS n1,
               CAST(SUM(g) AS BIGINT) AS n2,
               CAST(SUM(CASE WHEN g = 1
                             THEN CAST(rk AS DECIMAL(38,0)) END)
                    AS DOUBLE) AS w_sum,
               CAST(SUM(CASE WHEN g = 1
                             THEN CAST(least(rk, nn + 1 - rk)
                                       AS DECIMAL(38,0)) END)
                    AS DOUBLE) AS a_sum
        FROM r
    )
    {_LEP_BODY}
    """,
)
def q_lepage(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _ranked_pair(spark, sf_dir)
    agg = r.agg(
        F.sum(1 - F.col("g")).cast("bigint").alias("n1"),
        F.sum("g").cast("bigint").alias("n2"),
        F.sum(
            F.expr("CASE WHEN g = 1 THEN CAST(rk AS DECIMAL(38,0)) END")
        )
        .cast("double")
        .alias("w_sum"),
        F.sum(
            F.expr(
                "CASE WHEN g = 1"
                " THEN CAST(least(rk, nn + 1 - rk) AS DECIMAL(38,0)) END"
            )
        )
        .cast("double")
        .alias("a_sum"),
    )
    agg.createOrReplaceTempView("lepage_agg")  # per-query name (ADVICE r10)
    return spark.sql(_LEP_BODY)


# --- Siegel-Tukey alternating-rank scale test (round 10) ---------------------
# Scale test that recycles the Wilcoxon null: re-rank the combined
# sample from the OUTSIDE IN (1 to the minimum; 2,3 to the two maxima;
# 4,5 to the next two minima; ...), then run a plain rank-sum on the
# alternating ranks — a dispersed sample soaks up the small outside
# ranks. Closed-form assignment from the ascending position a and the
# descending position q = N+1-a (a permutation of 1..N for every N —
# pinned by a property test over N = 1..40, which caught the middle
# element of an odd N escaping the range — so the Wilcoxon mean/
# variance apply unchanged): middle element (a = q, odd N only):
# st = N (it is reached last, whichever side's burst arrives); lower
# half (a < q): st = 2a if a even else 2a-1; upper half: st = 2q if q
# odd else 2q-1. Same split, tie-break, DECIMAL-exact sums, and standardization
# as q_lepage's W component. Plan: global ranker + one aggregate, O(1).
_ST_RANK = (
    "CASE WHEN 2 * rk = nn + 1 THEN nn"
    " WHEN rk < nn + 1 - rk"
    " THEN CASE WHEN rk % 2 = 0 THEN 2 * rk ELSE 2 * rk - 1 END"
    " ELSE CASE WHEN (nn + 1 - rk) % 2 = 1 THEN 2 * (nn + 1 - rk)"
    "      ELSE 2 * (nn + 1 - rk) - 1 END"
    " END"
)
_ST_Z = (
    "((st_sum - CAST(n2 AS DOUBLE) * (CAST(n1 + n2 AS DOUBLE) + 1.0) / 2.0)"
    " / NULLIF(sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
    " * (CAST(n1 + n2 AS DOUBLE) + 1.0) / 12.0), 0.0))"
)


@_q(
    "q_siegel_tukey",
    f"""
    WITH r AS (
        {_RANKED_PAIR_SQL}
    ), agg AS (
        SELECT CAST(SUM(1 - g) AS BIGINT) AS n1,
               CAST(SUM(g) AS BIGINT) AS n2,
               CAST(SUM(CASE WHEN g = 1
                             THEN CAST({_ST_RANK} AS DECIMAL(38,0)) END)
                    AS DOUBLE) AS st_sum
        FROM r
    )
    SELECT n1, n2, st_sum, {_ST_Z} AS z_st FROM agg
    """,
)
def q_siegel_tukey(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _ranked_pair(spark, sf_dir)
    agg = r.agg(
        F.sum(1 - F.col("g")).cast("bigint").alias("n1"),
        F.sum("g").cast("bigint").alias("n2"),
        F.sum(
            F.expr(
                f"CASE WHEN g = 1"
                f" THEN CAST({_ST_RANK} AS DECIMAL(38,0)) END"
            )
        )
        .cast("double")
        .alias("st_sum"),
    )
    return agg.selectExpr("n1", "n2", "st_sum", f"{_ST_Z} AS z_st")


# --- Brunner-Munzel heteroscedastic rank test (round 10) ---------------------
# The rank test that does NOT assume equal variances (the rank-world
# Welch): estimates p = P(click < view) + 0.5 P(=) and studentizes with
# per-sample placement variances — q_mannwhitney's U breaks under
# unequal spread, this is its robust replacement. Midranks handle ties
# exactly by working in the DOUBLED domain, aggregated per distinct
# value so every quantity stays integral: for a value with c rows
# (c1 from click, c2 from view) and cum_* inclusive running sums in
# value order, the doubled combined midrank is 2R = 2(cum_all - c) +
# c + 1 and the doubled within-sample midrank likewise with (cum_k,
# c_k); the placement x_k = 2R - 2H_k is one integer shared by all c_k
# rows. S_k^2 uses the (n sum x^2 - (sum x)^2)/(4 n (n-1)) identity on
# DECIMAL-exact sums of c_k * x_k^m (widths 12+13+13 = 38 — exact to
# N ~ 1e12; the squared-sum subtraction is the one shared-text double
# step, >2^53 caveat). W_BM = n1 n2 (Rbar2 - Rbar1) / ((n1+n2)
# sqrt(n1 S1^2 + n2 S2^2)) — Brunner & Munzel (2000). Plan: one fact-
# sized (value) aggregate, the global ranker's cum_sums over the
# distinct-value grid, one aggregate, O(1) output.
_BM_BODY = """
    SELECT n1, n2,
           (r2m - (CAST(n2 AS DOUBLE) + 1.0) / 2.0)
           / NULLIF(CAST(n1 AS DOUBLE), 0.0) AS p_hat,
           CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) * (r2m - r1m)
           / NULLIF((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                    * sqrt(CAST(n1 AS DOUBLE) * s1sq
                           + CAST(n2 AS DOUBLE) * s2sq), 0.0) AS w_bm
    FROM (
        SELECT n1, n2,
               t1 / NULLIF(2.0 * CAST(n1 AS DOUBLE), 0.0) AS r1m,
               t2 / NULLIF(2.0 * CAST(n2 AS DOUBLE), 0.0) AS r2m,
               (CAST(n1 AS DOUBLE) * b1 - a1 * a1)
               / NULLIF(4.0 * CAST(n1 AS DOUBLE)
                        * (CAST(n1 AS DOUBLE) - 1.0), 0.0) AS s1sq,
               (CAST(n2 AS DOUBLE) * b2 - a2 * a2)
               / NULLIF(4.0 * CAST(n2 AS DOUBLE)
                        * (CAST(n2 AS DOUBLE) - 1.0), 0.0) AS s2sq
        FROM bm_agg
    ) AS wide
"""
_BM_SUMS_SQL = """
        SELECT CAST(SUM(c1) AS BIGINT) AS n1,
               CAST(SUM(c2) AS BIGINT) AS n2,
               CAST(SUM(CAST(c1 AS DECIMAL(12,0))
                        * CAST(2 * (cum_all - c) + c + 1
                               AS DECIMAL(14,0))) AS DOUBLE) AS t1,
               CAST(SUM(CAST(c2 AS DECIMAL(12,0))
                        * CAST(2 * (cum_all - c) + c + 1
                               AS DECIMAL(14,0))) AS DOUBLE) AS t2,
               CAST(SUM(CAST(c1 AS DECIMAL(12,0))
                        * CAST(x1 AS DECIMAL(14,0))) AS DOUBLE) AS a1,
               CAST(SUM(CAST(c1 AS DECIMAL(12,0))
                        * CAST(x1 AS DECIMAL(13,0))
                        * CAST(x1 AS DECIMAL(13,0))) AS DOUBLE) AS b1,
               CAST(SUM(CAST(c2 AS DECIMAL(12,0))
                        * CAST(x2 AS DECIMAL(14,0))) AS DOUBLE) AS a2,
               CAST(SUM(CAST(c2 AS DECIMAL(12,0))
                        * CAST(x2 AS DECIMAL(13,0))
                        * CAST(x2 AS DECIMAL(13,0))) AS DOUBLE) AS b2
        FROM bm_x
"""


@_q(
    "q_brunner_munzel",
    f"""
    WITH grid AS (
        SELECT value,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS c1,
               CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                    AS BIGINT) AS c2
        FROM events
        WHERE value IS NOT NULL AND event_type IN ('click', 'view')
        GROUP BY value
    ), o AS (
        SELECT c1, c2, c1 + c2 AS c,
               CAST(SUM(c1 + c2) OVER (ORDER BY value) AS BIGINT)
                   AS cum_all,
               CAST(SUM(c1) OVER (ORDER BY value) AS BIGINT) AS cum1,
               CAST(SUM(c2) OVER (ORDER BY value) AS BIGINT) AS cum2
        FROM grid
    ), bm_x AS (
        SELECT c1, c2, c, cum_all,
               (2 * (cum_all - c) + c + 1)
               - (2 * (cum1 - c1) + c1 + 1) AS x1,
               (2 * (cum_all - c) + c + 1)
               - (2 * (cum2 - c2) + c2 + 1) AS x2
        FROM o
    ), bm_agg AS (
        {_BM_SUMS_SQL}
    )
    {_BM_BODY}
    """,
)
def q_brunner_munzel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (
        t(spark, sf_dir, "events")
        .where(
            F.col("value").isNotNull()
            & F.col("event_type").isin("click", "view")
        )
        .select(
            "value",
            F.expr(
                "CASE WHEN event_type = 'view' THEN 1 ELSE 0 END"
            ).alias("g"),
        )
    )
    grid = e.groupBy("value").agg(
        F.sum(1 - F.col("g")).cast("bigint").alias("c1"),
        F.sum("g").cast("bigint").alias("c2"),
    )
    o = global_order(
        grid.withColumn("c", F.expr("c1 + c2")),
        ["value"],
        cum_sums={"cum_all": "c", "cum1": "c1", "cum2": "c2"},
    )
    x = o.selectExpr(
        "c1",
        "c2",
        "c",
        "cum_all",
        "(2 * (cum_all - c) + c + 1)"
        " - (2 * (cum1 - c1) + c1 + 1) AS x1",
        "(2 * (cum_all - c) + c + 1)"
        " - (2 * (cum2 - c2) + c2 + 1) AS x2",
    )
    x.createOrReplaceTempView("bm_x")  # per-query names (ADVICE r10)
    agg = spark.sql(f"SELECT * FROM ({_BM_SUMS_SQL}) AS bm_sums")
    agg.createOrReplaceTempView("bm_agg")
    return spark.sql(_BM_BODY)


# --- Pettitt change-point test (round 10) ------------------------------------
# WHERE did the daily arrival level shift? Pettitt's rank-based CUSUM
# over the daily count series: with strict ranks r_t of the D daily
# counts (tie-break by day — documented spec), U_t = 2 * sum_{i<=t} r_i
# - t (D+1); K = max |U_t| over t = 1..D-1, t* = the first day
# attaining it. Complements q_changepoint (mean-shift scan) and
# q_page_hinkley (sequential) with the distribution-free member. All
# BIGINT — ranks and prefix sums over the tiny day grid. Plan: one
# fact-sized (day) count, two windows over O(days) rows, O(1) output.
@_q(
    "q_pettitt",
    """
    WITH d AS (
        SELECT date_trunc('day', ts) AS day,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1
    ), r AS (
        SELECT day,
               CAST(ROW_NUMBER() OVER (ORDER BY x, day) AS BIGINT) AS rk,
               CAST(COUNT(*) OVER () AS BIGINT) AS dd
        FROM d
    ), u AS (
        SELECT day, dd,
               CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS tt,
               CAST(SUM(rk) OVER (ORDER BY day) AS BIGINT) AS cum_r
        FROM r
    ), k AS (
        SELECT day, dd, abs(2 * cum_r - tt * (dd + 1)) AS u_abs
        FROM u WHERE tt < dd
    )
    SELECT CAST(MAX(dd) AS BIGINT) AS d_days,
           CAST(MAX(u_abs) AS BIGINT) AS k_stat,
           MIN(CASE WHEN u_abs = m THEN day END) AS t_star
    FROM k CROSS JOIN (SELECT MAX(u_abs) AS m FROM k) mm
    """,
)
def q_pettitt(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    d = e.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    dd = d.agg(F.count(F.lit(1)).cast("bigint").alias("dd"))
    # bounded: O(days) day grid — one row per calendar day after the
    # fact-sized aggregate above; the window input is the day grid.
    w_rank = Window.orderBy("x", "day")
    r = d.crossJoin(F.broadcast(dd)).select(
        "day",
        "dd",
        F.row_number().over(w_rank).cast("bigint").alias("rk"),
    )
    # bounded: O(days) day grid — same tiny relation, prefix sums in
    # day order.
    w_day = Window.orderBy("day")
    u = r.select(
        "day",
        "dd",
        F.row_number().over(w_day).cast("bigint").alias("tt"),
        F.sum("rk").over(w_day).cast("bigint").alias("cum_r"),
    )
    k = u.where(F.col("tt") < F.col("dd")).select(
        "day",
        "dd",
        F.abs(2 * F.col("cum_r") - F.col("tt") * (F.col("dd") + 1)).alias(
            "u_abs"
        ),
    )
    mm = k.agg(F.max("u_abs").alias("m"))
    return k.crossJoin(F.broadcast(mm)).agg(
        F.max("dd").cast("bigint").alias("d_days"),
        F.max("u_abs").cast("bigint").alias("k_stat"),
        F.min(F.expr("CASE WHEN u_abs = m THEN day END")).alias("t_star"),
    )


# --- Polynomial-kernel MMD drift (round 10) ----------------------------------
# Kernel two-sample drift between the first half of the month (day <=
# 15) and the rest, on the cents-quantized value: MMD^2 with the
# quadratic kernel k(x,y) = (1 + xy)^2 admits the closed moment form
# MMD^2 = 2 (m1_a - m1_b)^2 + (m2_a - m2_b)^2 (expand the kernel:
# the V-statistic expectation is 1 + 2 m1_a m1_b + m2_a m2_b per
# block), so the whole kernel test is TWO moment aggregates — the
# ML-native member of the drift family beside q_wasserstein_drift
# (transport), q_lecam_drift, q_hellinger_drift (per-bucket f-
# divergences): MMD catches mean/second-moment drift with zero
# binning. Exactness: cents y and y^2 sum via DECIMAL (19,0-squared)
# — exact integers; the m_k divisions and the final polynomial are one
# shared-text finish. Plan: one conditional moment aggregate, O(1)
# output. 100 TB: map-side combinable scan, no shuffle beyond the
# 1-row combine.
_MMD_BODY = """
    SELECT n_a, n_b, m1_a, m1_b, m2_a, m2_b,
           2.0 * (m1_a - m1_b) * (m1_a - m1_b)
           + (m2_a - m2_b) * (m2_a - m2_b) AS mmd2
    FROM (
        SELECT n_a, n_b,
               s1_a / NULLIF(CAST(n_a AS DOUBLE), 0.0) AS m1_a,
               s1_b / NULLIF(CAST(n_b AS DOUBLE), 0.0) AS m1_b,
               s2_a / NULLIF(CAST(n_a AS DOUBLE), 0.0) AS m2_a,
               s2_b / NULLIF(CAST(n_b AS DOUBLE), 0.0) AS m2_b
        FROM mmd_agg
    ) AS m
"""


@_q(
    "q_mmd_poly",
    f"""
    WITH s AS (
        SELECT CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END AS a,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
        FROM events WHERE value IS NOT NULL
    ), mmd_agg AS (
        SELECT CAST(SUM(a) AS BIGINT) AS n_a,
               CAST(SUM(1 - a) AS BIGINT) AS n_b,
               CAST(SUM(CASE WHEN a = 1
                             THEN CAST(y AS DECIMAL(38,0)) END)
                    AS DOUBLE) AS s1_a,
               CAST(SUM(CASE WHEN a = 0
                             THEN CAST(y AS DECIMAL(38,0)) END)
                    AS DOUBLE) AS s1_b,
               CAST(SUM(CASE WHEN a = 1
                             THEN CAST(y AS DECIMAL(19,0))
                                  * CAST(y AS DECIMAL(19,0)) END)
                    AS DOUBLE) AS s2_a,
               CAST(SUM(CASE WHEN a = 0
                             THEN CAST(y AS DECIMAL(19,0))
                                  * CAST(y AS DECIMAL(19,0)) END)
                    AS DOUBLE) AS s2_b
        FROM s
    )
    {_MMD_BODY}
    """,
)
def q_mmd_poly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    s = e.select(
        F.expr("CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END").alias("a"),
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("y"),
    )
    agg = s.agg(
        F.sum("a").cast("bigint").alias("n_a"),
        F.sum(1 - F.col("a")).cast("bigint").alias("n_b"),
        F.sum(F.expr("CASE WHEN a = 1 THEN CAST(y AS DECIMAL(38,0)) END"))
        .cast("double")
        .alias("s1_a"),
        F.sum(F.expr("CASE WHEN a = 0 THEN CAST(y AS DECIMAL(38,0)) END"))
        .cast("double")
        .alias("s1_b"),
        F.sum(
            F.expr(
                "CASE WHEN a = 1 THEN CAST(y AS DECIMAL(19,0))"
                " * CAST(y AS DECIMAL(19,0)) END"
            )
        )
        .cast("double")
        .alias("s2_a"),
        F.sum(
            F.expr(
                "CASE WHEN a = 0 THEN CAST(y AS DECIMAL(19,0))"
                " * CAST(y AS DECIMAL(19,0)) END"
            )
        )
        .cast("double")
        .alias("s2_b"),
    )
    agg.createOrReplaceTempView("mmd_agg")  # per-query name (ADVICE r10)
    return spark.sql(_MMD_BODY)


# --- Dunn clustering-validity index (round 10) --------------------------------
# The worst-case counterpart of q_davies_bouldin's average-case score
# over the same event-type partition of the 1-D cents space: Dunn =
# min inter-cluster centroid separation / max intra-cluster diameter —
# a single tight pair or one sprawling cluster tanks it, which the DB
# index averages away. Exactness: diameters are pure BIGINT (max - min
# cents); centroids are exact decimal sums over exact counts, so
# |mu_i - mu_j| is a shared-text double of exact inputs. Plan: one
# moment aggregate by type, one k x k broadcast self-join (k =
# |types|), O(1) output.
_DUNN = (
    "(min_sep / NULLIF(CAST(max_diam AS DOUBLE), 0.0))"
)


@_q(
    "q_dunn_index",
    f"""
    WITH r AS (
        SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
        FROM events WHERE value IS NOT NULL
    ), cl AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_i,
               CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS s_i,
               CAST(MAX(y) - MIN(y) AS BIGINT) AS diam
        FROM r GROUP BY event_type
    ), sep AS (
        SELECT MIN(abs(a.s_i / CAST(a.n_i AS DOUBLE)
                       - b.s_i / CAST(b.n_i AS DOUBLE))) AS min_sep
        FROM cl a JOIN cl b ON a.event_type < b.event_type
    ), dm AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(MAX(diam) AS BIGINT) AS max_diam
        FROM cl
    )
    SELECT k, min_sep, max_diam, {_DUNN} AS dunn
    FROM sep CROSS JOIN dm
    """,
)
def q_dunn_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    r = e.select(
        "event_type",
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("y"),
    )
    cl = r.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_i"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0))"))
        .cast("double")
        .alias("s_i"),
        (F.max("y") - F.min("y")).cast("bigint").alias("diam"),
    )
    a = cl.selectExpr(
        "event_type AS a_t", "n_i AS a_n", "s_i AS a_s"
    )
    b = cl.selectExpr(
        "event_type AS b_t", "n_i AS b_n", "s_i AS b_s"
    )
    sep = (
        a.join(F.broadcast(b), F.col("a_t") < F.col("b_t"))
        .agg(
            F.min(
                F.expr(
                    "abs(a_s / CAST(a_n AS DOUBLE)"
                    " - b_s / CAST(b_n AS DOUBLE))"
                )
            ).alias("min_sep")
        )
    )
    dm = cl.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.max("diam").cast("bigint").alias("max_diam"),
    )
    return sep.crossJoin(F.broadcast(dm)).selectExpr(
        "k", "min_sep", "max_diam", f"{_DUNN} AS dunn"
    )


# --- Blomqvist's beta medial correlation (round 10) ---------------------------
# Sign-level dependence between quantity and revenue per lineitem:
# split the plane at the two medians and read the quadrant imbalance —
# beta = (n_concordant - n_discordant) / (n_concordant + n_discordant),
# rows on either median excluded. The most outlier-proof member of the
# correlation family (q_spearman ranks magnitudes, q_kendall_tau ranks
# pairs; beta only reads signs), and O(n) — no pair stage at all.
# Medians use the engines' interpolating continuous quantile (the
# q_bowley_skew-established percentile/quantile_cont green mapping).
# Plan: one 1-row median aggregate broadcast into one conditional
# count aggregate, O(1) output.
_BLOM = (
    "(CAST(n_conc - n_disc AS DOUBLE)"
    " / CAST(NULLIF(n_conc + n_disc, 0) AS DOUBLE))"
)


@_q(
    "q_blomqvist_beta",
    f"""
    WITH med AS (
        SELECT quantile_cont(CAST(l_quantity AS DOUBLE), 0.5) AS mx,
               quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5) AS my
        FROM lineitem
    ), q AS (
        SELECT CAST(SUM(CASE WHEN (l_quantity > mx AND l_extendedprice > my)
                               OR (l_quantity < mx AND l_extendedprice < my)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_conc,
               CAST(SUM(CASE WHEN (l_quantity > mx AND l_extendedprice < my)
                               OR (l_quantity < mx AND l_extendedprice > my)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_disc,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem CROSS JOIN med
    )
    SELECT n, n_conc, n_disc, {_BLOM} AS blomqvist_beta FROM q
    """,
)
def q_blomqvist_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    med = li.agg(
        F.percentile(F.col("l_quantity").cast("double"), F.lit(0.5)).alias(
            "mx"
        ),
        F.percentile(
            F.col("l_extendedprice").cast("double"), F.lit(0.5)
        ).alias("my"),
    )
    q = li.crossJoin(F.broadcast(med)).agg(
        F.sum(
            F.expr(
                "CASE WHEN (l_quantity > mx AND l_extendedprice > my)"
                " OR (l_quantity < mx AND l_extendedprice < my)"
                " THEN 1 ELSE 0 END"
            )
        )
        .cast("bigint")
        .alias("n_conc"),
        F.sum(
            F.expr(
                "CASE WHEN (l_quantity > mx AND l_extendedprice < my)"
                " OR (l_quantity < mx AND l_extendedprice > my)"
                " THEN 1 ELSE 0 END"
            )
        )
        .cast("bigint")
        .alias("n_disc"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    return q.selectExpr(
        "n", "n_conc", "n_disc", f"{_BLOM} AS blomqvist_beta"
    )
