"""Events workload — the reference's stream-shaped surface, batch-checked.

The ``events`` fixture stands in for the kline stream (FIXTURES.md §2):
``user_id`` plays ``coin``'s role, ``value`` plays ``volume``, ``props`` is
the JSON payload. Queries here cover SURVEY.md §2 Table A's batch-checkable
ops (A2–A12, A24) and Table B's time-series core (B2–B4, B6, B11, B12, B14).

Scale notes (100 TB):
* Every query is a single declarative plan — predicate pushdown and column
  pruning reach the parquet scan (verified by tests/test_plans.py).
* Window aggregations shuffle once on (window, key); with AQE the post-agg
  partition count adapts to the real reduction factor.
* The flagship top-k ends in TakeOrderedAndProject — no global sort of the
  aggregate output, only a per-partition heap + driver merge of k rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from big_data_streaming_spark.schemas import EVENT_PROPS_SCHEMA
from big_data_streaming_spark.plans.rank import global_order, global_rank
from big_data_streaming_spark.sources import local_rows
from big_data_streaming_spark.workload.common import (
    dec_sum,
    oracle_dec_sum,
    registry,
    t,
)

QUERIES, ORACLES, _q = registry()


# --------------------------------------------------------------------------
# Flagship: the reference's product query (README.md:2, public/demo.jpg):
# "volume per coin over the last 1 hour, top-k descending" — expressed as
# 1-hour tumbling windows of total value per event_type, top 20 windows.
# --------------------------------------------------------------------------
@_q(
    "q_flagship",
    f"""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           {oracle_dec_sum('value', 'total_value')}
    FROM events
    GROUP BY 1, 2
    ORDER BY total_value DESC, window_start, event_type
    LIMIT 20
    """,
)
def q_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(dec_sum("value", "total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "total_value")
        .orderBy(F.desc("total_value"), "window_start", "event_type")
        .limit(20)
    )


# --- SQL entry point: the flagship expressed through spark.sql -----------
# Same logical plan as q_flagship (Catalyst resolves both to the same
# optimized tree) — demonstrates the engine's SQL surface; users of the
# DataFrame API and the SQL API get identical semantics and physical plans.
@_q(
    "q_flagship_sql",
    f"""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           {oracle_dec_sum('value', 'total_value')}
    FROM events
    GROUP BY 1, 2
    ORDER BY total_value DESC, window_start, event_type
    LIMIT 20
    """,
)
def q_flagship_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    t(spark, sf_dir, "events").createOrReplaceTempView("events_v")
    return spark.sql(
        """
        SELECT window(ts, '1 hour').start AS window_start,
               event_type,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
        FROM events_v
        GROUP BY window(ts, '1 hour'), event_type
        ORDER BY total_value DESC, window_start, event_type
        LIMIT 20
        """
    )


# --- A2+A3+A4: cast + JSON parse with declared schema + struct flatten ----
# (reference spark/streaming-shorttime.py:53-55)
@_q(
    "q_json_parse",
    """
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS prop_k
    FROM events
    """,
)
def q_json_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    parsed = ev.select(
        "event_id", F.from_json(F.col("props").cast("string"), EVENT_PROPS_SCHEMA).alias("p")
    )
    return parsed.select("event_id", F.col("p.k").alias("prop_k"))


# --- A5: epoch-ms ↔ timestamp (reference spark/streaming-shorttime.py:58-59)
@_q(
    "q_epoch_to_ts",
    """
    SELECT event_id,
           epoch_ms(ts) AS ts_ms,
           epoch_ms(epoch_ms(ts)) AS ts_roundtrip
    FROM events
    """,
)
def q_epoch_to_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.unix_millis("ts").alias("ts_ms"),
        F.timestamp_millis(F.unix_millis("ts")).alias("ts_roundtrip"),
    )


# --- A6: date-part derivation (reference spark/streaming-shorttime.py:60-61)
@_q(
    "q_date_parts",
    """
    SELECT event_id,
           CAST(EXTRACT(YEAR FROM ts) AS INTEGER) AS year,
           CAST(EXTRACT(MONTH FROM ts) AS INTEGER) AS month,
           CAST(EXTRACT(DAY FROM ts) AS INTEGER) AS day
    FROM events
    """,
)
def q_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.year("ts").alias("year"),
        F.month("ts").alias("month"),
        F.dayofmonth("ts").alias("day"),
    )


# --- A9: conjunctive equality filter (reference spark/streaming-longtime.py:131)
@_q(
    "q_filter_conj",
    """
    SELECT event_id, ts, user_id, event_type, value
    FROM events
    WHERE event_type = 'purchase' AND value > 100.0
    """,
)
def q_filter_conj(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.filter((F.col("event_type") == "purchase") & (F.col("value") > 100.0)).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


# --- A10/A23: time-range predicate, pushed to the scan
# (reference spark/streaming-longtime-raw.py:134-137 does this as a manual
# JDBC subquery; Catalyst pushes the same predicate automatically)
@_q(
    "q_time_range",
    """
    SELECT event_id, ts, user_id, value
    FROM events
    WHERE ts > TIMESTAMP '2024-01-15 00:00:00'
      AND ts <= TIMESTAMP '2024-01-22 00:00:00'
    """,
)
def q_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.filter(
        (F.col("ts") > F.lit("2024-01-15 00:00:00").cast("timestamp"))
        & (F.col("ts") <= F.lit("2024-01-22 00:00:00").cast("timestamp"))
    ).select("event_id", "ts", "user_id", "value")


# --- A11: global max aggregate (reference spark/streaming-longtime-raw.py:157)
@_q("q_agg_max_ts", "SELECT MAX(ts) AS max_ts, MIN(ts) AS min_ts FROM events")
def q_agg_max_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.agg(F.max("ts").alias("max_ts"), F.min("ts").alias("min_ts"))


# --- A12: count (reference spark/streaming-shorttime.py:68)
@_q("q_count_all", "SELECT COUNT(*) AS n_rows FROM events")
def q_count_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "events").agg(F.count(F.lit(1)).alias("n_rows"))


# --- A7+A8: projection + distinct (reference spark/streaming-longtime.py:120)
@_q("q_distinct_pairs", "SELECT DISTINCT user_id, event_type FROM events")
def q_distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "events").select("user_id", "event_type").distinct()


# --- A24: tolerant type coercion (reference kafka/producer-longtime.py:23-27
# does this in Python pre-Kafka; engine-side it is try_cast)
@_q(
    "q_try_cast",
    """
    SELECT event_id,
           TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_long,
           TRY_CAST(event_type AS DOUBLE) AS et_num
    FROM events
    """,
)
def q_try_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").try_cast("bigint").alias("k_long"),
        F.col("event_type").try_cast("double").alias("et_num"),
    )


# --- B2: tumbling event-time window aggregation ---------------------------
@_q(
    "q_window_tumbling",
    f"""
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           event_type,
           {oracle_dec_sum('value', 'total_value')},
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def q_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(dec_sum("value", "total_value"), F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "total_value",
            "n_events",
        )
    )


# --- B3: sliding event-time window (1 h window, 15 min slide) -------------
# Oracle: every row belongs to exactly duration/slide = 4 windows whose
# starts are floor(ts,15min) - i*15min for i in 0..3 — same enumeration
# Spark's window() expression generates.
@_q(
    "q_window_sliding",
    f"""
    SELECT epoch_ms(CAST((floor(epoch(ts) / 900) * 900 - g.i * 900) AS BIGINT) * 1000)
             AS window_start,
           event_type,
           {oracle_dec_sum('value', 'total_value')},
           COUNT(*) AS n_events
    FROM events CROSS JOIN generate_series(0, 3) AS g(i)
    GROUP BY 1, 2
    """,
)
def q_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(dec_sum("value", "total_value"), F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "total_value",
            "n_events",
        )
    )


# --- B4: session window (30 min gap) per user -----------------------------
# Oracle: gaps-and-islands — a new session starts when the gap from the
# previous event is >= the 30-minute timeout (Spark's session end is
# exclusive: an event landing exactly at prev_ts + gap opens a new session).
@_q(
    "q_window_session",
    f"""
    WITH ordered AS (
        SELECT user_id, ts, value,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, value) AS prev_ts
        FROM events
    ), marked AS (
        SELECT *,
               CASE WHEN prev_ts IS NULL
                         OR ts - prev_ts >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS brk
        FROM ordered
    ), grouped AS (
        SELECT *,
               SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, value
                              ROWS UNBOUNDED PRECEDING) AS session_id
        FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           {oracle_dec_sum('value', 'total_value')}
    FROM grouped
    GROUP BY user_id, session_id
    """,
)
def q_window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "events")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(dec_sum("value", "total_value"), F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


# --- B6: top-k (TakeOrderedAndProject, no global sort) --------------------
@_q(
    "q_topk",
    f"""
    SELECT user_id, {oracle_dec_sum('value', 'total_value')}, COUNT(*) AS n_events
    FROM events
    GROUP BY user_id
    ORDER BY total_value DESC, user_id
    LIMIT 10
    """,
)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(dec_sum("value", "total_value"), F.count(F.lit(1)).alias("n_events"))
        .orderBy(F.desc("total_value"), "user_id")
        .limit(10)
    )


# --- B11: ranking window functions — "trending" per day -------------------
@_q(
    "q_rank_per_window",
    f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, user_id,
               {oracle_dec_sum('value', 'daily_value')}
        FROM events GROUP BY 1, 2
    )
    SELECT day, user_id, daily_value,
           CAST(row_number() OVER (PARTITION BY day
                                   ORDER BY daily_value DESC, user_id) AS INTEGER) AS rnk
    FROM daily
    QUALIFY rnk <= 3
    """,
)
def q_rank_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        t(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 day").alias("w"), "user_id")
        .agg(dec_sum("value", "daily_value"))
        .select(F.col("w.start").alias("day"), "user_id", "daily_value")
    )
    w = Window.partitionBy("day").orderBy(F.desc("daily_value"), "user_id")
    return daily.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 3)


# --- B12: analytic window functions with frame spec -----------------------
# lag(previous value) and a 4-row moving average per user, ordered by time.
# The moving average is computed as exact-decimal frame sum / frame count so
# the double division matches the oracle bit-for-bit.
@_q(
    "q_lag_ma",
    """
    SELECT event_id, user_id, ts, value,
           lag(value) OVER w AS prev_value,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE)
             / COUNT(value) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS ma4
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_lag_ma(spark: SparkSession, sf_dir: str) -> DataFrame:
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame = order.rowsBetween(-3, Window.currentRow)
    return t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.lag("value").over(order).alias("prev_value"),
        (
            F.sum(F.col("value").cast("decimal(38,6)")).over(frame).cast("double")
            / F.count("value").over(frame)
        ).alias("ma4"),
    )


# --- B12 extension: cumulative running total per key ----------------------
@_q(
    "q_running_total",
    """
    SELECT event_id, user_id, ts,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_value,
           CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                AS INTEGER) AS event_seq
    FROM events
    """,
)
def q_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.sum(F.col("value").cast("decimal(38,6)"))
        .over(frame)
        .cast("double")
        .alias("running_value"),
        F.row_number().over(w).alias("event_seq"),
    )


# --- B12 extension: period-over-period delta (agg series + lag) -----------
@_q(
    "q_mom_change",
    f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               {oracle_dec_sum('value', 'day_total')}
        FROM events GROUP BY 1
    )
    SELECT day, day_total,
           day_total - lag(day_total) OVER (ORDER BY day) AS dod_change
    FROM daily
    """,
)
def q_mom_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    daily = (
        t(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(dec_sum("value", "day_total"))
        .select(F.col("w.start").alias("day"), "day_total")
    )
    # bounded: unpartitioned window is safe HERE — it runs over the
    # post-aggregation daily rollup, O(days) rows at any corpus size,
    # not the fact table.
    w = Window.orderBy("day")
    return daily.select(
        "day",
        "day_total",
        (F.col("day_total") - F.lag("day_total").over(w)).alias("dod_change"),
    )


# --- custom operator: as-of join (backward, inclusive) --------------------
# Events joined to the latest hourly per-user mark at or before each
# event — the "last quote before this trade" join. Implementation is
# operators/asof.py (union + LOCF window, one shuffle); the oracle uses
# DuckDB's native ASOF JOIN, so the custom construction is checked
# against a first-class reference implementation.
@_q(
    "q_asof_join",
    f"""
    WITH marks AS (
        SELECT user_id, date_trunc('hour', ts) AS mts,
               {oracle_dec_sum('value', 'mark_value')}
        FROM events GROUP BY 1, 2
    )
    SELECT e.event_id, e.ts, e.user_id, e.value, m.mark_value AS mark_value_right
    FROM events e ASOF LEFT JOIN marks m
      ON e.user_id = m.user_id AND e.ts >= m.mts
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_streaming_spark.operators.asof import asof_join

    ev = t(spark, sf_dir, "events").select("event_id", "ts", "user_id", "value")
    marks = (
        t(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(dec_sum("value", "mark_value"))
        .select("user_id", F.col("w.start").alias("mts"), "mark_value")
    )
    return asof_join(
        ev, marks, keys=["user_id"], left_ts="ts", right_ts="mts",
        right_payload=["mark_value"],
    )


# --- B7 extension: non-equi range join (band lookup) ----------------------
# Joining a fact to interval bands — BroadcastNestedLoopJoin with a tiny
# band table; at scale the dim is always broadcast so the non-equi
# predicate is evaluated in a single fact scan.
@_q(
    "q_join_range",
    """
    WITH bands(band_name, lo, hi) AS (
        VALUES ('low', 0.0, 100.0), ('mid', 100.0, 200.0),
               ('high', 200.0, 100000.0)
    )
    SELECT e.event_id, e.value, b.band_name
    FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
    """,
)
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("event_id", "value")
    bands = local_rows(
        ev.sparkSession,
        [("low", 0.0, 100.0), ("mid", 100.0, 200.0), ("high", 200.0, 100000.0)],
        "band_name string, lo double, hi double",
    )
    return ev.join(
        F.broadcast(bands),
        (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
    ).select("event_id", "value", "band_name")


# --- B1 extension: fixed-width histogram ----------------------------------
@_q(
    "q_histogram",
    f"""
    SELECT CAST(floor(value / 50.0) AS BIGINT) AS bucket,
           COUNT(*) AS n,
           {oracle_dec_sum('value', 'bucket_total')}
    FROM events
    GROUP BY 1
    """,
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.floor(F.col("value") / 50.0).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"), dec_sum("value", "bucket_total"))
    )


# --- B1 extension: Pearson correlation, decimal-exact ---------------------
# Built-in corr() uses a streaming co-moment algorithm (engine-specific
# float order); the textbook formula over exact decimal sums is
# deterministic and bit-identical to the oracle — same policy as
# q_stats_moments.
@_q(
    "q_stats_corr",
    """
    WITH s AS (
        SELECT user_id,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(epoch_ms(ts) % 86400000 AS DECIMAL(38,6))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST((epoch_ms(ts) % 86400000) * (epoch_ms(ts) % 86400000)
                             AS DECIMAL(38,6))) AS DOUBLE) AS syy,
               CAST(SUM(CAST(value * (epoch_ms(ts) % 86400000) AS DECIMAL(38,6)))
                    AS DOUBLE) AS sxy
        FROM events GROUP BY user_id
    )
    SELECT user_id, n,
           round((n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
             AS corr_value_timeofday
    FROM s
    """,
)
def q_stats_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    tod = (F.unix_millis("ts") % 86_400_000).cast("double")
    v = F.col("value")
    dec = lambda c: F.sum(c.cast("decimal(38,6)")).cast("double")  # noqa: E731
    s = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        dec(v).alias("sx"),
        dec(tod).alias("sy"),
        dec(v * v).alias("sxx"),
        dec(tod * tod).alias("syy"),
        dec(v * tod).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    # rounded to 6 dp on both sides: `a*b - c*d` compiles to FMA in DuckDB
    # but not the JVM, so the raw doubles differ in the last ulp — the
    # decimal sums themselves are bit-identical (same policy note as
    # q_sim_topk's cosine).
    return s.select(
        "user_id",
        "n",
        F.round(
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)),
            6,
        ).alias("corr_value_timeofday"),
    )


# --- B14: approximate distinct count (HLL) --------------------------------
# The sketch estimate itself is engine-specific, so the value-checked output
# is (exact count, within_tolerance): the HLL estimate (rsd=0.01) must land
# within 5% of the exact COUNT(DISTINCT) — deterministic for a fixed input,
# so the oracle is plain SQL + TRUE. At 100 TB the sketch is the only sane
# distinct-count: fixed-size mergeable state, no giant shuffle; the exact
# count here exists to *audit* the sketch at test scale.
@_q(
    "q_approx_distinct",
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS within_tolerance
    FROM events
    GROUP BY event_type
    """,
)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("exact_users"),
            F.approx_count_distinct("user_id", 0.01).alias("approx_users"),
        )
    )
    exact = F.col("exact_users").cast("double")
    err = F.abs(F.col("approx_users").cast("double") - exact)
    return agg.select(
        "event_type",
        "exact_users",
        (err <= 0.05 * exact).alias("within_tolerance"),
    )


# --- B14 extension: quantile sketch ---------------------------------------
# Same audit pattern: output exact interpolated percentiles (bit-equal to
# DuckDB quantile_cont) plus one boolean asserting the GK sketch (accuracy
# 10k → rank error ≤ 1e-4·n) returned a value inside the exact-value
# envelope at rank p ± 0.02. Contrast with q_percentiles (exact variant).
# At 100 TB the sketch is mergeable map-side: fixed memory per partition vs
# the exact percentile's full sort.
@_q(
    "q_approx_percentile",
    """
    SELECT event_type,
           quantile_cont(value, 0.5) AS p50_exact,
           quantile_cont(value, 0.9) AS p90_exact,
           quantile_cont(value, 0.99) AS p99_exact,
           TRUE AS sketch_within_tol
    FROM events
    GROUP BY event_type
    """,
)
def q_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    eps = 0.02
    ps = [0.5, 0.9, 0.99]
    agg = (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            *[F.percentile("value", p).alias(f"p{int(p*100)}_exact") for p in ps],
            *[
                F.percentile("value", max(p - eps, 0.0)).alias(f"_lo{i}")
                for i, p in enumerate(ps)
            ],
            *[
                F.percentile("value", min(p + eps, 1.0)).alias(f"_hi{i}")
                for i, p in enumerate(ps)
            ],
            F.percentile_approx("value", ps, 10_000).alias("_pcts"),
        )
    )
    in_env = [
        (F.col("_pcts")[i] >= F.col(f"_lo{i}"))
        & (F.col("_pcts")[i] <= F.col(f"_hi{i}"))
        for i in range(len(ps))
    ]
    ok = in_env[0] & in_env[1] & in_env[2]
    return agg.select(
        "event_type",
        "p50_exact",
        "p90_exact",
        "p99_exact",
        ok.alias("sketch_within_tol"),
    )


# --- B14 extension: frequent-items sketch ---------------------------------
# freqItems guarantees no false negatives above the support threshold, so
# the checkable contract is: every event_type whose TRUE frequency exceeds
# the support must appear in the sketch. Output = the exactly-frequent keys
# + in_sketch boolean (always TRUE when the sketch honors its contract);
# oracle = exact frequency SQL + TRUE. Scalar columns only — the raw sketch
# array crashed the driver canonicalizer in round 1.
@_q(
    "q_freq_items",
    """
    WITH tot AS (SELECT COUNT(*) AS n FROM events)
    SELECT event_type, TRUE AS in_sketch
    FROM events, tot
    GROUP BY event_type, tot.n
    HAVING COUNT(*) > 0.15 * tot.n
    """,
)
def q_freq_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    sketch = ev.freqItems(["event_type"], 0.15)  # 1 row, array<string>
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_rows"))
    total = ev.agg(F.count(F.lit(1)).alias("n_total"))
    frequent = (
        counts.crossJoin(F.broadcast(total))
        .where(F.col("n_rows") > 0.15 * F.col("n_total"))
    )
    return frequent.crossJoin(F.broadcast(sketch)).select(
        "event_type",
        F.array_contains(F.col("event_type_freqItems"), F.col("event_type")).alias(
            "in_sketch"
        ),
    )


# --- time-series: spine gap-fill + LOCF ------------------------------------
# Downsampled series have holes (hours where an event_type saw nothing);
# training and charting want a dense series. Build the hourly spine
# (sequence over the global range × distinct types — O(hours) rows,
# broadcast), left-join the real totals on, then forward-fill with the
# engine-portable cumulative-count trick: grp = COUNT(non-null) so far,
# fill = MAX(total) within (type, grp). No IGNORE NULLS dialect
# dependence; leading holes stay NULL by design. One window pass over
# O(types × hours) rows regardless of corpus size.
@_q(
    "q_gap_fill",
    f"""
    WITH bounds AS (
        SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
        FROM events
    ), spine AS (
        SELECT e.event_type,
               unnest(generate_series(b.lo, b.hi, INTERVAL 1 HOUR)) AS hour
        FROM (SELECT DISTINCT event_type FROM events) e
        CROSS JOIN bounds b
    ), totals AS (
        SELECT event_type, date_trunc('hour', ts) AS hour,
               {oracle_dec_sum('value', 'total')}
        FROM events GROUP BY 1, 2
    ), joined AS (
        SELECT s.event_type, s.hour, t.total,
               (t.total IS NULL) AS was_missing
        FROM spine s LEFT JOIN totals t USING (event_type, hour)
    ), grouped AS (
        SELECT *, COUNT(total) OVER (PARTITION BY event_type ORDER BY hour)
                    AS grp
        FROM joined
    )
    SELECT event_type, hour,
           MAX(total) OVER (PARTITION BY event_type, grp) AS total_filled,
           was_missing
    FROM grouped
    """,
)
def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = (
        ev.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour"),
        )
    )
    totals = (
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("hour"))
        .agg(dec_sum("value", "total"))
    )
    joined = spine.join(totals, ["event_type", "hour"], "left").select(
        "event_type", "hour", "total", F.col("total").isNull().alias("was_missing")
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    grouped = joined.withColumn("grp", F.count("total").over(w_cum))
    w_grp = Window.partitionBy("event_type", "grp")
    return grouped.select(
        "event_type",
        "hour",
        F.max("total").over(w_grp).alias("total_filled"),
        "was_missing",
    )


# --- B14 extension: count-min sketch (frequency estimation) ----------------
# Completes the mergeable-sketch pack (HLL distincts, GK quantiles,
# freqItems, CMS frequencies). Fully distributed CMS, built AND probed as
# DataFrame ops — the round-2 form collected every key and looped JVM
# estimateCount on the driver (VERDICT r2 "What's wrong" #2); here the
# counter table is a (row, bucket)→count aggregate (map-side combinable,
# mergeable by addition — the CMS property), and probing is a broadcast
# join of the d·w≤~1.1k-row table against the keys, so key cardinality
# never touches the driver. Seeded xxhash64 per row keeps the sketch
# deterministic. Output = exact counts + the two CMS contract booleans
# (never undercounts — structural: each counter ≥ the key's true count;
# overcount ≤ eps·N w.h.p., robustly true at ~10 keys vs width 272), so
# the oracle is exact SQL + TRUE.
@_q(
    "q_sketch_cms",
    """
    SELECT event_type,
           COUNT(*) AS exact_count,
           TRUE AS no_undercount,
           TRUE AS within_eps
    FROM events
    GROUP BY event_type
    """,
)
def q_sketch_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    eps, depth = 0.01, 4
    width = math.ceil(math.e / eps)  # 272

    def buckets():  # d seeded hash positions for the current row's key
        return F.array(
            *[
                F.pmod(
                    F.xxhash64(F.col("event_type"), F.lit(i)), F.lit(width)
                )
                for i in range(depth)
            ]
        )

    ev = t(spark, sf_dir, "events")
    table = (
        ev.select(F.posexplode(buckets()).alias("row", "bucket"))
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    exact = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("exact_count")
    )
    total = ev.agg(F.count(F.lit(1)).alias("n_total"))
    est = (
        exact.select(
            "event_type",
            "exact_count",
            F.posexplode(buckets()).alias("row", "bucket"),
        )
        .join(F.broadcast(table), ["row", "bucket"])
        .groupBy("event_type", "exact_count")
        .agg(F.min("c").alias("cms_estimate"))
    )
    return est.crossJoin(F.broadcast(total)).select(
        "event_type",
        "exact_count",
        (F.col("cms_estimate") >= F.col("exact_count")).alias("no_undercount"),
        (
            F.col("cms_estimate")
            <= F.col("exact_count")
            + F.floor(F.lit(eps) * F.col("n_total")).cast("long")
            + F.lit(1)
        ).alias("within_eps"),
    )


# --- skew mitigation as a gate query ---------------------------------------
# The two-stage salted aggregation (operators/skew.py) driven through the
# correctness gate: the hot grouping key is spread over 16 salt buckets
# before the final per-key combine, and the oracle is the PLAIN sum —
# proving salting is value-neutral (decimal-exact through both stages)
# while no reducer ever sees more than ~1/16 of a hot key's rows.
@_q(
    "q_salted_agg",
    f"""
    SELECT event_type,
           {oracle_dec_sum('value', 'total_value')},
           COUNT(*) AS n_rows
    FROM events
    GROUP BY event_type
    """,
)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_streaming_spark.operators.skew import (
        salted_count,
        salted_sum,
    )

    ev = t(spark, sf_dir, "events")
    sums = salted_sum(ev, ["event_type"], "value", "total_value", buckets=16)
    counts = salted_count(ev, ["event_type"], alias="n_rows", buckets=16)
    return sums.join(counts, "event_type").select(
        "event_type", "total_value", "n_rows"
    )


# --- warehouse op: SCD Type-2 dimension build (validity intervals) --------
# Slowly-changing-dimension versioning: each per-user event's value is
# current until the next event — valid_from/valid_to half-open intervals
# with an is_current flag on the open row. One window shuffle on the
# entity key; at 100 TB this is the standard CDC-stream → dimension-table
# materialization (pairs with streaming/incremental.py for the ingest
# side).
@_q(
    "q_scd2_build",
    """
    SELECT event_id, user_id, value,
           ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS valid_to,
           (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              IS NULL) AS is_current
    FROM events
    """,
)
def q_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "value",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


# --- product analytics: ordered funnel (view → click → purchase) ----------
# Sequence matching without a MATCH_RECOGNIZE engine: each stage is the
# MIN (ts, event_id) struct strictly after the previous stage's anchor —
# three per-user aggregations with map-side combine, no window over the
# raw event stream and no per-user state object. At 100 TB each stage is
# one shuffle on user_id and the stage frames are tiny (one row per
# user), so the three-way left join at the end broadcasts.
@_q(
    "q_funnel",
    """
    WITH v AS (
        SELECT user_id, ts AS v_ts, event_id AS v_id FROM events
        WHERE event_type = 'view'
        QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) = 1
    ), c AS (
        SELECT e.user_id, e.ts AS c_ts, e.event_id AS c_id
        FROM events e JOIN v USING (user_id)
        WHERE e.event_type = 'click'
          AND (e.ts > v.v_ts OR (e.ts = v.v_ts AND e.event_id > v.v_id))
        QUALIFY ROW_NUMBER() OVER (PARTITION BY e.user_id
                                   ORDER BY e.ts, e.event_id) = 1
    ), p AS (
        SELECT e.user_id, e.ts AS p_ts
        FROM events e JOIN c USING (user_id)
        WHERE e.event_type = 'purchase'
          AND (e.ts > c.c_ts OR (e.ts = c.c_ts AND e.event_id > c.c_id))
        QUALIFY ROW_NUMBER() OVER (PARTITION BY e.user_id
                                   ORDER BY e.ts, e.event_id) = 1
    )
    SELECT v.user_id, v.v_ts, c.c_ts, p.p_ts,
           CASE WHEN p.p_ts IS NOT NULL THEN 3
                WHEN c.c_ts IS NOT NULL THEN 2
                ELSE 1 END AS funnel_stage
    FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")

    def first_after(df, prev, prev_ts, prev_id, etype, out_ts, out_id):
        cand = df.filter(F.col("event_type") == etype)
        if prev is not None:
            cand = cand.join(prev.select("user_id", prev_ts, prev_id), "user_id")
            cand = cand.filter(
                (F.col("ts") > F.col(prev_ts))
                | ((F.col("ts") == F.col(prev_ts)) & (F.col("event_id") > F.col(prev_id)))
            )
        return (
            cand.groupBy("user_id")
            .agg(F.min(F.struct("ts", "event_id")).alias("_m"))
            .select(
                "user_id",
                F.col("_m.ts").alias(out_ts),
                F.col("_m.event_id").alias(out_id),
            )
        )

    v = first_after(ev, None, None, None, "view", "v_ts", "v_id")
    c = first_after(ev, v, "v_ts", "v_id", "click", "c_ts", "c_id")
    p = first_after(ev, c, "c_ts", "c_id", "purchase", "p_ts", "p_id")
    return (
        v.join(c.select("user_id", "c_ts"), "user_id", "left_outer")
        .join(p.select("user_id", "p_ts"), "user_id", "left_outer")
        .select(
            "user_id",
            "v_ts",
            "c_ts",
            "p_ts",
            F.when(F.col("p_ts").isNotNull(), 3)
            .when(F.col("c_ts").isNotNull(), 2)
            .otherwise(1)
            .alias("funnel_stage"),
        )
    )


# --- time-series: rolling EXACT median over a row frame -------------------
# Spark has no exact quantile window aggregate (percentile_approx only),
# so the rolling median is collect_list -> array_sort -> interpolate
# inside codegen — fine for bounded frames (5 rows here; a 10k-row frame
# would want a sketch instead). The even-count interpolation mirrors
# DuckDB's WINDOWED quantile_cont arithmetic literally — (lower+upper)
# summed first, then halved. The algebraically-equal
# lower + (upper-lower)*0.5 differs in the last ulp (verified on the
# fixture: frame [0.6, 25.71] → 13.155000000000001 vs 13.155), so the
# formula choice is load-bearing for exactness.
@_q(
    "q_rolling_median",
    """
    SELECT event_id, user_id, ts, value,
           quantile_cont(value, 0.5) OVER
             (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS rolling_median
    FROM events
    """,
)
def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, Window.currentRow)
    )
    arr = F.array_sort(F.collect_list("value").over(w))
    n = F.size(arr)
    h = ((n - F.lit(1)) / F.lit(2)).cast("int")
    lower = F.element_at(arr, h + 1)
    upper = F.element_at(arr, h + 2)
    med = F.when(n % 2 == 1, lower).otherwise((lower + upper) * F.lit(0.5))
    return t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value", med.alias("rolling_median")
    )


# --- product analytics: cohort retention matrix ---------------------------
# Cohort = first-activity day per user; retention = distinct users from
# that cohort active again N days later. Two aggregation shuffles plus
# one join back on the user key — the user-day activity set is
# distinct-ed BEFORE counting so a chatty user counts once per day. At
# 100 TB the firsts frame is |users| rows — shuffle join on user_id,
# AQE-skewed if one synthetic user dominates.
@_q(
    "q_retention",
    """
    WITH firsts AS (
        SELECT user_id,
               MIN(CAST(date_trunc('day', ts) AS TIMESTAMP)) AS cohort_day
        FROM events GROUP BY user_id
    ), activity AS (
        SELECT DISTINCT e.user_id, f.cohort_day,
               date_diff('day', f.cohort_day,
                         CAST(date_trunc('day', e.ts) AS TIMESTAMP))
                 AS day_offset
        FROM events e JOIN firsts f USING (user_id)
    )
    SELECT cohort_day, CAST(day_offset AS INTEGER) AS day_offset,
           CAST(COUNT(*) AS BIGINT) AS n_active
    FROM activity WHERE day_offset <= 7
    GROUP BY cohort_day, day_offset
    """,
)
def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    )
    firsts = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day")).alias("day_offset"),
        )
        .distinct()
    )
    return (
        activity.filter(F.col("day_offset") <= 7)
        .groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


# --- A-surface extension: FORWARD as-of join ------------------------------
# "Next hourly mark at or after the event" — the forward twin of
# q_asof_join, against DuckDB's native forward ASOF (``l.ts <= r.ts``).
# Same single-shuffle union+window construction (operators/asof.py).
@_q(
    "q_asof_forward",
    f"""
    WITH marks AS (
        SELECT user_id, date_trunc('hour', ts) AS mts,
               {oracle_dec_sum('value', 'mark_value')}
        FROM events GROUP BY 1, 2
    )
    SELECT e.event_id, e.ts, e.user_id, e.value, m.mark_value AS mark_value_right
    FROM events e ASOF LEFT JOIN marks m
      ON e.user_id = m.user_id AND e.ts <= m.mts
    """,
)
def q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_streaming_spark.operators.asof import asof_join_forward

    ev = t(spark, sf_dir, "events").select("event_id", "ts", "user_id", "value")
    marks = (
        t(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(dec_sum("value", "mark_value"))
        .select("user_id", F.col("w.start").alias("mts"), "mark_value")
    )
    return asof_join_forward(
        ev, marks, keys=["user_id"], left_ts="ts", right_ts="mts",
        right_payload=["mark_value"],
    )


# --- SCD2 point-in-time lookup (feature-store join) -----------------------
# The consumption side of q_scd2_build: for deterministic daily-noon
# probe times, attach the dimension version whose [valid_from, valid_to)
# interval covers the probe — the "feature value as of training time"
# join that prevents label leakage. Per-user intervals are disjoint, so
# exactly one version matches; the join hashes on user_id and the range
# predicates are residual filters (no range explosion).
@_q(
    "q_scd2_lookup",
    """
    WITH scd AS (
        SELECT user_id, value, ts AS valid_from,
               LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS valid_to
        FROM events
    ), probes AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 12 HOUR
                   AS pt
        FROM events
    )
    SELECT p.user_id, p.pt, s.value AS active_value, s.valid_from
    FROM probes p JOIN scd s
      ON p.user_id = s.user_id AND s.valid_from <= p.pt
     AND (s.valid_to IS NULL OR s.valid_to > p.pt)
    """,
)
def q_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    scd = ev.select(
        F.col("user_id").alias("s_user"),
        "value",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    )
    probes = ev.select(
        "user_id",
        F.expr(
            "CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 12 HOUR"
        ).alias("pt"),
    ).distinct()
    j = probes.join(
        scd,
        (probes.user_id == scd.s_user)
        & (scd.valid_from <= probes.pt)
        & (scd.valid_to.isNull() | (scd.valid_to > probes.pt)),
    )
    return j.select(
        "user_id", "pt", F.col("value").alias("active_value"), "valid_from"
    )


# --- Debezium-style CDC envelope: parse + net-effect apply -----------------
# The reference SHIPS Debezium connector configs for four source DBs but
# never wires the consumer (reference config/debezium/conf.json:1-55,
# docker-compose.yml:78-90 commented out) — this query implements the
# consumer side it implies: a change-log envelope {op, id, after, ts_ms,
# seq} is parsed under a DECLARED schema (A3 discipline, never inferred)
# and compacted to net effect — latest op per key wins, deletes remove
# the key. Each engine serializes its own envelope (JSON shortest-repr
# round-trips doubles losslessly within an engine, so values stay
# bit-identical to the source). The Spark side compacts with
# max_by(struct, struct) in ONE hash aggregate — no per-key window sort;
# at 100 TB this is exactly log-compaction: map-side combine keeps one
# candidate per key per partition, and only winners shuffle.
@_q(
    "q_cdc_apply",
    """
    WITH env AS (
        SELECT to_json(struct_pack(
                   op := CASE WHEN event_type = 'error' THEN 'd' ELSE 'u' END,
                   id := user_id,
                   v := value,
                   ts_ms := epoch_ms(ts),
                   seq := event_id)) AS payload
        FROM events
    ), parsed AS (
        SELECT CAST(json_extract_string(payload, '$.op') AS VARCHAR) AS op,
               CAST(json_extract(payload, '$.id') AS BIGINT) AS id,
               CAST(json_extract(payload, '$.v') AS DOUBLE) AS v,
               CAST(json_extract(payload, '$.ts_ms') AS BIGINT) AS ts_ms,
               CAST(json_extract(payload, '$.seq') AS BIGINT) AS seq
        FROM env
    ), latest AS (
        SELECT *, row_number() OVER (PARTITION BY id
                                     ORDER BY ts_ms DESC, seq DESC) AS rn
        FROM parsed
    )
    SELECT id AS user_id, v AS last_value, ts_ms AS last_ts_ms
    FROM latest WHERE rn = 1 AND op <> 'd'
    """,
)
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    env = e.select(
        F.to_json(
            F.struct(
                F.when(F.col("event_type") == "error", F.lit("d"))
                .otherwise(F.lit("u"))
                .alias("op"),
                F.col("user_id").alias("id"),
                F.col("value").alias("v"),
                F.unix_millis("ts").alias("ts_ms"),
                F.col("event_id").alias("seq"),
            )
        ).alias("payload")
    )
    parsed = env.select(
        F.from_json(
            "payload", "op string, id bigint, v double, ts_ms bigint, seq bigint"
        ).alias("r")
    ).select("r.*")
    compacted = parsed.groupBy("id").agg(
        F.expr("max_by(struct(op, v, ts_ms), struct(ts_ms, seq))").alias("w")
    )
    return compacted.where(F.col("w.op") != "d").select(
        F.col("id").alias("user_id"),
        F.col("w.v").alias("last_value"),
        F.col("w.ts_ms").alias("last_ts_ms"),
    )


# --- A3 extension: corrupt-record quarantine (dead-letter policy) ---------
# The reference's PERMISSIVE from_json silently turns malformed JSON
# into all-null rows (spark/streaming-shorttime.py:54 — nothing
# configures a mode); SURVEY.md §1.2 commits this engine to an EXPLICIT
# policy instead. This query drives streaming/parse.py's
# parse_json_with_dead_letter through the gate on a deterministically
# mangled feed (every 10th record gets a '{' prepended — invalid JSON in
# any parser): good rows keep their parsed payload, quarantined rows
# surface with identity intact and a NULL payload. One parse of the
# input; the good/dead split is two filters on the same plan. The oracle
# restates the policy with json_valid() — an independent JSON validator
# agreeing on every record is the point of the check.
@_q(
    "q_corrupt_quarantine",
    """
    WITH m AS (
        SELECT event_id, event_type,
               CASE WHEN event_id % 10 = 0 THEN '{' || props
                    ELSE props END AS v
        FROM events
    )
    SELECT event_id, event_type,
           CASE WHEN json_valid(v)
                THEN CAST(json_extract(v, '$.k') AS INTEGER) END AS k,
           NOT json_valid(v) AS quarantined
    FROM m
    """,
)
def q_corrupt_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import IntegerType, StructField, StructType

    from big_data_streaming_spark.streaming.parse import (
        parse_json_with_dead_letter,
    )

    feed = t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.when(
            F.col("event_id") % 10 == 0, F.concat(F.lit("{"), F.col("props"))
        )
        .otherwise(F.col("props"))
        .alias("value"),
    )
    schema = StructType([StructField("k", IntegerType())])
    good, dead = parse_json_with_dead_letter(
        feed, schema=schema, keep=("event_id", "event_type")
    )
    return good.select(
        "event_id", "event_type", "k", F.lit(False).alias("quarantined")
    ).unionByName(
        dead.select(
            "event_id",
            "event_type",
            F.lit(None).cast("int").alias("k"),
            F.lit(True).alias("quarantined"),
        )
    )


# --- A-surface extension: NEAREST as-of join ------------------------------
# "The hourly mark closest to the event, either direction" — the
# sensor-fusion alignment completing the as-of family (backward
# q_asof_join, forward q_asof_forward). One shuffle: both directional
# carries are windows over the same partitioning (operators/asof.py:
# asof_join_nearest). Oracle = DuckDB's native backward AND forward ASOF
# joined per event with the same nearest/tie-backward chooser in µs.
@_q(
    "q_asof_nearest",
    f"""
    WITH marks AS (
        SELECT user_id, date_trunc('hour', ts) AS mts,
               {oracle_dec_sum('value', 'mark_value')}
        FROM events GROUP BY 1, 2
    ), b AS (
        SELECT e.event_id, m.mts AS bts, m.mark_value AS bv
        FROM events e ASOF LEFT JOIN marks m
          ON e.user_id = m.user_id AND e.ts >= m.mts
    ), f AS (
        SELECT e.event_id, m.mts AS fts, m.mark_value AS fv
        FROM events e ASOF LEFT JOIN marks m
          ON e.user_id = m.user_id AND e.ts < m.mts
    )
    SELECT e.event_id, e.ts, e.user_id, e.value,
           CASE WHEN fts IS NULL THEN bv
                WHEN bts IS NOT NULL
                     AND epoch_us(e.ts) - epoch_us(bts)
                         <= epoch_us(fts) - epoch_us(e.ts) THEN bv
                ELSE fv END AS mark_value_right,
           CASE WHEN bts IS NULL AND fts IS NULL THEN NULL
                WHEN fts IS NULL THEN 'backward'
                WHEN bts IS NOT NULL
                     AND epoch_us(e.ts) - epoch_us(bts)
                         <= epoch_us(fts) - epoch_us(e.ts) THEN 'backward'
                ELSE 'forward' END AS direction_right
    FROM events e
    JOIN b USING (event_id) JOIN f USING (event_id)
    """,
)
def q_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_streaming_spark.operators.asof import asof_join_nearest

    ev = t(spark, sf_dir, "events").select("event_id", "ts", "user_id", "value")
    marks = (
        t(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(dec_sum("value", "mark_value"))
        .select("user_id", F.col("w.start").alias("mts"), "mark_value")
    )
    return asof_join_nearest(
        ev, marks, keys=["user_id"], left_ts="ts", right_ts="mts",
        right_payload=["mark_value"],
    )


# --- A3/A4 extension: NESTED JSON (array-of-structs) parse + explode ------
# The reference's JSON is flat (14 scalar fields, spark/streaming-
# shorttime.py:27-42); real feeds nest line items inside the envelope.
# Both engines build the SAME document text (shared concat arithmetic),
# then parse it with genuinely different machinery: Spark declares
# struct<order,items:array<struct<sku,qty>>> for from_json and
# posexplodes the array (the lateral flatten of A4 generalized to
# repeated groups); DuckDB extracts typed paths with json_extract. A
# schema-drift, wrong-ordinal, or array-ordering bug breaks the hash.
@_q(
    "q_nested_json",
    """
    WITH doc AS (
        SELECT event_id,
               '{"order":' || CAST(event_id AS VARCHAR)
               || ',"items":[{"sku":' || CAST(event_id % 7 AS VARCHAR)
               || ',"qty":' || CAST(user_id % 5 + 1 AS VARCHAR)
               || '},{"sku":' || CAST(event_id % 3 AS VARCHAR)
               || ',"qty":2}]}' AS js
        FROM events
    )
    SELECT event_id, 0 AS item_pos,
           CAST(json_extract(js, '$.items[0].sku') AS BIGINT) AS sku,
           CAST(json_extract(js, '$.items[0].qty') AS BIGINT) AS qty
    FROM doc
    UNION ALL
    SELECT event_id, 1,
           CAST(json_extract(js, '$.items[1].sku') AS BIGINT),
           CAST(json_extract(js, '$.items[1].qty') AS BIGINT)
    FROM doc
    """,
)
def q_nested_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").select("event_id", "user_id")
    js = F.concat(
        F.lit('{"order":'),
        F.col("event_id").cast("string"),
        F.lit(',"items":[{"sku":'),
        (F.col("event_id") % 7).cast("string"),
        F.lit(',"qty":'),
        (F.col("user_id") % 5 + 1).cast("string"),
        F.lit('},{"sku":'),
        (F.col("event_id") % 3).cast("string"),
        F.lit(',"qty":2}]}'),
    )
    parsed = e.select(
        "event_id",
        F.from_json(
            js,
            "struct<order:bigint,items:array<struct<sku:bigint,qty:bigint>>>",
        ).alias("d"),
    )
    return parsed.select(
        "event_id", F.posexplode("d.items").alias("item_pos", "item")
    ).select(
        "event_id",
        "item_pos",
        F.col("item.sku").alias("sku"),
        F.col("item.qty").alias("qty"),
    )


# --- as-of join with tolerance (bounded staleness) --------------------------
# q_asof_join's backward carry, but a mark older than 15 minutes is no
# mark at all (pandas merge_asof(tolerance=...) parity — the market rule
# "don't price a trade off a stale quote"). The oracle uses DuckDB's
# native ASOF JOIN and nulls stale matches post-hoc, so the operator's
# tolerance path is checked against the reference implementation. Same
# one-shuffle plan as the unbounded join; the freshness check is one
# per-row expression on the carried right timestamp.
@_q(
    "q_asof_tolerance",
    f"""
    WITH marks AS (
        SELECT user_id, date_trunc('hour', ts) AS mts,
               {oracle_dec_sum('value', 'mark_value')}
        FROM events GROUP BY 1, 2
    )
    SELECT e.event_id, e.ts, e.user_id, e.value,
           CASE WHEN m.mts >= e.ts - INTERVAL 15 MINUTE
                THEN m.mark_value END AS mark_value_right
    FROM events e ASOF LEFT JOIN marks m
      ON e.user_id = m.user_id AND e.ts >= m.mts
    """,
)
def q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_streaming_spark.operators.asof import asof_join

    ev = t(spark, sf_dir, "events").select("event_id", "ts", "user_id", "value")
    marks = (
        t(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(dec_sum("value", "mark_value"))
        .select("user_id", F.col("w.start").alias("mts"), "mark_value")
    )
    return asof_join(
        ev, marks, keys=["user_id"], left_ts="ts", right_ts="mts",
        right_payload=["mark_value"], tolerance="15 minutes",
    )


# --- point-in-time feature join (feature-store correctness) -----------------
# The ML-feature-store marquee op: enrich each training event with the
# latest value of EVERY feature table as of the event's timestamp —
# never a future value (leakage) and never a stale-beyond-tolerance one.
# Composed from the as-of operator applied per feature table: hourly
# per-user activity marks (tolerance-bounded, 2h) and daily per-type
# totals (unbounded). The oracle is two native DuckDB ASOF joins, so the
# composition is checked against a first-class reference. Scale: each
# feature table joins with ONE shuffle on its own entity key; feature
# tables are aggregates (small relative to the event log), and the plan
# chains without ever re-shuffling the events on the same key twice.
@_q(
    "q_pit_features",
    f"""
    WITH user_marks AS (
        SELECT user_id, date_trunc('hour', ts) AS mts,
               {oracle_dec_sum('value', 'user_hour_value')}
        FROM events GROUP BY 1, 2
    ), type_marks AS (
        SELECT event_type, date_trunc('day', ts) AS dts,
               {oracle_dec_sum('value', 'type_day_value')}
        FROM events GROUP BY 1, 2
    )
    SELECT e.event_id, e.ts, e.user_id, e.event_type, e.value,
           CASE WHEN u.mts >= e.ts - INTERVAL 2 HOUR
                THEN u.user_hour_value END AS user_hour_value_right,
           t.type_day_value AS type_day_value_right
    FROM events e
    ASOF LEFT JOIN user_marks u
      ON e.user_id = u.user_id AND e.ts >= u.mts
    ASOF LEFT JOIN type_marks t
      ON e.event_type = t.event_type AND e.ts >= t.dts
    """,
)
def q_pit_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_streaming_spark.operators.asof import asof_join

    ev = t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    user_marks = (
        t(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(dec_sum("value", "user_hour_value"))
        .select("user_id", F.col("w.start").alias("mts"), "user_hour_value")
    )
    type_marks = (
        t(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("dts"), "event_type")
        .agg(dec_sum("value", "type_day_value"))
        .select("event_type", "dts", "type_day_value")
    )
    step1 = asof_join(
        ev, user_marks, keys=["user_id"], left_ts="ts", right_ts="mts",
        right_payload=["user_hour_value"], tolerance="2 hours",
    )
    return asof_join(
        step1, type_marks, keys=["event_type"], left_ts="ts", right_ts="dts",
        right_payload=["type_day_value"],
    )


# --- token-bucket rate limiter audit (round 4) ------------------------------
# Which events WOULD an edge rate limiter have admitted? The classic
# token bucket (capacity 5 tokens, refill 1/60 token per second, cost
# 1 token per event) replayed over each user's event stream — the
# admission-control audit a serving team runs before turning a limiter
# on. State is per-user and inherently sequential in event time, so the
# Spark-first shape is ``applyInPandas`` over the user partitioning —
# the same custom-stateful pattern as the sessionizer, batch flavor.
# Exactness: everything lives in a ×60 integer token domain (cap=300,
# cost=60, refill = whole elapsed SECONDS — floor(epoch) on both
# engines per the µs-truncation rule), so the clamped recurrence
# s ← min(300, s + gap) is bit-identical; the oracle replays it as a
# per-user recursive CTE advancing all users one event per iteration
# (depth = max events/user ≈ 100). Scale: one shuffle on user_id; each
# group is a short integer loop; no driver participation.
_RL_CAP = 300   # 5 tokens × 60
_RL_COST = 60   # 1 token × 60


@_q(
    "q_rate_limit",
    f"""
    WITH RECURSIVE ej AS MATERIALIZED (
        SELECT user_id, event_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
               CAST(row_number() OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id)
                    AS BIGINT) AS rn
        FROM events
    ), r AS (
        SELECT user_id, event_id, rn, tsec,
               CAST({_RL_CAP} AS BIGINT) AS before_s,
               CAST({_RL_CAP - _RL_COST} AS BIGINT) AS after_s,
               TRUE AS admitted
        FROM ej WHERE rn = 1
        UNION ALL
        SELECT e.user_id, e.event_id, e.rn, e.tsec,
               least({_RL_CAP}, r.after_s + (e.tsec - r.tsec)),
               CASE WHEN least({_RL_CAP}, r.after_s + (e.tsec - r.tsec))
                         >= {_RL_COST}
                    THEN least({_RL_CAP}, r.after_s + (e.tsec - r.tsec))
                         - {_RL_COST}
                    ELSE least({_RL_CAP}, r.after_s + (e.tsec - r.tsec)) END,
               least({_RL_CAP}, r.after_s + (e.tsec - r.tsec)) >= {_RL_COST}
        FROM r JOIN ej e ON e.user_id = r.user_id AND e.rn = r.rn + 1
    )
    SELECT user_id, event_id, rn, admitted,
           before_s AS tokens_before_x60, after_s AS tokens_after_x60
    FROM r
    """,
)
def q_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").cast("bigint").alias("tsec"),
        "ts",
    )

    schema = (
        "user_id bigint, event_id bigint, rn bigint, admitted boolean,"
        " tokens_before_x60 bigint, tokens_after_x60 bigint"
    )

    def replay(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        n = len(pdf)
        out = {
            "user_id": pdf["user_id"],
            "event_id": pdf["event_id"],
            "rn": range(1, n + 1),
            "admitted": [False] * n,
            "tokens_before_x60": [0] * n,
            "tokens_after_x60": [0] * n,
        }
        adm, bef, aft = [], [], []
        s = _RL_CAP
        prev_t = None
        for tsec in pdf["tsec"]:
            tsec = int(tsec)
            if prev_t is not None:
                s = min(_RL_CAP, s + (tsec - prev_t))
            bef.append(s)
            ok = s >= _RL_COST
            if ok:
                s -= _RL_COST
            adm.append(ok)
            aft.append(s)
            prev_t = tsec
        out["admitted"] = adm
        out["tokens_before_x60"] = bef
        out["tokens_after_x60"] = aft
        return pd.DataFrame(out)

    return (
        ev.groupBy("user_id")
        .applyInPandas(lambda _, pdf: replay(pdf), schema)
    )


# --- approx-percentile rank-error audit (round 4) ---------------------------
# The quantile member of the audited-approximation ladder (HLL ladder,
# CMS, Bloom FPR, MinHash estimator): Spark's percentile_approx
# (Greenwald-Khanna style, rank error ≤ n/accuracy) is asked for the
# p50/p90/p99 of events.value at accuracy 10000, and the audit checks
# the RANK of the returned element against the guaranteed window
# [(q−ε)n − 1, (q+ε)n + 1] (ε = 1/accuracy, ±1 for the endpoint-
# rounding slack of the published bound). The approx value itself is
# engine-specific and never emitted; the driver-checked columns are the
# exact element-selection quantile (never interpolation — house rule)
# and the boolean bound verdicts, which the oracle states as the truth
# the sketch must satisfy. A violated bound surfaces as a hash
# mismatch. Scale: the sketch is one mergeable aggregate; the audit
# adds two combinable conditional counts per level.
_QA_LEVELS = (0.5, 0.9, 0.99)
_QA_ACC = 10_000


@_q(
    "q_quantile_sketch_audit",
    f"""
    WITH r AS (
        SELECT value,
               CAST(row_number() OVER (ORDER BY value, event_id) AS BIGINT)
                   AS rn,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM events
    ), lv AS (
        SELECT CAST(l.q AS DOUBLE) AS level FROM (VALUES (0.5), (0.9),
            (0.99)) l(q)
    )
    SELECT lv.level,
           CAST(MAX(r.n) AS BIGINT) AS n,
           CAST(MAX(CASE WHEN r.rn = CAST(floor(lv.level * (r.n - 1))
                                          AS BIGINT) + 1
                         THEN r.value END) AS DOUBLE) AS exact_value,
           TRUE AS within_bound
    FROM r CROSS JOIN lv
    GROUP BY lv.level
    """,
)
def q_quantile_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events")
    approx = ev.agg(
        F.percentile_approx(
            "value", list(_QA_LEVELS), _QA_ACC
        ).alias("ap")
    ).select(
        F.posexplode("ap").alias("idx", "approx_value")
    ).select(
        F.element_at(
            F.array(*[F.lit(q) for q in _QA_LEVELS]),
            (F.col("idx") + 1).cast("int"),
        ).alias("level"),
        "approx_value",
    )
    # events are fact-sized: the exact-quantile rank + total ride the
    # range-partitioned ranker (plans/rank.py)
    r = global_rank(
        ev.select("value", "event_id"),
        ["value", "event_id"],
        rank_col="rn",
        total_col="n",
    ).select("value", "rn", "n")
    exact = (
        r.crossJoin(F.broadcast(approx))
        .groupBy("level")
        .agg(
            F.max("n").cast("bigint").alias("n"),
            F.max(
                F.when(
                    F.col("rn")
                    == F.floor(F.col("level") * (F.col("n") - 1)).cast(
                        "bigint"
                    )
                    + 1,
                    F.col("value"),
                )
            )
            .cast("double")
            .alias("exact_value"),
            # rank window of the sketch's answer: [min_rank, max_rank]
            # must intersect [(q−ε)n − 1, (q+ε)n + 1]
            (F.count(F.when(F.col("value") < F.col("approx_value"), 1)) + 1)
            .cast("double")
            .alias("min_rank"),
            F.count(F.when(F.col("value") <= F.col("approx_value"), 1))
            .cast("double")
            .alias("max_rank"),
        )
    )
    eps = 1.0 / _QA_ACC
    return exact.select(
        "level",
        "n",
        "exact_value",
        (
            (F.col("min_rank") <= (F.col("level") + eps) * F.col("n") + 1)
            & (F.col("max_rank") >= (F.col("level") - eps) * F.col("n") - 1)
        ).alias("within_bound"),
    )


# --- watermark-delay advisor from out-of-order arrival (round 4) ------------
# The batch audit that picks a streaming watermark: replay events in
# INGEST order (event_id — the documented arrival sequence), track the
# running max event time, and measure each event's lateness behind the
# frontier. For candidate delays {10, 30, 60} min, report how much data
# a watermark of that delay would drop, plus element-selected p50/p90/
# p99 lateness (never interpolated). Every quantity is an exact integer
# (floor(epoch) seconds). Plan: ONE global running-max window over the
# arrival order (range-partitioned sort at 100 TB — arrival segments
# are naturally time-ordered so the sort is near-free) + one rank
# window on the O(n) lateness relation + an O(1) fold per candidate.
@_q(
    "q_watermark_advisor",
    """
    WITH e AS (
        SELECT CAST(event_id AS BIGINT) AS event_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS sec
        FROM events
    ), run AS (
        SELECT event_id, sec,
               CAST(MAX(sec) OVER (ORDER BY event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS frontier
        FROM e
    ), late AS (
        SELECT event_id, CAST(frontier - sec AS BIGINT) AS lateness
        FROM run
    ), rk AS (
        SELECT lateness,
               CAST(row_number() OVER (ORDER BY lateness, event_id)
                    AS BIGINT) AS rn,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM late
    ), qs AS (
        SELECT CAST(MAX(CASE WHEN rn = (n - 1) * 50 // 100 + 1
                             THEN lateness END) AS BIGINT) AS p50,
               CAST(MAX(CASE WHEN rn = (n - 1) * 90 // 100 + 1
                             THEN lateness END) AS BIGINT) AS p90,
               CAST(MAX(CASE WHEN rn = (n - 1) * 99 // 100 + 1
                             THEN lateness END) AS BIGINT) AS p99
        FROM rk
    ), cand AS (
        SELECT unnest([600, 1800, 3600]) AS delay_s
    ), dropped AS (
        SELECT cand.delay_s,
               CAST(COUNT(*) AS BIGINT) AS n_total,
               CAST(SUM(CASE WHEN lateness > cand.delay_s THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dropped
        FROM late CROSS JOIN cand GROUP BY cand.delay_s
    )
    SELECT CAST(delay_s AS BIGINT) AS delay_s, n_total, n_dropped,
           CAST(n_dropped AS DOUBLE) / CAST(n_total AS DOUBLE)
               AS dropped_share,
           p50, p90, p99
    FROM dropped CROSS JOIN qs ORDER BY delay_s
    """,
)
def q_watermark_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").selectExpr(
        "CAST(event_id AS BIGINT) AS event_id",
        "CAST(floor(unix_timestamp(ts)) AS BIGINT) AS sec",
    )
    # events are fact-sized: the arrival-order watermark (running max
    # of sec) and the lateness rank both ride the range-partitioned
    # global_order (plans/rank.py)
    late = global_order(
        e, ["event_id"], cum_maxes={"_wm": "sec"}
    ).select(
        "event_id",
        (F.col("_wm") - F.col("sec")).cast("bigint").alias("lateness"),
    )
    rk = global_rank(
        late, ["lateness", "event_id"], rank_col="rn", total_col="n"
    ).select("lateness", "rn", "n")
    qs = rk.agg(
        F.max(
            F.when(F.col("rn") == F.expr("(n - 1) * 50 DIV 100 + 1"),
                   F.col("lateness"))
        ).cast("bigint").alias("p50"),
        F.max(
            F.when(F.col("rn") == F.expr("(n - 1) * 90 DIV 100 + 1"),
                   F.col("lateness"))
        ).cast("bigint").alias("p90"),
        F.max(
            F.when(F.col("rn") == F.expr("(n - 1) * 99 DIV 100 + 1"),
                   F.col("lateness"))
        ).cast("bigint").alias("p99"),
    )
    cand = local_rows(spark, [(600,), (1800,), (3600,)], "delay_s bigint")
    dropped = (
        late.crossJoin(F.broadcast(cand))
        .groupBy("delay_s")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_total"),
            F.sum(
                F.when(F.col("lateness") > F.col("delay_s"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_dropped"),
        )
    )
    return (
        dropped.crossJoin(F.broadcast(qs))
        .selectExpr(
            "CAST(delay_s AS BIGINT) AS delay_s",
            "n_total",
            "n_dropped",
            "CAST(n_dropped AS DOUBLE) / CAST(n_total AS DOUBLE)"
            " AS dropped_share",
            "p50",
            "p90",
            "p99",
        )
        .orderBy("delay_s")
    )


# --- partial-aggregate mergeability audit (round 4) --------------------------
# The algebraic property every distributed aggregate relies on, checked
# AS a query: split the stream into 4 hash shards, compute per-shard
# partial states (n, sum, sum-of-squares, min, max in the exact cents
# domain), MERGE the states, and compare against the direct global
# aggregate. All-integer equality flags (1/0) — any engine or exactness
# regression that breaks state mergeability turns a flag to 0 and fails
# the value gate. Plan: two combinable aggregates over one scan each;
# the merge itself is an O(shards) fold.
_WMA_CENTS = "CAST(floor(value * 100 + 0.5) AS BIGINT)"


@_q(
    "q_merge_audit",
    f"""
    WITH c AS (
        SELECT CAST(event_id AS BIGINT) % 4 AS shard, {_WMA_CENTS} AS c
        FROM events WHERE value IS NOT NULL
    ), per AS (
        SELECT shard,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(c) AS BIGINT) AS s,
               CAST(SUM(c * c) AS BIGINT) AS qq,
               CAST(MIN(c) AS BIGINT) AS lo,
               CAST(MAX(c) AS BIGINT) AS hi
        FROM c GROUP BY shard
    ), merged AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_shards,
               CAST(SUM(n) AS BIGINT) AS n,
               CAST(SUM(s) AS BIGINT) AS s,
               CAST(SUM(qq) AS BIGINT) AS qq,
               CAST(MIN(lo) AS BIGINT) AS lo,
               CAST(MAX(hi) AS BIGINT) AS hi
        FROM per
    ), direct AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(c) AS BIGINT) AS s,
               CAST(SUM(c * c) AS BIGINT) AS qq,
               CAST(MIN(c) AS BIGINT) AS lo,
               CAST(MAX(c) AS BIGINT) AS hi
        FROM c
    )
    SELECT m.n_shards, m.n, d.n AS n_direct,
           CAST(CASE WHEN m.n = d.n THEN 1 ELSE 0 END AS INTEGER) AS n_eq,
           CAST(CASE WHEN m.s = d.s THEN 1 ELSE 0 END AS INTEGER) AS sum_eq,
           CAST(CASE WHEN m.qq = d.qq THEN 1 ELSE 0 END AS INTEGER) AS sq_eq,
           CAST(CASE WHEN m.lo = d.lo THEN 1 ELSE 0 END AS INTEGER) AS min_eq,
           CAST(CASE WHEN m.hi = d.hi THEN 1 ELSE 0 END AS INTEGER) AS max_eq,
           CAST(m.s AS DOUBLE) / (CAST(m.n AS DOUBLE) * 100.0) AS merged_mean
    FROM merged m CROSS JOIN direct d
    """,
)
def q_merge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    c = e.selectExpr(
        "CAST(event_id AS BIGINT) % 4 AS shard", f"{_WMA_CENTS} AS c"
    )
    per = c.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("qq"),
        F.min("c").cast("bigint").alias("lo"),
        F.max("c").cast("bigint").alias("hi"),
    )
    merged = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shards"),
        F.sum("n").cast("bigint").alias("n"),
        F.sum("s").cast("bigint").alias("s"),
        F.sum("qq").cast("bigint").alias("qq"),
        F.min("lo").cast("bigint").alias("lo"),
        F.max("hi").cast("bigint").alias("hi"),
    )
    direct = c.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_d"),
        F.sum("c").cast("bigint").alias("s_d"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("qq_d"),
        F.min("c").cast("bigint").alias("lo_d"),
        F.max("c").cast("bigint").alias("hi_d"),
    )
    return merged.crossJoin(F.broadcast(direct)).selectExpr(
        "n_shards",
        "n",
        "n_d AS n_direct",
        "CAST(CASE WHEN n = n_d THEN 1 ELSE 0 END AS INTEGER) AS n_eq",
        "CAST(CASE WHEN s = s_d THEN 1 ELSE 0 END AS INTEGER) AS sum_eq",
        "CAST(CASE WHEN qq = qq_d THEN 1 ELSE 0 END AS INTEGER) AS sq_eq",
        "CAST(CASE WHEN lo = lo_d THEN 1 ELSE 0 END AS INTEGER) AS min_eq",
        "CAST(CASE WHEN hi = hi_d THEN 1 ELSE 0 END AS INTEGER) AS max_eq",
        "CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0) AS merged_mean",
    )


# --- Bloom-filter sizing advisor (round 4) -----------------------------------
# The design calculation behind the engine's Bloom membership filter:
# for the corpus' ACTUAL distinct user/event key counts and target
# false-positive rates {1%, 0.1%}, the optimal bits m = n·(−ln p/ln²2)
# and hash count k = (m/n)·ln 2. The transcendental factors are
# per-target SHARED LITERALS (9.585.../14.377... bits per key — the
# q_ndcg constant policy); the distinct counts are exact. Output one
# row per (key column, target). Plan: two distinct-count aggregates +
# a 4-row broadcast grid.
@_q(
    "q_bloom_advisor",
    """
    WITH keys AS (
        SELECT 'user_id' AS key_col,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_keys
        FROM events
        UNION ALL
        SELECT 'event_id' AS key_col,
               CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_keys
        FROM events
    ), grid AS (
        -- explicit DOUBLE casts: DuckDB infers DECIMAL for bare
        -- decimal literals in VALUES, which would route the sizing
        -- arithmetic through decimal instead of IEEE doubles.
        SELECT CAST(fpr AS DOUBLE) AS fpr,
               CAST(bits_per_key AS DOUBLE) AS bits_per_key,
               CAST(k_factor AS DOUBLE) AS k_factor
        FROM (VALUES
            ('0.01', '9.585058377367439', '6.643856189774724'),
            ('0.001', '14.37758756605116', '9.965784284662087'))
            AS t(fpr, bits_per_key, k_factor)
    )
    SELECT key_col, n_keys, fpr,
           CAST(ceil(CAST(n_keys AS DOUBLE) * bits_per_key) AS BIGINT)
               AS bits,
           (CAST(n_keys AS DOUBLE) * bits_per_key) / 8388608.0 AS mib,
           CAST(ceil(k_factor) AS BIGINT) AS k_hashes
    FROM keys CROSS JOIN grid
    ORDER BY key_col, fpr
    """,
)
def q_bloom_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    keys = (
        e.agg(
            F.countDistinct("user_id").cast("bigint").alias("n_keys")
        ).selectExpr("'user_id' AS key_col", "n_keys")
    ).unionAll(
        e.agg(
            F.countDistinct("event_id").cast("bigint").alias("n_keys")
        ).selectExpr("'event_id' AS key_col", "n_keys")
    )
    grid = local_rows(
        spark,
        [
            (0.01, 9.585058377367439, 6.643856189774724),
            (0.001, 14.37758756605116, 9.965784284662087),
        ],
        "fpr double, bits_per_key double, k_factor double",
    )
    return (
        keys.crossJoin(F.broadcast(grid))
        .selectExpr(
            "key_col",
            "n_keys",
            "fpr",
            "CAST(ceil(CAST(n_keys AS DOUBLE) * bits_per_key) AS BIGINT)"
            " AS bits",
            "(CAST(n_keys AS DOUBLE) * bits_per_key) / 8388608.0 AS mib",
            "CAST(ceil(k_factor) AS BIGINT) AS k_hashes",
        )
        .orderBy("key_col", "fpr")
    )
