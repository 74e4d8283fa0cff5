"""Streaming + sink workload — real Structured Streaming queries whose
results are still DuckDB-oracle-checkable.

Every ``q_stream_*`` key drains a bounded stream through the streaming
engine itself, not a batch stand-in, so the driver's correctness gate
exercises it; the oracle is plain SQL over the batch tables
(stream/batch equivalence is the Structured Streaming contract; see also
tests/test_streaming.py). The drain contract, implemented once in
``_stream`` (source side) and ``_drain`` (sink side):

* **Staging.** ``_stage_stream_dir`` copies a testdata table into a
  deterministic dir under ``<tempdir>/bdss_stream_stage`` (the file
  source wants a directory it can list), reused across calls and
  processes while ``sources/staging.fingerprint_cached_dir`` says it
  matches the source. ``n_parts=1`` is a byte copy; ``n_parts=4`` cuts
  contiguous event_id-ordered row slices, so the drain is a real
  four-micro-batch run at every scale factor (the batch-identity
  contract the per-batch oracles replay).
* **One file per trigger.** ``_stream`` pins the session confs the raw
  files need (the driver hands over its own plain session), takes the
  raw file schema from the catalog's fingerprinted cache (inferred once
  per staged dir), opens ``readStream`` with ``maxFilesPerTrigger=1``
  and applies the batch catalog's timestamp normalization — identical
  values either path.
* **The pin.** ``_drain`` starts every query with 8 shuffle partitions
  and restores the caller's value right after start (the streaming
  query captures the conf at start). Stateful
  streaming creates one state-store instance per shuffle partition, so
  this is the store count; for these bounded drains 8 beat 32 (less
  per-store setup than data). A production continuous query sizes it to
  key cardinality instead.
* **Sink kinds.** A memory sink under a unique query name, whose table
  ``_drain`` returns, or ``foreachBatch`` with a checkpoint. Either way
  the query drains with ``Trigger.AvailableNow`` and is awaited.
* **Scratch policy.** Every checkpoint, sink dir and state dir comes
  from ``sources/staging.pid_scratch_dirs``: per process and family,
  wiped and reused on the next call, reclaimed once its owning process
  is gone. Nothing is named per call.

``q_route_by_key`` is the single-pass replacement for the reference's
O(keys)-sequential-jobs router (reference spark/streaming-longtime.py:
119-144 loops filter+write per (coin, interval), rescanning the batch up
to 21×; SURVEY.md §4.3.2): one ``partitionBy`` write, then a read-back —
checked against a plain GROUP BY oracle.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_streaming_spark.plans.rank import track_persist
from big_data_streaming_spark.sources.catalog import (
    _ensure_session_confs,
    local_rows,
    normalize_raw_timestamps,
    read_parquet,
    table_facts,
)
from big_data_streaming_spark.sources.staging import (
    fingerprint_cached_dir,
    pid_scratch_dirs,
)
from big_data_streaming_spark.streaming.sinks import start_foreach_batch
from big_data_streaming_spark.workload.common import (
    dec_sum,
    ohlc_oracle,
    oracle_dec_sum,
    registry,
    t,
)

QUERIES, ORACLES, _q = registry()


def _stage_stream_dir(sf_dir: str, table: str, n_parts: int = 1) -> str:
    """Stage ``table`` as ``n_parts`` parquet files in a deterministic dir
    (see the module docstring). ``n_parts=1`` byte-copies a single-file
    source, so footers and row groups are the source's own; a directory
    source is rewritten as one file."""
    import pyarrow.parquet as pq

    src = os.path.join(sf_dir, f"{table}.parquet")
    tag = hashlib.md5(f"{sf_dir}:{table}:{n_parts}".encode()).hexdigest()[:10]
    dst = os.path.join(
        tempfile.gettempdir(), "bdss_stream_stage", f"{table}_{n_parts}_{tag}"
    )
    want = [os.path.join(dst, f"part_{i}.parquet") for i in range(n_parts)]

    def build() -> None:
        if n_parts == 1 and os.path.isfile(src):
            shutil.copy(src, want[0])
            return
        tbl = pq.read_table(src)
        step = max(1, (tbl.num_rows + n_parts - 1) // n_parts)
        for i in range(n_parts):
            pq.write_table(tbl.slice(i * step, step), want[i])

    return fingerprint_cached_dir(src, dst, want, build)


def _stream(
    spark: SparkSession, sf_dir: str, table: str = "events", n_parts: int = 1
) -> DataFrame:
    """The staged ``table`` as a file stream, one file per trigger, with
    raw timestamps normalized (the module's drain contract)."""
    # Without nanosAsLong the schema probe refuses TIMESTAMP(NANOS) files.
    _ensure_session_confs(spark)
    src_dir = _stage_stream_dir(sf_dir, table, n_parts)
    sdf = (
        spark.readStream.schema(table_facts(spark, src_dir).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    return normalize_raw_timestamps(sdf, src_dir)


def _drain(
    df: DataFrame, *, mode: str = "append", batch=None, checkpoint: str | None = None
) -> DataFrame | None:
    """Drain ``df`` with AvailableNow under the stream-side shuffle pin:
    into a memory sink in output ``mode`` whose table is returned, or
    through ``start_foreach_batch(df, batch, checkpoint)`` in append mode
    (returns None)."""
    spark = df.sparkSession
    name = None
    pin = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(pin)
    spark.conf.set(pin, "8")
    try:
        if batch is None:
            name = f"drain_{uuid.uuid4().hex[:8]}"
            writer = df.writeStream.outputMode(mode).format("memory")
            q = writer.queryName(name).trigger(availableNow=True).start()
        else:
            q = start_foreach_batch(
                df, batch, checkpoint, trigger={"availableNow": True}
            )
    finally:
        spark.conf.set(pin, prev)
    q.awaitTermination()
    return None if name is None else spark.table(name)


@_q(
    "q_stream_window_tumbling",
    f"""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           {oracle_dec_sum('value', 'total_value')},
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
)
def q_stream_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = (
        _stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(dec_sum("value", "total_value"), F.count(F.lit(1)).alias("n_events"))
    )
    return _drain(agg, mode="complete").select(
        F.col("w.start").alias("window_start"),
        "event_type",
        "total_value",
        "n_events",
    )


# Streaming B3: sliding window through the streaming engine, same oracle
# as the batch q_window_sliding.
@_q(
    "q_stream_window_sliding",
    f"""
    SELECT epoch_ms(CAST((floor(epoch(ts) / 900) * 900 - g.i * 900) AS BIGINT) * 1000)
             AS window_start,
           event_type,
           {oracle_dec_sum('value', 'total_value')}
    FROM events CROSS JOIN generate_series(0, 3) AS g(i)
    GROUP BY 1, 2
    """,
)
def q_stream_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = (
        _stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(dec_sum("value", "total_value"))
    )
    return _drain(agg, mode="complete").select(
        F.col("w.start").alias("window_start"), "event_type", "total_value"
    )


# Streaming B4: session window through the streaming engine, same oracle
# as the batch q_window_session.
@_q(
    "q_stream_window_session",
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
def q_stream_window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = (
        _stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(dec_sum("value", "total_value"), F.count(F.lit(1)).alias("n_events"))
    )
    return _drain(agg, mode="complete").select(
        "user_id",
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "n_events",
        "total_value",
    )


@_q(
    "q_route_by_key",
    f"""
    SELECT event_type, COUNT(*) AS n_rows, {oracle_dec_sum('value', 'total_value')}
    FROM events
    GROUP BY event_type
    """,
)
def q_route_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_streaming_spark.streaming.router import route_partitioned

    events = t(spark, sf_dir, "events")
    out_dir, _ = pid_scratch_dirs("route_by_key", sf_dir)
    route_partitioned(events, out_dir, keys=["event_type"])
    back = spark.read.parquet(out_dir)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"), dec_sum("value", "total_value")
    )


# Streaming B7 extension: STREAM-STREAM inner join — the flagship
# Structured Streaming capability (two unbounded sides, both stateful,
# watermark-bounded state). Click→purchase attribution: every purchase
# within 30 minutes of a same-user click. The event-time range condition
# is what lets Spark evict join state (without it, both sides buffer
# forever); inner join + AvailableNow drains to exactly the batch result,
# so the oracle is the plain SQL join.
@_q(
    "q_stream_stream_join",
    """
    SELECT c.event_id AS click_id,
           p.event_id AS purchase_id,
           c.user_id,
           c.ts AS click_ts,
           p.ts AS purchase_ts
    FROM events c JOIN events p
      ON p.user_id = c.user_id
     AND c.event_type = 'click'
     AND p.event_type = 'purchase'
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    def stream_side(alias: str) -> DataFrame:
        return _stream(spark, sf_dir).select(
            F.col("event_id").alias(f"{alias}_event_id"),
            F.col("user_id").alias(f"{alias}_user_id"),
            F.col("event_type").alias(f"{alias}_event_type"),
            F.col("ts").alias(f"{alias}_ts"),
        ).withWatermark(f"{alias}_ts", "1 hour")

    clicks = stream_side("c").where(F.col("c_event_type") == "click")
    purchases = stream_side("p").where(F.col("p_event_type") == "purchase")
    joined = clicks.join(
        purchases,
        (F.col("p_user_id") == F.col("c_user_id"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        "inner",
    )
    return _drain(joined).select(
        F.col("c_event_id").alias("click_id"),
        F.col("p_event_id").alias("purchase_id"),
        F.col("c_user_id").alias("user_id"),
        F.col("c_ts").alias("click_ts"),
        F.col("p_ts").alias("purchase_ts"),
    )


# Streaming B5 extension: EXACTLY-ONCE STREAM DEDUPLICATION
# (dropDuplicatesWithinWatermark) — the at-least-once → exactly-once
# bridge every real ingest needs (Kafka redelivery, file-source replays).
# The fixture stream is the events table unioned with itself, so every
# event_id arrives exactly twice with an identical payload; dedup state is
# keyed on event_id and evicted once the watermark passes the event's
# time + delay — O(events inside the watermark horizon), not O(stream).
# Because the duplicate rows are bit-identical, which arrival survives is
# irrelevant and the drained result equals the batch DISTINCT — hence a
# plain full-table oracle.
@_q(
    "q_stream_dedup",
    """
    SELECT event_id, ts, user_id, event_type, value, props
    FROM events
    """,
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    doubled = _stream(spark, sf_dir).unionAll(_stream(spark, sf_dir))
    deduped = doubled.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    return _drain(deduped).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


# Streaming B7 complement: STREAM-STATIC enrichment join — the stateless
# streaming join (no watermark state at all: each micro-batch joins
# against the static dimension snapshot and emits immediately). This is
# the production shape for enriching an event stream with a slowly-
# changing dimension; the static side is broadcast, so at 100 TB/day of
# events nothing shuffles but the stream itself — and with broadcast,
# not even that. Inner join + append mode + AvailableNow drains to the
# batch-equal result, hence a plain SQL oracle.
@_q(
    "q_stream_static_join",
    """
    SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment,
           e.event_type, e.value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    sdf = _stream(spark, sf_dir)
    dim = F.broadcast(
        t(spark, sf_dir, "customer").select(
            "c_custkey", "c_name", "c_mktsegment"
        )
    )
    joined = sdf.join(dim, sdf.user_id == dim.c_custkey).select(
        "event_id", "user_id", "c_name", "c_mktsegment", "event_type", "value"
    )
    return _drain(joined)


# Streaming A1 replacement, gate-checked: drain the CUSTOM Python
# streaming source (sources/feed_datasource.py — real offset contract,
# checkpoint-WAL resume) and value-check every record. The feed is a
# pure arithmetic generator, so the oracle reproduces it in SQL from
# generate_series — a streaming SOURCE with a full DuckDB oracle.
# Stateless passthrough → append-mode memory sink emits everything in
# the bounded drain.
@_q(
    "q_stream_feed",
    """
    SELECT i AS "offset",
           (['BTCUSDT','ETHUSDT','SOLUSDT','BNBUSDT','XRPUSDT'])[i % 5 + 1]
             AS coin,
           to_timestamp(1700000000 + i)::TIMESTAMP AS ts,
           100.0 + (i % 97) * 0.5 AS close,
           CAST((i * 7) % 31 + 1 AS DOUBLE) AS volume
    FROM generate_series(0, 499) AS g(i)
    """,
)
def q_stream_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_streaming_spark.sources.feed_datasource import register

    register(spark)
    feed = spark.readStream.format("kline_feed").option("max_rows", "500").load()
    return _drain(feed).select("offset", "coin", "ts", "close", "volume")


# Streaming B8 extension: STREAM-STREAM LEFT OUTER join — the outer form
# of q_stream_stream_join: clicks with no same-user purchase within 30
# minutes surface with NULL purchase columns. Outer rows only emit when
# the JOIN's state watermark proves no match can still arrive, and that
# watermark is the MIN over both sides' (per-side, post-filter) event-time
# watermarks — the left stream carries only clicks, so its watermark trails
# at max(click ts) − delay even when purchases run later (found the hard
# way: the newest click's outer row never emits under a max(all events)
# cutoff). The query therefore restricts output to the watermark-DECIDED
# region — clicks whose 30-minute match window closed strictly before the
# final global watermark (1 s margin absorbs the engine's ms-truncated
# watermark) — computed identically from the batch table in the oracle, so
# streaming semantics stay value-checkable. Clicks past the cutoff are
# withheld by BOTH engines; a live pipeline would emit them on the next
# watermark advance.
@_q(
    "q_stream_stream_left",
    """
    WITH c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
               FROM events WHERE event_type = 'click'),
         p AS (SELECT event_id AS purchase_id, user_id AS p_user, ts AS purchase_ts
               FROM events WHERE event_type = 'purchase'),
         wm AS (SELECT least(
                    (SELECT max(ts) FROM events WHERE event_type = 'click'),
                    (SELECT max(ts) FROM events WHERE event_type = 'purchase')
                ) - INTERVAL 1 HOUR AS w)
    SELECT click_id, purchase_id, user_id, click_ts, purchase_ts
    FROM c CROSS JOIN wm
    LEFT JOIN p ON user_id = p_user
               AND purchase_ts >= click_ts
               AND purchase_ts <= click_ts + INTERVAL 30 MINUTE
    WHERE click_ts + INTERVAL 30 MINUTE < w - INTERVAL 1 SECOND
    """,
)
def q_stream_stream_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    def stream_side(alias: str, etype: str) -> DataFrame:
        return (
            _stream(spark, sf_dir)
            .where(F.col("event_type") == etype)
            .select(
                F.col("event_id").alias(f"{alias}_event_id"),
                F.col("user_id").alias(f"{alias}_user_id"),
                F.col("ts").alias(f"{alias}_ts"),
            )
            .withWatermark(f"{alias}_ts", "1 hour")
        )

    joined = stream_side("c", "click").join(
        stream_side("p", "purchase"),
        (F.col("p_user_id") == F.col("c_user_id"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        "left_outer",
    )
    out = _drain(joined)
    # The decided-region cutoff, from the same data the stream consumed:
    # min over the two sides' max event times, minus the watermark delay.
    src_dir = _stage_stream_dir(sf_dir, "events")
    batch = read_parquet(spark, src_dir)
    maxes = batch.groupBy().agg(
        F.max(F.when(F.col("event_type") == "click", F.col("ts"))).alias("mc"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("mp"),
    ).first()
    wm = min(maxes["mc"], maxes["mp"])
    return (
        out.where(
            F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")
            < F.lit(wm) - F.expr("INTERVAL 1 HOUR") - F.expr("INTERVAL 1 SECOND")
        )
        .select(
            F.col("c_event_id").alias("click_id"),
            F.col("p_event_id").alias("purchase_id"),
            F.col("c_user_id").alias("user_id"),
            F.col("c_ts").alias("click_ts"),
            F.col("p_ts").alias("purchase_ts"),
        )
    )


# Chained streaming window aggregation (multiple stateful operators in ONE
# query, Spark 3.4+): hourly tumbling agg re-aggregated to daily inside
# the same streaming plan — the rollup shape that at 100 TB avoids
# landing + rescanning the hourly layer. Append mode is mandatory for
# chained aggs, so only watermark-finalized days emit: with watermark
# delay 1h and AvailableNow's no-data flush batch, that is every day
# whose end <= max(ts) - 1h. The oracle states exactly that emission
# contract; the daily re-sum routes the hourly doubles back through
# DECIMAL(38,6) (round-trip exact — the doubles carry <= 6 decimals).
@_q(
    "q_stream_window_chained",
    f"""
    WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events),
    h AS (
        SELECT date_trunc('hour', ts) AS hour, event_type,
               {oracle_dec_sum('value', 'hv')},
               COUNT(*) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT CAST(date_trunc('day', hour) AS TIMESTAMP) AS day, event_type,
           CAST(SUM(CAST(hv AS DECIMAL(38,6))) AS DOUBLE) AS total_value,
           CAST(SUM(n) AS BIGINT) AS n_events
    FROM h, wm
    WHERE date_trunc('day', hour) + INTERVAL 1 DAY <= wm.w
    GROUP BY 1, 2
    """,
)
def q_stream_window_chained(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_streaming_spark.workload.common import DEC

    hourly = (
        _stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("hw"), "event_type")
        .agg(dec_sum("value", "hv"), F.count(F.lit(1)).alias("n"))
    )
    daily = hourly.groupBy(
        F.window(F.window_time("hw"), "1 day").alias("dw"), "event_type"
    ).agg(
        F.sum(F.col("hv").cast(DEC)).cast("double").alias("total_value"),
        F.sum("n").alias("n_events"),
    )
    return _drain(daily).select(
        F.col("dw.start").alias("day"), "event_type", "total_value", "n_events"
    )


# Streaming OHLC bars: the kline resample (batch twin: analytics.py
# q_ohlc_bars) through the streaming engine. Beyond what the other
# stream-window queries pin down, this exercises the MERGE path of
# order-carrying aggregates — min_by/max_by partials must merge
# correctly across micro-batches for open/close to land on the globally
# first/last row, not the first/last row of whichever batch arrived
# last. Oracle = the deterministic row_number selection over the whole
# table (stream/batch equivalence contract).
@_q("q_stream_ohlc", ohlc_oracle(with_volume=False))
def q_stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Four source files → four micro-batches at EVERY sf, so the
    # partial-state merge across batches is always exercised (a
    # single-file source would collapse to one batch and silently test
    # nothing beyond the batch twin).
    agg = (
        _stream(spark, sf_dir, n_parts=4)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.expr("min_by(value, struct(ts, event_id))").alias("open_px"),
            F.max("value").alias("high_px"),
            F.min("value").alias("low_px"),
            F.expr("max_by(value, struct(ts, event_id))").alias("close_px"),
            F.count(F.lit(1)).alias("n_trades"),
        )
    )
    return _drain(agg, mode="complete").select(
        "event_type",
        F.col("w.start").alias("bar_hour"),
        "open_px",
        "high_px",
        "low_px",
        "close_px",
        "n_trades",
    )


# Streaming CDC apply: the q_cdc_apply net-state compaction through the
# streaming engine — each micro-batch serializes its rows into the
# Debezium-style envelope, parses them back under the declared schema
# (A3 in STREAMING form, not just batch), and folds them into the
# running per-key latest-op state (max_by over struct merge across
# batches, complete mode). Same oracle as the batch twin minus deletes
# handled identically; stream/batch equivalence pins the compaction.
@_q(
    "q_stream_cdc",
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
def q_stream_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    env = _stream(spark, sf_dir, n_parts=4).select(
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
    return (
        _drain(compacted, mode="complete")
        .where(F.col("w.op") != "d")
        .select(
            F.col("id").alias("user_id"),
            F.col("w.v").alias("last_value"),
            F.col("w.ts_ms").alias("last_ts_ms"),
        )
    )


# --- Streaming top-k: the reference's product query, LIVE ------------------
# public/demo.jpg is "top coins by volume in the last hour"; q_flagship
# answers it as a batch query. This is the live form: a streaming hourly
# tumbling aggregate whose FINALIZED windows are ranked per window in a
# foreachBatch sink (reference A16, spark/streaming-shorttime.py:83-87)
# — ranking cannot ride inside a streaming plan (no window functions on
# unbounded frames), and per-batch ranking is CORRECT here because
# append-mode emission is watermark-driven: every (window, key) row of a
# window flushes in the same micro-batch, so each batch ranks only
# complete windows. The oracle states the emission contract (windows
# with end <= max(ts) - 1h, same as q_stream_window_chained) + the rank.
# Scale: state is O(open windows × keys); the per-batch rank touches
# only the just-finalized window rows, and the parquet append is the
# serving-layer write the reference's Flask/ApexCharts stack implies.
@_q(
    "q_stream_topk",
    f"""
    WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events),
    h AS (
        SELECT date_trunc('hour', ts) AS hour, event_type,
               {oracle_dec_sum('value', 'total_value')}
        FROM events GROUP BY 1, 2
    ), f AS (
        SELECT CAST(hour AS TIMESTAMP) AS window_start, event_type,
               total_value,
               CAST(ROW_NUMBER() OVER (PARTITION BY hour
                        ORDER BY total_value DESC, event_type) AS BIGINT)
                   AS rk
        FROM h, wm WHERE hour + INTERVAL 1 HOUR <= wm.w
    )
    SELECT window_start, event_type, total_value, rk
    FROM f WHERE rk <= 3
    """,
)
def q_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    out_dir, ckpt_dir = pid_scratch_dirs("stream_topk", sf_dir)
    agg = (
        _stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(dec_sum("value", "total_value"))
    )

    def rank_and_append(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        rw = Window.partitionBy("w").orderBy(
            F.desc("total_value"), "event_type"
        )
        (
            batch_df.withColumn("rk", F.row_number().over(rw).cast("bigint"))
            .filter(F.col("rk") <= 3)
            .select(
                F.col("w.start").alias("window_start"),
                "event_type",
                "total_value",
                "rk",
            )
            # One subdir per micro-batch, OVERWRITE mode: a batch replayed
            # from the WAL after a crash rewrites its own dir instead of
            # double-appending — the same idempotence contract as the avro
            # fallback sink and the delete-then-insert JDBC sink (both in
            # streaming/sinks.py).
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, f"batch_{batch_id}"))
        )

    _drain(agg, batch=rank_and_append, checkpoint=ckpt_dir)
    if not any(f.startswith("batch_") for f in os.listdir(out_dir)):
        # No window finalized (fixture spans < 2h of event time): match
        # the oracle's empty result instead of failing schema inference
        # on an empty directory.
        from pyspark.sql.types import (
            DoubleType,
            LongType,
            StringType,
            StructField,
            StructType,
            TimestampType,
        )

        return local_rows(
            spark,
            [],
            StructType(
                [
                    StructField("window_start", TimestampType()),
                    StructField("event_type", StringType()),
                    StructField("total_value", DoubleType()),
                    StructField("rk", LongType()),
                ]
            ),
        )
    return spark.read.option("recursiveFileLookup", "true").parquet(out_dir)


# --- Custom stateful operator through the gate: applyInPandasWithState ----
# streaming/sessionize.py (the escape hatch for semantics session_window
# can't express) was pytest-only; this drives it through the driver gate
# with an independent SQL statement of its CONTRACT:
#   * sessions = 30-min-gap gaps-and-islands per user (ts order);
#   * a session followed by a later same-user event closes 'gap' and
#     always emits (the closing event itself proves it ended);
#   * the FINAL session of a user emits 'timeout' only once the final
#     watermark passes last_ts + gap. Spark's watermark and GroupState
#     timeout both live in the MILLISECOND domain (event times floored to
#     ms, delay subtracted in ms), so the oracle states the condition as
#     floor(ms(last)) + 30min_ms < floor(ms(max)) - 1h_ms — a µs-domain
#     comparison would diverge when a boundary session straddles one
#     millisecond. Still-open state emits nothing, like a live stream;
# Output is integer/timestamp-exact only (ids, bounds, counts, label) —
# the kernel's float total accumulates in arrival order, which no
# portable SQL aggregate reproduces bit-for-bit, so it stays out of the
# hash (same policy that keeps sketch internals out of checked outputs).
# The staged source is ONE file -> one data batch + flush batch; the
# timeout leg really exercises the event-time-timeout path.
@_q(
    "q_stream_sessionize",
    """
    WITH g AS (
        SELECT user_id, ts,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         >= INTERVAL 30 MINUTE
                         OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                            IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ), s AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS sess
        FROM g
    ), agg AS (
        SELECT user_id, sess,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 30 MINUTE AS session_end,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               MAX(ts) AS last_ts
        FROM s GROUP BY user_id, sess
    ), lab AS (
        SELECT a.*,
               CASE WHEN a.sess < m.max_sess THEN 'gap' ELSE 'timeout' END
                   AS closed_by,
               w.wm_raw
        FROM agg a
        JOIN (SELECT user_id, MAX(sess) AS max_sess FROM agg GROUP BY user_id) m
          USING (user_id)
        CROSS JOIN (SELECT max(ts) AS wm_raw FROM events) w
    )
    SELECT user_id, session_start, session_end, n_events, closed_by
    FROM lab
    WHERE closed_by = 'gap'
       OR CAST(floor(epoch_us(last_ts) / 1000) AS BIGINT) + 1800000
          < CAST(floor(epoch_us(wm_raw) / 1000) AS BIGINT) - 3600000
    """,
)
def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_streaming_spark.streaming.sessionize import sessionize

    sdf = _stream(spark, sf_dir).select("ts", "user_id", "value")
    return _drain(sessionize(sdf, watermark="1 hour")).select(
        "user_id", "session_start", "session_end", "n_events", "closed_by"
    )


# ===================== round-3 additions ====================================
# Streaming B8 completion: STREAM-STREAM FULL OUTER join — both sides'
# unmatched rows surface with NULLs once the watermark proves no partner
# can still arrive (matched pairs emit immediately, no watermark needed).
# Decided-region contract, stated identically in the oracle: click-side
# rows (matched or left-null) are decided when the click's 30-minute
# match window closed strictly before the final global watermark;
# purchase-only rows when the purchase's backward window did (the
# purchase at p matches clicks in [p-30m, p], so symmetry gives the same
# +30min cutoff). The 1 s margin absorbs the engine's ms-truncated
# watermark, exactly as in q_stream_stream_left.
@_q(
    "q_stream_full_outer",
    """
    WITH c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
               FROM events WHERE event_type = 'click'),
         p AS (SELECT event_id AS purchase_id, user_id AS p_user, ts AS purchase_ts
               FROM events WHERE event_type = 'purchase'),
         wm AS (SELECT least(
                    (SELECT max(ts) FROM events WHERE event_type = 'click'),
                    (SELECT max(ts) FROM events WHERE event_type = 'purchase')
                ) - INTERVAL 1 HOUR AS w)
    SELECT click_id, purchase_id,
           COALESCE(user_id, p_user) AS any_user,
           click_ts, purchase_ts
    FROM c FULL JOIN p ON user_id = p_user
               AND purchase_ts >= click_ts
               AND purchase_ts <= click_ts + INTERVAL 30 MINUTE
    CROSS JOIN wm
    WHERE (click_ts IS NOT NULL
           AND click_ts + INTERVAL 30 MINUTE < w - INTERVAL 1 SECOND)
       OR (click_ts IS NULL
           AND purchase_ts + INTERVAL 30 MINUTE < w - INTERVAL 1 SECOND)
    """,
)
def q_stream_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    def stream_side(alias: str, etype: str) -> DataFrame:
        return (
            _stream(spark, sf_dir)
            .where(F.col("event_type") == etype)
            .select(
                F.col("event_id").alias(f"{alias}_event_id"),
                F.col("user_id").alias(f"{alias}_user_id"),
                F.col("ts").alias(f"{alias}_ts"),
            )
            .withWatermark(f"{alias}_ts", "1 hour")
        )

    joined = stream_side("c", "click").join(
        stream_side("p", "purchase"),
        (F.col("p_user_id") == F.col("c_user_id"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        "full_outer",
    )
    out = _drain(joined)
    src_dir = _stage_stream_dir(sf_dir, "events")
    batch = read_parquet(spark, src_dir)
    maxes = batch.groupBy().agg(
        F.max(F.when(F.col("event_type") == "click", F.col("ts"))).alias("mc"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("mp"),
    ).first()
    wm = min(maxes["mc"], maxes["mp"])
    cutoff = F.lit(wm) - F.expr("INTERVAL 1 HOUR") - F.expr("INTERVAL 1 SECOND")
    half_hour = F.expr("INTERVAL 30 MINUTES")
    return (
        out.where(
            (
                F.col("c_ts").isNotNull()
                & (F.col("c_ts") + half_hour < cutoff)
            )
            | (
                F.col("c_ts").isNull()
                & (F.col("p_ts") + half_hour < cutoff)
            )
        )
        .select(
            F.col("c_event_id").alias("click_id"),
            F.col("p_event_id").alias("purchase_id"),
            F.coalesce("c_user_id", "p_user_id").alias("any_user"),
            F.col("c_ts").alias("click_ts"),
            F.col("p_ts").alias("purchase_ts"),
        )
    )


# Complete-mode streaming ranking — the one output mode where sort+limit
# run INSIDE the streaming plan (append/update forbid unbounded sorts;
# complete re-emits the whole result per batch, so ranking the full state
# is legal). Contrast with q_stream_topk, which ranks finalized windows
# in foreachBatch under append mode. The memory sink holds the LAST
# emission = the all-data ranking, so the batch oracle is exact with no
# watermark contract. Scale: complete mode means O(groups) state and a
# full re-emission per batch — correct for small dashboards (top-10
# types), wrong for unbounded keys; that trade IS the lesson this query
# pins. Deterministic tie-break (total DESC, type) makes the LIMIT set
# unique.
@_q(
    "q_stream_complete_rank",
    f"""
    SELECT event_type,
           {oracle_dec_sum('value', 'total_value')},
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY event_type
    ORDER BY total_value DESC, event_type
    LIMIT 10
    """,
)
def q_stream_complete_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranked = (
        _stream(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            dec_sum("value", "total_value"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        )
        .orderBy(F.desc("total_value"), "event_type")
        .limit(10)
    )
    return _drain(ranked, mode="complete")


# --- streaming distribution-drift monitor ---------------------------------
# Per-micro-batch categorical drift against the full-corpus reference:
# the observability op a production stream runs beside its business
# aggregates (alerting when a batch's event mix diverges — upstream
# outage, bot flood, schema rot). Four deterministic file-batches
# (maxFilesPerTrigger=1 over the contiguous 4-way split); foreachBatch
# reduces each batch to its (event_type, count) profile — O(|types|)
# scalars, the A13 bounded-collect rule — and the drift math runs as
# Spark expressions over those counts with the SAME transcendental-free
# quantized Hellinger/TV texts as the batch twin (analytics.py
# q_hellinger_drift). Batches are identified by their min event_id, not
# batch_id, so the result is invariant to file arrival order. The
# oracle replicates the 4-way contiguous slicing arithmetically
# (events.parquet is event_id-ordered; part = rn // ceil(n/4), the
# exact slice formula of _stage_stream_dir). At 100 TB the
# foreachBatch profile aggregate is map-side combinable and the
# reference distribution comes from a broadcast stats table instead of
# a second scan.
def _drift_oracle() -> str:
    from big_data_streaming_spark.workload.analytics import (
        _HD_BC,
        _HD_BC_Q,
        _HD_HELL,
        _HD_TV,
        _HD_TV_Q,
    )

    return f"""
    WITH r AS (
        SELECT event_type, event_id,
               row_number() OVER (ORDER BY event_id) - 1 AS rn
        FROM events
    ), nn AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS total FROM events
    ), p AS (
        SELECT event_type, event_id,
               rn // ((nn.total + 3) // 4) AS part
        FROM r, nn
    ), b AS (
        SELECT part, MIN(event_id) AS batch_key FROM p GROUP BY part
    ), c AS (
        SELECT part, event_type, CAST(COUNT(*) AS BIGINT) AS ca
        FROM p GROUP BY 1, 2
    ), tp AS (
        SELECT part, CAST(SUM(ca) AS BIGINT) AS na FROM c GROUP BY part
    ), g AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cb
        FROM events GROUP BY 1
    ), tg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS nb FROM events
    ), cf AS (
        -- Full (batch x global-type) grid: a type ABSENT from a batch
        -- must still contribute its |0 - pb| mass to TV, else drift is
        -- understated exactly when a type vanishes (ADVICE r3).
        SELECT tp.part, g.event_type, COALESCE(c.ca, CAST(0 AS BIGINT)) AS ca
        FROM tp CROSS JOIN g
        LEFT JOIN c ON c.part = tp.part AND c.event_type = g.event_type
    ), terms AS (
        SELECT cf.part, {_HD_BC_Q} AS bc_q, {_HD_TV_Q} AS tv_q
        FROM cf
        JOIN tp USING (part)
        JOIN g USING (event_type)
        CROSS JOIN tg
    ), red AS (
        SELECT part, CAST(SUM(bc_q) AS BIGINT) AS bcq,
               CAST(SUM(tv_q) AS BIGINT) AS tvq,
               CAST(COUNT(*) AS BIGINT) AS n_types
        FROM terms GROUP BY part
    )
    SELECT b.batch_key, tp.na AS n_rows, red.n_types,
           {_HD_BC} AS bhattacharyya,
           {_HD_HELL} AS hellinger,
           {_HD_TV} AS tv_distance
    FROM red
    JOIN tp USING (part)
    JOIN b USING (part)
    """


@_q("q_stream_drift", _drift_oracle())
def q_stream_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_streaming_spark.workload.analytics import (
        _HD_BC,
        _HD_BC_Q,
        _HD_HELL,
        _HD_TV,
        _HD_TV_Q,
    )

    _, ckpt_dir = pid_scratch_dirs("stream_drift", sf_dir)
    sdf = _stream(spark, sf_dir, n_parts=4)
    profiles: list[tuple[int, str, int]] = []

    def profile(bdf: DataFrame, batch_id: int) -> None:
        rows = (
            bdf.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("ca"),
                F.min("event_id").alias("mn"),
            )
            .collect()
        )
        if not rows:
            return
        batch_key = min(r.mn for r in rows)
        profiles.extend((batch_key, r.event_type, r.ca) for r in rows)

    _drain(sdf, batch=profile, checkpoint=ckpt_dir)
    per = local_rows(
        spark, profiles, "batch_key: bigint, event_type: string, ca: bigint"
    )
    tp = per.groupBy("batch_key").agg(F.sum("ca").cast("bigint").alias("na"))
    g = per.groupBy("event_type").agg(F.sum("ca").cast("bigint").alias("cb"))
    tg = per.agg(F.sum("ca").cast("bigint").alias("nb"))
    # Full (batch x global-type) grid before the term build: a type absent
    # from a micro-batch must contribute its |0 - pb| mass to TV instead
    # of silently dropping out of the inner join (ADVICE r3). The grid is
    # batches x types — trivially small at any scale.
    cf = (
        tp.select("batch_key")
        .crossJoin(F.broadcast(g.select("event_type")))
        .join(per, ["batch_key", "event_type"], "left")
        .select(
            "batch_key",
            "event_type",
            F.coalesce(F.col("ca"), F.lit(0)).cast("bigint").alias("ca"),
        )
    )
    terms = (
        cf.join(F.broadcast(tp), "batch_key")
        .join(F.broadcast(g), "event_type")
        .crossJoin(F.broadcast(tg))
        .select(
            "batch_key",
            F.expr(_HD_BC_Q).alias("bc_q"),
            F.expr(_HD_TV_Q).alias("tv_q"),
        )
    )
    red = terms.groupBy("batch_key").agg(
        F.sum("bc_q").cast("bigint").alias("bcq"),
        F.sum("tv_q").cast("bigint").alias("tvq"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
    )
    return red.join(F.broadcast(tp), "batch_key").select(
        "batch_key",
        F.col("na").alias("n_rows"),
        "n_types",
        F.expr(_HD_BC).alias("bhattacharyya"),
        F.expr(_HD_HELL).alias("hellinger"),
        F.expr(_HD_TV).alias("tv_distance"),
    )


# --- streaming as-of enrichment against a static dimension ----------------
# The as-of family through the streaming engine: each micro-batch of
# events is enriched with the latest per-user hourly mark at or before
# the event (operators/asof.py, the q_asof_join operator) inside
# foreachBatch, batches landing in idempotent per-batch parquet dirs
# (the q_stream_topk sink contract). Because backward as-of against a
# STATIC right side is a per-row operator, the union of enriched
# batches is row-for-row identical to the batch join — the stream/batch
# equivalence this query pins, with DuckDB's native ASOF JOIN as the
# reference. At 100 TB the marks dim is broadcast into every batch and
# the per-batch cost is the batch's own one-exchange as-of window.
@_q(
    "q_stream_asof",
    f"""
    WITH marks AS (
        SELECT user_id, date_trunc('hour', ts) AS mts,
               {oracle_dec_sum('value', 'mark_value')}
        FROM events GROUP BY 1, 2
    )
    SELECT e.event_id, e.user_id, e.value, m.mark_value AS mark_value_right
    FROM events e ASOF LEFT JOIN marks m
      ON e.user_id = m.user_id AND e.ts >= m.mts
    """,
)
def q_stream_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_streaming_spark.operators.asof import asof_join

    marks = track_persist(
        t(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(dec_sum("value", "mark_value"))
        .select("user_id", F.col("w.start").alias("mts"), "mark_value")
    )
    out_dir, ckpt_dir = pid_scratch_dirs("stream_asof", sf_dir)
    sdf = _stream(spark, sf_dir, n_parts=4)

    def enrich(bdf: DataFrame, batch_id: int) -> None:
        enriched = asof_join(
            bdf.select("event_id", "ts", "user_id", "value"),
            marks,
            keys=["user_id"],
            left_ts="ts",
            right_ts="mts",
            right_payload=["mark_value"],
        )
        (
            enriched.select(
                "event_id", "user_id", "value",
                F.col("mark_value_right"),
            )
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, f"batch_{batch_id}"))
        )

    _drain(sdf, batch=enrich, checkpoint=ckpt_dir)
    return spark.read.parquet(os.path.join(out_dir, "batch_*"))


# --- streaming near-duplicate suppression (LLM-ingest dedup, round 4) -----
# Keep-first near-dup filtering ON THE STREAM: each document is hashed
# to a 1-permutation MinHash bucket (min over tokens of the 48-bit md5
# token hash — the width-1 LSH band of functions/dedup.py's banded
# MinHash, and the verified cross-engine hash primitive), and only the
# FIRST document of each bucket survives. State = the accepted
# (bucket, doc_id) parquet itself: every micro-batch computes its
# per-bucket min candidate, anti-joins against the accumulated output,
# and appends survivors to an idempotent per-batch dir (the
# q_stream_topk sink contract — a WAL-replayed batch overwrites its own
# dir). Deterministic because the staged parts are doc_id-contiguous
# ascending: the first batch containing a bucket holds its global min
# doc_id, so survivors == the batch answer "min doc_id per bucket" and
# the DuckDB oracle can value-check a custom stateful streaming op.
# 100 TB plan: bucket build is one explode + map-side-combinable min
# (zero cross-doc shuffle); the anti-join is keyed on bucket — at scale
# the accepted set partitions by bucket and each micro-batch joins only
# its own bucket partitions (broadcast while small, shuffle-hash later).
@_q(
    "q_stream_neardup",
    """
    WITH buck AS (
        SELECT doc_id,
               MIN(CAST('0x' || substr(md5(tok), 1, 12) AS BIGINT)) AS bucket
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents)
        GROUP BY doc_id
    )
    SELECT bucket, CAST(MIN(doc_id) AS BIGINT) AS doc_id
    FROM buck GROUP BY bucket
    """,
)
def q_stream_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    out_dir, ckpt_dir = pid_scratch_dirs("stream_neardup", sf_dir)
    sdf = _stream(spark, sf_dir, "documents", n_parts=4)

    def dedup_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        cand = (
            batch_df.select(
                "doc_id", F.explode(F.split("text", " ")).alias("tok")
            )
            .groupBy("doc_id")
            .agg(
                F.min(
                    F.conv(F.substring(F.md5("tok"), 1, 12), 16, 10).cast(
                        "bigint"
                    )
                ).alias("bucket")
            )
            .groupBy("bucket")
            .agg(F.min("doc_id").cast("bigint").alias("doc_id"))
        )
        spark_b = batch_df.sparkSession
        # Only dirs from STRICTLY EARLIER batches are state: a
        # WAL-replayed batch may find its own (possibly partial) dir on
        # disk and must not anti-join against it — that would drop its
        # own survivors and overwrite the dir empty.
        prior = [
            os.path.join(out_dir, d)
            for d in sorted(os.listdir(out_dir))
            if d.startswith("batch_") and int(d.split("_", 1)[1]) < batch_id
        ]
        if prior:
            seen = spark_b.read.parquet(*prior).select("bucket")
            cand = cand.join(seen, "bucket", "left_anti")
        cand.select("bucket", "doc_id").write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_{batch_id}")
        )

    _drain(sdf, batch=dedup_batch, checkpoint=ckpt_dir)
    parts = [
        os.path.join(out_dir, d)
        for d in sorted(os.listdir(out_dir))
        if d.startswith("batch_")
    ]
    return spark.read.parquet(*parts).select("bucket", "doc_id")


# --- streaming exact windowed quantiles (round 4) ---------------------------
# Per-hour, per-type EXACT lower-median and p90 of `value` through the
# streaming engine — the latency-SLO monitor shape ("p90 this hour")
# that approx sketches usually fill; here the windows are bounded so the
# exact order statistic is affordable and ORACLE-CHECKABLE. The
# streaming agg collects the window's values (state = one list per
# (window, type) group — bounded by the window's row count; at 100 TB
# swap in percentile_approx or a KLL sketch and keep the same plan
# shape), sorts once per emitted group, and indexes the order
# statistics: lower median at (n+1) div 2, p90 at floor(0.9·(n−1)) + 1
# — pure element selection, NO interpolation arithmetic, so the values
# are bit-identical to the batch oracle's window-function formulation
# by construction.
@_q(
    "q_stream_quantile",
    """
    WITH b AS (
        SELECT epoch_ms(CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT)
                        * 1000) AS window_start,
               event_type, value
        FROM events
    ), r AS (
        SELECT window_start, event_type, value,
               ROW_NUMBER() OVER (
                   PARTITION BY window_start, event_type ORDER BY value
               ) AS rn,
               COUNT(*) OVER (
                   PARTITION BY window_start, event_type
               ) AS n
        FROM b
    )
    SELECT window_start, event_type,
           CAST(MAX(n) AS BIGINT) AS n_events,
           MAX(CASE WHEN rn = (n + 1) // 2 THEN value END) AS median_value,
           MAX(CASE WHEN rn = CAST(floor(0.9 * CAST(n - 1 AS DOUBLE))
                                   AS BIGINT) + 1 THEN value END)
               AS p90_value
    FROM r GROUP BY window_start, event_type
    """,
)
def q_stream_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = (
        _stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.sort_array(F.collect_list("value")).alias("vs"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        )
    )
    out = _drain(agg, mode="complete")
    n = F.col("n_events")
    return out.select(
        F.col("w.start").alias("window_start"),
        "event_type",
        "n_events",
        F.element_at(
            "vs", F.expr("CAST((n_events + 1) DIV 2 AS INT)")
        ).alias("median_value"),
        F.element_at(
            "vs",
            (
                F.floor(F.lit(0.9) * (n - 1).cast("double")) + 1
            ).cast("int"),
        ).alias("p90_value"),
    )


# --- streaming sample-ratio-mismatch monitor (round 4) ----------------------
# The per-micro-batch twin of q_srm: as each batch of the 4-file
# AvailableNow drain lands, count treated/control EVENTS (odd/even
# user_id) and flag sample-ratio mismatch with the exact integer GOF
# identity (o1-o0)²/n — the guardrail a live experiment pipeline runs
# on every trigger, plus a batch_key=-1 whole-stream row. foreachBatch
# collects TWO scalars per batch (bounded-scalars rule); the oracle
# replays the same contiguous event_id slicing the stager produces
# (the q_stream_drift batch-identity contract).
_SSRM_CHI2 = (
    "(CAST((n_treat - n_control) * (n_treat - n_control) AS DOUBLE)"
    " / CAST(n_treat + n_control AS DOUBLE))"
)


def _ssrm_oracle() -> str:
    return f"""
    WITH r AS (
        SELECT user_id, event_id,
               row_number() OVER (ORDER BY event_id) - 1 AS rn
        FROM events
    ), nn AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS total FROM events
    ), p AS (
        SELECT user_id, event_id, rn // ((nn.total + 3) // 4) AS part
        FROM r, nn
    ), c AS (
        SELECT part,
               CAST(MIN(event_id) AS BIGINT) AS batch_key,
               CAST(SUM(user_id % 2) AS BIGINT) AS n_treat,
               CAST(SUM(1 - user_id % 2) AS BIGINT) AS n_control
        FROM p GROUP BY part
    ), allr AS (
        SELECT CAST(-1 AS BIGINT) AS batch_key,
               CAST(SUM(n_treat) AS BIGINT) AS n_treat,
               CAST(SUM(n_control) AS BIGINT) AS n_control
        FROM c
    ), u AS (
        SELECT batch_key, n_treat, n_control FROM c
        UNION ALL
        SELECT batch_key, n_treat, n_control FROM allr
    )
    SELECT batch_key, n_treat, n_control, {_SSRM_CHI2} AS srm_chi2
    FROM u ORDER BY batch_key
    """


@_q("q_stream_srm", _ssrm_oracle())
def q_stream_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, ckpt_dir = pid_scratch_dirs("stream_srm", sf_dir)
    sdf = _stream(spark, sf_dir, n_parts=4)
    profiles: list[tuple[int, int, int]] = []

    def profile(bdf: DataFrame, batch_id: int) -> None:
        row = bdf.agg(
            F.min("event_id").cast("bigint").alias("batch_key"),
            F.sum(F.expr("user_id % 2")).cast("bigint").alias("n_treat"),
            F.sum(F.expr("1 - user_id % 2"))
            .cast("bigint")
            .alias("n_control"),
        ).collect()[0]
        if row.batch_key is None:
            return
        profiles.append((row.batch_key, row.n_treat, row.n_control))

    _drain(sdf, batch=profile, checkpoint=ckpt_dir)
    per = local_rows(
        spark, profiles, "batch_key: bigint, n_treat: bigint, n_control: bigint"
    )
    allr = per.agg(
        F.lit(-1).cast("bigint").alias("batch_key"),
        F.sum("n_treat").cast("bigint").alias("n_treat"),
        F.sum("n_control").cast("bigint").alias("n_control"),
    )
    u = per.unionAll(allr)
    return u.selectExpr(
        "batch_key", "n_treat", "n_control", f"{_SSRM_CHI2} AS srm_chi2"
    ).orderBy("batch_key")


# --- streaming event-time frontier trace (round 4) ----------------------------
# The live counterpart of q_watermark_advisor: as each micro-batch of
# the 4-file drain lands, record its size and min/max event time in
# exact epoch seconds; the running frontier (cumulative max across
# batches in arrival order) and each batch's regression behind it are
# computed in the batch finish over the ≤4 collected rows. The trace a
# streaming operator would emit to size its watermark online.
@_q(
    "q_stream_frontier",
    """
    WITH r AS (
        SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
               row_number() OVER (ORDER BY event_id) - 1 AS rn
        FROM events
    ), nn AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS total FROM events
    ), p AS (
        SELECT event_id, sec, rn // ((nn.total + 3) // 4) AS part
        FROM r, nn
    ), b AS (
        SELECT part,
               CAST(MIN(event_id) AS BIGINT) AS batch_key,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MIN(sec) AS BIGINT) AS min_sec,
               CAST(MAX(sec) AS BIGINT) AS max_sec
        FROM p GROUP BY part
    ), f AS (
        SELECT batch_key, n, min_sec, max_sec,
               CAST(MAX(max_sec) OVER (ORDER BY batch_key
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS frontier_sec
        FROM b
    )
    SELECT batch_key, n, min_sec, max_sec, frontier_sec,
           CAST(frontier_sec - max_sec AS BIGINT) AS behind_frontier_sec
    FROM f ORDER BY batch_key
    """,
)
def q_stream_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    _, ckpt_dir = pid_scratch_dirs("stream_frontier", sf_dir)
    sdf = _stream(spark, sf_dir, n_parts=4)
    rows: list[tuple[int, int, int, int]] = []

    def profile(bdf: DataFrame, batch_id: int) -> None:
        r = bdf.agg(
            F.min("event_id").cast("bigint").alias("batch_key"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.expr("CAST(MIN(floor(unix_timestamp(ts))) AS BIGINT)").alias(
                "min_sec"
            ),
            F.expr("CAST(MAX(floor(unix_timestamp(ts))) AS BIGINT)").alias(
                "max_sec"
            ),
        ).collect()[0]
        if r.batch_key is None:
            return
        rows.append((r.batch_key, r.n, r.min_sec, r.max_sec))

    _drain(sdf, batch=profile, checkpoint=ckpt_dir)
    per = local_rows(
        spark, rows, "batch_key: bigint, n: bigint, min_sec: bigint, max_sec: bigint"
    )
    f = per.select(
        "*",
        F.max("max_sec")
        .over(
            # bounded: per-micro-batch frontier — O(batches) rows
            Window.orderBy("batch_key").rowsBetween(
                Window.unboundedPreceding, 0
            )
        )
        .cast("bigint")
        .alias("frontier_sec"),
    )
    return f.selectExpr(
        "batch_key",
        "n",
        "min_sec",
        "max_sec",
        "frontier_sec",
        "CAST(frontier_sec - max_sec AS BIGINT) AS behind_frontier_sec",
    ).orderBy("batch_key")


# --- streaming per-batch I-MR control chart (round 5) -------------------------
# The live twin of q_control_chart: as each micro-batch of the 4-file
# AvailableNow drain lands, foreachBatch collects THREE bounded scalars
# (batch key, row count, quantized value sum); the batch finish then
# charts the per-batch means with Shewhart I-MR limits (moving ranges
# of consecutive batch means, 2.66 literal) over the <=4 collected
# rows. This is the guardrail that catches a poisoned or truncated
# micro-batch the moment it arrives. Exactness: the per-batch sum is an
# exact BIGINT of floor(value * 1e6); the mean, quantized re-folds,
# limits and flags are one shared-text chain mirrored in the oracle,
# which replays the stager's contiguous event_id slicing (the
# q_stream_drift batch-identity contract).
_SIMR_MEAN = "CAST(qsum AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0"


def _simr_oracle() -> str:
    return f"""
    WITH r AS (
        SELECT event_id, value,
               row_number() OVER (ORDER BY event_id) - 1 AS rn
        FROM events
    ), nn AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS total FROM events
    ), p AS (
        SELECT event_id, value, rn // ((nn.total + 3) // 4) AS part
        FROM r, nn
    ), b AS (
        SELECT part,
               CAST(MIN(event_id) AS BIGINT) AS batch_key,
               CAST(COUNT(value) AS BIGINT) AS n,
               CAST(SUM(CAST(floor(value * 1000000.0) AS BIGINT))
                    AS BIGINT) AS qsum
        FROM p GROUP BY part
    ), m AS (
        SELECT batch_key, n, {_SIMR_MEAN} AS batch_mean,
               CAST(floor(({_SIMR_MEAN}) * 1000000.0) AS BIGINT) AS qmean,
               CAST(floor(abs({_SIMR_MEAN}
                    - lag({_SIMR_MEAN}) OVER (ORDER BY batch_key))
                    * 1000000.0) AS BIGINT) AS qmr
        FROM b
    ), lim AS (
        SELECT CAST(SUM(qmean) AS DOUBLE) / COUNT(*) / 1000000.0 AS center,
               CAST(SUM(qmr) AS DOUBLE) / COUNT(qmr) / 1000000.0 AS mr_bar
        FROM m
    )
    SELECT m.batch_key, m.n AS n_events, m.batch_mean,
           l.center, l.center + 2.66 * l.mr_bar AS ucl,
           l.center - 2.66 * l.mr_bar AS lcl,
           m.batch_mean > l.center + 2.66 * l.mr_bar
             OR m.batch_mean < l.center - 2.66 * l.mr_bar AS out_of_control
    FROM m CROSS JOIN lim l ORDER BY m.batch_key
    """


@_q("q_stream_imr", _simr_oracle())
def q_stream_imr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    _, ckpt_dir = pid_scratch_dirs("stream_imr", sf_dir)
    sdf = _stream(spark, sf_dir, n_parts=4)
    profiles: list[tuple[int, int, int]] = []

    def profile(bdf: DataFrame, batch_id: int) -> None:
        row = bdf.agg(
            F.min("event_id").cast("bigint").alias("batch_key"),
            F.count("value").cast("bigint").alias("n"),
            F.sum(F.expr("CAST(floor(value * 1000000.0) AS BIGINT)"))
            .cast("bigint")
            .alias("qsum"),
        ).collect()[0]
        if row.batch_key is None:
            return
        profiles.append((row.batch_key, row.n, row.qsum))

    _drain(sdf, batch=profile, checkpoint=ckpt_dir)
    per = local_rows(spark, profiles, "batch_key: bigint, n: bigint, qsum: bigint")
    # bounded: per-micro-batch profile — O(batches) rows
    wb = Window.orderBy("batch_key")
    m = per.selectExpr(
        "batch_key",
        "n",
        "qsum",
        f"{_SIMR_MEAN} AS batch_mean",
        f"CAST(floor(({_SIMR_MEAN}) * 1000000.0) AS BIGINT) AS qmean",
    ).withColumn(
        "qmr",
        F.expr("CAST(floor(abs(batch_mean - lag(batch_mean) OVER "
               "(ORDER BY batch_key)) * 1000000.0) AS BIGINT)"),
    )
    lim = m.agg(
        (F.sum("qmean").cast("double") / F.count(F.lit(1)) / 1000000.0).alias(
            "center"
        ),
        (F.sum("qmr").cast("double") / F.count("qmr") / 1000000.0).alias(
            "mr_bar"
        ),
    )
    return (
        m.crossJoin(F.broadcast(lim))
        .selectExpr(
            "batch_key",
            "n AS n_events",
            "batch_mean",
            "center",
            "center + 2.66 * mr_bar AS ucl",
            "center - 2.66 * mr_bar AS lcl",
            "batch_mean > center + 2.66 * mr_bar"
            " OR batch_mean < center - 2.66 * mr_bar AS out_of_control",
        )
        .orderBy("batch_key")
    )


# --- streaming state-size advisor (round 5) ------------------------------------
# Before starting a watermarked window aggregation, estimate the state
# store footprint it will carry: for each candidate watermark delay
# (1 h / 6 h / 24 h), the number of LIVE state keys is the count of
# distinct (hour-window, event_type) groups whose window end falls
# inside the trailing horizon at the stream frontier (max event time),
# and the byte estimate is keys * (8B window + avg type bytes + 48B agg
# buffer, shared literals). The advisor the checkpoint-size page of
# every streaming runbook asks for — computed batch-side from exact
# distinct counts, mirrored in the oracle. One distinct aggregate +
# 1-row frontier broadcast + a 3-row candidate grid.
_SSA_HORIZONS = (1, 6, 24)


@_q(
    "q_state_size_advisor",
    f"""
    WITH wins AS (
        SELECT DISTINCT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr,
               event_type
        FROM events
    ), fr AS (
        SELECT CAST(MAX(hr) AS BIGINT) AS max_hr FROM wins
    ), grid AS (
        SELECT h.h FROM (VALUES (1), (6), (24)) h(h)
    )
    SELECT CAST(g.h AS BIGINT) AS watermark_hours,
           CAST(COUNT(*) AS BIGINT) AS live_keys,
           CAST(COUNT(*) * (8 + 8 + 48) AS BIGINT) AS est_state_bytes,
           COUNT(*) * (8 + 8 + 48) <= 67108864 AS fits_64mb
    FROM wins w CROSS JOIN fr CROSS JOIN grid g
    WHERE w.hr > fr.max_hr - g.h
    GROUP BY g.h
    """,
)
def q_state_size_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_streaming_spark.workload.common import t as _t

    wins = (
        _t(spark, sf_dir, "events")
        .selectExpr(
            "unix_micros(ts) div 3600000000 AS hr",
            "event_type",
        )
        .distinct()
    )
    fr = wins.agg(F.max("hr").cast("bigint").alias("max_hr"))
    grid = F.broadcast(
        local_rows(spark, [(h,) for h in _SSA_HORIZONS], "h int")
    )
    return (
        wins.crossJoin(F.broadcast(fr))
        .crossJoin(grid)
        .where(F.col("hr") > F.col("max_hr") - F.col("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).cast("bigint").alias("live_keys"))
        .selectExpr(
            "CAST(h AS BIGINT) AS watermark_hours",
            "live_keys",
            "CAST(live_keys * (8 + 8 + 48) AS BIGINT) AS est_state_bytes",
            "live_keys * (8 + 8 + 48) <= 67108864 AS fits_64mb",
        )
    )


# --- exponentially decayed streaming top-k (round 6) -------------------------
# The trending-items primitive: per-type counts where each older
# micro-batch's contribution halves — computed as a REAL 4-micro-batch
# drain (maxFilesPerTrigger=1 over the staged contiguous splits).
# Decay is EXACT fixed-point: batch at recency index i (0 = oldest)
# contributes count·2^i, so the decayed weight is a pure BIGINT and the
# oracle replays the identical batch split arithmetically (the
# q_stream_imr slice contract). foreachBatch collects only the bounded
# (batch_key, event_type, count) frame — 4·|types| rows.
def _sdt_oracle() -> str:
    return """
    WITH r AS (
        SELECT event_id, event_type,
               row_number() OVER (ORDER BY event_id) - 1 AS rn
        FROM events
    ), nn AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS total FROM events
    ), p AS (
        SELECT event_type, rn // ((nn.total + 3) // 4) AS part
        FROM r, nn
    ), b AS (
        SELECT part, event_type, CAST(COUNT(*) AS BIGINT) AS c
        FROM p GROUP BY 1, 2
    ), w AS (
        SELECT event_type, c,
               CASE part WHEN 0 THEN 1 WHEN 1 THEN 2
                         WHEN 2 THEN 4 ELSE 8 END AS wt
        FROM b
    ), agg AS (
        SELECT event_type,
               CAST(SUM(c) AS BIGINT) AS raw_count,
               CAST(SUM(c * wt) AS BIGINT) AS decayed_weight
        FROM w GROUP BY event_type
    )
    SELECT event_type, raw_count, decayed_weight,
           CAST(ROW_NUMBER() OVER (ORDER BY decayed_weight DESC, event_type)
                AS BIGINT) AS rank
    FROM agg QUALIFY rank <= 3
    """


@_q("q_stream_decay_topk", _sdt_oracle())
def q_stream_decay_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    _, ckpt_dir = pid_scratch_dirs("stream_decay_topk", sf_dir)
    sdf = _stream(spark, sf_dir, n_parts=4)
    state: list[tuple[int, str, int]] = []

    def absorb(bdf: DataFrame, batch_id: int) -> None:
        rows = (
            bdf.groupBy("event_type")
            .agg(
                F.min("event_id").cast("bigint").alias("bk"),
                F.count(F.lit(1)).cast("bigint").alias("c"),
            )
            .collect()
        )
        if not rows:
            return
        batch_key = min(r.bk for r in rows)
        state.extend((batch_key, r.event_type, r.c) for r in rows)

    _drain(sdf, batch=absorb, checkpoint=ckpt_dir)
    per = local_rows(spark, state, "batch_key bigint, event_type string, c bigint")
    # bounded: batch index over the 4 collected micro-batch keys
    idx = per.select(
        "event_type",
        "c",
        (F.dense_rank().over(Window.orderBy("batch_key")) - 1).alias("i"),
    )
    agg = idx.selectExpr(
        "event_type",
        "c",
        "CASE i WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8 END AS wt",
    ).groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("raw_count"),
        F.sum(F.col("c") * F.col("wt")).cast("bigint").alias("decayed_weight"),
    )
    # bounded: rank over the |event_type| aggregate (≤5 rows)
    return (
        agg.withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.desc("decayed_weight"), "event_type"))
            .cast("bigint"),
        )
        .where(F.col("rank") <= 3)
    )


# --- per-user streaming EWMA with RELATION state (round 6) -------------------
# Cross-batch per-KEY state maintained the way a 100 TB stream must:
# the state is a DISTRIBUTED RELATION (user_id → fixed-point ewma), not
# a driver dict — each micro-batch full-outer-joins its per-user counts
# into the state and applies the dyadic recurrence
# ewma' = (ewma + x·2^20) div 2 (absent users decay: x = 0; new users
# start at x·2^20 div 2). Division by two with floor is bit-identical
# in Python/Spark/DuckDB, so the whole fold is exact. The drain stages
# per-batch counts keyed by batch_key (arrival order does NOT matter —
# the fold replays in batch_key order), then folds with a
# localCheckpoint per round (4 bounded rounds — the q_dedup_components
# lineage discipline). Oracle: recursive CTE over the identical
# contiguous-slice batches. Output: top-10 users by final ewma
# (sort+limit) — bounded, deterministic (ewma desc, user asc).
_UE_S = 1 << 20


def _sue_oracle() -> str:
    return f"""
    WITH RECURSIVE r AS (
        SELECT event_id, user_id,
               row_number() OVER (ORDER BY event_id) - 1 AS rn
        FROM events
    ), nn AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS total FROM events
    ), p AS (
        SELECT user_id, rn // ((nn.total + 3) // 4) AS part
        FROM r, nn
    ), b AS (
        SELECT part, user_id, CAST(COUNT(*) AS BIGINT) AS x
        FROM p GROUP BY 1, 2
    ), users AS (SELECT DISTINCT user_id FROM b),
    steps AS (
        SELECT u.user_id, s.part,
               COALESCE(b.x, 0) AS x
        FROM users u
        CROSS JOIN (SELECT DISTINCT part FROM b) s
        LEFT JOIN b ON b.user_id = u.user_id AND b.part = s.part
    ), fold AS (
        SELECT user_id, part,
               CAST(x * {_UE_S} // 2 AS BIGINT) AS ewq
        FROM steps WHERE part = 0
        UNION ALL
        SELECT s.user_id, s.part,
               CAST((f.ewq + s.x * {_UE_S}) // 2 AS BIGINT)
        FROM fold f JOIN steps s
          ON s.user_id = f.user_id AND s.part = f.part + 1
    ), fin AS (
        SELECT user_id, ewq FROM fold
        WHERE part = (SELECT MAX(part) FROM b)
    )
    SELECT user_id, ewq,
           CAST(ewq AS DOUBLE) / {_UE_S} AS ewma,
           CAST(ROW_NUMBER() OVER (ORDER BY ewq DESC, user_id) AS BIGINT)
               AS rank
    FROM fin QUALIFY rank <= 10
    """


@_q("q_stream_user_ewma", _sue_oracle())
def q_stream_user_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    stage, ckpt_dir = pid_scratch_dirs("stream_user_ewma", sf_dir)
    sdf = _stream(spark, sf_dir, n_parts=4)

    def absorb(bdf: DataFrame, batch_id: int) -> None:
        # stage the per-user batch aggregate keyed by batch_key — a
        # DISTRIBUTED write, nothing reaches the driver; the batch key
        # is a broadcast 1-row aggregate (never a global window)
        per = bdf.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("x")
        )
        bk = bdf.agg(F.min("event_id").cast("bigint").alias("batch_key"))
        per.crossJoin(F.broadcast(bk)).write.mode("append").parquet(stage)

    _drain(sdf, batch=absorb, checkpoint=ckpt_dir)
    staged = spark.read.parquet(stage)
    # bounded: 4 staged batch keys
    keys = sorted(
        r.batch_key
        for r in staged.select("batch_key").distinct().collect()
    )
    state = None
    for bk in keys:
        counts = staged.where(F.col("batch_key") == bk).select("user_id", "x")
        if state is None:
            state = counts.select(
                "user_id",
                F.expr(f"x * {_UE_S} DIV 2").cast("bigint").alias("ewq"),
            )
        else:
            state = state.join(counts, "user_id", "full").selectExpr(
                "user_id",
                # pure integer floor-div — never a double /2
                f"CAST((coalesce(ewq, 0) + coalesce(x, 0) * {_UE_S})"
                " DIV 2 AS BIGINT) AS ewq",
            )
        # truncate the per-round join lineage (4 bounded rounds)
        state = state.localCheckpoint(eager=True)
    # top-10: sort+limit (TakeOrdered), bounded rank after
    top = state.orderBy(F.desc("ewq"), "user_id").limit(10)
    # bounded: rank over the 10-row top-k relation
    return top.select(
        "user_id",
        "ewq",
        (F.col("ewq").cast("double") / _UE_S).alias("ewma"),
        F.row_number()
        .over(Window.orderBy(F.desc("ewq"), "user_id"))
        .cast("bigint")
        .alias("rank"),
    )


# --- streaming per-batch count-drop alert (round 7) ---------------------------
# The pipeline-health monitor the reference's ops story implies but
# never builds: per event_type and micro-batch, alert when the batch's
# event count drops more than 1% below the TRAILING MEAN of all prior
# batches — an EXACT integer inequality (100*i*c_i < 99*sum_prior, no
# division), so the alert state is bit-identical cross-engine. Batch
# identity follows the q_stream_decay_topk contract: batches are keyed
# by min(event_id) and re-ordered by dense_rank, so the result is
# independent of file-arrival order. Cross-batch state is a DISTRIBUTED
# staged relation (the r6 q_stream_user_ewma pattern); the only collect
# is the O(batches x types) per-batch count rows. Oracle restates the
# 4-slice batch semantics arithmetically.
def _sga_oracle() -> str:
    return """
    WITH r AS (
        SELECT event_id, event_type,
               row_number() OVER (ORDER BY event_id) - 1 AS rn
        FROM events
    ), nn AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS total FROM events
    ), p AS (
        SELECT event_type, rn // ((nn.total + 3) // 4) AS part
        FROM r, nn
    ), b AS (
        SELECT part, event_type, CAST(COUNT(*) AS BIGINT) AS c
        FROM p GROUP BY 1, 2
    ), x AS (
        SELECT event_type, CAST(part AS BIGINT) AS batch_idx, c,
               CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY part
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS BIGINT) AS prior_sum
        FROM b
    )
    SELECT event_type, batch_idx, c, prior_sum,
           100 * batch_idx * c < 99 * prior_sum AS is_alert
    FROM x WHERE batch_idx >= 1
    """


@_q("q_stream_gap_alert", _sga_oracle())
def q_stream_gap_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    _, ckpt_dir = pid_scratch_dirs("stream_gap_alert", sf_dir)
    sdf = _stream(spark, sf_dir, n_parts=4)
    state: list[tuple[int, str, int]] = []

    def absorb(bdf: DataFrame, batch_id: int) -> None:
        rows = (
            bdf.groupBy("event_type")
            .agg(
                F.min("event_id").cast("bigint").alias("bk"),
                F.count(F.lit(1)).cast("bigint").alias("c"),
            )
            .collect()
        )
        if not rows:
            return
        batch_key = min(r.bk for r in rows)
        state.extend((batch_key, r.event_type, r.c) for r in rows)

    _drain(sdf, batch=absorb, checkpoint=ckpt_dir)
    per = local_rows(spark, state, "batch_key bigint, event_type string, c bigint")
    # bounded: batch index over the 4 collected micro-batch keys
    idx = per.select(
        "event_type",
        "c",
        (F.dense_rank().over(Window.orderBy("batch_key")) - 1)
        .cast("bigint")
        .alias("batch_idx"),
    )
    wprior = (
        Window.partitionBy("event_type")
        .orderBy("batch_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    x = idx.select(
        "event_type",
        "batch_idx",
        "c",
        F.sum("c").over(wprior).cast("bigint").alias("prior_sum"),
    )
    return x.where(F.col("batch_idx") >= 1).select(
        "event_type",
        "batch_idx",
        "c",
        "prior_sum",
        (
            100 * F.col("batch_idx") * F.col("c")
            < 99 * F.col("prior_sum")
        ).alias("is_alert"),
    )
