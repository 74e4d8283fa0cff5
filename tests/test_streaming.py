"""Streaming-layer tests (SURVEY.md §5.3/§5.4): fixture replay through the
real Structured Streaming engine — batch/stream equivalence, watermark
late-data semantics, checkpoint-resume exactly-once, single-pass routing,
custom stateful sessionization, incremental curated-layer copy."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from big_data_streaming_spark.functions.dedup import dedup_keep_first  # noqa: F401
from big_data_streaming_spark.streaming.incremental import start_incremental_copy
from big_data_streaming_spark.streaming.parse import parse_klines
from big_data_streaming_spark.streaming.router import (
    foreach_batch_router,
    route_partitioned,
)
from big_data_streaming_spark.streaming.sinks import start_foreach_batch
from big_data_streaming_spark.streaming.source import raw_text_file_stream

COINS = ["BTCUSDC", "ETHUSDC", "XRPUSDC", "SOLUSDC"]
BASE_MS = 1_700_002_800_000  # fixed epoch anchor, hour-aligned (472223 * 3600 s)


def make_kline(coin: str, minute: int, interval: str = "1m", volume: float = 1.0) -> dict:
    ts = BASE_MS + minute * 60_000
    return {
        "coin": coin,
        "timestamp": ts,
        "open": 100.0 + minute,
        "high": 101.0 + minute,
        "low": 99.0 + minute,
        "close": 100.5 + minute,
        "volume": volume,
        "close_time": ts + 59_999,
        "quote_asset_volume": volume * 100.0,
        "number_of_trades": 10,
        "taker_buy_base_asset_volume": volume / 2,
        "taker_buy_quote_asset_volume": volume * 50.0,
        "ignore": "0",
        "interval": interval,
    }


def write_jsonl(dirpath: str, name: str, records: list[dict]) -> None:
    os.makedirs(dirpath, exist_ok=True)
    with open(os.path.join(dirpath, name), "w") as f:
        for r in records:
            f.write(json.dumps(r) + "\n")


@pytest.fixture()
def kline_batch():
    recs = []
    for m in range(120):
        for c in COINS:
            recs.append(make_kline(c, m, volume=float(m % 7 + 1)))
    # one malformed line exercised separately; one string-typed numeric
    return recs


def test_parse_chain_batch_equals_stream(spark, tmp_path, kline_batch):
    """A2–A6 applied via readStream must equal the same chain via read."""
    src = str(tmp_path / "src")
    write_jsonl(src, "a.jsonl", kline_batch)

    batch_df = parse_klines(spark.read.text(src))
    sdf = parse_klines(raw_text_file_stream(spark, src))
    q = (
        sdf.writeStream.format("memory")
        .queryName("parse_equiv")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("parse_equiv")

    assert got.count() == batch_df.count() == len(kline_batch)
    cols = ["coin", "timestamp", "volume", "year", "month", "interval"]
    assert sorted(map(str, got.select(cols).collect())) == sorted(
        map(str, batch_df.select(cols).collect())
    )
    # epoch-ms → timestamp round-trip sanity on one known row
    one = batch_df.filter(
        (F.col("coin") == "BTCUSDC") & (F.unix_millis("timestamp") == BASE_MS)
    )
    assert one.count() == 1


def test_malformed_json_yields_nulls(spark, tmp_path):
    """PERMISSIVE parse: malformed line → all-null row, stream keeps going
    (the reference's implicit policy, SURVEY.md §1.2)."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    with open(os.path.join(src, "bad.jsonl"), "w") as f:
        f.write(json.dumps(make_kline("BTCUSDC", 1)) + "\n")
        f.write("{not json at all\n")
        f.write(json.dumps(make_kline("ETHUSDC", 2)) + "\n")
    out = parse_klines(spark.read.text(src))
    assert out.count() == 3
    assert out.filter(F.col("coin").isNull()).count() == 1


def test_windowed_stream_equals_batch(spark, tmp_path, kline_batch):
    """B2 equivalence: per-coin 1h tumbling volume — streaming result on
    closed windows == batch groupBy result."""
    src = str(tmp_path / "src")
    write_jsonl(src, "a.jsonl", kline_batch)

    parsed_stream = parse_klines(raw_text_file_stream(spark, src))
    agg = (
        parsed_stream.withWatermark("timestamp", "10 minutes")
        .groupBy(F.window("timestamp", "1 hour").alias("w"), "coin")
        .agg(F.sum("volume").alias("vol"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("win_equiv")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    stream_res = sorted(
        map(
            str,
            spark.table("win_equiv")
            .select(F.col("w.start").alias("ws"), "coin", "vol")
            .collect(),
        )
    )

    batch_res = sorted(
        map(
            str,
            parse_klines(spark.read.text(src))
            .groupBy(F.window("timestamp", "1 hour").alias("w"), "coin")
            .agg(F.sum("volume").alias("vol"))
            .select(F.col("w.start").alias("ws"), "coin", "vol")
            .collect(),
        )
    )
    assert stream_res == batch_res


def test_watermark_drops_late_rows_in_append_mode(spark, tmp_path):
    """B5: a row arriving behind the watermark is dropped from append-mode
    windowed output — DECLARED late-data semantics, vs the reference's
    silent `timestamp > last` drop (SURVEY.md §4.3.3)."""
    src = str(tmp_path / "src")
    # batch 1: minutes 0..59 (window 0) + minutes 60..119 (window 1) push
    # the watermark far past window 0's end
    write_jsonl(
        src, "b1.jsonl", [make_kline("BTCUSDC", m, volume=1.0) for m in range(120)]
    )
    checkpoint = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "late_out")

    def run_once() -> None:
        parsed = parse_klines(raw_text_file_stream(spark, src))
        agg = (
            parsed.withWatermark("timestamp", "5 minutes")
            .groupBy(F.window("timestamp", "1 hour").alias("w"), "coin")
            .agg(F.sum("volume").alias("vol"), F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("ws"), "coin", "vol", "n")
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    first = spark.read.parquet(out_dir)
    closed_counts = {r["n"] for r in first.select("n").collect()}
    assert 60 in closed_counts  # window 0 fully closed with 60 rows

    # batch 2: a LATE row for window 0 (minute 10) — behind watermark
    write_jsonl(src, "b2.jsonl", [make_kline("BTCUSDC", 10, volume=99.0)])
    run_once()
    after = spark.read.parquet(out_dir).collect()
    # the late row must NOT re-emit window 0 with the extra volume
    vols = [r["vol"] for r in after]
    assert all(v != 60.0 + 99.0 for v in vols)


def test_checkpoint_resume_no_duplicates(spark, tmp_path, kline_batch):
    """A22 replacement: file-sink + checkpoint — restart re-processes
    nothing (exactly-once within the file sink's manifest)."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = parse_klines(
        spark.createDataFrame(
            [(json.dumps(make_kline("BTCUSDC", 0)),)], ["value"]
        )
    ).schema

    write_jsonl(src, "b1.jsonl", kline_batch[: len(kline_batch) // 2])
    q = start_incremental_copy(
        spark, src, out, ckpt,
        schema=spark.read.text(src).schema, fmt="text",
        trigger={"availableNow": True},
    )
    q.awaitTermination()
    n1 = spark.read.parquet(out).count()
    assert n1 == len(kline_batch) // 2

    # restart with same checkpoint: old file must not duplicate, new file lands
    write_jsonl(src, "b2.jsonl", kline_batch[len(kline_batch) // 2 :])
    q = start_incremental_copy(
        spark, src, out, ckpt,
        schema=spark.read.text(src).schema, fmt="text",
        trigger={"availableNow": True},
    )
    q.awaitTermination()
    n2 = spark.read.parquet(out).count()
    assert n2 == len(kline_batch)
    assert schema is not None


def test_foreach_batch_router_single_scan(spark, tmp_path, kline_batch):
    """A20 single-pass router: per-(coin, interval) sinks written off ONE
    persisted scan; read-back per key matches the input slice."""
    src = str(tmp_path / "src")
    write_jsonl(src, "a.jsonl", kline_batch)
    outbase = str(tmp_path / "routed")
    written: list[tuple] = []

    def write_partition(slice_df, key_tuple, batch_id):
        coin, interval = key_tuple
        path = os.path.join(outbase, f"{coin}_{interval}")
        slice_df.write.mode("append").parquet(path)
        written.append(key_tuple)

    parsed = parse_klines(raw_text_file_stream(spark, src))
    q = start_foreach_batch(
        parsed,
        foreach_batch_router(["coin", "interval"], write_partition),
        checkpoint=str(tmp_path / "ckpt"),
        trigger={"availableNow": True},
    )
    q.awaitTermination()

    assert sorted(set(written)) == sorted((c, "1m") for c in COINS)
    one = spark.read.parquet(os.path.join(outbase, "BTCUSDC_1m"))
    assert one.count() == 120
    assert one.select("coin").distinct().collect()[0]["coin"] == "BTCUSDC"


def test_foreach_batch_router_routes_null_key(spark):
    """A NULL routing key is a key like any other: its rows come back as
    their own slice, after the non-NULL keys (the sort and the equality
    filter are both NULL-safe)."""
    df = spark.createDataFrame(
        [("a", 1), (None, 2), ("a", 3)], "coin string, n int"
    )
    got: dict[tuple, list[int]] = {}

    def write_partition(slice_df, key_tuple, batch_id):
        got[key_tuple] = sorted(r["n"] for r in slice_df.collect())

    foreach_batch_router(["coin"], write_partition)(df, 0)

    assert list(got) == [("a",), (None,)]
    assert got == {("a",): [1, 3], (None,): [2]}


def test_single_action_callback_sees_uncached_batch(spark, tmp_path):
    """start_foreach_batch hands the batch over as is: a callback that
    reads it once pays no cache job."""
    from pyspark.storagelevel import StorageLevel

    src = str(tmp_path / "src")
    write_jsonl(src, "a.jsonl", [make_kline(c, 0) for c in COINS])
    seen: list[tuple] = []

    def sink(batch, batch_id):
        seen.append((batch.is_cached, batch.storageLevel == StorageLevel.NONE))
        batch.write.mode("overwrite").parquet(str(tmp_path / f"b{batch_id}"))

    q = start_foreach_batch(
        parse_klines(raw_text_file_stream(spark, src)),
        sink,
        str(tmp_path / "ckpt"),
        trigger={"availableNow": True},
    )
    q.awaitTermination()
    assert seen == [(False, True)]


def test_foreach_batch_has_one_starter():
    """``.foreachBatch(`` is called in exactly one place in the package:
    ``sinks.start_foreach_batch``."""
    import ast
    import pathlib

    import big_data_streaming_spark

    root = pathlib.Path(big_data_streaming_spark.__file__).parent
    sites = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef):
                continue
            for node in ast.walk(fn):
                if isinstance(node, ast.Attribute) and node.attr == "foreachBatch":
                    sites.append((path.name, fn.name))
    assert sites == [("sinks.py", "start_foreach_batch")]
    text = "".join(p.read_text() for p in root.rglob("*.py"))
    assert text.count(".foreachBatch(") == 1


def test_route_partitioned_layout_prunes(spark, tmp_path, kline_batch):
    """File-sink routing via partitionBy: layout carries the keys; a keyed
    read prunes to one directory (partition filters, zero data filter)."""
    src = str(tmp_path / "src")
    write_jsonl(src, "a.jsonl", kline_batch)
    out = str(tmp_path / "bykey")
    parsed = parse_klines(spark.read.text(src))
    route_partitioned(parsed, out, keys=["coin", "interval"])

    back = spark.read.parquet(out).filter(
        (F.col("coin") == "ETHUSDC") & (F.col("interval") == "1m")
    )
    assert back.count() == 120
    from big_data_streaming_spark.plans.explain import formatted_plan

    plan = formatted_plan(back)
    assert "PartitionFilters" in plan


def test_sessionize_stateful(spark, tmp_path):
    """applyInPandasWithState sessionizer: gap-split sessions per user."""
    from big_data_streaming_spark.streaming.sessionize import sessionize

    rows = []
    # user 1: two sessions separated by a 2-hour gap; user 2: one session
    for m in (0, 5, 10, 130, 135):
        rows.append({"ts": BASE_MS + m * 60_000, "user_id": 1, "value": 1.0})
    for m in (0, 20):
        rows.append({"ts": BASE_MS + m * 60_000, "user_id": 2, "value": 2.0})
    # sentinel far in the future pushes the event-time watermark so the
    # last sessions time out and emit
    rows.append({"ts": BASE_MS + 100_000 * 60_000, "user_id": 99, "value": 0.0})

    src = str(tmp_path / "src")
    write_jsonl(src, "a.jsonl", rows)
    schema = "ts long, user_id long, value double"
    sdf = (
        spark.readStream.schema(schema)
        .json(src)
        .withColumn("ts", F.timestamp_millis("ts"))
    )
    out = sessionize(sdf, watermark="0 seconds")
    q = (
        out.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["user_id"], r["n_events"], r["total_value"])
        for r in spark.table("sessions").collect()
    }
    assert (1, 3, 3.0) in got  # first session of user 1 (gap-closed)
    # user 1 second session + user 2 session emitted via timeout
    assert (1, 2, 2.0) in got
    assert (2, 2, 4.0) in got


def test_dead_letter_split(spark, tmp_path):
    """Corrupt-record policy: good rows and raw dead letters, one parse."""
    from big_data_streaming_spark.streaming.parse import parse_json_with_dead_letter

    src = str(tmp_path / "src")
    os.makedirs(src)
    with open(os.path.join(src, "mixed.jsonl"), "w") as f:
        f.write(json.dumps(make_kline("BTCUSDC", 1)) + "\n")
        f.write("garbage{{{\n")
        f.write(json.dumps(make_kline("ETHUSDC", 2)) + "\n")
        f.write("[1,2,3]\n")  # valid JSON but wrong shape -> also corrupt

    good, dead = parse_json_with_dead_letter(spark.read.text(src))
    assert good.count() == 2
    assert dead.count() == 2
    raws = {r["raw_record"] for r in dead.collect()}
    assert any("garbage" in r for r in raws)
    assert "[1,2,3]" in raws
    assert good.filter(F.col("coin").isin("BTCUSDC", "ETHUSDC")).count() == 2


def test_sessionize_survives_very_late_event(spark, tmp_path):
    """A row older than the current watermark (applyInPandasWithState does
    NOT pre-filter late input) must not kill the query: naively setting
    timeout = last_ts + gap would land at/behind the watermark, which
    Spark rejects with IllegalArgumentException. The clamp defers the
    timeout to just past the watermark, so the session closes on the next
    watermark advance instead of crashing the stream."""
    import time as _time

    from big_data_streaming_spark.streaming.sessionize import sessionize

    src = str(tmp_path / "src")
    # batch 1: user 1 activity + far-future sentinel -> watermark jumps high
    write_jsonl(
        src,
        "a_first.jsonl",
        [
            {"ts": BASE_MS, "user_id": 1, "value": 1.0},
            {"ts": BASE_MS + 100_000 * 60_000, "user_id": 99, "value": 0.0},
        ],
    )
    _time.sleep(0.05)
    # batch 2: user 7 event hours BEHIND the watermark
    write_jsonl(
        src, "b_late.jsonl", [{"ts": BASE_MS + 60_000, "user_id": 7, "value": 5.0}]
    )
    _time.sleep(0.05)
    # batch 3: later sentinel advances the watermark past the clamped
    # timeout so user 7's session emits via timeout
    write_jsonl(
        src,
        "c_flush.jsonl",
        [{"ts": BASE_MS + 200_000 * 60_000, "user_id": 99, "value": 0.0}],
    )

    schema = "ts long, user_id long, value double"
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(src)
        .withColumn("ts", F.timestamp_millis("ts"))
    )
    out = sessionize(sdf, watermark="0 seconds")
    q = (
        out.writeStream.format("memory")
        .queryName("late_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()  # without the clamp this raises StreamingQueryException
    got = {
        (r["user_id"], r["n_events"], r["total_value"])
        for r in spark.table("late_sessions").collect()
    }
    assert (7, 1, 5.0) in got


def test_route_partitioned_salts_hot_key(spark, tmp_path):
    """Forced skew: 99% of rows share one key. With salt_files_per_key=4
    the hot key's directory must be written by multiple tasks (>1 file),
    so a single hot key can't serialize the whole write."""
    import glob as _glob

    rows = [("HOT", i, float(i)) for i in range(5_000)] + [
        ("COLD", i, float(i)) for i in range(50)
    ]
    df = spark.createDataFrame(rows, ["coin", "seq", "v"])

    out_plain = str(tmp_path / "plain")
    route_partitioned(df, out_plain, keys=["coin"])
    assert len(_glob.glob(os.path.join(out_plain, "coin=HOT", "*.parquet"))) == 1

    # At toy scale AQE would re-coalesce the salted partitions (they're
    # far below the 64 MB advisory target); disable coalescing to observe
    # the at-scale behavior, where a genuinely hot partition stays split.
    out_salted = str(tmp_path / "salted")
    prev = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        route_partitioned(df, out_salted, keys=["coin"], salt_files_per_key=4)
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prev)
    hot_files = _glob.glob(os.path.join(out_salted, "coin=HOT", "*.parquet"))
    assert len(hot_files) > 1
    assert len(hot_files) <= 4
    # layout and content are unchanged by salting
    back = spark.read.parquet(out_salted)
    assert back.count() == 5_050
    assert set(back.columns) == {"coin", "seq", "v"}
    assert back.filter(F.col("coin") == "HOT").count() == 5_000


def test_kafka_stream_gate_has_remedy(spark):
    """Without the spark-sql-kafka jar the source must fail with a
    remedy-bearing error, not a raw classpath stack."""
    import pytest as _pytest

    from big_data_streaming_spark.streaming.source import kafka_stream

    with _pytest.raises(RuntimeError, match="spark-sql-kafka"):
        kafka_stream(spark, "localhost:9092", "shorttime")


def test_kafka_envelope_proxy_matches_kafka_schema(spark, tmp_path):
    """The fixture transport must expose the EXACT Kafka source schema so
    envelope-dependent pipelines are portable to a real broker, and the
    A2-A4 parse chain must run unchanged on its value column."""
    from big_data_streaming_spark.streaming.parse import parse_json_stream
    from big_data_streaming_spark.streaming.source import (
        kafka_envelope_file_stream,
    )

    src = str(tmp_path / "src")
    write_jsonl(src, "a.jsonl", [make_kline("BTCUSDC", m) for m in range(20)])

    env = kafka_envelope_file_stream(spark, src, topic="shorttime", keep_envelope=True)
    assert [(f.name, f.dataType.simpleString()) for f in env.schema.fields] == [
        ("key", "binary"),
        ("value", "binary"),
        ("topic", "string"),
        ("partition", "int"),
        ("offset", "bigint"),
        ("timestamp", "timestamp"),
        ("timestampType", "int"),
    ]

    parsed = parse_json_stream(env.selectExpr("CAST(value AS STRING) AS value"))
    q = (
        parsed.writeStream.format("memory")
        .queryName("kafka_proxy")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert spark.table("kafka_proxy").count() == 20


def test_rocksdb_state_store_provider(spark, tmp_path, kline_batch):
    """The 100 TB state backend: the default in-memory/HDFS state store
    holds every key in executor heap — watermarked aggregations over
    high-cardinality keys OOM. RocksDB spills state to local disk with
    changelog checkpointing and is the production provider; pin that the
    bundled provider actually runs a windowed aggregation and produces
    the same result as the default provider."""
    src = str(tmp_path / "src")
    write_jsonl(src, "b1.jsonl", [make_kline("BTCUSDC", m, volume=1.0) for m in range(90)])

    def drain(provider_tag: str) -> dict:
        parsed = parse_klines(raw_text_file_stream(spark, src))
        agg = (
            parsed.withWatermark("timestamp", "5 minutes")
            .groupBy(F.window("timestamp", "1 hour").alias("w"), "coin")
            .agg(F.sum("volume").alias("vol"), F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("ws"), "coin", "vol", "n")
        )
        q = (
            agg.writeStream.format("memory")
            .queryName(f"rocks_{provider_tag}")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{provider_tag}"))
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r["ws"], r["coin"]): (r["vol"], r["n"])
            for r in spark.table(f"rocks_{provider_tag}").collect()
        }

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        rocks = drain("rocksdb")
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    default = drain("default")
    assert rocks == default
    assert len(rocks) == 2  # two hour windows over 90 minutes


def test_sessionize_late_row_across_batches_extends_not_rewinds(spark, tmp_path):
    """A late-but-admitted event arriving in a LATER micro-batch (earlier
    ts than the session's last event) must fold into the session without
    rewinding its end: session_end stays max(ts)+gap and the count
    includes the late row. Before the monotone-last fix, the late row
    overwrote `last` backwards, corrupting the emitted end and the next
    gap decision."""
    import datetime as dt
    import uuid

    from pyspark.sql import functions as F

    from big_data_streaming_spark.streaming.sessionize import sessionize

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    src = tmp_path / "src"
    src.mkdir()
    # batch 1: two events 10 min apart; batch 2: a LATE event 5 min after
    # the first (inside the session span), then a far event that closes
    # the session by gap.
    b1 = [(1, base, 1.0), (1, base + dt.timedelta(minutes=10), 1.0)]
    b2 = [
        (1, base + dt.timedelta(minutes=5), 1.0),  # late, within watermark
        (1, base + dt.timedelta(hours=3), 1.0),  # opens next session
    ]
    schema = "user_id long, ts timestamp, value double"
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(str(src / "f0"))
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(str(src / "f1"))
    # stage as two FILES in one stream dir (ordered listing → two batches)
    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    import shutil

    import os
    import time

    now = time.time()
    for i, sub in enumerate(["f0", "f1"]):
        part = next((src / sub).glob("*.parquet"))
        dst = stream_dir / f"part-{i}.parquet"
        shutil.copy(part, dst)
        # FileStreamSource orders by modification time: pin f0 strictly
        # older so the two-batch sequence is deterministic.
        os.utime(dst, (now - 100 + i * 50, now - 100 + i * 50))

    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(stream_dir))
    )
    name = f"sess_late_{uuid.uuid4().hex[:8]}"
    q = (
        sessionize(sdf, watermark="2 hours")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {r.session_start: r for r in spark.table(name).collect()}
    first = rows[min(rows)]
    assert first.n_events == 3, rows  # late row folded in
    assert first.session_end == base + dt.timedelta(minutes=40), rows


def test_sessionize_too_late_orphan_becomes_own_session(spark, tmp_path):
    """A late row more than one gap BEFORE the standing session's start
    must NOT rewind the session across the silent gap — it forms its own
    gap-closed session, matching the batch gaps-and-islands contract."""
    import datetime as dt
    import os
    import shutil
    import time
    import uuid

    from big_data_streaming_spark.streaming.sessionize import sessionize

    base = dt.datetime(2024, 1, 1, 12, 30, 0)
    src = tmp_path / "src"
    src.mkdir()
    b1 = [(1, base, 1.0)]  # standing session starts 12:30
    b2 = [
        (1, base - dt.timedelta(minutes=50), 7.0),  # orphan: > gap before s0
        (1, base + dt.timedelta(hours=3), 1.0),  # closes the standing session
    ]
    schema = "user_id long, ts timestamp, value double"
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(str(src / "f0"))
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(str(src / "f1"))
    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    now = time.time()
    for i, sub in enumerate(["f0", "f1"]):
        part = next((src / sub).glob("*.parquet"))
        dst = stream_dir / f"part-{i}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (now - 100 + i * 50, now - 100 + i * 50))
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(stream_dir))
    )
    name = f"sess_orphan_{uuid.uuid4().hex[:8]}"
    q = (
        sessionize(sdf, watermark="2 hours")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = sorted(spark.table(name).collect(), key=lambda r: r.session_start)
    # two gap-closed sessions: the 11:40 orphan and the 12:30 original
    assert len(rows) == 2, rows
    assert rows[0].session_start == base - dt.timedelta(minutes=50), rows
    assert rows[0].n_events == 1 and rows[0].total_value == 7.0, rows
    assert rows[1].session_start == base and rows[1].n_events == 1, rows


def test_sessionize_bridge_row_merges_orphan(spark, tmp_path):
    """An early late row classified as an orphan against the PRE-fold s0
    must be merged back when a later bridging row lowers s0 to within one
    gap of it: standing s0=12:30; a batch delivers 11:59 (orphan vs the
    12:00 cutoff) then 12:05 (folds, s0→12:05, leaving 11:59 only 6 min
    away). Batch gaps-and-islands semantics make 11:59/12:05/12:30 ONE
    session — the orphan must not emit separately (ADVICE round 2)."""
    import datetime as dt
    import os
    import shutil
    import time
    import uuid

    from big_data_streaming_spark.streaming.sessionize import sessionize

    base = dt.datetime(2024, 1, 1, 12, 30, 0)
    src = tmp_path / "src"
    src.mkdir()
    b1 = [(1, base, 1.0)]  # standing session starts 12:30
    b2 = [
        (1, base - dt.timedelta(minutes=31), 7.0),  # 11:59 — orphan pre-fold
        (1, base - dt.timedelta(minutes=25), 2.0),  # 12:05 — folds, lowers s0
        (1, base + dt.timedelta(hours=3), 1.0),  # closes the merged session
    ]
    schema = "user_id long, ts timestamp, value double"
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(str(src / "f0"))
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(str(src / "f1"))
    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    now = time.time()
    for i, sub in enumerate(["f0", "f1"]):
        part = next((src / sub).glob("*.parquet"))
        dst = stream_dir / f"part-{i}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (now - 100 + i * 50, now - 100 + i * 50))
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(stream_dir))
    )
    name = f"sess_bridge_{uuid.uuid4().hex[:8]}"
    q = (
        sessionize(sdf, watermark="2 hours")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = sorted(spark.table(name).collect(), key=lambda r: r.session_start)
    # ONE merged session 11:59→13:00 (end = last + gap), not an orphan + rest
    assert len(rows) == 1, rows
    assert rows[0].session_start == base - dt.timedelta(minutes=31), rows
    assert rows[0].session_end == base + dt.timedelta(minutes=30), rows
    assert rows[0].n_events == 3 and rows[0].total_value == 10.0, rows
