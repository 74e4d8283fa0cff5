"""End-to-end reference-pipeline integration: the three reference jobs
chained as ONE engine flow on fixture klines (SURVEY.md §3 collapsed into
the idiomatic shape: source → parse → transform → routed sinks → curated
incremental layer → product query), plus the salted-aggregation skew
primitive equality check."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_streaming_spark.operators.skew import salted_count, salted_sum
from big_data_streaming_spark.sources.catalog import load_table
from big_data_streaming_spark.streaming.incremental import start_incremental_copy
from big_data_streaming_spark.streaming.parse import parse_klines
from big_data_streaming_spark.streaming.router import route_partitioned
from big_data_streaming_spark.streaming.source import raw_text_file_stream
from tests.test_streaming import COINS, make_kline, write_jsonl


def test_full_pipeline_klines_to_product_query(spark, tmp_path):
    """shorttime + longtime + longtime-raw, one flow:
    1. JSON kline stream → parse chain → partitioned parquet raw layer
       (A1–A6, A17-as-parquet, A19/A20 via partitionBy);
    2. raw layer → incremental checkpointed copy → curated layer (A22);
    3. curated layer → the product query: last-hour volume per coin,
       descending (README.md:2 / public/demo.jpg).
    """
    # -- 1. ingest two "cycles" of klines through the streaming engine
    src = str(tmp_path / "wire")
    write_jsonl(src, "cycle1.jsonl", [
        make_kline(c, m, volume=float((m * 7 + i) % 10 + 1))
        for i, c in enumerate(COINS) for m in range(60)
    ])
    write_jsonl(src, "cycle2.jsonl", [
        make_kline(c, m, volume=2.0) for c in COINS for m in range(60, 120)
    ])

    raw_dir = str(tmp_path / "raw")
    parsed = parse_klines(raw_text_file_stream(spark, src))
    q = (
        parsed.writeStream.format("parquet")
        .option("path", raw_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt_raw"))
        .partitionBy("coin", "interval")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # -- 2. curated layer: incremental copy with its own checkpoint
    curated_dir = str(tmp_path / "curated")
    q2 = start_incremental_copy(
        spark,
        raw_dir,
        curated_dir,
        str(tmp_path / "ckpt_cur"),
        schema=spark.read.parquet(raw_dir).schema,
        trigger={"availableNow": True},
    )
    q2.awaitTermination()

    curated = spark.read.parquet(curated_dir)
    assert curated.count() == 4 * 120

    # -- 3. product query on the curated layer
    last_hour_start = curated.agg(
        F.date_trunc("hour", F.max("timestamp")).alias("h")
    ).first()["h"]
    top = (
        curated.filter(F.col("timestamp") >= F.lit(last_hour_start))
        .groupBy("coin")
        .agg(F.sum("volume").alias("vol"))
        .orderBy(F.desc("vol"), "coin")
        .collect()
    )
    assert len(top) == 4
    assert all(r["vol"] == 60 * 2.0 for r in top)  # cycle2 volumes


def test_salted_agg_equals_direct(spark, sf_small):
    ev = load_table(spark, sf_small, "events")
    direct = {
        (r["event_type"],): r["tv"]
        for r in ev.groupBy("event_type")
        .agg(F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("tv"))
        .collect()
    }
    salted = {
        (r["event_type"],): r["tv"]
        for r in salted_sum(ev, ["event_type"], "value", "tv", buckets=8).collect()
    }
    assert direct == salted  # bit-identical (decimal associativity)

    n_direct = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").count().withColumnRenamed("count", "n").collect()
    }
    n_salted = {
        r["event_type"]: r["n"]
        for r in salted_count(ev, ["event_type"], buckets=8).collect()
    }
    assert n_direct == n_salted


def test_live_topk_demo(spark, tmp_path):
    """Flagship streaming demo (VERDICT r2 item 8): kline_feed source →
    watermarked window aggregate → per-finalized-window top-k in
    foreachBatch → idempotent batch-dir parquet — verified against an
    exact python oracle of the deterministic feed (offset i: coin =
    COINS[i%5], ts = epoch+i s, volume = (i*7)%31+1)."""
    import collections
    import datetime as dt
    import glob
    import math

    from big_data_streaming_spark.streaming.demo import (
        drain_until_idle,
        run_live_topk,
    )

    out = str(tmp_path / "serving")
    q = run_live_topk(
        spark,
        out,
        str(tmp_path / "ckpt"),
        max_rows=7200,
        rows_per_poll=1200,
        window="10 minutes",
        watermark="10 minutes",
        k=3,
    )
    drain_until_idle(q)

    got = sorted(
        (
            (r.window_start, r.coin, r.total_volume, r.rk)
            for p in glob.glob(out + "/batch_*")
            for r in spark.read.parquet(p).collect()
        )
    )

    # python oracle over the feed definition (sources/feed_datasource.py)
    coins = ("BTCUSDT", "ETHUSDT", "SOLUSDT", "BNBUSDT", "XRPUSDT")
    epoch = 1_700_000_000
    sums: dict = collections.defaultdict(float)
    for i in range(7200):
        w = (epoch + i) // 600 * 600
        sums[(w, coins[i % 5])] += (i * 7) % 31 + 1
    max_ts = epoch + 7199
    wm = max_ts - 600  # watermark delay 10 min
    expect = []
    for w in sorted({k[0] for k in sums}):
        if w + 600 > wm:  # window not finalized → stays in state
            continue
        ranked = sorted(
            ((c, v) for (ww, c), v in sums.items() if ww == w),
            key=lambda cv: (-cv[1], cv[0]),
        )[:3]
        for rk, (c, v) in enumerate(ranked, start=1):
            expect.append(
                (dt.datetime.fromtimestamp(w, dt.timezone.utc).replace(tzinfo=None), c, v, rk)
            )
    expect.sort()
    assert len(got) == len(expect), (len(got), len(expect))
    for g, e in zip(got, expect):
        assert g[0] == e[0] and g[1] == e[1] and g[3] == e[3], (g, e)
        assert math.isclose(g[2], e[2]), (g, e)


def test_live_topk_demo_resumes_from_checkpoint(spark, tmp_path):
    """Kill the live demo mid-drain and restart on the same checkpoint:
    the feed's offset WAL resumes where the first run committed, replayed
    batches overwrite their own dirs, and the final result set is
    identical to an uninterrupted run (same python oracle as
    test_live_topk_demo)."""
    import collections
    import datetime as dt
    import glob
    import time

    from big_data_streaming_spark.streaming.demo import (
        drain_until_idle,
        run_live_topk,
    )

    out = str(tmp_path / "serving")
    ckpt = str(tmp_path / "ckpt")
    q = run_live_topk(spark, out, ckpt, max_rows=7200, rows_per_poll=1200)
    deadline = time.monotonic() + 120
    while time.monotonic() < deadline:
        p = q.lastProgress
        if p is not None and p["batchId"] is not None and p["batchId"] >= 2:
            break
        time.sleep(0.2)
    q.stop()
    q.awaitTermination()

    q2 = run_live_topk(spark, out, ckpt, max_rows=7200, rows_per_poll=1200)
    drain_until_idle(q2)

    got = sorted(
        (r.window_start, r.coin, r.rk)
        for p in glob.glob(out + "/batch_*")
        for r in spark.read.parquet(p).collect()
    )
    coins = ("BTCUSDT", "ETHUSDT", "SOLUSDT", "BNBUSDT", "XRPUSDT")
    epoch = 1_700_000_000
    sums: dict = collections.defaultdict(float)
    for i in range(7200):
        w = (epoch + i) // 600 * 600
        sums[(w, coins[i % 5])] += (i * 7) % 31 + 1
    wm = (epoch + 7199) - 600
    expect = []
    for w in sorted({k[0] for k in sums}):
        if w + 600 > wm:
            continue
        ranked = sorted(
            ((c, v) for (ww, c), v in sums.items() if ww == w),
            key=lambda cv: (-cv[1], cv[0]),
        )[:3]
        for rk, (c, _v) in enumerate(ranked, start=1):
            expect.append(
                (
                    dt.datetime.fromtimestamp(w, dt.timezone.utc).replace(tzinfo=None),
                    c,
                    rk,
                )
            )
    assert got == sorted(expect), (len(got), len(expect))
