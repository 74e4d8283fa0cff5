"""kline_feed streaming DataSource: offset contract, bounded drain,
exactly-once across a checkpointed restart."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from big_data_streaming_spark.sources.feed_datasource import register


def test_bounded_drain_reads_exactly_max_rows(spark, tmp_path):
    register(spark)
    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("kline_feed")
        .option("split_rows", "64")
        .option("max_rows", "250")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out)
    assert got.count() == 250
    offs = sorted(r.offset for r in got.select("offset").collect())
    assert offs == list(range(250))  # every offset exactly once, no gaps
    # deterministic content
    row0 = got.where(F.col("offset") == 7).first()
    assert row0.coin == "SOLUSDT" and row0.volume == float((7 * 7) % 31 + 1)


def test_checkpoint_restart_resumes_exactly_once(spark, tmp_path):
    """Drain half the feed, 'crash' (stop), restart with the SAME
    checkpoint and a larger max — the union of the two runs is every
    offset exactly once: the committed offset in the WAL, not the
    source instance, carries the position."""
    register(spark)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run(max_rows: int):
        q = (
            spark.readStream.format("kline_feed")
            .option("split_rows", "50")
            .option("max_rows", str(max_rows))
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run(150)   # first life of the query
    run(300)   # restart: a NEW reader instance, same checkpoint
    got = spark.read.parquet(out)
    offs = sorted(r.offset for r in got.select("offset").collect())
    assert offs == list(range(300)), (len(offs), offs[:5], offs[-5:])


def test_catchup_batch_is_split_into_partitions(spark, tmp_path):
    """A large offset range must fan out over multiple input partitions
    (the catch-up path a real backlog drain takes)."""
    register(spark)
    sdf = (
        spark.readStream.format("kline_feed")
        .option("split_rows", "250")
        .option("max_rows", "1000")
        .load()
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName("feed_catchup")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert spark.table("feed_catchup").count() == 1000
    # 1000-row batch at step 250 → 4 partitions (from partitions())
    last = q.lastProgress
    assert last is not None


def test_feed_to_product_query_end_to_end(spark, tmp_path):
    """The reference's pipeline shape on the REAL streaming source:
    kline_feed → event-time windowed volume per coin → sink → product
    query, values checked against a batch replay of the deterministic
    generator. Complete-mode memory sink: a bounded AvailableNow drain
    is one micro-batch, so the watermark never passes the data — the
    same reasoning as q_stream_window_tumbling (workload/streaming.py)."""
    import uuid

    from big_data_streaming_spark.sources.feed_datasource import (
        _kline,
        register,
    )

    register(spark)
    name = f"feed_e2e_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("kline_feed")
        .option("max_rows", "500")
        .load()
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 minute").alias("w"), "coin")
        .agg(
            F.sum(F.col("volume").cast("decimal(38,6)"))
            .cast("double")
            .alias("total_volume")
        )
        .select(F.col("w.start").alias("window_start"), "coin", "total_volume")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    expected = (
        spark.createDataFrame(
            [_kline(i) for i in range(500)],
            "offset long, coin string, ts timestamp, close double, volume double",
        )
        .groupBy(F.window("ts", "1 minute").alias("w"), "coin")
        .agg(
            F.sum(F.col("volume").cast("decimal(38,6)"))
            .cast("double")
            .alias("total_volume")
        )
        .select(F.col("w.start").alias("window_start"), "coin", "total_volume")
    )
    got = sorted(map(str, spark.table(name).collect()))
    want = sorted(map(str, expected.collect()))
    assert got == want and len(got) > 0


def test_feed_floor_survives_double_restart(tmp_path):
    """The double-restart corner (round-3 review finding): life 1 commits
    up to 3600, dies; life 2's fresh reader polls a regressed
    latestOffset, the engine records the regressed end in the WAL, and
    life 2 dies BEFORE any later batch commits; life 3 must still refuse
    to re-deliver below 3600 — only a durable floor can know that.
    Drives raw reader instances through the engine's call sequence."""
    from big_data_streaming_spark.sources.feed_datasource import (
        KlineFeedStreamReader,
    )

    floor = str(tmp_path / "feed_floor")
    opts = {
        "max_rows": "7200",
        "rows_per_poll": "1200",
        "floor_dir": floor,
    }

    def delivered(parts):
        return sum(p.end - p.start for p in parts)

    # Life 1: three batches planned and committed.
    r1 = KlineFeedStreamReader(opts)
    for lo in (0, 1200, 2400):
        end = r1.latestOffset()
        parts = r1.partitions({"offset": lo}, end)
        assert delivered(parts) == 1200
        r1.commit(end)

    # Life 2: fresh reader; engine restores committed=3600 but (in this
    # simulated path) calls latestOffset FIRST — with the durable floor
    # it must NOT regress below 3600.
    r2 = KlineFeedStreamReader(opts)
    end2 = r2.latestOffset()
    assert end2["offset"] >= 3600, end2
    # Life 2 dies before committing anything.

    # Life 3: even if the engine hands a below-floor range (the
    # regressed-WAL corner), nothing below 3600 may be re-delivered.
    r3 = KlineFeedStreamReader(opts)
    parts = r3.partitions({"offset": 1200}, {"offset": 2400})
    assert delivered(parts) == 0, parts
    # A genuine new range above the floor still flows.
    parts = r3.partitions({"offset": 3600}, {"offset": 4800})
    assert delivered(parts) == 1200
    # commit() never lowers the floor.
    r3.commit({"offset": 1200})
    r4 = KlineFeedStreamReader(opts)
    assert r4.latestOffset()["offset"] >= 3600


def test_feed_without_floor_dir_unchanged(tmp_path):
    """No floor_dir → the in-memory behavior is exactly as before (the
    probe-seeded single-restart contract)."""
    from big_data_streaming_spark.sources.feed_datasource import (
        KlineFeedStreamReader,
    )

    r = KlineFeedStreamReader({"max_rows": "2400", "rows_per_poll": "1200"})
    end = r.latestOffset()
    assert end == {"offset": 1200}
    parts = r.partitions({"offset": 0}, end)
    assert sum(p.end - p.start for p in parts) == 1200
    r.commit(end)  # no-op, must not raise


def test_plain_session_outside_checkout_reads_feed(tmp_path):
    """A plain ``SparkSession.builder`` session (none of ``get_spark``'s
    confs) started from a working directory outside the checkout, with
    no PYTHONPATH, drains ``kline_feed``: its workers cannot import the
    package, so the source must travel by value."""
    from tests.test_python_task_cost import REPO, _run

    out = _run(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from pyspark.sql import SparkSession
        from big_data_streaming_spark.sources.feed_datasource import register

        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.shuffle.partitions", "2")
            .getOrCreate()
        )
        register(spark)
        q = (
            spark.readStream.format("kline_feed")
            .option("max_rows", "50")
            .load()
            .writeStream.format("memory")
            .queryName("plain_feed")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        offs = sorted(r.offset for r in spark.table("plain_feed").collect())
        assert offs == list(range(50)), offs
        print("green")
        """,
        cwd=tmp_path,
    )
    assert out.strip().endswith("green"), out

