"""The flagship streaming demo, end to end in one entry point.

The reference's product is "top coins by volume, live" (README demo /
``public/demo.jpg``), produced by a Kafka kline stream + Spark job +
serving DB. This module is that product on this engine's primitives,
chained live:

  ``kline_feed`` (sources/feed_datasource.py — real offset contract,
  the Kafka stand-in, reference spark/streaming-shorttime.py:45-52)
    → event-time windowed volume aggregate with watermark
    → per-finalized-window top-k ranking in foreachBatch (ranking
      cannot ride inside a streaming plan; append emission is
      watermark-driven so each batch ranks only complete windows)
    → idempotent per-batch parquet dirs (a WAL-replayed batch
      overwrites its own dir — same contract as the JDBC
      delete-then-insert sink in streaming/sinks.py).

Every stage is individually gate-checked elsewhere (`q_stream_feed`,
`q_stream_window_tumbling`, `q_stream_topk`); this wires them into the
one pipeline a reference user would actually run, pinned by
tests/test_pipeline_e2e.py::test_live_topk_demo against an exact
python oracle of the deterministic feed.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.window import Window

from big_data_streaming_spark.streaming.sinks import start_foreach_batch


def run_live_topk(
    spark: SparkSession,
    out_dir: str,
    checkpoint: str,
    *,
    max_rows: int = 7200,
    rows_per_poll: int = 1200,
    window: str = "10 minutes",
    watermark: str = "10 minutes",
    k: int = 3,
) -> StreamingQuery:
    """Start (and return) the live top-k-by-volume pipeline over the
    deterministic kline feed; drain with :func:`drain_until_idle`.

    Runs under a live processing-time trigger with the feed throttled to
    ``rows_per_poll`` klines per micro-batch — windowed append output is
    watermark-driven, and watermarks only advance BETWEEN micro-batches,
    so a single-batch drain would terminate with every window still in
    state. Results land as ``out_dir/batch_<id>/`` parquet with columns
    (window_start, coin, total_volume, rk) — read the whole dir back
    with ``spark.read.parquet(out_dir + "/batch_*")``.
    """
    from big_data_streaming_spark.sources.feed_datasource import register

    register(spark)
    feed = (
        spark.readStream.format("kline_feed")
        .option("max_rows", str(max_rows))
        .option("rows_per_poll", str(rows_per_poll))
        # Durable committed floor beside the checkpoint: exactly-once
        # delivery holds across ANY number of restarts, including the
        # regressed-WAL double-restart corner (feed_datasource.py).
        .option("floor_dir", os.path.join(checkpoint, "feed_floor"))
        .load()
    )
    agg = (
        feed.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "coin")
        .agg(F.sum("volume").alias("total_volume"))
    )

    def rank_and_append(batch_df: DataFrame, batch_id: int) -> None:
        rw = Window.partitionBy("w").orderBy(F.desc("total_volume"), "coin")
        (
            batch_df.withColumn("rk", F.row_number().over(rw).cast("bigint"))
            .filter(F.col("rk") <= k)
            .select(
                F.col("w.start").alias("window_start"),
                "coin",
                "total_volume",
                "rk",
            )
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, f"batch_{batch_id}"))
        )

    return start_foreach_batch(
        agg, rank_and_append, checkpoint, trigger={"processingTime": "0 seconds"}
    )


def drain_until_idle(q: StreamingQuery) -> None:
    """Block until the live query has gone idle — two consecutive
    zero-input micro-batches after at least one data batch — then stop it
    (``TimeoutError`` after 180 s). The trailing no-data batches are
    load-bearing: they are what advances the watermark past the final
    data and flushes the last finalized windows out of state
    (noDataMicroBatches, on by default).
    The engine schedules no-data batches only while the watermark still
    needs advancing — after the flush it goes quiet for good, so the
    threshold is exactly the two no-data batches the flush takes; demand
    more and the wait never returns.
    """
    import time

    deadline = time.monotonic() + 180.0
    seen_data = False
    counted: set[int] = set()
    idle = 0
    while time.monotonic() < deadline:
        # recentProgress, not lastProgress: the two trailing no-data flush
        # batches can both complete within one 0.2 s poll interval, and a
        # lastProgress sample would observe only the second — idle would
        # never reach two and a healthy drain would time out
        # (ADVICE r3). recentProgress retains a window of completed
        # batches; dedupe by batchId so each is counted exactly once.
        for p in q.recentProgress:
            if p is None or p["batchId"] is None:
                continue
            bid = int(p["batchId"])
            if bid in counted:
                continue
            counted.add(bid)
            if p["numInputRows"] > 0:
                seen_data = True
                idle = 0
            elif seen_data:
                idle += 1
                if idle >= 2:
                    q.stop()
                    q.awaitTermination()
                    return
        if q.exception() is not None:
            raise q.exception()
        time.sleep(0.2)
    q.stop()
    raise TimeoutError("live top-k demo did not go idle within timeout")
