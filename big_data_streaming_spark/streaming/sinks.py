"""Sinks with the §4.3 rules baked in: checkpoint-always, partitioned
layout, persist-before-multi-action, bounded triggers.

Covers reference A16–A19: foreachBatch, Avro/Parquet file sinks, JDBC.
The reference runs checkpoint-less at-most-once (SURVEY.md §4.3.4); every
writer here takes a mandatory ``checkpoint`` for exactly-once file-sink
semantics (Spark's file sink commits via the write-ahead manifest).

:func:`start_foreach_batch` is the one ``foreachBatch`` starter; it hands
each batch over uncached. Callbacks that run several actions on a batch
persist it themselves (``router.persisted``).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from big_data_streaming_spark.streaming.ddl import jdbc_connection, table_exists
from big_data_streaming_spark.streaming.router import (
    foreach_batch_router,
    persisted,
)


def start_file_sink(
    df: DataFrame,
    out_dir: str,
    checkpoint: str,
    *,
    fmt: str = "parquet",
    partition_by: tuple[str, ...] = (),
    trigger: dict | None = None,
    output_mode: str = "append",
) -> StreamingQuery:
    """Streaming file sink (A17/A19). ``fmt='avro'`` uses the spark-avro
    datasource when on the classpath; without it the pure-Python Avro
    fallback (sources/avro_fallback.py) runs under foreachBatch, writing
    one container-file directory per micro-batch — the reference's A17
    layout (spark/streaming-shorttime.py:73-78) — with overwrite-per-
    batch-id idempotence on replay. With ``partition_by`` each batch
    directory holds one ``k=v/`` directory per key tuple, routed by
    ``router.foreach_batch_router``. Like Spark's file sinks, the fallback
    accepts only ``output_mode='append'`` and fails at start otherwise.

    Partitioning by the derived keys (year/month — reference computes them
    at A6 but writes unpartitioned) is what makes the curated layer
    prunable at 100 TB."""
    try:
        writer: DataStreamWriter = (
            df.writeStream.format(fmt)
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint)
            .outputMode(output_mode)
        )
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer = _apply_trigger(writer, trigger)
        return writer.start()
    except Exception as e:
        from big_data_streaming_spark.sources import avro_fallback

        if fmt != "avro" or not avro_fallback.spark_avro_missing(e):
            raise
        if output_mode != "append":
            # Spark's file sinks, spark-avro's included, refuse the other
            # modes at start; the fallback writes files too.
            raise ValueError(
                f"Invalid streaming output mode: {output_mode}. This output "
                "mode is not supported in Data Source avro."
            ) from None
        def write_batch(batch: DataFrame, batch_id: int) -> None:
            avro_fallback.write_avro(
                batch, os.path.join(out_dir, f"batch_{batch_id}"), mode="overwrite"
            )

        def write_part(part: DataFrame, key_tuple: tuple, batch_id: int) -> None:
            # Spark's hive layout: keys in the path only, NULL as its marker.
            sub = [
                f"{k}={'__HIVE_DEFAULT_PARTITION__' if v is None else v}"
                for k, v in zip(partition_by, key_tuple)
            ]
            base = os.path.join(out_dir, f"batch_{batch_id}", *sub)
            avro_fallback.write_avro(
                part.drop(*partition_by), base, mode="overwrite"
            )

        if partition_by:
            write_batch = foreach_batch_router(partition_by, write_part)
        return start_foreach_batch(df, write_batch, checkpoint, trigger=trigger)


def start_foreach_batch(
    df: DataFrame,
    fn: Callable[[DataFrame, int], None],
    checkpoint: str,
    *,
    trigger: dict | None = None,
) -> StreamingQuery:
    """A16: run ``fn(batch, batch_id)`` on every micro-batch of ``df`` in
    append mode, checkpointed (exactly-once rests on the offset WAL). The
    batch reaches ``fn`` uncached: a single-write callback pays no cache
    job, a multi-action one wraps its actions in ``router.persisted``."""
    writer = df.writeStream.foreachBatch(fn).option(
        "checkpointLocation", checkpoint
    )
    writer = _apply_trigger(writer, trigger)
    return writer.start()


def write_jdbc_append(
    df: DataFrame,
    url: str,
    table: str,
    *,
    user: str,
    password: str,
) -> None:
    """A18: JDBC append. For exactly-once under retries the target table
    needs a natural key (coin, interval, timestamp) with upsert semantics;
    plain append is at-least-once — callers choose per SURVEY.md §7
    hard-part #2."""
    (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("user", user)
        .option("password", password)
        .option("batchsize", "10000")
        .mode("append")
        .save()
    )


def write_jdbc_idempotent(
    df: DataFrame,
    url: str,
    table: str,
    batch_id: int,
    *,
    driver: str | None = None,
    **options: str,
) -> None:
    """Exactly-once-per-batch JDBC write (SURVEY.md §7 hard-part #2).

    Plain append from ``foreachBatch`` is at-least-once: a retried batch
    duplicates rows. This writer stamps every row with ``_batch_id`` and
    DELETEs that batch's rows before inserting, so replays converge to
    one copy — the standard idempotent-sink recipe when the target has no
    native MERGE. The delete runs on the driver (one statement); inserts
    stream from executors as usual.
    """
    from pyspark.sql import functions as F

    stamped = df.withColumn("_batch_id", F.lit(batch_id))
    # The delete runs on the driver with the same connection options as
    # the insert below. Only a genuinely-missing table may skip it; any
    # other failure (lock timeout, lost connection, permissions) must
    # abort the batch — silently degrading to plain append would
    # duplicate rows on replay, defeating the idempotence contract.
    conn = jdbc_connection(df.sparkSession, url, driver, options)
    try:
        if table_exists(conn, table):
            # Quote the column per dialect: MySQL default mode rejects
            # ANSI double quotes (Spark's own writer backticks there).
            q = "`" if url.startswith("jdbc:mysql") else '"'
            stmt = conn.createStatement()
            try:
                stmt.executeUpdate(
                    f"DELETE FROM {table} WHERE {q}_batch_id{q} = {int(batch_id)}"
                )
            finally:
                stmt.close()
    finally:
        conn.close()

    writer = (
        stamped.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .mode("append")
    )
    if driver:
        writer = writer.option("driver", driver)
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save()


def read_jdbc_partitioned(
    spark,
    url: str,
    table: str,
    *,
    partition_column: str,
    lower_bound,
    upper_bound,
    num_partitions: int = 16,
    **options: str,
):
    """A14 with the single-task fix: bound-partitioned JDBC scan (the
    reference reads whole tables in ONE task —
    spark/streaming-longtime-raw.py:105-114; SURVEY.md §4.3.5)."""
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("partitionColumn", partition_column)
        .option("lowerBound", str(lower_bound))
        .option("upperBound", str(upper_bound))
        .option("numPartitions", str(num_partitions))
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def _apply_trigger(writer: DataStreamWriter, trigger: dict | None) -> DataStreamWriter:
    if trigger:
        writer = writer.trigger(**trigger)
    return writer


def start_upsert_sink(
    df: DataFrame,
    target_path: str,
    checkpoint: str,
    *,
    keys: tuple[str, ...],
    order_col: str | None = None,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Streaming CDC upsert: every micro-batch is MERGEd into the parquet
    target by key (operators/upsert.py) instead of appended — the
    streaming half of the curated-layer UPDATE story. Late corrections
    and re-deliveries converge to last-write-wins state (pass
    ``order_col``) and replays are idempotent: merging the same batch
    twice is a no-op, so foreachBatch's at-least-once contract yields an
    exactly-once *table state*.

    Each micro-batch rewrites the whole target through the full-snapshot
    merge; a partition-scoped sink would call ``merge_upsert`` with
    ``partition_keys`` from its own ``start_foreach_batch`` callback."""
    from big_data_streaming_spark.operators.upsert import merge_upsert

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        # merge_upsert reads the batch more than once: the uniqueness
        # probe or last-wins window, then the merge's union and anti-join.
        with persisted(batch):
            merge_upsert(
                batch.sparkSession,
                target_path,
                batch,
                keys=keys,
                order_col=order_col,
            )

    return start_foreach_batch(df, merge_batch, checkpoint, trigger=trigger)


def start_fanout_sink(
    df: DataFrame,
    checkpoint: str,
    *,
    parquet_dir: str,
    jdbc_url: str | None = None,
    jdbc_table: str | None = None,
    jdbc_driver: str | None = None,
    trigger: dict | None = None,
    **jdbc_options: str,
) -> StreamingQuery:
    """Multi-sink fan-out: each micro-batch lands in a parquet batch dir
    AND (optionally) a JDBC table, from ONE evaluation of the batch — with
    the JDBC leg on, the batch is persisted for the two writes, so the
    source is scanned once per batch, not once per sink. Both legs are
    idempotent under WAL replay: parquet overwrites ``batch_<id>/``, JDBC
    goes through :func:`write_jdbc_idempotent`'s delete-then-insert keyed
    on ``_batch_id``. This is the reference's "store to lake AND serve
    from the DB" pattern (spark/streaming-longtime.py writes the same data
    to parquet and per-key tables in separate jobs) collapsed into one
    exactly-once pass.
    """

    def to_parquet(batch: DataFrame, batch_id: int) -> None:
        batch.write.mode("overwrite").parquet(
            os.path.join(parquet_dir, f"batch_{batch_id}")
        )

    if not (jdbc_url and jdbc_table):
        return start_foreach_batch(df, to_parquet, checkpoint, trigger=trigger)

    def fan_out(batch: DataFrame, batch_id: int) -> None:
        with persisted(batch):
            to_parquet(batch, batch_id)
            write_jdbc_idempotent(
                batch, jdbc_url, jdbc_table, batch_id,
                driver=jdbc_driver, **jdbc_options,
            )

    return start_foreach_batch(df, fan_out, checkpoint, trigger=trigger)
