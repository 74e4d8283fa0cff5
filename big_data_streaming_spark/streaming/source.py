"""Streaming sources.

* ``kafka_stream`` — the production source (reference A1,
  spark/streaming-shorttime.py:45-52), built with the operational fixes
  from SURVEY.md §4.3: bounded batches (``maxOffsetsPerTrigger``) and an
  envelope-preserving option. Requires the spark-sql-kafka package on the
  classpath; this test container doesn't ship it, so construction is
  attempted lazily and errors carry the remedy.
* ``kafka_envelope_file_stream`` / ``raw_text_file_stream`` — the
  test/CI transport: JSON lines read as text, so the same parse chain
  runs over a file listing instead of broker offsets.

At 100 TB-scale ingestion the knobs that matter: ``maxOffsetsPerTrigger``
bounds the first batch after downtime (the reference sets none and would
eat the whole backlog in one batch), ``minPartitions`` splits hot Kafka
partitions across executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def kafka_stream(
    spark: SparkSession,
    brokers: str,
    topic: str,
    *,
    starting_offsets: str = "latest",
    fail_on_data_loss: bool = False,
    max_offsets_per_trigger: int | None = 1_000_000,
    keep_envelope: bool = False,
) -> DataFrame:
    """Kafka source with the reference's options plus scale guards.

    ``keep_envelope=True`` retains (key, topic, partition, offset,
    timestamp) alongside ``value`` — the reference drops them on arrival
    (A2); keeping them behind a flag preserves replay/debug lineage.
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", str(fail_on_data_loss).lower())
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    try:
        df = reader.load()
    except Exception as e:
        if "kafka" in str(e).lower():
            raise RuntimeError(
                "kafka source needs the spark-sql-kafka package on the "
                "classpath (--packages org.apache.spark:spark-sql-kafka-0-10"
                "_2.13:<spark-version>); for offline tests use "
                "kafka_envelope_file_stream, which reproduces the full "
                "Kafka envelope schema from jsonl fixtures"
            ) from e
        raise
    if not keep_envelope:
        df = df.select("value")
    return df


def kafka_envelope_file_stream(
    spark: SparkSession,
    path: str,
    *,
    topic: str = "fixture",
    keep_envelope: bool = False,
) -> DataFrame:
    """File-backed stand-in with the EXACT Kafka source schema.

    Emits ``key binary, value binary, topic string, partition int,
    offset long, timestamp timestamp, timestampType int`` — the schema
    ``readStream.format("kafka")`` produces — so every downstream stage
    (``CAST(value AS STRING)`` → ``from_json`` → flatten, reference A2-A4)
    runs byte-identically against fixtures and against a real broker.
    Offsets are synthetic — a content hash, not a broker sequence
    (monotonic ids aren't allowed in streaming plans); they exist to
    exercise envelope-dependent logic, not to be checkpoint keys.
    """
    raw = raw_text_file_stream(spark, path)
    df = raw.select(
        F.lit(None).cast("binary").alias("key"),
        F.col("value").cast("binary").alias("value"),
        F.lit(topic).alias("topic"),
        F.spark_partition_id().alias("partition"),
        F.abs(F.xxhash64("value")).alias("offset"),
        F.current_timestamp().alias("timestamp"),
        F.lit(0).alias("timestampType"),
    )
    if not keep_envelope:
        df = df.select("value")
    return df


def raw_text_file_stream(
    spark: SparkSession, path: str, *, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Text-line stream where each line lands in a ``value`` column — the
    closest file-based analog of the Kafka envelope's value, so the exact
    A2→A4 parse chain (cast + from_json) applies unchanged."""
    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.text(path)

