"""Kline parse chain — reference operators A2–A6 as one composable stage.

Mirrors reference spark/streaming-shorttime.py:53-61 (cast → from_json →
flatten → epoch-ms→timestamp → year/month), working identically on batch
and streaming DataFrames (same logical plan, Catalyst incrementalizes it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from big_data_streaming_spark.schemas import KLINE_WIRE_SCHEMA


def parse_json_stream(
    raw: DataFrame, schema: StructType = KLINE_WIRE_SCHEMA
) -> DataFrame:
    """A2+A3+A4: binary/string JSON ``value`` → typed flat columns.

    PERMISSIVE parse (malformed rows → nulls) matching the reference's
    implicit policy (spark/streaming-shorttime.py:54); callers wanting a
    corrupt-record quarantine add ``columnNameOfCorruptRecord`` to the
    schema and filter it into a dead-letter sink.
    """
    return raw.select(
        F.from_json(F.col("value").cast("string"), schema).alias("data")
    ).select("data.*")


def with_event_time(df: DataFrame) -> DataFrame:
    """A5: epoch-ms ``timestamp`` and ``close_time`` longs → TIMESTAMP
    via timestamp_millis (exact; the reference divides by 1000 and casts
    — same semantics, ms precision, reference
    spark/streaming-shorttime.py:58-59)."""
    for c in ("timestamp", "close_time"):
        df = df.withColumn(c, F.timestamp_millis(F.col(c)))
    return df


def with_date_parts(df: DataFrame) -> DataFrame:
    """A6: derive the partition keys the curated layout is laid out by
    from ``timestamp``."""
    return df.withColumn("year", F.year("timestamp")).withColumn(
        "month", F.month("timestamp")
    )


def parse_klines(raw: DataFrame) -> DataFrame:
    """Full reference parse chain: A2→A3→A4→A5→A6 (16-column curated row)."""
    return with_date_parts(with_event_time(parse_json_stream(raw)))


CORRUPT_COL = "_corrupt_record"


def parse_json_with_dead_letter(
    raw: DataFrame,
    schema: StructType = KLINE_WIRE_SCHEMA,
    keep: tuple[str, ...] = (),
) -> tuple[DataFrame, DataFrame]:
    """Explicit corrupt-record policy (SURVEY.md §1.2): returns
    (good_rows, dead_letters).

    The reference silently turns malformed JSON into all-null rows
    (PERMISSIVE default); here the raw line is preserved in a corrupt
    column and split out, so the dead-letter stream can go to its own
    sink for replay/inspection instead of polluting the curated layer
    with nulls. Both returned frames derive from ONE parse of the input
    (the split is two filters on the same plan).

    ``keep`` names envelope columns (record ids, partitions, offsets)
    carried through to BOTH outputs — a dead-letter sink without record
    identity can't be replayed or joined back for triage."""
    reserved = {f.name for f in schema.fields} | {CORRUPT_COL, "_raw"}
    clash = reserved & set(keep)
    if clash:
        raise ValueError(
            f"keep columns collide with parsed/internal names: {sorted(clash)}"
        )
    schema_with_corrupt = StructType(
        list(schema.fields) + [StructField(CORRUPT_COL, StringType())]
    )
    parsed = raw.select(
        *[F.col(c) for c in keep],
        F.col("value").cast("string").alias("_raw"),
        F.from_json(
            F.col("value").cast("string"),
            schema_with_corrupt,
            {"columnNameOfCorruptRecord": CORRUPT_COL},
        ).alias("data"),
    )
    flat = parsed.select(*keep, "_raw", "data.*")
    good = flat.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL, "_raw")
    dead = flat.filter(F.col(CORRUPT_COL).isNotNull()).select(
        *keep, F.col("_raw").alias("raw_record")
    )
    return good, dead
