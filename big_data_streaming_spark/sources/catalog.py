"""Batch sources: parquet-backed table catalog over a scale-factor directory.

Reads are plain ``spark.read.parquet`` so Catalyst's vectorized parquet
reader, predicate pushdown, and column pruning all apply; a ``queries()``
callable that selects 2 columns through this loader produces a scan whose
``ReadSchema`` contains exactly those 2 columns. At 100 TB the same call
reads a partitioned table (e.g. ``coin/interval/year/month`` layout, the
partition keys the reference derives but never uses — reference
spark/streaming-shorttime.py:60-61) and gets partition pruning for free.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType


def _ensure_session_confs(spark: SparkSession) -> None:
    """The caller may hand us a session built elsewhere (the correctness
    driver constructs its own); the two confs the engine's semantics depend
    on are runtime-settable, so pin them here idempotently:
    * nanosAsLong — Spark 4 otherwise refuses TIMESTAMP(NANOS) parquet;
    * UTC session timezone — epoch↔timestamp conversions must agree with
      the (timezone-naive) DuckDB oracle."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


@functools.lru_cache(maxsize=256)
def _nanos_columns(path: str) -> tuple[str, ...]:
    """Columns stored as parquet TIMESTAMP(NANOS). Spark's TimestampType is
    µs, and 4.x refuses NANOS columns unless
    ``spark.sql.legacy.parquet.nanosAsLong`` is on (set in session.py) —
    in which case they arrive as epoch-nanos longs. One footer read per
    path (driver-side, cached) tells us which columns to convert."""
    import pyarrow.parquet as pq

    target = path
    if os.path.isdir(path):
        inner = [f for f in sorted(os.listdir(path)) if f.endswith(".parquet")]
        if not inner:
            return ()
        target = os.path.join(path, inner[0])
    schema = pq.read_schema(target)
    return tuple(f.name for f in schema if str(f.type) == "timestamp[ns]")


def normalize_raw_timestamps(df: DataFrame, path: str) -> DataFrame:
    """Bring raw parquet timestamp columns to Spark's TimestampType so the
    whole engine sees one timestamp flavor regardless of how the files
    were written:

    * TIMESTAMP(NANOS) columns (epoch-nanos longs under ``nanosAsLong``)
      are floor-divided to µs — the same truncation DuckDB applies
      reading TIMESTAMP_NS;
    * timezone-naive TIMESTAMP(MICROS/MILLIS) columns (surfaced as
      TIMESTAMP_NTZ by Spark 4's ``inferTimestampNTZ``) are cast to
      TIMESTAMP — the session timezone is pinned UTC, so the naive wall
      clock becomes the same UTC instant DuckDB's naive read produces,
      and functions that require TimestampType (``unix_millis``,
      ``to_utc_timestamp``, …) resolve.
    """
    for c in _nanos_columns(path):
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    for field in df.schema.fields:
        if isinstance(field.dataType, TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


@functools.lru_cache(maxsize=256)
def _scan_units(path: str) -> tuple[int, int]:
    """(total_bytes, total_row_groups) for a parquet file or directory.

    A parquet scan can parallelize at most one task per ROW GROUP — byte
    splits below row-group granularity produce empty tasks — so the row-
    group total, not the byte count, is the table's effective scan
    parallelism ceiling. One cached driver-side footer read per path
    (same policy as ``_nanos_columns``)."""
    import pyarrow.parquet as pq

    files = [path]
    if os.path.isdir(path):
        # Recursive walk (ADVICE r11): hive-partitioned layouts nest
        # part files under key=value subdirs; a top-level-only listing
        # returned (0, 0) there and the rebalance silently never fired.
        files = sorted(
            os.path.join(root, f)
            for root, _dirs, names in os.walk(path)
            for f in names
            if f.endswith(".parquet")
        )
    total_bytes = sum(os.path.getsize(f) for f in files)
    total_rgs = sum(pq.read_metadata(f).num_row_groups for f in files)
    return total_bytes, total_rgs


# Floor below which an unsplittable table is left single-task: the added
# round-robin exchange costs more than it buys on dim-sized relations
# (region/nation/supplier/part), which downstream joins broadcast anyway.
_REBALANCE_MIN_BYTES = int(
    os.environ.get("SPARK_GRAFT_SCAN_REBALANCE_MIN_BYTES", str(256 * 1024))
)


def _rebalance_unsplittable(
    spark: SparkSession, df: DataFrame, path: str
) -> DataFrame:
    """Scale-adaptive scan-parallelism floor (optimization guide §2.5:
    one huge unsplittable file → "repartition immediately after the
    read"; round-11 measurement: the bench testdata ships every table as
    a SINGLE-row-group parquet file, so every scan — and everything
    Spark fuses into it: partial aggregation, broadcast-join probes,
    higher-order-function kernels, Arrow batches into Python — ran as
    ONE task regardless of core count. q_tpch_q1's whole 2.3 s of
    decimal aggregation ran on one of 32 cores).

    The rebalance is derived from the INPUT, not tuned to a box: it
    fires only when the table's row-group count (the hard ceiling on
    scan parallelism) is below ``defaultParallelism`` and the table is
    big enough for the extra exchange to pay (``_REBALANCE_MIN_BYTES``).
    At production scale a table has thousands of row groups, the
    condition is false, and this is a no-op — the constant-free,
    scale-adaptive shape the 100 TB contract wants. Predicate pushdown
    and column pruning both pass through the round-robin exchange
    (verified: PushedFilters/ReadSchema unchanged on the scan below
    it), so the exchange carries only pruned, filtered rows.

    OPT-IN per query (round-11 A/B): applied where the single fused
    scan task measurably serializes heavy downstream compute. A blanket
    loader-level rebalance was measured first and rejected — it wins
    big on compute-bound keys (q_embed_neardup 3.8 → 1.5 s) but taxes
    every cheap scan-shaped key ~0.3-0.5 s for the extra stage, a net
    loss across a 100-key bench. ``SPARK_GRAFT_SCAN_REBALANCE=off``
    disables it globally (A/B measurement and plan-shape comparisons)."""
    if os.environ.get("SPARK_GRAFT_SCAN_REBALANCE", "auto") == "off":
        return df
    try:
        total_bytes, total_rgs = _scan_units(path)
    except OSError:
        return df
    if total_bytes < _REBALANCE_MIN_BYTES:
        return df
    target = spark.sparkContext.defaultParallelism
    if total_rgs >= target:
        return df
    return df.repartition(target)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, rebalance: bool = False
) -> DataFrame:
    """Load one testdata table (parquet file or partitioned directory).

    Timestamp columns are normalized to TimestampType (see
    ``normalize_raw_timestamps``) so engine and oracle see identical
    values whether the files carry NANOS or naive-µs timestamps. With
    ``rebalance=True``, a table whose file layout caps scan parallelism
    below the cluster's core count is rebalanced right after the read
    (``_rebalance_unsplittable`` — opt-in for queries whose downstream
    compute would otherwise serialize into the single scan task).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    _ensure_session_confs(spark)
    df = normalize_raw_timestamps(spark.read.parquet(path), path)
    return _rebalance_unsplittable(spark, df, path) if rebalance else df
