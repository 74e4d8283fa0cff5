"""Batch sources: parquet-backed table catalog over a scale-factor directory,
and driver-held rows as local relations.

Reads are ``spark.read.schema(<cached>).parquet`` so Catalyst's vectorized
parquet reader, predicate pushdown, and column pruning all apply; a
``queries()`` callable that selects 2 columns through this loader
produces a scan whose ``ReadSchema`` contains exactly those 2 columns. The
schema is Spark's own inference, run once per file fingerprint and
session type confs (``table_facts``): the first read of a table starts one
schema-inference job, later reads of the unchanged files start none, and
a table rewritten in place is inferred again. At 100 TB the same call
reads a partitioned table (e.g. ``coin/interval/year/month`` layout, the
partition keys the reference derives but never uses — reference
spark/streaming-shorttime.py:60-61) and gets partition pruning for free.

Small tables the driver computes (parameter grids, collected results)
enter plans through ``local_rows`` as a ``LocalTableScan``: no Spark job
and no Python worker, like a table whose schema is declared up front.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Sequence
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType, TimestampNTZType


def _ensure_session_confs(spark: SparkSession) -> None:
    """The caller may hand us a session built elsewhere (the correctness
    driver constructs its own); the two confs the engine's semantics depend
    on are runtime-settable, so pin them here idempotently:
    * nanosAsLong — Spark 4 otherwise refuses TIMESTAMP(NANOS) parquet;
    * UTC session timezone — epoch↔timestamp conversions must agree with
      the (timezone-naive) DuckDB oracle."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


# Confs that change the types Spark infers from a parquet footer; a
# cached schema is valid only under the values it was inferred with.
_TYPE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)


class TableFacts(NamedTuple):
    schema: StructType  # Spark's own inferred schema
    nanos: tuple[str, ...]  # columns stored as TIMESTAMP(NANOS)
    scan_units: tuple[int, int]  # (total bytes, total row groups)


# (path, type confs) -> (file fingerprint, facts); one entry per path and
# conf setting, replaced whenever the files under the path change.
_FACTS: dict[tuple[str, tuple], tuple[tuple, TableFacts]] = {}


def _parquet_files(path: str) -> list[str]:
    if not os.path.isdir(path):
        return [path]
    # Recursive walk (ADVICE r11): hive-partitioned layouts nest part
    # files under key=value subdirs.
    return sorted(
        os.path.join(root, f)
        for root, _dirs, names in os.walk(path)
        for f in names
        if f.endswith(".parquet")
    )


def file_fingerprint(path: str) -> tuple[tuple[str, int, int], ...]:
    """``(file, size, mtime_ns)`` of every parquet file under ``path``,
    the rule ``staging.fingerprint_cached_dir`` uses: it changes when a
    file is rewritten in place, added or removed, and reading it starts
    no Spark job."""
    return tuple(
        (f, st.st_size, st.st_mtime_ns)
        for f in _parquet_files(path)
        for st in [os.stat(f)]
    )


def table_facts(spark: SparkSession, path: str) -> TableFacts:
    """What a read of the parquet file or directory ``path`` needs to know
    before it runs, inferred once per file fingerprint.

    The cache key is the path, its ``file_fingerprint`` and the session's
    ``_TYPE_CONFS``. On first sight Spark infers the schema
    (one Spark job) and the footers give the NANOS columns and the scan
    units; a later call on unchanged files under the same confs starts no
    job and reads no footer, and a file rewritten in place, added or
    removed is inferred again. Call after ``_ensure_session_confs``."""
    fingerprint = file_fingerprint(path)
    files = [f for f, _size, _mtime in fingerprint]
    key = (path, tuple(spark.conf.get(c, None) for c in _TYPE_CONFS))
    hit = _FACTS.get(key)
    if hit is not None and hit[0] == fingerprint:
        return hit[1]
    import pyarrow.parquet as pq

    facts = TableFacts(
        schema=spark.read.parquet(path).schema,
        nanos=tuple(
            f.name
            for f in (pq.read_schema(files[0]) if files else ())
            if str(f.type) == "timestamp[ns]"
        ),
        scan_units=(
            sum(size for _f, size, _mtime in fingerprint),
            sum(pq.read_metadata(f).num_row_groups for f in files),
        ),
    )
    _FACTS[key] = (fingerprint, facts)
    return facts


def _nanos_columns(spark: SparkSession, path: str) -> tuple[str, ...]:
    """Columns stored as parquet TIMESTAMP(NANOS). Spark's TimestampType is
    µs, and 4.x refuses NANOS columns unless
    ``spark.sql.legacy.parquet.nanosAsLong`` is on (pinned by
    ``_ensure_session_confs``) — in which case they arrive as epoch-nanos
    longs. Read from the first file's footer and cached per file
    fingerprint (``table_facts``)."""
    return table_facts(spark, path).nanos


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
    for c in _nanos_columns(df.sparkSession, path):
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    for field in df.schema.fields:
        if isinstance(field.dataType, TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def _scan_units(spark: SparkSession, path: str) -> tuple[int, int]:
    """(total_bytes, total_row_groups) for a parquet file or directory.

    A parquet scan can parallelize at most one task per ROW GROUP — byte
    splits below row-group granularity produce empty tasks — so the row-
    group total, not the byte count, is the table's effective scan
    parallelism ceiling. Summed over every parquet file under the path
    and cached per file fingerprint (``table_facts``), so a table
    rewritten in place with more row groups is counted again."""
    return table_facts(spark, path).scan_units


# Floor below which an unsplittable table is left single-task: the added
# round-robin exchange costs more than it buys on dim-sized relations
# (region/nation/supplier/part), which downstream joins broadcast anyway.
_REBALANCE_MIN_BYTES = 256 * 1024


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
    loss across a 100-key bench. Alternating without/with pairs on 4
    cores keep the per-key opt-in: on the same 1 MB ``lineitem`` one
    key halves its wall time and another gains nothing, so a rule on
    the table alone cannot pick the keys (BENCH_NOTES.md, "Probe
    normalization retired")."""
    total_bytes, total_rgs = _scan_units(spark, path)
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
    df = read_parquet(spark, path)
    return _rebalance_unsplittable(spark, df, path) if rebalance else df


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Batch read of a parquet file or directory with the session confs
    pinned, the schema from ``table_facts`` (no inference job once the
    files have been seen) and raw timestamps normalized."""
    _ensure_session_confs(spark)
    df = spark.read.schema(table_facts(spark, path).schema).parquet(path)
    return normalize_raw_timestamps(df, path)


def local_rows(
    spark: SparkSession, rows: Iterable[Sequence], schema: str | StructType
) -> DataFrame:
    """``rows`` (tuples in ``schema``'s field order) as a DataFrame that
    plans as a JVM ``LocalTableScan``.

    ``spark.createDataFrame(<list>, schema)`` makes a PythonRDD
    (``parallelize``, then a re-serializing ``map``), so every execution
    of the frame runs one Python-worker task per ``defaultParallelism``
    slice — even for a 4-row grid, and each such task pays the worker's
    per-task set-up. Here the rows become an Arrow table typed from the
    Spark schema, which ``createDataFrame`` ships to the JVM once as a
    ``LocalRelation``: no Spark job, no Python task. Schema (names, types,
    nullability) and values equal the list path's, empty input included."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, struct)
