"""Table maintenance — the operational half of a 100 TB curated layer.

Streaming file sinks produce one file per (partition, micro-batch); after
a day of 60-second triggers a partition holds ~1440 small files and scan
planning + open() overhead dominate reads. ``compact_partition`` rewrites
a partition to target-sized files; ``overwrite_partitions_dynamic`` is the
idempotent-rewrite primitive (exactly-once semantics for batch re-runs:
re-processing a day replaces that day, touching nothing else).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def compact_partition(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Rewrite one parquet partition directory into ~target-sized files.

    Returns the file count written. Uses a size-derived coalesce — no
    shuffle, just fewer output tasks; safe to run while readers are
    active only on storage with atomic directory swap (object stores:
    write-new + repoint; local/HDFS: overwrite is transactional enough
    for tests).

    Crash safety: the swap is rename-aside (old → ``_old``, compacted →
    live, delete ``_old``) so every intermediate state keeps at least one
    complete copy of the data — a crash mid-swap never loses the
    partition. Hive-style partition subdirectories (``key=value``) are
    detected and preserved on the rewrite instead of being inlined as
    plain data columns."""
    import glob
    import os
    import re
    import shutil

    current = sum(
        os.path.getsize(f)
        for f in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(f)
    )
    n_files = max(1, round(current / target_file_bytes))

    # Hive-layout detection: one partition key per directory level.
    part_keys: list[str] = []
    probe = path
    while True:
        subdirs = [
            d
            for d in glob.glob(os.path.join(probe, "*"))
            if os.path.isdir(d) and re.match(r"^[^=]+=.+$", os.path.basename(d))
        ]
        if not subdirs:
            break
        part_keys.append(os.path.basename(subdirs[0]).split("=", 1)[0])
        probe = subdirs[0]

    df = spark.read.parquet(path)
    writer = df.coalesce(n_files).write.format("parquet").mode("overwrite")
    if part_keys:
        writer = writer.partitionBy(*part_keys)
    writer.save(path + "_compacted")

    old = path + "_old"
    if os.path.exists(old):
        shutil.rmtree(old)
    os.rename(path, old)
    try:
        os.rename(path + "_compacted", path)
    except BaseException:
        os.rename(old, path)  # roll back: the original is still complete
        raise
    shutil.rmtree(old)
    return n_files


def overwrite_partitions_dynamic(
    df: DataFrame,
    path: str,
    partition_keys: tuple[str, ...],
) -> None:
    """Idempotent parquet partition rewrite: only the partitions present
    in ``df`` are replaced (dynamic partition overwrite), the rest of the
    table is untouched. This is the batch-side exactly-once story: a
    re-run of a failed day/coin slice converges to the same state."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            df.write.format("parquet")
            .mode("overwrite")
            .partitionBy(*partition_keys)
            .save(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def table_digest(
    df: DataFrame,
    canon_cols: list[str],
    *,
    mod: int = 1_000_000_007,
) -> DataFrame:
    """Order-insensitive content digest of a DataFrame — the primitive a
    migration/copy validator runs on both sides of a transfer.

    ``canon_cols`` are SQL expression strings producing the canonical
    STRING form of each column (doubles via ``CAST(x AS DECIMAL(38,6))``
    then string, timestamps/dates via their cast-to-string forms — all
    verified byte-identical between Spark and DuckDB; see
    workload/advanced.py:q_table_checksum, whose oracle mirrors this
    construction). NULLs map to an explicit ``chr(1) || 'NULL'``
    sentinel. Returns one row: (n_rows, checksum_sum, checksum_xor)
    where checksum_sum is a modular sum (terms < mod, bigint-safe to
    ~9e9 rows at the default) and checksum_xor a width-free XOR of a
    48-bit md5 prefix. Both digests are order- and partitioning-
    insensitive by construction; one scan + 1-row map-side-combinable
    reduce. Sensitivity (cell flip, row drop) and invariance pinned in
    tests/test_determinism.py.
    """
    from pyspark.sql import functions as F

    canon = ", ".join(f"coalesce({c}, chr(1) || 'NULL')" for c in canon_cols)
    hv = (
        f"CAST(conv(substr(md5(concat_ws('|', {canon})), 1, 12), 16, 10)"
        f" AS BIGINT)"
    )
    return df.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.expr(f"{hv} % {mod}")).cast("bigint").alias("checksum_sum"),
        F.expr(f"bit_xor({hv})").cast("bigint").alias("checksum_xor"),
    )
