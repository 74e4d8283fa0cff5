"""MERGE-style upsert for a plain-parquet curated layer.

The reference's incremental loop (reference ``spark/longtime-row.py``
timestamps.json polling) only ever appends; a real curated layer also
needs UPDATE semantics — late corrections, dimension changes, compacted
CDC streams. Table formats (Delta/Iceberg) ship MERGE; on plain parquet
the equivalent is a key-matched rewrite, and the 100 TB version of that
is *partition-scoped*: only the partitions the updates touch are read,
merged, and dynamically overwritten — the other 99.9% of the table is
never opened.

Two paths:

* ``partition_keys`` given → updates' distinct partition values select
  the affected slices (partition pruning on the read, dynamic overwrite
  on the write — building on
  ``operators.maintenance.overwrite_partitions_dynamic``). Requires keys
  to be partition-stable (a key never changes its partition value —
  the standard Hive-MERGE constraint); otherwise use the full path.
* no ``partition_keys`` → full-snapshot merge written with the same
  crash-safe aside-swap as ``compact_partition`` (every intermediate
  state keeps one complete copy).

Update precedence: with ``order_col`` the highest value per key wins
(ties broken by the remaining columns for determinism); without it the
updates must be key-unique — verified with one cheap probe action, and
violations raise instead of silently picking an arbitrary row.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from big_data_streaming_spark.operators.maintenance import (
    overwrite_partitions_dynamic,
)


def _dedupe_updates(
    updates: DataFrame, keys: Sequence[str], order_col: str | None
) -> DataFrame:
    if order_col is None:
        dup = (
            updates.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                f"updates contain multiple rows for key {tuple(dup[0][k] for k in keys)}; "
                "pass order_col to define last-wins precedence"
            )
        return updates
    tie_break = [c for c in updates.columns if c not in keys and c != order_col]
    w = Window.partitionBy(*keys).orderBy(
        F.col(order_col).desc(), *[F.col(c).desc() for c in tie_break]
    )
    return (
        updates.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: Sequence[str],
    partition_keys: Sequence[str] = (),
    order_col: str | None = None,
) -> None:
    """Upsert ``updates`` into the dataset at ``target_path`` by ``keys``.

    Matched keys are replaced by their update row, unmatched keys are
    inserted, all other target rows are preserved. See module docstring
    for the partition-scoped vs full-snapshot trade."""
    keys = list(keys)
    updates = _dedupe_updates(updates, keys, order_col)

    if not os.path.exists(target_path):
        # first load: nothing to merge
        writer = updates.write.format("parquet").mode("overwrite")
        if partition_keys:
            writer = writer.partitionBy(*partition_keys)
        writer.save(target_path)
        return

    target = spark.read.parquet(target_path)
    # align column order to the target so unions and rewrites are stable
    updates = updates.select(*target.columns)

    if partition_keys:
        affected = updates.select(*partition_keys).distinct()
        scoped = target.join(F.broadcast(affected), list(partition_keys), "semi")
        merged = updates.unionByName(
            scoped.join(updates.select(*keys), keys, "anti")
        )
        overwrite_partitions_dynamic(merged, target_path, tuple(partition_keys))
        return

    merged = updates.unionByName(target.join(updates.select(*keys), keys, "anti"))
    staged = target_path + "_merged"
    merged.write.format("parquet").mode("overwrite").save(staged)

    old = target_path + "_old"
    if os.path.exists(old):
        shutil.rmtree(old)
    os.rename(target_path, old)
    try:
        os.rename(staged, target_path)
    except BaseException:
        os.rename(old, target_path)  # roll back: original still complete
        raise
    shutil.rmtree(old)
