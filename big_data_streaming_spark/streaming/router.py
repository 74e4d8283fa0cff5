"""Per-key sink routing — single-pass replacement for the reference's
O(keys) sequential job loop.

The reference routes each micro-batch to db-per-coin / table-per-interval
by looping: ``distinct().collect()`` then per-pair ``filter`` + JDBC write
— up to 21 rescans of the same batch (reference
spark/streaming-longtime.py:119-144; SURVEY.md §4.3.2). Here:

* File sinks: one ``partitionBy(*keys)`` parquet write — a single job;
  the file committer fans rows into ``key=value/`` directories. At 100 TB
  this is also the *layout* win: downstream reads get partition pruning.
* Per-key sinks (JDBC database-per-key, the Avro fallback's key dirs):
  ``foreach_batch_router`` persists the batch once (:func:`persisted`,
  SURVEY.md §4.3.1), then issues the per-key writes off the cached data
  — K writes, ONE scan.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


@contextmanager
def persisted(batch: DataFrame) -> Iterator[DataFrame]:
    """Cache ``batch`` for the duration of a callback that runs more than
    one action on it, so the source is scanned once, not once per action."""
    batch.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        yield batch
    finally:
        batch.unpersist()


def route_partitioned(
    df: DataFrame,
    out_dir: str,
    keys: Sequence[str],
    mode: str = "overwrite",
    salt_files_per_key: int = 1,
) -> None:
    """A20 for file sinks: one partitioned parquet write, no per-key jobs.

    Rows are pre-shuffled by the routing keys so each partition directory
    gets ~1 file instead of one per upstream task (32 tasks × K keys
    small files otherwise — the small-file problem at its source).

    Skew guard: ``repartition(keys)`` alone gives ONE writer task per key,
    so a hot key (one coin = most of the tape) becomes a straggler that
    serializes the whole write. ``salt_files_per_key > 1`` adds a
    deterministic salt (hash of the full row, mod N) to the shuffle keys —
    the hot key fans out over N writer tasks (≤N files per directory)
    while the directory layout is unchanged."""
    shuffle_cols = [F.col(k) for k in keys]
    if salt_files_per_key > 1:
        salt = F.pmod(
            F.xxhash64(*[F.col(c) for c in df.columns]),
            F.lit(salt_files_per_key),
        )
        shuffle_cols.append(salt)
    df = df.repartition(*shuffle_cols)
    df.write.mode(mode).partitionBy(*keys).parquet(out_dir)


def foreach_batch_router(
    keys: Sequence[str],
    write_partition: Callable[[DataFrame, tuple, int], None],
) -> Callable[[DataFrame, int], None]:
    """Build a ``foreachBatch`` function that routes to per-key sinks with
    exactly one scan of the batch.

    ``write_partition(slice_df, key_tuple, batch_id)`` is invoked once per
    distinct key combination present in the batch (e.g. open a JDBC
    connection to the per-coin database — reference A18/A21 semantics),
    in key order; a NULL key is routed like any other, last. The batch is
    persisted first, so the distinct scan and every per-key slice hit
    cached blocks, not the source.
    """

    def route(batch: DataFrame, batch_id: int) -> None:
        with persisted(batch):
            present = [
                tuple(r) for r in batch.select(*keys).distinct().collect()
            ]
            for key_tuple in sorted(
                present, key=lambda t: [(v is None, v) for v in t]
            ):
                cond = F.lit(True)
                for k, v in zip(keys, key_tuple):
                    cond = cond & F.col(k).eqNullSafe(F.lit(v))
                write_partition(batch.filter(cond), key_tuple, batch_id)

    return route
