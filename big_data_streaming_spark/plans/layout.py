"""Physical data layout helpers — partitioning and bucketing policy.

At 100 TB layout *is* the optimizer: a fact table bucketed on its join key
turns every fact-fact join into a zero-shuffle zip of co-located buckets,
and a curated layer partitioned by (coin, interval, year, month) — the
keys the reference derives but never uses (reference
spark/streaming-shorttime.py:60-61, streaming-longtime.py:124-125) — gives
partition pruning on exactly the predicates the reference's queries filter
by (A9, A10).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int = 64,
    sort_col: str | None = None,
) -> None:
    """Bucketed parquet catalog table: joins/aggregations on ``bucket_col`` between
    tables bucketed the same way need NO shuffle (Catalyst sees the
    hash-distribution requirement already satisfied). ``num_buckets``
    should divide evenly into cluster cores; 64 suits local[32] tests,
    clusters want O(cores)."""
    writer = df.write.format("parquet").bucketBy(num_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.mode("overwrite").saveAsTable(table)


def write_with_bloom_filters(
    df: DataFrame,
    path: str,
    bloom_cols: Sequence[str],
    ndv: int = 100_000,
) -> None:
    """Parquet column-level bloom filters for point-lookup pruning.

    At 100 TB, min/max row-group statistics prune range predicates but do
    nothing for high-cardinality equality lookups on *unsorted* columns
    (every row group spans the full id domain). A per-column bloom filter
    lets the reader skip row groups that definitely lack the key — the
    cheap secondary-index tier between "full scan" and "Z-order rewrite"
    (zorder.py), and composable with it for the non-leading keys.
    ``ndv`` sizes the filter (bits ~ ndv * ~10 for ~1% fpp); set it to the
    expected distinct count PER ROW GROUP, not per table.

    Caveat (measured): parquet-mr silently OMITS the bloom filter for a
    column chunk that stays fully dictionary-encoded — the dictionary
    already serves as an exact membership index there. Opting in a
    low-cardinality column is therefore a harmless no-op; the filters
    appear exactly where they help (high-cardinality chunks that fell
    back to plain encoding).
    """
    writer = df.write.mode("overwrite")
    for c in bloom_cols:
        writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
        writer = writer.option(f"parquet.bloom.filter.expected.ndv#{c}", str(ndv))
    writer.parquet(path)


def bloom_filter_offsets(spark: SparkSession, file_path: str) -> dict[str, int]:
    """Read back parquet footer bloom-filter offsets via parquet-mr (the
    JVM is already there; pyarrow 16 does not expose them). Returns
    {column: offset} for row-group 0; offset >= 0 means a filter exists."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path(file_path)
    input_file = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        hpath, conf
    )
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(input_file)
    try:
        out: dict[str, int] = {}
        blocks = reader.getFooter().getBlocks()
        if blocks.size() == 0:  # zero-row file: no row groups, no filters
            return out
        block = blocks.get(0)
        for i in range(block.getColumns().size()):
            col = block.getColumns().get(i)
            name = ".".join(
                col.getPath().toArray()[j]
                for j in range(len(col.getPath().toArray()))
            )
            out[name] = col.getBloomFilterOffset()
        return out
    finally:
        reader.close()
