"""Skew mitigation — salting for hot keys.

AQE's skew-join splitting (on in session.py) handles *join* skew at
runtime; aggregation skew on a hot grouping key (one coin being 90% of
volume is the normal case in market data — and one language 90% of a
crawl) still funnels one reducer. ``salted_agg`` runs the classic
two-stage plan:

  stage 1: groupBy(key, salt = hash(row) % buckets) — partial result per
           salt bucket, hot key spread over ``buckets`` reducers;
  stage 2: groupBy(key) over the ≤ buckets partials — tiny.

Only *algebraic* aggregates compose this way; the helper takes the
(partial, final) expression pair per output column. Sums of decimals
stay exact through both stages (associativity — workload/common.py).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_sum(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    alias: str,
    buckets: int = 16,
) -> DataFrame:
    """Two-stage decimal-exact salted SUM. Result is identical to a
    direct groupBy — including bit-identical doubles — but no reducer
    ever sees more than ~1/buckets of a hot key's rows."""
    v = F.col(value_col).cast("decimal(38,6)")
    salt = (F.xxhash64(*[F.col(k) for k in keys], F.monotonically_increasing_id()) % buckets).alias("_salt")
    partial = (
        df.select(*keys, v.alias("_v"), salt)
        .groupBy(*keys, "_salt")
        .agg(F.sum("_v").alias("_partial"))
    )
    return partial.groupBy(*keys).agg(F.sum("_partial").cast("double").alias(alias))


def salted_count(
    df: DataFrame, keys: Sequence[str], alias: str = "n", buckets: int = 16
) -> DataFrame:
    salt = (F.spark_partition_id() % buckets).alias("_salt")
    partial = (
        df.select(*keys, salt)
        .groupBy(*keys, "_salt")
        .agg(F.count(F.lit(1)).alias("_partial"))
    )
    return partial.groupBy(*keys).agg(F.sum("_partial").alias(alias))
