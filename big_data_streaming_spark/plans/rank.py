"""Distributed global ordering — ``row_number()/ntile()/SUM() OVER
(ORDER BY ...)`` without the single-partition collapse.

An unpartitioned window moves EVERY row to one task (Spark's own
``WindowExec`` warns "Moving all data to a single partition"); over a
corpus-sized relation at 100 TB that plan is not slow, it is impossible.
This module factors the shape proven oracle-bit-identical by
``q_train_order`` (workload/pipeline.py) into reusable helpers:

1. range-partition the input on the order key (contiguous key ranges per
   partition — ``repartitionByRange``, or a caller-supplied arithmetic
   range id when the key is uniform and the exchange can be saved),
2. rank / run the cumulative aggregate within each range in parallel
   (a PARTITIONED window),
3. combine with per-range offsets (an O(ranges) aggregate, broadcast
   back): rank adds the count of earlier ranges, a cumulative sum adds
   their sum, a cumulative max takes ``greatest`` with their max.

The result depends only on the TOTAL order of ``order_cols`` — not on
where Spark's sampled range boundaries land — so it is bit-identical
run-to-run and equal to the oracle's global window PROVIDED
``order_cols`` is a total order (include a unique tiebreaker; every
caller in this repo orders by a key suffix like ``doc_id``/``event_id``).
Ties never straddle ranges: range partitioning splits on key values, so
equal keys land in one range.

CONSISTENCY-CRITICAL (round-6 finding): with sampled boundaries the
offsets branch and the output branch both consume the ranked relation;
without materialization they are two independent lineage evaluations,
and column pruning gives them different child plans, defeating exchange
reuse — each range exchange then SAMPLES ITS OWN BOUNDARIES
(``RangePartitioner`` seeds by RDD id), so the branches can disagree on
range assignment (observed at sf0.01: 132 duplicate ranks). The sampled
path therefore persists the ranked relation — which also halves the
fact scans; a cache-evicted partition recomputes against the
already-fixed shuffle boundaries, so recovery stays consistent. The
arithmetic ``range_id`` path derives the range from VALUES and needs
none of this.

The only unpartitioned window left in any caller's plan is the offsets
pass over the O(ranges) size relation — aggregate-sized by construction
(``tests/test_plans.py`` pins the counts; ``tests/test_window_lint.py``
enforces the discipline source-wide).

Reference parity: the reference engine has no distributed ranker — its
per-batch frames are single-node (streaming-shorttime.py) — this is the
scale path a 100 TB corpus needs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: Default number of contiguous key ranges. The parallelism dial:
#: thousands at 100 TB (each range then holds ~1/ranges of the data);
#: 8 keeps the offset relation readable in test plans.
DEFAULT_RANGES = 8

#: Every relation a query pins, pending release. This module owns the
#: cache lifetime of the whole package (a lint in
#: tests/test_cache_lifetime.py keeps every other persist call out of
#: it): a pin lives for ONE query. It must outlive the query's action,
#: which the pinning code cannot see, so handles accumulate here and
#: ``release_persisted()`` frees them BETWEEN queries: the workload
#: registry wrapper calls it before constructing the next query,
#: ``measure.run_key`` and the test fixtures after each materialize. A
#: pin kept past its query would pile up over a long session and, worse,
#: be swapped by Spark's CacheManager into the next identical plan: a
#: warm run would read the previous run's rows, even after the source
#: files were rewritten. Batch-scoped caching in ``foreachBatch``
#: callbacks is ``streaming.router.persisted``'s.
_PERSISTED: list[DataFrame] = []


def track_persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` for the current query and register the handle for
    ``release_persisted``.

    For query plans whose lineage fans out (a relation consumed by
    several branches, each of which would re-evaluate the same
    sort/aggregate chain): persist once and share the evaluation within
    the query; the sampled ranker's consistency pin is one such use."""
    handle = df.persist()
    _PERSISTED.append(handle)
    return handle


def release_persisted() -> None:
    """Unpersist every relation pinned so far.

    Call ONLY between queries — after one query's output materialized
    and before the next is constructed. Releasing a handle whose action
    has not run yet would drop the consistency pin and re-open the
    independent-boundary-sampling hazard the persist exists to close.
    """
    while _PERSISTED:
        df = _PERSISTED.pop()
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped — nothing to free


def _cols(order_cols: list[str | Column]) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in order_cols]


def global_order(
    df: DataFrame,
    order_cols: list[str | Column],
    *,
    rank_col: str | None = None,
    total_col: str | None = None,
    cum_sums: dict[str, str] | None = None,
    cum_maxes: dict[str, str] | None = None,
    cum_maxes_excl: dict[str, str] | None = None,
    sum_totals: dict[str, str] | None = None,
    num_ranges: int = DEFAULT_RANGES,
    range_id: Column | None = None,
) -> DataFrame:
    """Append global-order window columns computed distributedly.

    * ``rank_col``: global ``row_number() OVER (ORDER BY order_cols)``.
    * ``total_col``: total row count (from the per-range sizes — never
      an unpartitioned count window).
    * ``cum_sums``: ``{out_col: src_col}`` — inclusive running
      ``SUM(src_col)`` in global order.
    * ``cum_maxes``: ``{out_col: src_col}`` — inclusive running
      ``MAX(src_col)`` in global order.
    * ``cum_maxes_excl``: ``{out_col: src_col}`` — running
      ``MAX(src_col)`` over STRICTLY PRECEDING rows (NULL for the
      global first row), the ``ROWS BETWEEN UNBOUNDED PRECEDING AND 1
      PRECEDING`` frame.
    * ``sum_totals``: ``{out_col: src_col}`` — the overall
      ``SUM(src_col)`` (from the per-range partials — never an
      unpartitioned sum window over the input).
    * ``range_id``: monotone map of the order key to ``[0, num_ranges)``
      (arithmetic split — saves the sampling exchange AND the persist).

    ``order_cols`` entries may be column names or Column expressions
    (e.g. ``F.desc("freq")``) — they are passed identically to
    ``repartitionByRange`` and the per-range window, so descending
    orders range-partition correctly.
    """
    cum_sums = cum_sums or {}
    cum_maxes = cum_maxes or {}
    cum_maxes_excl = cum_maxes_excl or {}
    sum_totals = sum_totals or {}
    cols = _cols(order_cols)
    sampled = range_id is None
    if sampled:
        ranged = df.repartitionByRange(num_ranges, *cols).withColumn(
            "_rng", F.spark_partition_id()
        )
    else:
        ranged = df.withColumn("_rng", range_id.cast("int"))
    w = Window.partitionBy("_rng").orderBy(*cols)
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = ranged.withColumn("_intra", F.row_number().over(w))
    for out, src in cum_sums.items():
        ranked = ranked.withColumn(f"_run_{out}", F.sum(src).over(wrun))
    for out, src in cum_maxes.items():
        ranked = ranked.withColumn(f"_run_{out}", F.max(src).over(wrun))
    for out, src in cum_maxes_excl.items():
        ranked = ranked.withColumn(
            f"_run_{out}",
            F.max(src).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        )
    if sampled:
        # see module docstring: pin ONE evaluation of the sampled range
        # assignment for both the offsets branch and the output branch
        ranked = track_persist(ranked)
    sizes = ranked.groupBy("_rng").agg(
        F.max("_intra").alias("_n"),
        *[F.sum(src).alias(f"_t_{out}") for out, src in cum_sums.items()],
        *[F.max(src).alias(f"_t_{out}") for out, src in cum_maxes.items()],
        *[
            F.max(src).alias(f"_t_{out}")
            for out, src in cum_maxes_excl.items()
        ],
        *[F.sum(src).alias(f"_st_{out}") for out, src in sum_totals.items()],
    )
    # bounded: the offsets pass windows the O(num_ranges) size relation —
    # the one intentionally-unpartitioned window in this shape. All
    # expressions share one (empty-partition, _rng-ordered) Window node.
    wprev = Window.orderBy("_rng").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.orderBy("_rng").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    off_exprs = [F.coalesce(F.sum("_n").over(wprev), F.lit(0)).alias("_offset")]
    if total_col:
        off_exprs.append(F.sum("_n").over(wall).alias("_total"))
    for out in cum_sums:
        off_exprs.append(
            F.coalesce(F.sum(f"_t_{out}").over(wprev), F.lit(0)).alias(
                f"_off_{out}"
            )
        )
    for out in list(cum_maxes) + list(cum_maxes_excl):
        off_exprs.append(F.max(f"_t_{out}").over(wprev).alias(f"_off_{out}"))
    for out in sum_totals:
        off_exprs.append(F.sum(f"_st_{out}").over(wall).alias(f"_tot_{out}"))
    offsets = sizes.select("_rng", *off_exprs)
    out_df = ranked.join(F.broadcast(offsets), "_rng")
    drop = ["_rng", "_intra"]
    if rank_col:
        out_df = out_df.withColumn(
            rank_col, (F.col("_offset") + F.col("_intra")).cast("bigint")
        )
    drop.append("_offset")
    if total_col:
        out_df = out_df.withColumn(total_col, F.col("_total").cast("bigint"))
        drop.append("_total")
    for out in cum_sums:
        out_df = out_df.withColumn(
            out, F.col(f"_off_{out}") + F.col(f"_run_{out}")
        )
        drop += [f"_off_{out}", f"_run_{out}"]
    for out in list(cum_maxes) + list(cum_maxes_excl):
        # null-safe greatest: both NULL -> NULL (global first row of an
        # exclusive frame), one NULL -> the other
        out_df = out_df.withColumn(
            out,
            F.greatest(
                F.coalesce(F.col(f"_run_{out}"), F.col(f"_off_{out}")),
                F.coalesce(F.col(f"_off_{out}"), F.col(f"_run_{out}")),
            ),
        )
        drop += [f"_off_{out}", f"_run_{out}"]
    for out in sum_totals:
        out_df = out_df.withColumn(out, F.col(f"_tot_{out}"))
        drop.append(f"_tot_{out}")
    return out_df.drop(*drop)


def global_rank(
    df: DataFrame,
    order_cols: list[str | Column],
    *,
    rank_col: str = "gpos",
    total_col: str | None = None,
    num_ranges: int = DEFAULT_RANGES,
    range_id: Column | None = None,
) -> DataFrame:
    """Append ``rank_col`` = global row_number() over ``order_cols``."""
    return global_order(
        df,
        order_cols,
        rank_col=rank_col,
        total_col=total_col,
        num_ranges=num_ranges,
        range_id=range_id,
    )


def global_ntile(
    df: DataFrame,
    order_cols: list[str | Column],
    n_buckets: int,
    *,
    bucket_col: str = "bucket",
) -> DataFrame:
    """Append ``bucket_col`` = ``ntile(n_buckets) OVER (ORDER BY ...)``
    computed from the distributed global rank via ntile's exact
    arithmetic: with n rows and k buckets, q = n div k and r = n mod k,
    the first r buckets hold q+1 rows — so bucket(g) is
    ``(g-1) div (q+1) + 1`` inside the first ``r*(q+1)`` rows and
    ``r + (g - r*(q+1) - 1) div q + 1`` after. Bit-identical to SQL
    ntile for any total order (asserted in tests/test_rank.py)."""
    ranked = global_order(df, order_cols, rank_col="_gr", total_col="_tot")
    k = int(n_buckets)
    bucket = F.expr(
        f"""CASE
            WHEN (_tot % {k}) * ((_tot DIV {k}) + 1) >= _gr
            THEN (_gr - 1) DIV ((_tot DIV {k}) + 1) + 1
            ELSE (_tot % {k})
                 + (_gr - (_tot % {k}) * ((_tot DIV {k}) + 1) - 1)
                   DIV (_tot DIV {k}) + 1
        END"""
    )
    return ranked.withColumn(bucket_col, bucket.cast("int")).drop(
        "_gr", "_tot"
    )
