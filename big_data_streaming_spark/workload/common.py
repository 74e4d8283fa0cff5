"""Shared helpers for oracle-exact arithmetic and table access.

Float summation is order-dependent, and Spark (partial + final hash agg
over shuffled partitions) will not sum doubles in DuckDB's order. To make
aggregate values *bit-identical* to the oracle we route every SUM/AVG of a
double through DECIMAL(38,6): decimal addition is exact and associative, so
any summation order yields the same result, and the final DECIMAL→DOUBLE
cast is deterministic (round-to-nearest) in both engines. The per-row
DOUBLE→DECIMAL cast rounds at 1e-6, identically on both sides for any
value not sitting exactly on a .5e-6 knife edge (never observed in the
driver testdata; verified at sf=0.01 by tests/test_oracle_queries.py).

At 100 TB this is also the *correct* money policy (SURVEY.md §4.3.7):
exact decimal accumulation instead of drifting double partial sums.

Decimal-scale rule (measured, round 2): keep the decimal SCALE <= 15.
The final DECIMAL→DOUBLE cast is correctly rounded in Spark (BigDecimal),
but DuckDB converts unscaled-int → double → ÷10^scale; that is correctly
rounded only while 10^scale is itself binary-exact, i.e. scale <= 15
(10^15 < 2^53). DECIMAL(38,18) routings came back one ulp apart between
the engines (q_token_gini, q_embed_quantize before the fix); (38,6) and
(38,12) are safe. When even 1e-12 granularity is too coarse, restate the
measure in the exact-integer domain instead (see q_token_gini's
1 - Σc²/t² form).

Second rule (measured on embeddings): the DOUBLE→DECIMAL direction also
diverges — Spark rounds via BigDecimal HALF_UP, DuckDB via a scaled
multiply, and *arbitrary-mantissa* inputs (float32 upcasts) land on the
knife edge where they disagree. Money-like doubles (few decimal digits)
never hit it, which is why the relational suite holds. For raw sensor /
embedding floats, quantize explicitly instead: floor(x*10^k + 0.5) is
the same IEEE sequence on both engines and makes every sum an exact
integer (see q_embed_dimstats).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_streaming_spark.sources.catalog import load_table

DEC = "decimal(38,6)"

Query = Callable[[SparkSession, str], DataFrame]


def registry() -> tuple[dict[str, Query], dict[str, str], Callable]:
    """One workload module's ``(QUERIES, ORACLES, _q)``: two fresh dicts and
    the ``@_q(name, oracle=None)`` decorator that fills them. Registering a
    name twice raises instead of silently replacing the first query."""
    queries: dict[str, Query] = {}
    oracles: dict[str, str] = {}

    def q(name: str, oracle: str | None = None) -> Callable[[Query], Query]:
        if name in queries:
            raise ValueError(f"query {name!r} registered twice")

        def deco(fn: Query) -> Query:
            queries[name] = fn
            if oracle is not None:
                oracles[name] = oracle
            return fn

        return deco

    return queries, oracles, q


def dec_sum(col: Column | str, alias: str) -> Column:
    """Order-insensitive exact sum of a double column, returned as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double").alias(alias)


def dec_avg(col: Column | str, alias: str) -> Column:
    """avg = exact-decimal sum cast to double, divided by count (both
    deterministic), so the double division is bit-identical to the oracle's
    ``CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) / COUNT(x)``."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(c.cast(DEC)).cast("double") / F.count(c)).alias(alias)


def oracle_dec_sum(expr: str, alias: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(38,6))) AS DOUBLE) AS {alias}"


def oracle_dec_avg(expr: str, alias: str) -> str:
    return (
        f"CAST(SUM(CAST({expr} AS DECIMAL(38,6))) AS DOUBLE)"
        f" / COUNT({expr}) AS {alias}"
    )


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def tr(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``t`` with the scale-adaptive scan-parallelism floor (round 11,
    guide §2.5): opt-in for queries whose heavy per-row compute (array
    kernels, Arrow/Python batches, wide decimal aggregation) would
    otherwise fuse into a single scan task when the table's file layout
    (e.g. one row group) caps scan parallelism. No-op whenever the scan
    already has ≥ defaultParallelism row groups — i.e. always at
    production scale."""
    return load_table(spark, sf_dir, name, rebalance=True)


def ohlc_oracle(with_volume: bool) -> str:
    """Shared OHLC selection oracle (batch q_ohlc_bars / streaming
    q_stream_ohlc): deterministic first/last row per (event_type, hour)
    via row_number over (ts, event_id). One text, two consumers — the
    stream/batch equivalence contract is stated once, so a tie-break fix
    cannot silently decouple the twins."""
    volume = (
        f"           {oracle_dec_sum('value', 'volume')},\n" if with_volume else ""
    )
    return f"""
    WITH r AS (
        SELECT event_type, date_trunc('hour', ts) AS bar_hour, value,
               ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                  ORDER BY ts, event_id) AS rn_a,
               ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM events
    )
    SELECT event_type, bar_hour,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open_px,
           MAX(value) AS high_px,
           MIN(value) AS low_px,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS close_px,
{volume}           COUNT(*) AS n_trades
    FROM r
    GROUP BY event_type, bar_hour
    """
