"""Local replica of the driver's correctness gate: run a workload query in
Spark and its oracle SQL in DuckDB over the same parquet tables; compare
row count, column names, and values order-insensitively.

Comparison policy: exact. Dtypes are canonicalized (timestamp precision,
int widths); float values must match bit-for-bit — the workload is
engineered for that (decimal-exact sums, fixed-order folds; see
big_data_streaming_spark/workload/common.py). A per-query absolute
tolerance exists for documented exceptions but defaults to zero.
"""

from __future__ import annotations

import math
import os
from typing import Any

import duckdb
import pandas as pd

from big_data_streaming_spark.schemas import TESTDATA_TABLES

# Queries allowed a tiny float tolerance, with the reason documented here.
# (empty: everything currently matches exactly at sf0.001 and sf0.01)
FLOAT_ATOL: dict[str, float] = {}


def run_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        for t in TESTDATA_TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
        return con.execute(sql).fetch_df()
    finally:
        con.close()


def driver_rows(pdf: pd.DataFrame) -> list[str]:
    """The grading driver's view of a result: each row stringified with
    its columns in case-insensitive name order, then sorted. The
    lower-cased order keeps two results whose column names differ only
    in case aligned."""
    cols = sorted(pdf.columns, key=str.lower)
    return sorted(map(str, pdf[cols].astype(str).values.tolist()))


def driver_match(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> bool:
    """The driver's comparison: row count, case-insensitive column-name
    set and order-insensitive stringified values."""
    return (
        len(spark_pdf) == len(oracle_pdf)
        and sorted(c.lower() for c in spark_pdf.columns)
        == sorted(c.lower() for c in oracle_pdf.columns)
        and driver_rows(spark_pdf) == driver_rows(oracle_pdf)
    )


def _canon_cell(v: Any, atol: float) -> Any:
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if atol > 0:
            return round(v / atol) if v == v else v
        return v
    if isinstance(v, pd.Timestamp):
        return v.floor("us").to_datetime64()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(_canon_cell(x, atol) for x in v)
    if type(v).__module__ == "numpy":  # numpy scalar → python scalar
        return _canon_cell(v.item(), atol)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v)
    return v


def canonicalize(df: pd.DataFrame, atol: float = 0.0) -> list[tuple]:
    cols = sorted(df.columns)
    out = df[cols].copy()
    for c in cols:
        if pd.api.types.is_datetime64_any_dtype(out[c]):
            out[c] = out[c].astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(out[c]):
            out[c] = out[c].astype("int64")
        elif pd.api.types.is_bool_dtype(out[c]):
            out[c] = out[c].astype("bool")
    # Driver-strict form: the driver hashes STRINGIFIED cell values, so a
    # numerically-equal-but-differently-typed pair (DuckDB HUGEINT → pandas
    # float "290.0" vs Spark bigint "290") must FAIL here too. Python `==`
    # says 290.0 == 290; str() does not — compare the stringified tuples
    # (VERDICT.md r3 "What's wrong" #2). Stringifying floats uses repr
    # (shortest round-trip), so bit-exact doubles still compare equal.
    rows = [
        tuple(str(_canon_cell(v, atol)) for v in row)
        for row in out.itertuples(index=False, name=None)
    ]
    return sorted(rows)


def compare(name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> None:
    assert sorted(spark_pdf.columns) == sorted(oracle_pdf.columns), (
        f"{name}: column mismatch spark={sorted(spark_pdf.columns)} "
        f"oracle={sorted(oracle_pdf.columns)}"
    )
    assert len(spark_pdf) == len(oracle_pdf), (
        f"{name}: row count spark={len(spark_pdf)} oracle={len(oracle_pdf)}"
    )
    atol = FLOAT_ATOL.get(name, 0.0)
    s_rows = canonicalize(spark_pdf, atol)
    o_rows = canonicalize(oracle_pdf, atol)
    if s_rows != o_rows:
        diffs = [
            (i, s, o) for i, (s, o) in enumerate(zip(s_rows, o_rows)) if s != o
        ][:5]
        raise AssertionError(f"{name}: value mismatch; first diffs: {diffs}")
