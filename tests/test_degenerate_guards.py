"""Degenerate-input differential fixtures for the ADVICE r8 /0 guards.

The shared-text parity guarantee (one SQL string feeding both engines)
breaks at division-by-zero: non-ANSI Spark yields NULL for x/0 while
recent DuckDB yields inf/NaN for double division. The three round-8
finishes named by ADVICE r8 now carry NULLIF guards; these tests build
the EXACT degenerate inputs (single event_type, < 3 customers, two
equal-mean clusters) as tiny parquet tables and assert the Spark result
and the DuckDB oracle still agree row-for-row — the fixture coverage
the differential gate lacked.
"""

from __future__ import annotations

import pytest

duckdb = pytest.importorskip("duckdb")

from tests.oracle_harness import driver_rows  # noqa: E402


def _compare(spark, sf_dir: str, key: str) -> tuple[list, list]:
    import __spark_entry__ as e

    s = e.queries()[key](spark, sf_dir).toPandas()
    import os

    con = duckdb.connect()
    for name in ("events", "orders"):
        if os.path.exists(f"{sf_dir}/{name}.parquet"):
            con.execute(
                f"CREATE VIEW {name} AS SELECT * "
                f"FROM read_parquet('{sf_dir}/{name}.parquet')"
            )
    o = con.execute(e.oracle_sql()[key]).fetch_df()
    return driver_rows(s), driver_rows(o)


def _write(path: str, cols: dict) -> None:
    # pyarrow with us-precision naive timestamps — the same parquet
    # flavor as the driver's testdata (Spark's own writer emits INT96,
    # which pyarrow reports as timestamp[ns] and the loader would then
    # treat as a nanos-long column).
    import pyarrow as pa
    import pyarrow.parquet as pq

    arrays = {
        k: (
            pa.array(v, type=pa.timestamp("us"))
            if v and hasattr(v[0], "year")
            else pa.array(v)
        )
        for k, v in cols.items()
    }
    pq.write_table(pa.table(arrays), path)


def _write_events(spark, path: str, rows: list[tuple]) -> None:
    cols = list(zip(*rows))
    _write(
        f"{path}/events.parquet",
        {
            "event_id": list(cols[0]),
            "ts": list(cols[1]),
            "user_id": list(cols[2]),
            "event_type": list(cols[3]),
            "value": list(cols[4]),
            "props": list(cols[5]),
        },
    )


def _write_orders(spark, path: str, rows: list[tuple]) -> None:
    cols = list(zip(*rows))
    _write(
        f"{path}/orders.parquet",
        {
            "o_orderkey": list(cols[0]),
            "o_custkey": list(cols[1]),
            "o_orderstatus": list(cols[2]),
            "o_totalprice": list(cols[3]),
            "o_orderdate": list(cols[4]),
            "o_orderpriority": list(cols[5]),
        },
    )


def test_gk_lambda_single_event_type_yields_null_in_both(spark, tmp_path):
    """One event_type → n_events == max_marginal → denominator 0; the
    NULLIF makes both engines emit NULL instead of NULL-vs-inf."""
    import datetime as dt

    d = str(tmp_path)
    _write_events(
        spark,
        d,
        [
            (i, dt.datetime(2024, 1, 1 + i), 1, "click", 1.0, "{}")
            for i in range(5)
        ],
    )
    sv, ov = _compare(spark, d, "q_gk_lambda")
    assert sv == ov
    assert "None" in sv[0] or "nan" in sv[0].lower()  # guard engaged


def test_palma_ratio_two_customers_yields_null_in_both(spark, tmp_path):
    """n_customers = 2 → floor(0.4·2) = 0 → bottom_cents 0; NULLIF."""
    import datetime as dt

    d = str(tmp_path)
    _write_orders(
        spark,
        d,
        [
            (1, 10, "O", 100.0, dt.datetime(2024, 1, 1), "1-URGENT"),
            (2, 20, "O", 250.0, dt.datetime(2024, 1, 2), "1-URGENT"),
        ],
    )
    sv, ov = _compare(spark, d, "q_palma_ratio")
    assert sv == ov
    assert "None" in sv[0] or "nan" in sv[0].lower()


def test_davies_bouldin_equal_means_pair_skipped_in_both(spark, tmp_path):
    """Two clusters with identical means → gap 0 for every pair; the
    NULLIF turns each R_ij into NULL, MAX/SUM skip them identically, so
    both engines emit the same NULL db_index."""
    import datetime as dt

    d = str(tmp_path)
    _write_events(
        spark,
        d,
        [
            # event types a and b, same mean (2.0) but different spread
            (1, dt.datetime(2024, 1, 1), 1, "a", 1.0, "{}"),
            (2, dt.datetime(2024, 1, 2), 1, "a", 3.0, "{}"),
            (3, dt.datetime(2024, 1, 3), 2, "b", 2.0, "{}"),
            (4, dt.datetime(2024, 1, 4), 2, "b", 2.0, "{}"),
        ],
    )
    sv, ov = _compare(spark, d, "q_davies_bouldin")
    assert sv == ov


def test_all_three_still_green_on_real_fixture(spark, sf_small):
    """The guards must be invisible on non-degenerate data: re-run the
    standard sf0.001 differential for the three touched keys."""
    for key in ("q_gk_lambda", "q_palma_ratio", "q_davies_bouldin"):
        sv, ov = _compare(spark, sf_small, key)
        assert sv == ov, key
