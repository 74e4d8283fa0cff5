"""Oracle-differential tests — the local replica of the driver's t2 gate.

Every query key with an oracle runs at sf0.001 (fast path, every CI run);
set BDSS_ORACLE_SF=/root/testdata/sf0.01 to re-run at the driver's scale.
"""

from __future__ import annotations

import os

import pytest

from big_data_streaming_spark.workload import ORACLES, QUERIES
from tests.oracle_harness import compare, run_oracle

SF_DIR = os.environ.get("BDSS_ORACLE_SF", "/root/testdata/sf0.001")


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_match(spark, name):
    sdf = QUERIES[name](spark, SF_DIR)
    spark_pdf = sdf.toPandas()
    oracle_pdf = run_oracle(ORACLES[name], SF_DIR)
    compare(name, spark_pdf, oracle_pdf)
    # Vacuity guard (VERDICT.md r4 "What's wrong" #2): two engines
    # agreeing on an EMPTY result proves nothing about the query's
    # arithmetic — a value bug in any computed column is invisible
    # forever. Every oracled query must produce rows at the gate scale.
    assert len(oracle_pdf) >= 1, f"{name}: oracle returned 0 rows at {SF_DIR}"


def _vacuity_sweep(sf_dir: str) -> list[str]:
    import duckdb

    from big_data_streaming_spark.schemas import TESTDATA_TABLES

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        for t in TESTDATA_TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return [
            name
            for name in sorted(ORACLES)
            if con.execute(
                f"SELECT COUNT(*) FROM ({ORACLES[name]})"
            ).fetchone()[0]
            == 0
        ]
    finally:
        con.close()


def test_oracle_results_non_empty():
    """Registry-wide vacuity lint (VERDICT.md r4 task 3): every oracled
    query must return >=1 row, swept DuckDB-side only so all 450+
    oracles are covered in seconds regardless of which keys the Spark
    gate runs. Caught on introduction: q_dead_stock, q_tpch_q7,
    q_tpch_q22, q_frame_sample, q_source_overlap — all green-but-empty
    before their round-5 redefinitions."""
    empty = _vacuity_sweep(SF_DIR)
    assert not empty, f"vacuous oracled queries (0 rows at {SF_DIR}): {empty}"


@pytest.mark.skipif(
    not os.environ.get("BDSS_VACUITY_ALL"),
    reason="three-scale vacuity sweep is a per-round check "
    "(~1 min at sf0.1) — set BDSS_VACUITY_ALL=1",
)
@pytest.mark.parametrize(
    "sf_dir", ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
)
def test_oracle_results_non_empty_all_scales(sf_dir):
    """Round-7 hardening: a query can be non-empty at the gate scale
    and EMPTY at 10x — two engines agreeing on zero rows verifies
    nothing (caught live: q_tpch_q11's fixed value fraction and
    q_containment's fixed rare-token band both went 0-row at sf0.1
    while green at sf0.001/0.01). Sweep every scale each round."""
    empty = _vacuity_sweep(sf_dir)
    assert not empty, f"vacuous oracled queries (0 rows at {sf_dir}): {empty}"


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_runs(spark, name):
    """Rows-only queries must at least execute and return a stable schema."""
    sdf = QUERIES[name](spark, SF_DIR)
    rows = sdf.collect()
    assert sdf.columns, name
    assert rows is not None


def test_oracle_outputs_are_scalar_only(spark):
    """The driver's pandas canonicalizer crashes on array/map/struct
    cells (round-1 CORRECTNESS: q_scalar_array et al.) — the local
    harness tuple-izes them and would not notice. Enforce at the schema
    level: every ORACLE-bearing query returns scalar columns only.
    Schema resolution does not execute the query, so this sweep is
    cheap enough to run on every query."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    offenders = []
    for name in sorted(ORACLES):
        schema = QUERIES[name](spark, SF_DIR).schema
        for f in schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType, StructType)):
                offenders.append((name, f.name, f.dataType.simpleString()))
    assert not offenders, offenders


def test_oracle_output_types_hashable():
    """DuckDB-side twin of the scalar-only sweep (VERDICT.md r3 #2):
    DESCRIBE every oracle and reject output column types whose pandas
    rendering diverges from Spark's under the driver's stringified-value
    hash. HUGEINT reaches pandas as float64 ("290.0" vs Spark's "290" —
    the q_agg_boolean r3 red row); LIST/STRUCT/MAP crash or tuple-ize
    the canonicalizer. DESCRIBE plans without executing, so the sweep
    covers all oracles cheaply."""
    import duckdb

    from big_data_streaming_spark.schemas import TESTDATA_TABLES

    banned = ("HUGEINT", "UHUGEINT", "STRUCT", "MAP")
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        for t in TESTDATA_TABLES:
            path = os.path.join("/root/testdata/sf0.001", f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        offenders = []
        for name in sorted(ORACLES):
            for row in con.execute(f"DESCRIBE {ORACLES[name]}").fetchall():
                col, typ = row[0], row[1]
                u = typ.upper()
                if u.endswith("[]") or any(b in u for b in banned):
                    offenders.append((name, col, typ))
        assert not offenders, offenders
    finally:
        con.close()


def test_registry_contract_window():
    """Driver-contract guardrails: the check window (first 50 registry
    entries) must stay populated with resolvable queries, mostly
    oracle-bearing (rows-only keys waste a check slot unless they are
    the only form, and the window carried exactly 3 such keys when this
    pin was set); the registry must never silently shrink."""
    names = list(QUERIES)
    assert len(names) >= 193, len(names)
    window = names[:50]
    rows_only = [n for n in window if n not in ORACLES]
    assert len(rows_only) <= 3, rows_only
    # every oracle key resolves to a query (the package asserts this at
    # import; re-assert here so a refactor that drops the import-time
    # check still fails loudly)
    assert not (set(ORACLES) - set(QUERIES))
    # The window leads with the oracle keys no report has confirmed:
    # no row in any committed CORRECTNESS_r<N>.json, or a red latest row.
    import json
    import re

    from pathlib import Path

    from big_data_streaming_spark.workload import _MODULES

    latest_green: dict[str, bool] = {}
    reports = [
        (int(m[1]), p)
        for p in Path(__file__).resolve().parents[1].iterdir()
        if (m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name))
    ]
    for _, path in sorted(reports):
        for name, row in json.loads(path.read_text()).items():
            latest_green[name] = row["hash_match"] is True and row["err"] is None
    unconfirmed = [
        n
        for m in _MODULES
        for n in m.QUERIES
        if n in ORACLES and not latest_green.get(n, False)
    ]
    assert window[: len(unconfirmed)] == unconfirmed[:50]


def test_coverage_totals_match_registry():
    """COVERAGE.md's headline totals must track the actual registry —
    stale counts in the judged inventory are worse than no counts."""
    import re

    from pathlib import Path

    text = (Path(__file__).resolve().parents[1] / "COVERAGE.md").read_text()
    m = re.search(r"\*\*Totals \(round \d+\):\*\* (\d+) `queries\(\)` entries — (\d+) with full DuckDB", text)
    assert m, "totals sentence missing/reshaped"
    assert int(m.group(1)) == len(QUERIES), (m.group(1), len(QUERIES))
    assert int(m.group(2)) == len(ORACLES), (m.group(2), len(ORACLES))
