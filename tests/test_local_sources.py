"""Driver-held facts enter plans without a Spark job or a Python worker.

* ``load_table`` takes each table's schema from a cache keyed on the
  path, the file fingerprint and the type-changing session confs: a
  second read of unchanged files starts no Spark job, and a table
  rewritten in place is seen as it is now (schema, NANOS columns, scan
  units).
* ``local_rows`` turns driver-held rows into a ``LocalTableScan`` with
  the schema and rows the list path (``createDataFrame(<list>, schema)``,
  a PythonRDD) gives; no list-based ``createDataFrame`` is left in the
  package.
"""

from __future__ import annotations

import ast
import pathlib
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from big_data_streaming_spark.sources import load_table, local_rows

PKG = pathlib.Path(__file__).resolve().parents[1] / "big_data_streaming_spark"


def _jobs_of(spark, fn):
    """(result of fn(), Spark job ids it started)."""
    sc = spark.sparkContext
    group = f"local-sources-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "local sources job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _rebalanced(df) -> bool:
    return "Repartition" in df._jdf.queryExecution().analyzed().toString()


def test_load_table_sees_table_rewritten_in_place(spark, tmp_path):
    """A table rewritten at the same path (a column's type changed, a
    different TIMESTAMP(NANOS) set, more row groups) is read as it is
    now, not as the first read saw it."""
    n = 40_000
    ts = pa.array(range(n), type=pa.int64())
    pad = pa.array([(i * 2654435761) % (1 << 61) for i in range(n)], pa.int64())
    path = tmp_path / "t.parquet"
    pq.write_table(
        pa.table(
            {"a": ts.cast(pa.timestamp("ns")), "b": ts, "pad": pad}
        ),
        path,
        version="2.6",
        row_group_size=n,
    )
    first = load_table(spark, str(tmp_path), "t", rebalance=True)
    assert dict(first.dtypes) == {"a": "timestamp", "b": "bigint", "pad": "bigint"}
    assert _rebalanced(first)  # one row group > 256 KiB: rebalanced

    rgs = spark.sparkContext.defaultParallelism + 1
    pq.write_table(
        pa.table(
            {
                "a": ts,
                "b": ts.cast(pa.timestamp("ns")),
                "pad": pad.cast(pa.float64()),
            }
        ),
        path,
        version="2.6",
        row_group_size=(n + rgs - 1) // rgs,
    )
    again = load_table(spark, str(tmp_path), "t", rebalance=True)
    assert dict(again.dtypes) == {"a": "bigint", "b": "timestamp", "pad": "double"}
    assert not _rebalanced(again)  # enough row groups now
    # b's epoch-nanos are floored to µs: 1001 ns -> 1 µs
    assert again.where("a = 1001").selectExpr("unix_micros(b)").first()[0] == 1
    assert again.count() == n


def test_second_load_table_runs_no_spark_job(spark, sf_small):
    load_table(spark, sf_small, "documents")
    df, jobs = _jobs_of(spark, lambda: load_table(spark, sf_small, "documents"))
    assert df.columns
    assert jobs == [], f"second load_table started Spark jobs {jobs}"


def test_local_rows_plans_as_local_table_scan(spark):
    df = local_rows(spark, [(i, f"r{i}") for i in range(50)], "i bigint, s string")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan and "PythonRDD" not in plan, plan
    rows, jobs = _jobs_of(spark, df.collect)
    assert len(rows) == 50 and jobs == [], jobs


_EMPTY_TOPK = StructType(
    [
        StructField("window_start", TimestampType()),
        StructField("event_type", StringType()),
        StructField("total_value", DoubleType()),
        StructField("rk", LongType()),
    ]
)


def _longs(*names: str) -> StructType:
    return StructType([StructField(n, LongType()) for n in names])


# Every distinct schema a converted site passes, with rows of the kind
# the site builds (nulls where its values can be null).
SITE_SCHEMAS = [
    ("dlat long, dlon long", [(-1, 0), (1, 1)]),
    ("dx long, dy long", [(0, -1)]),
    ("pct int", [(50,), (99,)]),
    ("batch_key: bigint, event_type: string, ca: bigint", [(0, "click", 3), (1, None, None)]),
    ("batch_key: bigint, n_treat: bigint, n_control: bigint", [(0, 2, 5)]),
    ("batch_key: bigint, n: bigint, min_sec: bigint, max_sec: bigint", [(3, 10, 1, None)]),
    ("batch_key: bigint, n: bigint, qsum: bigint", [(1, 4, 1 << 40)]),
    ("h int", [(1,), (6,)]),
    ("batch_key bigint, event_type string, c bigint", [(2, "view", 7)]),
    ("k int", [(1,), (10,)]),
    ("pick_order int, doc_id bigint, gain bigint, covered_total bigint", [(1, 42, 9, 9)]),
    ("b int, r int", [(20, 5)]),
    ("d bigint", [(1,), (10,)]),
    ("dec int", [(1,), (10,)]),
    ("threshold double", [(-0.5,), (0.25,)]),
    ("w bigint", [(100,), (25000,)]),
    ("timeout_s long", [(60,), (1800,)]),
    ("lag bigint", [(0,), (3,)]),
    ("pid int, lo bigint, hi bigint", [(1, 0, 1), (3, 1, 2)]),
    ("n_arm bigint", [(1000,)]),
    ("p int", [(3,), (14,)]),
    ("extra int", [(0,), (1,)]),
    ("n int", [(1,), (14,)]),
    ("decile long", [(1,), (9,)]),
    ("band_name string, lo double, hi double", [("low", 0.0, 100.0)]),
    ("delay_s bigint", [(600,)]),
    ("fpr double, bits_per_key double, k_factor double", [(0.01, 9.58, 6.64)]),
    ("dx int, dy int", [(-1, 1)]),
    ("w string, freq bigint, sym string", [("ab", 3, " a b </w>"), ("", 1, " </w>")]),
    (
        "step int, left_sym string, right_sym string, merged string, pair_count bigint",
        [(1, "a", "b", "ab", 4)],
    ),
    ("ctx_len long", [(64,), (512,)]),
    ("dim: int, loading: double, lambda_est: double, n: bigint", [(1, -0.5, 2.0, 10)]),
    ("stride long", [(1,), (289,)]),
    (_longs("t", "day", "x", "level_q", "trend_q"), [(1, 9000, 5, 10, None)]),
    (_longs("t", "day", "x", "lq", "bq", "s1"), [(7, 9000, 5, 10, -3, 0)]),
    (_longs("day", "n_risk", "d_events", "c_censored", "s_q"), [(1, 10, 2, 0, 800)]),
    (_longs("step", "vec_id", "radius_q"), [(1, 5, None)]),
    (
        StructType(
            [
                StructField("channel", StringType()),
                StructField("p_base_q", LongType()),
                StructField("p_removed_q", LongType()),
            ]
        ),
        [("email", 12, 3)],
    ),
    (
        StructType(
            [StructField("event_type", StringType()), StructField("pi_fp", LongType())]
        ),
        [("click", 1 << 50)],
    ),
    (
        StructType(
            [
                StructField("field", StringType()),
                StructField("p_q", LongType()),
                StructField("m_q", LongType()),
                StructField("u_q", LongType()),
            ]
        ),
        [("name", 1, 2, 3)],
    ),
    (
        StructType(
            [
                StructField("node", LongType(), True),
                StructField("dist", IntegerType(), False),
            ]
        ),
        [(7, 0)],
    ),
    (_EMPTY_TOPK, []),
    ("w string, freq bigint, sym string", []),
]


@pytest.mark.parametrize(
    "schema,rows",
    SITE_SCHEMAS,
    ids=[
        f"{i}-{s if isinstance(s, str) else s.simpleString()}"
        for i, (s, _) in enumerate(SITE_SCHEMAS)
    ],
)
def test_local_rows_matches_list_path(spark, schema, rows):
    ref = spark.createDataFrame(rows, schema)
    got = local_rows(spark, rows, schema)
    assert got.schema == ref.schema
    assert [f.nullable for f in got.schema] == [f.nullable for f in ref.schema]
    assert got.collect() == ref.collect()


def test_no_list_based_create_dataframe_in_package():
    """Every ``createDataFrame`` in the package is ``local_rows``' Arrow
    table or the Avro fallback's real RDD; driver-held lists go through
    ``local_rows``."""
    allowed = {("sources/catalog.py", "table"), ("sources/avro_fallback.py", "rdd")}
    found = set()
    for py in PKG.rglob("*.py"):
        for node in ast.walk(ast.parse(py.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                first = node.args[0] if node.args else None
                arg = first.id if isinstance(first, ast.Name) else ast.dump(first)
                found.add((py.relative_to(PKG).as_posix(), arg))
    assert found <= allowed, sorted(found - allowed)
