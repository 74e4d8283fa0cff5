"""The per-key measurement record (``big_data_streaming_spark.measure``)
and its one-home property."""

from __future__ import annotations

import ast
import pathlib

import pytest

from big_data_streaming_spark import measure
from big_data_streaming_spark.workload import QUERIES

REPO = pathlib.Path(__file__).resolve().parent.parent


def _eager_then_map(spark, sf_dir):
    spark.range(0, 10, 1, 2).collect()  # an eager construction job: 2 tasks
    return spark.range(0, 1000, 1, 4)  # the action: 4 tasks


def _shuffled(spark, sf_dir):
    # map stage of 4 tasks, then a result job that skips it (not counted)
    # and runs 3
    return spark.range(0, 1000, 1, 4).repartition(3)


def test_run_key_counts_construction_and_action_jobs(spark, monkeypatch):
    monkeypatch.setitem(QUERIES, "q_measure_eager", _eager_then_map)
    monkeypatch.setitem(QUERIES, "q_measure_shuffled", _shuffled)
    # Back-to-back runs: each record holds only its own jobs.
    for rec in measure.runs(spark, "q_measure_eager", "unused", 2):
        assert rec["wall_s"] == pytest.approx(rec["construct_s"] + rec["execute_s"])
        assert {k: rec[k] for k in ("jobs", "stages", "tasks")} == {
            "jobs": 2, "stages": 2, "tasks": 6,
        }
        assert rec["shuffle_write_bytes"] == 0
    rec = measure.run_key(spark, "q_measure_shuffled", "unused")
    assert {k: rec[k] for k in ("jobs", "stages", "tasks")} == {
        "jobs": 2, "stages": 2, "tasks": 7,
    }
    assert rec["shuffle_write_bytes"] > 0
    assert rec["shuffle_read_bytes"] == rec["shuffle_write_bytes"]


def test_only_measure_runs_keys_or_reads_the_status_store():
    """Among the package, ``bench.py`` and ``scripts/``, only
    ``measure.py`` runs the noop sink or reads ``statusStore()``."""
    import big_data_streaming_spark

    root = pathlib.Path(big_data_streaming_spark.__file__).parent
    paths = [*root.rglob("*.py"), REPO / "bench.py", *(REPO / "scripts").glob("*.py")]
    sites = set()
    for path in paths:
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call) or not isinstance(node.func, ast.Attribute):
                continue
            noop = node.func.attr == "format" and any(
                isinstance(a, ast.Constant) and a.value == "noop" for a in node.args
            )
            if noop or node.func.attr == "statusStore":
                sites.add(path.relative_to(REPO).as_posix())
    assert sites == {"big_data_streaming_spark/measure.py"}
