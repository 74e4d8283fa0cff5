"""``scripts/check_keys.py``: the driver-faithful sweep stamps its
provenance before the first key runs and records each key's outcome."""

from __future__ import annotations

import importlib.util
import pathlib

REPO = pathlib.Path(__file__).resolve().parent.parent
SF = "/root/testdata/sf0.001"


def _load_script():
    spec = importlib.util.spec_from_file_location(
        "check_keys", REPO / "scripts" / "check_keys.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_sweep_stamps_before_the_first_key(spark, monkeypatch):
    check_keys = _load_script()
    calls = []

    def stamp():
        calls.append("stamp")
        return {"tree_sha": "abc", "tree_dirty": False, "generated_utc": "t"}

    def q_green(spark, sf_dir):
        calls.append("q_green")
        return spark.range(2)

    def q_rows(spark, sf_dir):
        calls.append("q_rows")
        return spark.range(3)

    def q_error(spark, sf_dir):
        raise ValueError("boom")

    monkeypatch.setattr(check_keys, "stamp", stamp)
    qs = {"q_green": q_green, "q_rows": q_rows, "q_error": q_error}
    oracles = {
        "q_green": "SELECT * FROM range(2) t(id)",
        "q_error": "SELECT 1 AS id",
    }
    summary = check_keys.sweep(spark, SF, qs, oracles)
    assert calls == ["stamp", "q_green", "q_rows"]
    assert summary["tree_dirty"] is False
    assert summary["n_keys"] == 3
    assert summary["green"] == 1
    assert summary["rows_only"] == 1
    assert summary["bad"] == ["q_error"]
    assert summary["keys"]["q_rows"]["rows"] == 3
    assert summary["keys"]["q_error"]["status"] == "ERROR ValueError"
