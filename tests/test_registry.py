"""Registry mechanics: the shared ``_q`` decorator and the check-window
order computed from ``CORRECTNESS_r<N>.json`` reports."""

from __future__ import annotations

import json

import pytest

from big_data_streaming_spark.workload import check_order
from big_data_streaming_spark.workload.common import registry


def _report(report_dir, name, rows):
    """Write a correctness report; ``rows`` maps key → (hash_match, err)."""
    (report_dir / name).write_text(
        json.dumps({k: {"hash_match": h, "err": e} for k, (h, e) in rows.items()})
    )


def test_registry_rejects_a_name_registered_twice():
    queries, oracles, _q = registry()

    @_q("q_x", "SELECT 1")
    def first(spark, sf_dir):
        return None

    with pytest.raises(ValueError, match="q_x"):

        @_q("q_x")
        def second(spark, sf_dir):
            return None

    assert queries == {"q_x": first}
    assert oracles == {"q_x": "SELECT 1"}
    # every module gets its own dicts
    assert registry()[0] is not queries


def test_check_order_without_reports_is_module_order(tmp_path):
    names = ["q_c", "q_a", "q_b"]
    assert check_order(names, set(names), tmp_path) == names
    # rows-only keys still go last
    assert check_order(names, {"q_c", "q_b"}, tmp_path) == ["q_c", "q_b", "q_a"]


def test_check_order_ranks_by_last_green_round(tmp_path):
    green, red, err = (True, None), (False, None), (True, "Timeout")
    _report(
        tmp_path,
        "CORRECTNESS_r01.json",
        {"green3": green, "green10": green, "red": green, "rows": green},
    )
    # numeric, not lexicographic, round order: r10 is read after r9
    _report(tmp_path, "CORRECTNESS_r9.json", {"green10": red, "red": green})
    _report(
        tmp_path,
        "CORRECTNESS_r10.json",
        {"green10": green, "red": red, "errored": err},
    )
    _report(tmp_path, "CORRECTNESS_r03.json", {"green3": green})
    # not a round report: ignored
    _report(tmp_path, "CORRECTNESS_r11_open.json", {"new2": green, "red": green})
    names = ["green10", "rows", "new1", "green3", "red", "errored", "new2"]
    oracles = set(names) - {"rows"}
    assert check_order(names, oracles, tmp_path) == [
        # never checked, or latest row red (hash mismatch or error): module order
        "new1",
        "red",
        "errored",
        "new2",
        # least recently green next
        "green3",
        "green10",
        # rows-only last
        "rows",
    ]
