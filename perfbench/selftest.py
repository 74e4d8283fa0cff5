"""Fast self-test of the benchmark itself (a few minutes on 4 cores).

    python3 perfbench/selftest.py

Runs each batch workload at sf0.001 and a seven-second ``kline_live``, and
asserts that every metric BENCHMARK.json names is emitted with its unit,
that HEAD's outputs pass the check, and that the check catches a
deliberately wrong batch result and a wrong kline tally.
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter

import run

SF_SMALL = os.path.join(run.HERE, "testdata", "sf0.001")


def expect_metrics(result: dict, spec: list[dict], label: str) -> None:
    got = result["metrics"]
    for m in spec:
        assert m["name"] in got, f"{label}: metric {m['name']} missing"
        assert got[m["name"]]["unit"] == m["unit"], f"{label}: {m['name']} unit {got[m['name']]['unit']}"
        assert isinstance(got[m["name"]]["value"], float), f"{label}: {m['name']} not a number"
    assert result["correct"] and result["failed"] == 0, f"{label}: HEAD failed its own check: {result}"
    assert result["attempted"] >= 1


def check_catches_wrong_results() -> None:
    from pyspark.sql import functions as F

    from big_data_streaming_spark.workload import QUERIES

    r = run.Run("kline_live", seed=3, seconds=1, trace=False, sf_dir=SF_SMALL)
    try:
        r.setup()
        good = QUERIES["q_tpch_q6"](r.spark, SF_SMALL)
        col = good.columns[0]
        r.check_batch({"q_tpch_q6": good})
        assert not r.failures, r.failures
        r.check_batch({"q_tpch_q6": good.withColumn(col, F.col(col) + 1)})
        assert len(r.failures) == 1, "a wrong q_tpch_q6 value passed the oracle check"

        # The last (in-JVM) set-up's warm-up routed the first WARM_FILES files.
        payloads, counts, volumes = r.staged
        want_n, want_v = Counter(), Counter()
        for line in b"".join(payloads[: run.WARM_FILES]).splitlines():
            row = json.loads(line)
            key = (row["coin"], row["interval"])
            want_n[key] += 1
            want_v[key] += row["volume"]
        out = os.path.join(r.work, "warm", "out")
        r.failures.clear()
        r.check_kline(out, want_n, want_v)
        assert not r.failures, r.failures
        key = next(iter(want_n))
        want_n[key] += 1
        r.check_kline(out, want_n, want_v)
        assert len(r.failures) == 1, "a wrong kline tally passed the output check"
    finally:
        r.close()


def main() -> int:
    run.prepare_environment(os.path.join(run.ROOT, ".perfbench_work"))
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e, layers = bench["end_to_end"], bench["per_layer"]

    check_catches_wrong_results()
    print("selftest: output check catches wrong results", flush=True)
    for workload in ("relational", "llm_ops"):
        res = run.Run(workload, seed=1, seconds=1, trace=False, sf_dir=SF_SMALL).execute()
        expect_metrics(res, e2e, workload)
        print(f"selftest: {workload} end-to-end metrics ok", flush=True)
    res = run.Run("llm_ops", seed=1, seconds=1, trace=True, sf_dir=SF_SMALL).execute()
    expect_metrics(res, layers, "llm_ops traced")
    assert res["metrics"]["functions.py_rows"]["value"] > 0, "no Python-eval rows traced"
    res = run.Run("kline_live", seed=1, seconds=7, trace=True).execute()
    expect_metrics(res, layers, "kline_live traced")
    assert res["metrics"]["streaming.batches"]["value"] > 0, "no micro-batch traced"
    assert res["metrics"]["local1.rows_per_s"]["value"] > 0, "no local[1] baseline"
    print("selftest: traced per-layer metrics ok", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
