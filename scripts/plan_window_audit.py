#!/usr/bin/env python
"""Registry-wide EXECUTED-PLAN window audit (the round-7 sweep, kept
runnable): compile every registered query at sf0.001 and report any
whose physical plan contains an unpartitioned WindowExec, with the
count. The static lint (tests/test_window_lint.py) covers Python-API
`Window` sites; THIS audit also catches windows that arrive via
spark.sql-executed shared SQL text — the blind spot that hid fact-sized
windows in q_auc and q_ks_drift until round 7.

Interpreting the output: a count of 1 on a plans/rank.py user is the
helper's O(ranges) offsets pass; counts on day-series/contingency/
O(sources) relations are bounded by design (see the `bounded:`
declarations and tests/test_plans.py pins). Anything NEW in this list
deserves a look at WHAT relation the window runs over.

Usage: python scripts/plan_window_audit.py  (~10 min, local[8])
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    from pyspark.sql import SparkSession

    from big_data_streaming_spark.plans.explain import (
        unpartitioned_window_count,
    )
    from big_data_streaming_spark.workload import QUERIES

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from big_data_streaming_spark.plans.explain import formatted_plan

    hits: dict[str, object] = {}
    carts: dict[str, object] = {}
    for name, fn in QUERIES.items():
        try:
            df = fn(spark, "/root/testdata/sf0.001")
            c = unpartitioned_window_count(df)
            if c:
                hits[name] = c
            x = formatted_plan(df).count("CartesianProduct")
            if x:
                carts[name] = x
        except Exception as ex:  # pragma: no cover - diagnostic path
            hits[name] = f"ERR {type(ex).__name__}"
    print(f"{len(hits)} queries with unpartitioned WindowExec:")
    for k, v in sorted(hits.items()):
        print(f"  {k}: {v}")
    print(f"{len(carts)} queries with CartesianProduct:")
    for k, v in sorted(carts.items()):
        print(f"  {k}: {v}")
    print(
        "# round-7 baseline: the only CartesianProducts are bounded by"
        " design — q_return_rates (O(brands) integer rank grid) and"
        " q_isotonic (10-bucket interval lattice)."
    )


if __name__ == "__main__":
    main()
