#!/usr/bin/env python
"""Driver-faithful check: run registry keys on a PLAIN driver-style
session and compare each to its DuckDB oracle with the driver's own
comparison (``tests/oracle_harness.driver_match``: row count,
case-insensitive column set, order-insensitive stringified values —
deliberately not ``oracle_harness.compare``, which canonicalizes dtypes
and compares floats bit-for-bit). A key that is green here is expected
to be green in ``CORRECTNESS_r{N}.json`` whenever the driver's window
reaches it. Rows-only keys record their row count and an
order-insensitive row hash instead (for before/after identity).

Given keys, one JSON line per key; exit 1 if any is not green or
rows-only. Given no keys, every key runs and the sweep is written to
``PREFLIGHT_r{N}.json`` (N from $SPARK_GRAFT_ROUND, else "latest"),
stamped with the tree it imported; exit 0. Usage:

    python scripts/check_keys.py sf_dir             # every key
    python scripts/check_keys.py sf_dir q_a q_b ...
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from provenance import stamp  # noqa: E402
from tests.oracle_harness import driver_match, driver_rows, run_oracle  # noqa: E402

ROWS_ONLY = "rows-only-by-design"


def check(spark, name: str, sf_dir: str, qs: dict, oracles: dict) -> dict:
    """One key's record: ``status`` (green, MISMATCH, rows-only or
    ``ERROR <type>`` with ``err``) and ``rows``."""
    try:
        s = qs[name](spark, sf_dir).toPandas()
        if name not in oracles:
            h = hashlib.md5("\n".join(driver_rows(s)).encode()).hexdigest()[:16]
            return {"status": ROWS_ONLY, "rows": len(s), "row_hash": h}
        ok = driver_match(s, run_oracle(oracles[name], sf_dir))
        return {"status": "green" if ok else "MISMATCH", "rows": len(s)}
    except Exception as ex:  # noqa: BLE001 — record, keep checking
        return {"status": f"ERROR {type(ex).__name__}", "err": str(ex)[:2000]}


def bad(out: dict) -> list[str]:
    return sorted(k for k, v in out.items() if v["status"] not in ("green", ROWS_ONLY))


def sweep(spark, sf_dir: str, qs: dict, oracles: dict) -> dict:
    """Every key of ``qs``, stamped before the first one runs."""
    summary = {**stamp(), "sf_dir": sf_dir}
    t0 = time.time()
    out = {name: check(spark, name, sf_dir, qs, oracles) for name in qs}
    statuses = [v["status"] for v in out.values()]
    return {
        **summary,
        "n_keys": len(out),
        "green": statuses.count("green"),
        "rows_only": statuses.count(ROWS_ONLY),
        "bad": bad(out),
        "elapsed_s": round(time.time() - t0, 1),
        "keys": out,
    }


def main() -> None:
    sf_dir, keys = sys.argv[1], sys.argv[2:]
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        # One session runs all ~600 keys back-to-back; at sf0.1 the
        # default 1g driver heap accumulates enough session baggage
        # (pinned broadcasts awaiting the ContextCleaner, codegen
        # cache) that the widest array-verify task (q_containment) can
        # lose a task ~470 queries in (round 8, BENCH_NOTES.md).
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs, oracles = entry.queries(), entry.oracle_sql()

    if keys:
        out = {}
        for name in keys:
            out[name] = check(spark, name, sf_dir, qs, oracles)
            print(json.dumps({"key": name, **out[name]}), flush=True)
        sys.exit(1 if bad(out) else 0)

    summary = sweep(spark, sf_dir, qs, oracles)
    rnd = os.environ.get("SPARK_GRAFT_ROUND", "latest")
    tag = f"r{int(rnd):02d}" if rnd.isdigit() else rnd
    with open(os.path.join(REPO, f"PREFLIGHT_{tag}.json"), "w") as f:
        json.dump(summary, f, indent=1)
    print(json.dumps({k: v for k, v in summary.items() if k != "keys"}))


if __name__ == "__main__":
    main()
