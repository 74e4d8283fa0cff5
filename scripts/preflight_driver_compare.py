#!/usr/bin/env python
"""Driver-faithful preflight: run EVERY oracled registry key through the
same comparison the grading driver applies (row count, case-insensitive
column-name set, order-insensitive stringified-value hash) at sf0.01,
and write PREFLIGHT_r{N}.json (N from $SPARK_GRAFT_ROUND, else
"latest").

The compare is tests/oracle_harness.driver_match, deliberately NOT
tests/oracle_harness.compare (which canonicalizes dtypes and compares
floats bit-for-bit — stricter in some ways): it replicates the DRIVER's
stringified hash, so a key that is
green here is expected to be green in CORRECTNESS_r{N}.json whenever
the rotation window reaches it. The committed artifact gives every
never-driver-checked key a per-key, re-runnable preflight status.

Usage: python scripts/preflight_driver_compare.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import duckdb

    from pyspark.sql import SparkSession

    import __spark_entry__ as entry
    from tests.oracle_harness import driver_match

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        # One session runs all ~600 keys back-to-back; at sf0.1 the
        # default 1g driver heap accumulates enough session baggage
        # (pinned broadcasts awaiting the ContextCleaner, codegen
        # cache) that the widest array-verify task (q_containment) can
        # lose a task ~470 queries in. The artifact should measure the
        # queries, not the harness heap (round 8, BENCH_NOTES.md).
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs, oracles = entry.queries(), entry.oracle_sql()

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in (
        "events lineitem orders customer nation region part supplier "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM"
            f" read_parquet('{sf_dir}/{t}.parquet')"
        )

    out: dict[str, dict] = {}
    t0 = time.time()
    for name in qs:
        if name not in oracles:
            out[name] = {"status": "rows-only-by-design"}
            continue
        try:
            s = qs[name](spark, sf_dir).toPandas()
            ok = driver_match(s, con.execute(oracles[name]).fetch_df())
            out[name] = {
                "status": "green" if ok else "MISMATCH",
                "rows": len(s),
            }
        except Exception as ex:  # pragma: no cover - diagnostic path
            out[name] = {
                "status": f"ERROR {type(ex).__name__}",
                "err": str(ex)[:2000],
            }

    rnd = os.environ.get("SPARK_GRAFT_ROUND", "latest")
    try:
        tag = f"r{int(rnd):02d}"
    except ValueError:
        tag = rnd
    path = os.path.join(REPO, f"PREFLIGHT_{tag}.json")
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from provenance import stamp

    summary = {
        **stamp(),  # tree SHA + UTC at generation (VERDICT r10 task 3)
        "sf_dir": sf_dir,
        "n_keys": len(out),
        "green": sum(1 for v in out.values() if v["status"] == "green"),
        "rows_only": sum(
            1 for v in out.values() if v["status"] == "rows-only-by-design"
        ),
        "bad": sorted(
            k for k, v in out.items()
            if v["status"] not in ("green", "rows-only-by-design")
        ),
        "elapsed_s": round(time.time() - t0, 1),
        "keys": out,
    }
    with open(path, "w") as f:
        json.dump(summary, f, indent=1, sort_keys=False)
    print(
        json.dumps(
            {k: v for k, v in summary.items() if k != "keys"}, indent=None
        )
    )


if __name__ == "__main__":
    main()
