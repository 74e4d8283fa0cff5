"""Per-query wall-clock at a given SF — regression visibility beyond the
15-query bench headline (VERDICT round 1, next-round #9).

Usage: python scripts/time_queries.py [sf_dir] [n_runs]
Prints one line per query (best-of-n seconds) and a sorted summary. The
session is the package's ``get_spark`` one (``SPARK_GRAFT_CPUS`` sets its
core count and, from that, its shuffle partitions).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_runs = int(sys.argv[2]) if len(sys.argv) > 2 else 2

    import __spark_entry__ as entry
    from big_data_streaming_spark.session import get_spark

    spark = get_spark("time-queries")
    spark.sparkContext.setLogLevel("ERROR")

    qs = entry.queries()
    # warm the streaming engine once so q_stream_* timings are plan cost,
    # not first-query classloading (BENCH_NOTES round 1)
    for warm in ("q_stream_window_tumbling",):
        if warm in qs:
            qs[warm](spark, sf_dir).count()

    timings: dict[str, float] = {}
    for name, fn in qs.items():
        best = float("inf")
        for _ in range(n_runs):
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
        print(f"{name}\t{timings[name]}", flush=True)

    print(json.dumps({"sf_dir": sf_dir, "total_sec": round(sum(timings.values()), 2),
                      "slowest": sorted(timings.items(), key=lambda kv: -kv[1])[:10]}))


if __name__ == "__main__":
    main()
