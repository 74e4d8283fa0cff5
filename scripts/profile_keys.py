#!/usr/bin/env python
"""Structural profiler: per query key, report the DETERMINISTIC cost
metrics host-load noise cannot touch — Spark job count, stage count,
task count, executor-summed run time, shuffle bytes read/written, input
bytes — plus wall clock for reference.

Wall-clock on a contended box swings 3-5x between runs; job/stage/task
counts and shuffle bytes are plan properties, stable across runs, and are
exactly what the 100 TB scaling argument rides on (guide §1/§2: fewer
passes, fewer shuffles, fewer bytes). Each key runs twice through
``big_data_streaming_spark.measure.run_key``: run 1 is cold (plan and
codegen compile), run 2 warm; the counts printed are run 2's, and the
final JSON line holds both records. With no key arguments every registry
key runs. Usage:

    python scripts/profile_keys.py                  # every key, sf0.1
    python scripts/profile_keys.py q_a q_b ...
    SPARK_GRAFT_SF_DIR=... python scripts/profile_keys.py q_a
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from big_data_streaming_spark import measure
    from big_data_streaming_spark.session import get_spark
    from big_data_streaming_spark.workload import QUERIES

    spark = get_spark("profile-keys")
    spark.sparkContext.setLogLevel("ERROR")
    measure.warm_up(spark)

    out = {}
    for name in sys.argv[1:] or QUERIES:
        cold, warm = measure.runs(spark, name, sf_dir, 2)
        out[name] = {"cold": cold, "warm": warm}
        print(
            f"{name:26s} cold={cold['wall_s']:7.3f} wall={warm['wall_s']:7.3f} "
            f"jobs={warm['jobs']:3d} stages={warm['stages']:3d} "
            f"tasks={warm['tasks']:5d} exec_ms={warm['executor_run_ms']:7d} "
            f"shR={warm['shuffle_read_bytes']/1e6:8.2f}MB "
            f"shW={warm['shuffle_write_bytes']/1e6:8.2f}MB "
            f"in={warm['input_bytes']/1e6:8.2f}MB",
            flush=True,
        )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
