#!/usr/bin/env python
"""Quiet-box anchor (VERDICT r8 task 4) + noisy-streaming-tail re-read
(task 5).

Run at SESSION START, before any other JVM churn, so the numbers are the
best this box can do that day. Emits one JSON blob to stdout and persists
it to ``QUIET_BOX_ANCHOR.json`` at the repo root (merged per-round, keyed
by round number) so cross-round bench comparisons have a standing
absolute reference:

* ``probe``: ``measure.box_probe``, the very probe ``bench.py`` records
  as ``box_probe`` (same keys, best-of-3, scan rebalance off, 32 shuffle
  partitions), so ``BENCH_DETAIL_r{N}.json: box_probe.total_best_sec /
  anchor.probe_total_best_sec`` is the box factor at driver-bench time
  vs quiet time.
* ``anchor10``: best-of-3 of 10 FIXED headline keys (never change this
  list — the anchor is only useful if it measures the same work every
  round). Includes the keys that drifted >=1.9x in r8 on untouched code
  (q_twap, q_mannwhitney, q_realized_vol) so "box drift vs real
  regression" is one division per key.
* ``stream_tail``: 3 WARM runs each (first run discarded as warm-up) of
  the keys whose slow-tail membership changed between same-day r8 runs
  (q_stream_topk, q_dedup_components, q_stream_feed) — VERDICT r8 task 5.
"""

from __future__ import annotations

import json
import os
import sys
import time

# FIXED forever — see module docstring.
ANCHOR10 = (
    "q_flagship",
    "q_tpch_q7",
    "q_join_inner",
    "q_rollup",
    "q_dedup_exact",
    "q_text_quality",
    "q_sim_topk",
    "q_twap",
    "q_mannwhitney",
    "q_realized_vol",
)
# r11 (VERDICT r10 task 6): widened ADDITIVELY with the headline
# streaming keys whose jitter drove the r10 driver-raw +4%, so
# round-over-round streaming drift is measured on fixed keys warm-3.
STREAM_TAIL = (
    "q_stream_topk",
    "q_dedup_components",
    "q_stream_feed",
    "q_stream_dedup",
    "q_stream_sessionize",
    "q_stream_stream_left",
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from provenance import stamp
    from big_data_streaming_spark import measure
    from big_data_streaming_spark.session import get_spark

    spark = get_spark("bdss-quiet-box-anchor")
    spark.sparkContext.setLogLevel("ERROR")
    measure.warm_up(spark)

    probe = measure.box_probe(spark, sf_dir)
    anchor = {name: measure.best_wall_s(spark, name, sf_dir, 3) for name in ANCHOR10}
    # Streaming tail: 1 discarded warm-up + 3 recorded warm runs each.
    tail = {
        name: [round(r["wall_s"], 3) for r in measure.runs(spark, name, sf_dir, 4)[1:]]
        for name in STREAM_TAIL
    }

    blob = {
        "date": time.strftime("%Y-%m-%d %H:%M"),
        **stamp(),  # tree SHA + UTC (VERDICT r10 task 3)
        "round": os.environ.get("SPARK_GRAFT_ROUND"),
        "sf_dir": sf_dir,
        "probe": probe,
        "probe_total_best_sec": round(sum(probe.values()), 3),
        "anchor10": anchor,
        "anchor10_total_best_sec": round(sum(anchor.values()), 3),
        "stream_tail_warm3": tail,
    }
    print(json.dumps(blob, indent=1, sort_keys=True))
    path = os.path.join(repo, "QUIET_BOX_ANCHOR.json")
    try:
        hist = json.load(open(path))
    except (OSError, ValueError):
        hist = {"runs": []}
    hist["runs"].append(blob)
    with open(path, "w") as f:
        json.dump(hist, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    sys.exit(main())
