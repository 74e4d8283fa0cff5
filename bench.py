#!/usr/bin/env python
"""Benchmark harness (driver contract): time the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and print TWO JSON lines (the round-3 single line overflowed the
driver's ~2 kB tail capture):

1. full per-query detail (also persisted to BENCH_DETAIL.json):
    {"metric": "...", "value": N, "unit": "sec", "queries": {ALL}, "sf": ...}
2. a compact (<500 char) headline line LAST, carrying the steady-state
   total (`value`, best-of-2 per query), the cold total (`value_cold`,
   first run per query — includes per-query plan/codegen compile, the
   number a fresh driver session pays), n_queries, and only the 8
   slowest queries.

Consumers that hold both lines must prefer the LARGER queries map
(scripts/compare_bench.py does).

Each query is executed to FULL materialization via the noop sink
(df.write.format("noop") computes every output column; a count() would
let Catalyst prune projections on map-only queries and under-measure
them — BENCH_NOTES round 2). A warm-up pass on sf0.001 triggers
JVM/codegen warm-up so timings measure the plan, not classloading.
"""

from __future__ import annotations

import json
import os
import sys
import time

HEADLINE = (
    "q_flagship",
    "q_stream_window_tumbling",
    "q_window_sliding",
    "q_window_session",
    "q_groupby_agg",
    "q_join_broadcast",
    "q_join_inner",
    "q_rollup",
    "q_topk",
    "q_dedup_near",
    "q_sim_topk",
    "q_route_by_key",
    # round-2 additions (totals are NOT comparable to BENCH_r01's 15-query
    # set — compare per-query timings instead; see BENCH_NOTES.md)
    "q_lm_novelty",
    "q_pack_sequences",
    "q_join_bucketed",
    "q_tpch_q5",
    "q_dedup_semantic",
    "q_stream_dedup",
    # Python-boundary queries (mapInArrow / mapInPandas kernel / regex
    # feature extraction) — the paths where per-row cost matters most
    "q_quality_classifier",
    "q_token_runs",
    "q_multimodal_decode",
    "q_training_prep_v2",
    # full TPC-H sweep (workload/tpch.py + relational.py) — per-query
    # perf visibility over the complete relational suite
    "q_tpch_q1",
    "q_tpch_q2",
    "q_tpch_q3",
    "q_tpch_q4",
    "q_tpch_q7",
    "q_tpch_q8",
    "q_tpch_q9",
    "q_tpch_q10",
    "q_tpch_q11",
    "q_tpch_q12",
    "q_tpch_q13",
    "q_tpch_q14",
    "q_tpch_q15",
    "q_tpch_q16",
    "q_tpch_q17",
    "q_tpch_q18",
    "q_tpch_q19",
    "q_tpch_q20",
    "q_tpch_q21",
    "q_tpch_q22",
    # corpus cleaning + clustering additions
    "q_line_dedup",
    "q_kmeans",
    # late round-2: advanced SQL surface + graph/ANN audits
    "q_lateral_topn",
    "q_pagerank",
    "q_variant_extract",
    "q_window_range_interval",
    "q_sim_ivf_checked",
    "q_stream_stream_left",
    # round-2 continuation: analytics / text / embedding / graph additions
    "q_interval_merge",
    "q_anomaly_zscore",
    "q_bm25",
    "q_embed_quantize",
    "q_bfs_hops",
    "q_stream_window_chained",
    # third wave: market bars, incremental dedup, bigram LM, mixture budget
    "q_ohlc_bars",
    "q_bigram_lm",
    "q_bpe_train",
    # market-analytics completion
    "q_ohlc_daily",
    "q_vwap",
    "q_negative_sampling",
    # ER / audit / market-risk wave
    "q_entity_resolution",
    "q_multi_distinct",
    "q_stream_topk",
    "q_asof_nearest",
    "q_twap",
    # round 3: the expensive tail of the full-registry sweep (VERDICT r2
    # item 5) — the 4 slowest registry queries per BENCH_NOTES' round-2
    # full sweep (q_triangles 14.2 s, q_dedup_components 5.9 s,
    # q_stream_feed 4.5 s, q_embed_neardup 3.6 s) plus the gate-checked
    # stateful sessionizer, so regressions on the heavy tail are
    # driver-visible round-over-round.
    "q_triangles",
    "q_dedup_components",
    "q_stream_feed",
    "q_embed_neardup",
    "q_stream_sessionize",
    # round-3 second wave: sufficient-statistics / profiling / streaming
    # observability representatives (scan-bound single-aggregate shapes)
    "q_embed_cov",
    "q_assoc_rules",
    "q_table_checksum",
    "q_stream_drift",
    # round 4: the new operator wave (q_triangles already above carries
    # the density-guard speedup)
    "q_winnow_fingerprint",
    "q_stream_neardup",
    "q_theilsen",
    "q_mannwhitney",
    "q_percentile_cont",
    # round 5: representatives of the new operator families (geo joins,
    # game-theoretic attribution, exact-EMD drift, within-doc dedup,
    # rank-mapped normalization)
    "q_geo_knn",
    "q_shapley",
    "q_wasserstein_drift",
    "q_doc_selfrep",
    "q_quantile_normalize",
    # round 6: representatives of the new families (time-constrained
    # funnel, range-partitioned concurrency curve, quantized-L1
    # embedding outliers, decayed streaming top-k, per-basket itemsets).
    # HEADLINE is CAPPED at 100 queries (VERDICT r5 task 7): future
    # rounds swap members instead of growing the set, so the cold total
    # stays inside the driver's patience; cross-round per-query diffs
    # live in BENCH_DETAIL_r{N}.json, not in set-total comparisons.
    "q_window_funnel",
    "q_max_concurrency",
    "q_embed_outliers",
    "q_stream_decay_topk",
    "q_basket_triples",
    # round 7: representatives of the new families (rank-based effect
    # size on the global ranker, order-lifecycle sweep-line, binary
    # audio kernel at the Python boundary, exploded-embedding scatter,
    # bottom-k sketch) — swapped IN for the 5 cheapest members
    # (q_sample_weighted, q_bitmap_distinct, q_dedup_incremental,
    # q_tpch_q6, q_token_budget), keeping the set at 100.
    "q_cliff_delta",
    "q_running_backlog",
    "q_audio_clip_detect",
    "q_embed_class_scatter",
    "q_kmv_distinct",
    # round 9: representatives of the new families (per-group MD on the
    # range-partitioned global ranker; bounded rook-join spatial
    # autocorrelation) — swapped IN for the 2 cheapest non-probe
    # members (q_dedup_exact 0.27 s, q_text_quality 0.36 s in the r8
    # detail; their families stay covered by q_line_dedup /
    # q_quality_classifier), keeping the set at 100.
    "q_gini_md",
    "q_moran_i",
    # round 10: representatives of the new families (squared-rank
    # location-scale test on the global ranker; bounded Chebyshev
    # pair-ladder spatial K) — swapped IN for the 2 cheapest non-probe
    # members (q_text_fingerprint 0.20 s, q_realized_vol 0.31 s in the
    # r9 detail; their families stay covered by q_winnow_fingerprint /
    # q_line_dedup and q_twap), keeping the set at 100.
    "q_cucconi",
    "q_ripley_k",
)
assert len(HEADLINE) <= 100, "headline capped at 100 — swap, don't grow"


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from big_data_streaming_spark.session import get_spark
    from big_data_streaming_spark.workload import QUERIES

    spark = get_spark("bdss-bench")
    spark.sparkContext.setLogLevel("ERROR")

    def run_full(name: str, d: str) -> None:
        QUERIES[name](spark, d).write.format("noop").mode("overwrite").save()

    # Warm-up at the smallest SF: one batch query (JIT/codegen/Arrow init)
    # and one streaming query (streaming engine + state-store classload) —
    # so timings measure plan execution, not first-use class loading.
    run_full("q_flagship", "/root/testdata/sf0.001")
    run_full("q_stream_window_tumbling", "/root/testdata/sf0.001")

    # Box-drift probe (VERDICT r7 task 4): a FIXED 3-query workload timed
    # best-of-3 at bench start, recorded beside the per-query detail.
    # Round-over-round headline deltas divide by this probe's total to
    # separate "the code got slower" from "the box was slower that day"
    # (the r6→r7 +21% took real forensics to attribute to box drift).
    # Side effect, documented: these three keys are warmed here, so their
    # "cold" entries below are steady-state from round 8 on (~1 s of the
    # cold total; BENCH_NOTES.md round 8).
    # Probe protocol re-baseline (round 12, VERDICT r11 task 3): the probe
    # keys q_tpch_q1/q_groupby_agg now use the scan rebalance in the
    # HEADLINE loop (they were frozen un-optimized through r11 precisely
    # to keep this probe comparable). The probe itself runs with the
    # rebalance DISABLED so it still measures the identical un-rebalanced
    # plans every prior round's probe measured — cross-round
    # probe-normalization stays valid with no discontinuity. Documented
    # in OPTIMIZATION_r12.md + BENCH_NOTES.md; the env flag is read per
    # query construction (sources/catalog.py), so scoping it around the
    # probe loop is exact.
    # The probe also pins spark.sql.shuffle.partitions to 32, the value
    # every earlier round's probe ran with before partitions followed
    # SPARK_GRAFT_CPUS (2x cores), so probe normalization stays valid at
    # any core count; restored afterwards like the rebalance flag.
    probe_members = ("q_tpch_q1", "q_topk", "q_groupby_agg")
    probe: dict[str, float] = {}
    prev_rebalance = os.environ.get("SPARK_GRAFT_SCAN_REBALANCE")
    prev_partitions = spark.conf.get("spark.sql.shuffle.partitions")
    os.environ["SPARK_GRAFT_SCAN_REBALANCE"] = "off"
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        for name in probe_members:
            best = float("inf")
            for _ in range(3):
                start = time.perf_counter()
                run_full(name, sf_dir)
                best = min(best, time.perf_counter() - start)
            probe[name] = round(best, 3)
    finally:
        if prev_rebalance is None:
            del os.environ["SPARK_GRAFT_SCAN_REBALANCE"]
        else:
            os.environ["SPARK_GRAFT_SCAN_REBALANCE"] = prev_rebalance
        spark.conf.set("spark.sql.shuffle.partitions", prev_partitions)

    # Two runs per query, report the min: run 1 pays one-time plan/codegen
    # compilation for that query shape; run 2 is steady-state execution —
    # the number that scales with data volume.
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    from big_data_streaming_spark.plans.rank import release_persisted

    for name in HEADLINE:
        best = float("inf")
        for i in range(2):
            start = time.perf_counter()
            run_full(name, sf_dir)
            elapsed = time.perf_counter() - start
            if i == 0:
                cold[name] = round(elapsed, 3)
            best = min(best, elapsed)
        timings[name] = round(best, 3)
        # Free global_order consistency pins OUTSIDE the timed region so
        # one query's cache release isn't billed to the next (ADVICE r6:
        # unbounded persist accumulation over a 100-query session).
        release_persisted()

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    # The driver tail-captures ~2 kB of stdout: a single line carrying all
    # per-query entries overflowed it in round 3 (BENCH_r03 parsed=null —
    # VERDICT.md r3 #3). Emit full per-query detail FIRST (and persist it
    # to BENCH_DETAIL.json next to this script), then a compact headline
    # line (< 500 chars) LAST so any tail window catches a parseable line.
    detail = {
        "metric": "headline_queries_total_sec",
        "value": round(sum(timings.values()), 3),
        "value_cold": round(sum(cold.values()), 3),
        "unit": "sec",
        "queries": timings,
        "queries_cold": cold,
        "sf": sf_val,
    }
    # Effective scaling context (VERDICT r11 task 2): the driver's
    # low-core scaling probe needs the detail line to prove which master
    # and parallelism actually ran — additive keys only.
    detail["master"] = spark.sparkContext.master
    detail["default_parallelism"] = spark.sparkContext.defaultParallelism
    detail["shuffle_partitions"] = int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    detail["box_probe"] = {
        "queries": probe,
        "total_best_sec": round(sum(probe.values()), 3),
        # Probe plans are pinned to the pre-r12 shape (scan rebalance
        # off, 32 shuffle partitions) so probe normalization is
        # comparable across ALL rounds; see the probe loop above.
        "scan_rebalance": "off",
        "shuffle_partitions": 32,
        # These keys run 3x in the probe BEFORE the headline loop, so
        # their queries_cold entries above are steady-state, not cold —
        # cross-round cold comparisons must exclude them mechanically
        # (ADVICE r8; BENCH_NOTES.md round 8).
        "warmed_by_probe": list(probe_members),
    }
    detail["date"] = time.strftime("%Y-%m-%d")
    # Provenance (VERDICT r10 task 3): the tree SHA + UTC timestamp at
    # generation time live INSIDE the artifact, so closing-tree
    # chronology is provable rather than narrated from mtimes.
    try:
        sys.path.insert(
            0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "scripts")
        )
        from provenance import stamp

        detail.update(stamp())
    except Exception:
        pass  # a bare checkout without git still benches
    print(json.dumps(detail))
    # Persist the full per-query map: BENCH_DETAIL.json (latest), plus a
    # per-round snapshot BENCH_DETAIL_r{N}.json when SPARK_GRAFT_ROUND is
    # set — the compact stdout line keeps only the 8 slowest, so cross-
    # round per-query diffs need these files (VERDICT r5 task 6).
    names = ["BENCH_DETAIL.json"]
    rnd = os.environ.get("SPARK_GRAFT_ROUND")
    if rnd:
        names.append(f"BENCH_DETAIL_r{int(rnd):02d}.json")
    for fname in names:
        try:
            with open(
                os.path.join(os.path.dirname(os.path.abspath(__file__)), fname),
                "w",
            ) as f:
                json.dump(detail, f, indent=1, sort_keys=True)
        except OSError:
            pass  # read-only checkout: the stdout detail line still has it
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:8])
    result = {
        "metric": "headline_queries_total_sec",
        "value": detail["value"],
        "value_cold": detail["value_cold"],
        "unit": "sec",
        "sf": sf_val,
        "n_queries": len(timings),
        "queries": slowest,
    }
    line = json.dumps(result)
    if len(line) > 500:  # belt-and-braces: drop the sample before the total
        result.pop("queries")
        line = json.dumps(result)
    print(line)


if __name__ == "__main__":
    sys.exit(main())
