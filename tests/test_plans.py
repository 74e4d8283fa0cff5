"""Plan-shape assertions — correctness of the *physical* strategy
(SURVEY.md §4.2): pushdown, pruning, broadcast choice, top-k operator.
A silent regression in any of these is invisible at sf0.01 and fatal at
100 TB, so they are pinned as tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_streaming_spark.plans import (
    pushed_filters,
    read_schema_columns,
    uses_broadcast_join,
    uses_take_ordered,
)
from big_data_streaming_spark.plans.explain import (
    formatted_plan,
    shuffle_count,
    unpartitioned_window_count,
)
from big_data_streaming_spark.sources.catalog import load_table
from big_data_streaming_spark.workload import QUERIES


def test_plans_md_has_a_section_per_key():
    """PLANS.md (``scripts/dump_plans.py``) covers exactly the registry."""
    import pathlib
    import re

    text = (pathlib.Path(__file__).resolve().parent.parent / "PLANS.md").read_text()
    assert set(re.findall(r"^## (\S+)", text, re.M)) == set(QUERIES)


def test_filter_pushdown_reaches_scan(spark, sf_small):
    df = QUERIES["q_scan_table"](spark, sf_small)
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed and "l_discount" in pushed, pushed


def test_column_pruning_reaches_scan(spark, sf_small):
    df = QUERIES["q_scan_table"](spark, sf_small)
    schemas = read_schema_columns(df)
    assert schemas, "no ReadSchema found"
    read_cols = set(schemas[0])
    # 4 projected + 2 filter columns; the other 5 lineitem columns pruned
    assert read_cols <= {
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_shipdate",
        "l_discount",
    }, read_cols


def test_star_join_broadcasts_dims(spark, sf_small):
    df = QUERIES["q_join_broadcast"](spark, sf_small)
    assert uses_broadcast_join(df)


def test_topk_uses_take_ordered(spark, sf_small):
    df = QUERIES["q_topk"](spark, sf_small)
    assert uses_take_ordered(df), formatted_plan(df)


def test_flagship_plan_is_bounded(spark, sf_small):
    """Flagship = scan → partial agg → exchange → final agg → TakeOrdered.
    One aggregation shuffle; no global sort."""
    df = QUERIES["q_flagship"](spark, sf_small)
    assert uses_take_ordered(df)
    assert shuffle_count(df) == 1, formatted_plan(df)


def test_events_projection_pruned_for_narrow_query(spark, sf_small):
    ev = load_table(spark, sf_small, "events").select("event_type").distinct()
    schemas = read_schema_columns(ev)
    assert schemas and set(schemas[0]) == {"event_type"}, schemas


def test_broadcast_threshold_respected_for_fact_fact(spark, sf_small):
    """lineitem ⋈ orders must NOT broadcast the fact side once AQE sees
    real sizes — at test SF both fit, so just assert the plan compiles to
    a join + agg with ≤3 exchanges (join may legitimately broadcast at
    tiny SF; the invariant worth pinning is the shuffle bound)."""
    df = QUERIES["q_join_inner"](spark, sf_small)
    assert shuffle_count(df) <= 2, formatted_plan(df)


def test_asof_join_single_shuffle(spark, sf_small):
    """The as-of construction must stay one-shuffle (union + window), not
    degrade into a join + re-sort chain."""
    from big_data_streaming_spark.operators.asof import asof_join
    from big_data_streaming_spark.sources.catalog import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_small, "events").select("event_id", "ts", "user_id")
    marks = ev.groupBy("user_id").agg(F.min("ts").alias("mts")).withColumn(
        "m", F.lit(1.0)
    )
    out = asof_join(ev, marks, keys=["user_id"], right_ts="mts", right_payload=["m"])
    # shuffles: one for the marks aggregation (input prep), one for the
    # as-of window partitioning — the operator itself adds exactly one.
    assert shuffle_count(out) <= 2, formatted_plan(out)


def test_aqe_splits_skewed_join_partition(spark):
    """The 100 TB hot-key story for JOINS: one key holding ~99% of the fact
    side must not serialize into a single straggler task — AQE detects the
    oversized shuffle partition at runtime and splits it (skew=true in the
    final plan). Thresholds are lowered so toy data exhibits the at-scale
    behavior; payload is sha2 so shuffle compression can't mask the skew."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        hot = spark.range(300_000).select(
            F.lit("HOT").alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
        cold = spark.range(2_000).select(
            (F.col("id") % 50).cast("string").alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
        dim = spark.createDataFrame(
            [("HOT", 1.0)] + [(str(i), float(i)) for i in range(50)], ["k", "w"]
        )
        j = hot.unionByName(cold).join(dim, "k")
        rows = j.collect()
        assert len(rows) == 302_000
        final_plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final_plan
        assert "AQEShuffleRead skewed" in final_plan
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_runtime_bloom_filter_injected_on_selective_join(spark):
    """Runtime semi-join reduction: a selective dimension filter makes the
    optimizer inject a bloom filter (might_contain) on the fact side, so
    fact rows that can't join are dropped before the shuffle. At 100 TB
    this is the difference between shuffling the full fact table and
    shuffling the ~1/5 that survives the filter."""
    from pyspark.sql import functions as F

    from big_data_streaming_spark.sources.catalog import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = load_table(spark, "/root/testdata/sf0.01", "lineitem")
        orders = load_table(spark, "/root/testdata/sf0.01", "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(orders, li.l_orderkey == orders.o_orderkey)
        plan = j._jdf.queryExecution().optimizedPlan().toString().lower()
        assert "bloomfilter" in plan or "might_contain" in plan
        assert j.count() > 0
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Both sides bucketed+sorted on the join key → SortMergeJoin reads
    co-located buckets directly: no ShuffleExchange anywhere in the plan
    (broadcast disabled to force the general fact-fact strategy)."""
    from big_data_streaming_spark.workload.relational import _bucketed_pair

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li_tab, ord_tab = _bucketed_pair(spark, "/root/testdata/sf0.001")
        li, orders = spark.table(li_tab), spark.table(ord_tab)
        j = li.join(orders, li.l_orderkey == orders.o_orderkey)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """Fact table stored partitioned by the join key's FK: joining with a
    filtered dimension injects a dynamicpruning subquery into the fact
    scan's PartitionFilters — at 100 TB only the matching partitions are
    read, decided at runtime from the dim side. Pinned here so a config
    or plan regression is a test failure, not a cluster bill."""
    from pyspark.sql import functions as F

    from big_data_streaming_spark.sources.catalog import load_table

    fact_dir = str(tmp_path / "events_by_type")
    events = load_table(spark, "/root/testdata/sf0.001", "events")
    events.write.partitionBy("event_type").parquet(fact_dir)

    # DPP's selectivity heuristic wants a literal-predicate filter on the
    # pruning side (a bare boolean attribute does not qualify).
    dim = events.select("event_type").distinct().withColumn(
        "grp",
        F.when(
            F.col("event_type").isin("purchase", "click"), "hot"
        ).otherwise("cold"),
    )
    dim_dir = str(tmp_path / "type_dim")
    dim.write.parquet(dim_dir)

    confs = {
        "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly": "false",
        "spark.sql.optimizer.dynamicPartitionPruning.useStats": "false",
        "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio": "100.0",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        fact = spark.read.parquet(fact_dir)
        hot = spark.read.parquet(dim_dir).where(F.col("grp") == "hot")
        j = fact.join(hot, "event_type")
        plan = j._jdf.queryExecution().executedPlan().toString().lower()
        assert "dynamicpruning" in plan, plan[:2000]
        assert j.count() > 0
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_cbo_column_stats_drive_cardinality_estimates(spark, tmp_path):
    """ANALYZE ... FOR ALL COLUMNS + CBO: the optimizer's row-count
    estimate for an equality filter comes from the column's NDV, not a
    blind default — within 2x of the true selectivity. Cardinality
    estimates are what join-order and broadcast decisions hang off at
    100 TB; this pins that the statistics pipeline is actually wired."""
    from pyspark.sql import functions as F

    prev = spark.conf.get("spark.sql.cbo.enabled", "false")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try:
        spark.sql("DROP TABLE IF EXISTS cbo_probe")
        spark.range(10_000).selectExpr("id", "id % 100 AS k").write.mode(
            "overwrite"
        ).saveAsTable("cbo_probe")
        spark.sql("ANALYZE TABLE cbo_probe COMPUTE STATISTICS FOR ALL COLUMNS")
        df = spark.table("cbo_probe").where(F.col("k") == 5)
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        assert not stats.rowCount().isEmpty(), "no rowCount estimate — CBO inert"
        est = int(str(stats.rowCount().get()))
        true_n = df.count()
        assert true_n / 2 <= est <= true_n * 2, (est, true_n)
    finally:
        spark.conf.set("spark.sql.cbo.enabled", prev)
        spark.sql("DROP TABLE IF EXISTS cbo_probe")


# --- TPC-H completion pack (workload/tpch.py) -----------------------------


def test_tpch_q8_star_is_broadcast_chain(spark, sf_small):
    """Q8 joins lineitem to 7 dimension sides — every one must be a
    broadcast hash join; the only exchange allowed is the aggregation
    (plus AQE's fact-fact choice for orders at tiny SF)."""
    df = QUERIES["q_tpch_q8"](spark, sf_small)
    assert uses_broadcast_join(df)
    assert shuffle_count(df) <= 2, formatted_plan(df)
    assert "CartesianProduct" not in formatted_plan(df)


def test_tpch_q2_min_per_group_bounded(spark, sf_small):
    """The correlated MIN subquery decorrelates to a window over
    l_partkey: one shuffle for the (part, supplier) aggregate, one for
    the window — never a per-part re-scan."""
    df = QUERIES["q_tpch_q2"](spark, sf_small)
    assert shuffle_count(df) <= 2, formatted_plan(df)


def test_tpch_q21_exists_decorrelation_no_rescan(spark, sf_small):
    """EXISTS + NOT EXISTS over the same lineitems become per-order
    window counts: the fact table is scanned once and shuffled at most
    twice (order window + name aggregate), with the supplier⋈nation side
    broadcast."""
    plan = formatted_plan(QUERIES["q_tpch_q21"](spark, sf_small))
    df = QUERIES["q_tpch_q21"](spark, sf_small)
    assert shuffle_count(df) <= 2, plan
    assert "CartesianProduct" not in plan
    assert uses_broadcast_join(df)


def test_tpch_scalar_thresholds_are_broadcast_not_collected(spark, sf_small):
    """Q11/Q15/Q22 global-scalar subqueries must appear as broadcast
    joins of 1-row frames — no driver-side collect in the plan path."""
    for name in ("q_tpch_q11", "q_tpch_q15", "q_tpch_q22"):
        df = QUERIES[name](spark, sf_small)
        assert uses_broadcast_join(df), name


def test_line_dedup_bounded_shuffles(spark, sf_small):
    """Corpus-level chunk dedup: groupBy-min winners (map-side combine
    absorbs boilerplate skew) + join back + reassembly — bounded
    exchanges, no cartesian."""
    df = QUERIES["q_line_dedup"](spark, sf_small)
    assert shuffle_count(df) <= 3, formatted_plan(df)
    assert "CartesianProduct" not in formatted_plan(df)


def test_triangles_shares_edge_relation(spark, sf_small):
    """The edge set feeds five consumers (degree, three oriented join
    legs, edge count). Unpersisted, every consumer re-derives the
    distinct+join subtree — 62 exchanges; persisted it is 12. Pin both
    the persist markers and the exchange bound."""
    df = QUERIES["q_triangles"](spark, sf_small)
    plan = formatted_plan(df)
    assert "InMemoryRelation" in plan
    assert shuffle_count(df) <= 15, plan


def test_lateral_topn_plans_as_join_not_rescan(spark, sf_small):
    """The LATERAL correlated top-2 must decorrelate into one join over a
    per-key ranked orders relation — not an O(customers) re-scan loop —
    and must never fall back to a cartesian product."""
    df = QUERIES["q_lateral_topn"](spark, sf_small)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "Join" in plan, plan
    assert shuffle_count(df) <= 4, plan


def test_sample_weighted_is_pure_map(spark, sf_small):
    """Deterministic PPS sampling is a zero-shuffle map with the scan
    pruned to the three output columns (the hash predicate only needs
    o_orderkey/o_totalprice)."""
    df = QUERIES["q_sample_weighted"](spark, sf_small)
    assert shuffle_count(df) == 0, formatted_plan(df)
    schemas = read_schema_columns(df)
    assert schemas and set(schemas[0]) <= {
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
    }, schemas


def test_pagerank_broadcasts_dims_and_ranks(spark, sf_small):
    """Edge derivation broadcasts customer/supplier; each rank iteration
    broadcasts the O(nations) rank vector against the persisted edge
    relation. No cartesian anywhere; the only wide exchanges are the
    edge aggregate and the per-iteration mass aggregates."""
    df = QUERIES["q_pagerank"](spark, sf_small)
    plan = formatted_plan(df)
    assert uses_broadcast_join(df), plan
    assert "CartesianProduct" not in plan, plan


def test_interval_merge_single_user_exchange(spark, sf_small):
    """The gaps-and-islands chain (two windows + the island aggregate)
    must ride ONE hash exchange on user_id: HashPartitioning(user_id)
    satisfies the clustered distribution of the (user_id, grp) aggregate,
    so no second shuffle may appear."""
    df = QUERIES["q_interval_merge"](spark, sf_small)
    assert shuffle_count(df) == 1, formatted_plan(df)


def test_transition_chain_single_user_exchange(spark, sf_small):
    """LEAD per user then pair-count then per-prev_type window: the LEAD
    shuffle is on user_id; the pair aggregate and the share window both
    need (prev_type[, next_type]) clustering, which one more exchange
    pair covers — 3 total is the pin (window reuses the groupBy's)."""
    df = QUERIES["q_transitions"](spark, sf_small)
    assert shuffle_count(df) <= 3, formatted_plan(df)


def test_skyline_computes_frontier_on_aggregated_candidates(spark, sf_small):
    """The dominance prefix-max runs AFTER the per-part aggregate, and
    since round 6 it rides plans/rank.py: the per-part relation is
    range-partitioned and scanned in parallel — the only unpartitioned
    window left is the O(ranges) offsets pass. Pin: part side still
    broadcasts into the fact join; <= 5 exchanges (fact aggregate,
    range split, per-range window hash, offsets singleton, broadcast) —
    more exchanges than the old single-sort plan, but none of them
    serializes the relation."""
    # plan pins assert the COLD plan: cached relations persisted by
    # earlier tests in the shared session would substitute
    # InMemoryTableScans (and re-render their build plans, inflating
    # the textual window count)
    spark.catalog.clearCache()
    df = QUERIES["q_skyline"](spark, sf_small)
    plan = formatted_plan(df)
    assert uses_broadcast_join(df), plan
    assert shuffle_count(df) <= 5, plan
    assert unpartitioned_window_count(df) == 1, plan


def test_bm25_broadcasts_stats_and_filters_before_tf(spark, sf_small):
    """df (5 rows) and the (n_docs, avgdl) scalar frame must broadcast;
    the query-term filter must run below the tf aggregate so the token
    shuffle carries only matching tokens."""
    df = QUERIES["q_bm25"](spark, sf_small)
    plan = formatted_plan(df)
    assert uses_broadcast_join(df), plan
    assert "CartesianProduct" not in plan, plan


def test_embed_quantize_single_vec_exchange(spark, sf_small):
    """explode → per-vec window amax → error aggregate must ride ONE
    vec_id hash exchange (the window's partitioning satisfies the
    aggregate's clustering)."""
    df = QUERIES["q_embed_quantize"](spark, sf_small)
    assert shuffle_count(df) == 1, formatted_plan(df)


def test_rolling_distinct_broadcasts_day_spine(spark, sf_small):
    """The WAU range join must broadcast the O(days) spine, never
    shuffle-join it against the user-day lattice."""
    df = QUERIES["q_rolling_distinct"](spark, sf_small)
    plan = formatted_plan(df)
    # A range predicate cannot hash-join: the correct plan is a
    # BroadcastNestedLoopJoin with the tiny spine as the build side.
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan, plan


def test_hard_negatives_single_scan_broadcast(spark, sf_small):
    """Hard-negative mining keeps the q_sim_topk plan shape: queries
    broadcast against ONE corpus scan, ranking via the per-q window —
    no cartesian of two large sides, at most the (q_id) rank exchange."""
    df = QUERIES["q_hard_negatives"](spark, sf_small)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or uses_broadcast_join(df), plan
    assert shuffle_count(df) <= 1, plan


def test_weighted_median_single_flag_exchange(spark, sf_small):
    """Running-weight window + per-flag selection ride one l_returnflag
    exchange (window partitioning satisfies the final aggregate)."""
    df = QUERIES["q_weighted_median"](spark, sf_small)
    assert shuffle_count(df) == 1, formatted_plan(df)


def test_multi_distinct_plans_through_expand(spark, sf_small):
    """Two COUNT(DISTINCT)s + plain aggs in one GROUP BY cannot be one
    hash agg: Catalyst must route the plan through an Expand (one fanned
    copy per distinct group) and two aggregation rounds."""
    df = QUERIES["q_multi_distinct"](spark, sf_small)
    plan = formatted_plan(df)
    assert "Expand" in plan, plan


def test_entity_resolution_blocks_the_pair_join(spark, sf_small):
    """The record-linkage candidate join must be an equi-join on the
    blocking key (nation, name-prefix) with levenshtein as a residual
    filter — never a cartesian/nested-loop of customers × customers."""
    df = QUERIES["q_entity_resolution"](spark, sf_small)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_twap_single_exchange(spark, sf_small):
    """LEAD window and the final aggregate share the event_type hash
    partitioning — one exchange end-to-end."""
    df = QUERIES["q_twap"](spark, sf_small)
    assert shuffle_count(df) == 1, formatted_plan(df)


def test_realized_vol_single_exchange(spark, sf_small):
    """The LAG window partitions on event_type; the (event_type, day)
    rollup is satisfied by that partitioning (subset rule) — no second
    exchange."""
    df = QUERIES["q_realized_vol"](spark, sf_small)
    assert shuffle_count(df) == 1, formatted_plan(df)


def test_bollinger_rsi_single_exchange(spark, sf_small):
    """The trailing ROWS frames partition on event_type and nothing
    downstream needs another distribution — one exchange end-to-end for
    both market indicators."""
    for name in ("q_bollinger", "q_rsi"):
        df = QUERIES[name](spark, sf_small)
        assert shuffle_count(df) == 1, (name, formatted_plan(df))


def test_minmax_scale_broadcasts_extrema(spark, sf_small):
    """The per-group extrema frame must come back as a broadcast join —
    a window over the fact table (or a shuffled join) would be a wasted
    full-table exchange."""
    df = QUERIES["q_minmax_scale"](spark, sf_small)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan


def test_refint_audit_no_cartesian_fact_joins(spark, sf_small):
    """Seven anti-join edges: parent sides are keys-only and the dim
    edges broadcast; the only BroadcastNestedLoopJoins permitted are the
    1-row × 1-row aggregate cross-joins that assemble each edge's output
    row — never a fact-table nested loop."""
    df = QUERIES["q_refint_audit"](spark, sf_small)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_maxsim_broadcasts_query_components(spark, sf_small):
    """The query-side component relation is tiny and must broadcast into
    the dim equi-join; the corpus is scanned once."""
    df = QUERIES["q_maxsim"](spark, sf_small)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_pit_features_one_exchange_per_entity_key(spark, sf_small):
    """Point-in-time enrichment chains two as-of joins on different
    entity keys: expect one events exchange per key (plus the feature
    tables' own aggregation exchanges) and no nested-loop joins."""
    df = QUERIES["q_pit_features"](spark, sf_small)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_embed_cov_zero_rowlevel_shuffle(spark, sf_small):
    """The covariance sufficient-statistics aggregate must be map-side
    partials + a 1-row final reduce: the only exchange permitted is the
    SinglePartition collect for the final aggregate — no hash exchange
    of row-level data, no explode."""
    df = QUERIES["q_embed_cov"](spark, sf_small)
    plan = formatted_plan(df)
    assert shuffle_count(df) == 1, plan
    assert "hashpartitioning" not in plan.lower(), plan
    # Column pruning: the scan must read only the embedding column.
    assert "ReadSchema: struct<embedding:array<float>>" in plan, plan


def test_assoc_rules_no_fact_self_join(spark, sf_small):
    """Baskets are built once (one exchange on the basket key); pair
    generation happens inside the row via array transforms. The brand
    dimension joins must broadcast and nothing may cartesian."""
    df = QUERIES["q_assoc_rules"](spark, sf_small)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # The only SortMergeJoin-eligible relation is basket×basket — absent.
    assert "SortMergeJoin" not in plan, plan


def test_table_checksum_no_hash_exchange(spark, sf_small):
    """Each table digest is a map-side-combinable aggregate: the plan may
    contain only SinglePartition exchanges (1-row final reduces), never a
    hash exchange of row-level data."""
    df = QUERIES["q_table_checksum"](spark, sf_small)
    plan = formatted_plan(df)
    assert "hashpartitioning" not in plan.lower(), plan


def test_hellinger_terms_stay_tiny(spark, sf_small):
    """The (side, type) count is the only fact-table aggregate; the
    bounds frame and totals broadcast back. No sort-merge join anywhere —
    every join is on a broadcast scalar/tiny frame."""
    df = QUERIES["q_hellinger_drift"](spark, sf_small)
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_rrf_fusion_broadcasts_queries_both_systems(spark, sf_small):
    """Both retrieval systems must be the broadcast-queries × one-
    corpus-scan shape; the fusion join runs on rank lists only. No
    cartesian product, no sort-merge join of the corpus."""
    df = QUERIES["q_rrf_fusion"](spark, sf_small)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_outlier_maha_broadcasts_stats(spark, sf_small):
    """The per-type moment frame is O(types) and must broadcast back
    onto the event scan — a shuffled join or a window over the fact
    table would re-exchange the full relation."""
    df = QUERIES["q_outlier_maha"](spark, sf_small)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_salted_join_keys_include_salt(spark, sf_small):
    """The physical join must run on (jk, salt) — the salt column in the
    join keys is the whole point; without it the query silently degrades
    to the hot-key single-partition join it exists to remedy."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = QUERIES["q_salted_join"](spark, sf_small)
        plan = formatted_plan(df)
        # The salt must be IN the join keys ("Left keys [2]: [jk#…, salt#…]"
        # for SMJ / ShuffledHashJoin) — merely appearing in a Project or
        # Exchange would not spread the hot key (review finding, round 3).
        import re

        key_lines = [
            ln for ln in plan.splitlines() if re.search(r"keys \[\d+\]", ln)
        ]
        assert key_lines and all("salt" in ln for ln in key_lines), plan
        assert "CartesianProduct" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_lag_features_single_exchange(spark, sf_small):
    """q_lag_features advertises "all windows share ONE user_id
    exchange" (SCALE.md): the physical plan must contain exactly one
    Exchange, and it must be the hashpartitioning(user_id) one the
    sequence/lag/rolling windows reuse."""
    df = QUERIES["q_lag_features"](spark, sf_small)
    plan = formatted_plan(df)
    assert shuffle_count(df) == 1, plan
    assert "hashpartitioning(user_id" in plan, plan


def test_abc_analysis_no_cartesian_single_sort(spark, sf_small):
    """q_abc_analysis is one combinable per-part aggregate feeding one
    global revenue-descending window — the plan must stay free of
    nested-loop/cartesian joins (the class-cut compare is in-row)."""
    df = QUERIES["q_abc_analysis"](spark, sf_small)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_ship_delay_equi_join(spark, sf_small):
    """q_ship_delay's orders⋈lineitem must be a hash/broadcast EQUI
    join on the orderkey — a nested-loop here would be quadratic in
    the fact table."""
    df = QUERIES["q_ship_delay"](spark, sf_small)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "ShuffledHashJoin" in plan
    ), plan


def test_geo_knn_no_cartesian_and_bounded_shuffles(spark, sf_small):
    """The grid-bucketed kNN must join candidates on the CELL key — a
    hash join after the 9-row offset broadcast, never a cartesian or a
    theta join over all point pairs."""
    df = QUERIES["q_geo_knn"](spark, sf_small)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert uses_broadcast_join(df), plan  # the offset grid broadcasts
    assert shuffle_count(df) <= 4, plan


def test_shapley_two_key_shuffles(spark, sf_small):
    """The unanimity-game closed form needs only the distinct
    (user, channel) relation, one per-user window, one channel
    aggregate — if the plan grows a pattern-mask join or a 2^k grid,
    the closed form has been lost."""
    df = QUERIES["q_shapley"](spark, sf_small)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert shuffle_count(df) <= 4, plan


def test_theilsen_cap_feeds_join_from_cache(spark, sf_small):
    """The per-user cap relation feeds BOTH self-join sides; the persist
    must make the second side an InMemoryTableScan, not a re-derivation
    (scan + window twice). Regression pin for the round-5 fix."""
    df = QUERIES["q_theilsen"](spark, sf_small)
    plan = formatted_plan(df)
    # both self-join sides must read the cache (the cached relation's
    # own build plan is rendered inline, so "Scan parquet" still appears
    # in the text — the load-bearing fact is two InMemoryTableScans)
    assert plan.count("InMemoryTableScan") >= 2, plan


def test_wasserstein_support_sized_intermediates(spark, sf_small):
    """W1 must aggregate to the (type, value) support BEFORE any window
    — a plan that windows over raw events instead of the support
    relation loses the support-sized-intermediates guarantee."""
    df = QUERIES["q_wasserstein_drift"](spark, sf_small)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert shuffle_count(df) <= 3, plan


# --- range-partitioned global rank (plans/rank.py, round-6 weak-flag fix) --


def test_heaps_curve_no_global_sort(spark, sf_small):
    """The corpus' exploded token stream must NEVER pass through a
    single-partition window (VERDICT r5 weak flag). After the
    plans/rank.py swap, the only unpartitioned window left is the
    O(ranges) offsets prefix-sum, and the persisted ranked relation
    feeds both the sizes branch and the join branch from ONE
    evaluation (sampled range boundaries are seeded per-RDD — two
    lineage copies can disagree on range assignment)."""
    df = QUERIES["q_heaps_curve"](spark, sf_small)
    plan = formatted_plan(df)
    assert unpartitioned_window_count(df) == 1, plan
    assert plan.count("InMemoryTableScan") >= 2, plan


def test_quantile_normalize_no_global_sort(spark, sf_small):
    """Global reference distribution rides the range-partitioned ranker
    — all documents never collapse into one sort task (VERDICT r5 weak
    flag). Only the O(ranges) offsets window is unpartitioned."""
    df = QUERIES["q_quantile_normalize"](spark, sf_small)
    plan = formatted_plan(df)
    assert unpartitioned_window_count(df) == 1, plan
    assert plan.count("InMemoryTableScan") >= 2, plan


def test_group_sequential_no_global_sort(spark, sf_small):
    """The full events relation is ranked by the range-partitioned
    ranker (ADVICE r5). Exactly two bounded unpartitioned windows
    remain: the O(ranges) offsets prefix-sum and the O(5) cumulative
    look window."""
    df = QUERIES["q_group_sequential"](spark, sf_small)
    plan = formatted_plan(df)
    assert unpartitioned_window_count(df) == 2, plan


def test_train_order_arithmetic_ranges_no_cache(spark, sf_small):
    """q_train_order's uniform mixing hash lets it use the arithmetic
    range split — no sampling, no persist, and at most 3 exchanges
    (range window hash + offsets single-partition + broadcast)."""
    df = QUERIES["q_train_order"](spark, sf_small)
    plan = formatted_plan(df)
    assert unpartitioned_window_count(df) == 1, plan
    assert "InMemoryTableScan" not in plan, plan
    assert shuffle_count(df) <= 3, plan


def test_round6_helper_users_no_global_sort(spark, sf_small):
    """Every round-6 operator that ranks/cumulates a fact- or
    dimension-sized relation must ride plans/rank.py: the only
    unpartitioned window in its plan is the O(ranges) offsets pass
    (two for q_mood_median-style median picks that also window the
    bounded offsets of a second global_order call)."""
    # Limits above 1 are RENDERING multiplicity, not extra sorts: the
    # helper's persisted ranked relation prints its build plan (with the
    # one offsets window) inline under EVERY InMemoryTableScan consumer,
    # so a query with k cache consumers shows up to k textual copies.
    # Assert against the COLD plan — caches left by earlier tests in
    # the shared session add further substitutions.
    spark.catalog.clearCache()
    for name, limit in (
        ("q_percent_rank", 1),
        ("q_gini_revenue", 1),
        ("q_mood_median", 2),  # rank branch + median-pick branch
        ("q_ansari_bradley", 1),
        ("q_max_concurrency", 3),  # curve feeds max, argmax, and count
        ("q_equidepth_bins", 1),
        ("q_rfm", 3),  # three chained quartile ranks -> three offset passes
    ):
        df = QUERIES[name](spark, sf_small)
        got = unpartitioned_window_count(df)
        assert got <= limit, (name, got, formatted_plan(df))


def test_round6_joins_never_cartesian(spark, sf_small):
    """The round-6 join-heavy operators must stay equi/range-keyed:
    window-funnel's per-user range semi-joins, the TV matrix's
    pair-grid fan-out, and the per-basket triple expansion all have
    key-bounded candidate sets — a CartesianProduct in any of them
    means the bounding was lost."""
    spark.catalog.clearCache()
    for name in ("q_window_funnel", "q_source_tv_matrix", "q_basket_triples"):
        plan = formatted_plan(QUERIES[name](spark, sf_small))
        assert "CartesianProduct" not in plan, (name, plan)


def test_vocab_topk_windows_are_sort_limit(spark, sf_small):
    """VERDICT r6 observation 1: vocabulary-sized top-k selection must
    plan as TakeOrderedAndProject (per-partition heaps), never an
    unpartitioned rank over the whole vocabulary in one task. The rank
    window, where the output needs one, is confined to the k-row
    limit result; q_heavy_hitters needs no rank at all."""
    spark.catalog.clearCache()
    for name, max_windows in (
        ("q_zipf_audit", 1),  # rank over the 20-row top-k relation
        ("q_vocab_coverage", 1),  # rank over the max(ks)-row top-k
        ("q_heavy_hitters", 0),  # pure top-N, no rank column
    ):
        df = QUERIES[name](spark, sf_small)
        plan = formatted_plan(df)
        assert "TakeOrderedAndProject" in plan, (name, plan)
        got = unpartitioned_window_count(df)
        assert got <= max_windows, (name, got, plan)


def test_shared_sql_queries_no_fact_sized_window(spark, sf_small):
    """Round-7 sweep: the r6 global-window sweep covered Python-API
    Window sites; queries that EXECUTE shared SQL text via spark.sql
    were a blind spot — q_auc ranked the whole events relation and
    q_ks_drift ran its CDF sums over the near-fact-sized value support
    in ONE task. Both now ride plans/rank.py (same oracles). Pin the
    whole spark.sql family: the only unpartitioned windows allowed in
    their EXECUTED plans are the helper's O(ranges) offsets pass or
    windows over aggregate-sized relations (day series, contingency
    cells, O(sources) water-level)."""
    spark.catalog.clearCache()
    for name, limit in (
        ("q_auc", 1),          # global_rank offsets pass only
        ("q_ks_drift", 1),     # global_order offsets pass only
        ("q_cusum", 2),        # O(days) series (two rendered copies)
        ("q_acf", 1),          # O(days) series
        ("q_ewma", 1),         # O(days) series
        ("q_pattern_vshape", 1),  # O(days) series
        ("q_chi2", 1),         # O(cells) contingency grid
        ("q_cramers_v", 1),    # O(cells) contingency grid
        ("q_token_budget", 2),  # O(sources) water-level
        ("q_gini_sources", 2),  # O(sources) Gini ranks
        ("q_equidepth_bins", 1),  # global_ntile offsets pass
    ):
        df = QUERIES[name](spark, sf_small)
        got = unpartitioned_window_count(df)
        assert got <= limit, (name, got, formatted_plan(df))


def test_round7_plan_shapes(spark, sf_small):
    """Round-7 operators must keep their designed physical shapes:
    dimension/total relations broadcast (never a shuffled join on a
    1-row or O(types) side), top-k as TakeOrderedAndProject, and no
    CartesianProduct anywhere (the only crossJoins are broadcast
    1-row/aggregate relations)."""
    spark.catalog.clearCache()
    # broadcast + TakeOrdered shapes
    for name, want_toap in (
        ("q_user_type_affinity", True),
        ("q_share_shift_movers", True),
        ("q_kmv_distinct", True),
        ("q_cliff_delta", False),
        ("q_kuiper_drift", False),
        ("q_quota_apportion", False),
        ("q_running_backlog", False),
        ("q_embed_class_scatter", False),
    ):
        df = QUERIES[name](spark, sf_small)
        plan = formatted_plan(df)
        assert "CartesianProduct" not in plan, (name, plan)
        if want_toap:
            assert "TakeOrderedAndProject" in plan, (name, plan)
        assert "BroadcastExchange" in plan or "Broadcast" in plan, (
            name,
            plan,
        )
    # the audio kernel plan must be a single narrow Python stage — no
    # shuffle at all between the synthesized payload and the kernel
    df = QUERIES["q_audio_clip_detect"](spark, sf_small)
    assert shuffle_count(df) == 0, formatted_plan(df)


def test_late_round7_plan_shapes(spark, sf_small):
    """The three late round-7 operators keep their designed shapes:

    * q_kmv_setops — union sketch via TakeOrderedAndProject; every
      membership probe and scalar combine is broadcast; no cartesian.
    * q_ransac — seed via TakeOrderedAndProject; candidate models
      arrive at the scoring scan as a BROADCAST fan-out (nested-loop
      over a bounded build side, never CartesianProduct).
    * q_dbscan_grid — ONE fact-sized aggregate (the cell histogram);
      threshold/offsets broadcast; adjacency is an equi-join (hash
      join on the composed key, not a range self-join); no cartesian.
    """
    spark.catalog.clearCache()
    for name in ("q_kmv_setops", "q_ransac", "q_dbscan_grid"):
        df = QUERIES[name](spark, sf_small)
        plan = formatted_plan(df)
        assert "CartesianProduct" not in plan, (name, plan)
        assert "TakeOrderedAndProject" in plan or name == "q_dbscan_grid", (
            name,
            plan,
        )
        assert "Broadcast" in plan, (name, plan)
    # RANSAC's 16x fan-out must be the broadcast nested-loop form
    plan = formatted_plan(QUERIES["q_ransac"](spark, sf_small))
    assert "BroadcastNestedLoopJoin" in plan, plan


# --- round-10 additions: plan pins ----------------------------------------


def test_round10_stats_ops_never_cartesian_or_smj(spark, sf_small):
    """Every round-10 statistic keeps its small sides broadcast: the
    pair/margin/radius grids are O(cells) relations, so a SortMergeJoin
    or CartesianProduct in any of these plans means a broadcast hint was
    lost and the shape would shuffle fact-sized data at 100 TB."""
    for name in (
        "q_weighted_kappa",
        "q_gwet_ac1",
        "q_gk_tau",
        "q_cucconi",
        "q_lepage",
        "q_siegel_tukey",
        "q_brunner_munzel",
        "q_pettitt",
        "q_mmd_poly",
        "q_dunn_index",
        "q_ripley_k",
        "q_blomqvist_beta",
    ):
        plan = formatted_plan(QUERIES[name](spark, sf_small))
        assert "CartesianProduct" not in plan, name
        assert "SortMergeJoin" not in plan, name


def test_mmd_poly_is_single_moment_aggregate(spark, sf_small):
    """The kernel test's whole point: MMD^2 from ONE conditional moment
    aggregate over the scan — two exchanges max (partial/final of the
    1-row combine), nothing else."""
    df = QUERIES["q_mmd_poly"](spark, sf_small)
    assert shuffle_count(df) <= 2, formatted_plan(df)


def test_ripley_k_pair_stage_is_broadcast(spark, sf_small):
    """The radius ladder must join the <=703-cell grid against itself
    via broadcast — a shuffled non-equi join here would become a
    fact-sized theta join under a bad refactor."""
    df = QUERIES["q_ripley_k"](spark, sf_small)
    plan = formatted_plan(df)
    # non-equi join -> the broadcast form is BroadcastNestedLoopJoin
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan
