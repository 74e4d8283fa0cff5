"""Advanced SQL-surface and algorithmic operators (late round 2):

* LATERAL correlated join (per-group top-n without a window shuffle of
  the whole fact table — the outer row drives a correlated sub-scan);
* recursive CTE (Spark 4 ``WITH RECURSIVE``) building a month spine and
  gap-filling empty months — the iterative-SQL surface;
* deterministic weighted (probability-proportional-to-size) Bernoulli
  sampling via an arithmetic hash — the mixture-weighting shape of a
  training-data pipeline, exact-oracle-able because inclusion is a pure
  per-row comparison (no RNG state, no transcendentals);
* Apache DataSketches HLL (``hll_sketch_agg`` / ``hll_union_agg``):
  per-group sketches merged into a global sketch — the mergeable-sketch
  pattern that makes distributed COUNT DISTINCT one-pass at 100 TB.
  Estimates are engine-specific, so the value-checked output is the
  exact count plus a within-tolerance boolean (round-1 VERDICT "wrong"
  #3 pattern);
* fixed-iteration PageRank over the nation-to-nation trade graph —
  join-based message passing with decimal-routed rank sums, the
  iterative-algorithm complement to k-means (reference has no graph
  surface; SURVEY.md §2 Table C north-star).

Scale notes (SCALE.md has the long form):
* The lateral top-n at 100 TB hash-joins orders once on o_custkey —
  Spark plans the correlated lateral as a join + per-key WindowGroupLimit,
  not an O(customers) re-scan loop.
* The recursive spine is O(months) rows on the driver-side recursion —
  bounded data (a century is 1 200 rows) driving a broadcast join against
  the monthly aggregate; the heavy side aggregates ONCE.
* PPS sampling is a zero-shuffle map; the only aggregate is the caller's.
* HLL sketches shrink each group to KBs before the merge shuffle —
  the exact-distinct pass in the same query is the expensive one (full
  (type, user) distinct), kept only because the gate demands exactness.
* PageRank's per-iteration work is one join (ranks × edges) + one
  aggregate, all on the edge relation's partitioning; 3 unrolled
  iterations = 3 such stages. Edge derivation is the 100 TB part and
  aggregates the fact tables down to O(nations²) before iterating.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_streaming_spark.plans.rank import track_persist
from big_data_streaming_spark.sources import local_rows
from big_data_streaming_spark.workload.common import registry, t

QUERIES, ORACLES, _q = registry()


# --- B7 extension: LATERAL correlated join -------------------------------
# Top-2 orders per BUILDING-segment customer. The reference surface has no
# correlated-subquery form at all; Spark 4 and DuckDB both speak ANSI
# LATERAL, so the SQL is near-identical on the two sides. Deterministic
# tie-break on o_orderkey keeps the LIMIT exact.
@_q(
    "q_lateral_topn",
    """
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    FROM customer c, LATERAL (
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 2
    ) o
    WHERE c.c_mktsegment = 'BUILDING'
    """,
)
def q_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
        FROM customer c, LATERAL (
            SELECT o_orderkey, o_totalprice
            FROM orders
            WHERE o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 2
        ) o
        WHERE c.c_mktsegment = 'BUILDING'
        """
    )


# --- B13 extension: recursive CTE month spine + gap fill ------------------
# WITH RECURSIVE generates every month between the first and last order
# date (the max is carried as a column so the recursive member needs no
# subquery), then LEFT JOINs the monthly order aggregate — months with no
# orders surface as zero rows instead of disappearing. The recursion is
# O(months); the fact table aggregates once.
_RECURSIVE_SPINE_SPARK = """
    WITH RECURSIVE spine(m, mx) AS (
        SELECT date_trunc('month', MIN(o_orderdate)),
               date_trunc('month', MAX(o_orderdate))
        FROM orders
        UNION ALL
        SELECT m + INTERVAL '1' MONTH, mx FROM spine WHERE m < mx
    ),
    monthly AS (
        SELECT date_trunc('month', o_orderdate) AS m,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                 AS total_price
        FROM orders
        GROUP BY 1
    )
    SELECT spine.m AS month_start,
           COALESCE(monthly.n_orders, 0) AS n_orders,
           COALESCE(monthly.total_price, 0.0) AS total_price
    FROM spine LEFT JOIN monthly ON spine.m = monthly.m
"""


@_q(
    "q_recursive_cte",
    _RECURSIVE_SPINE_SPARK.replace("INTERVAL '1' MONTH", "INTERVAL 1 MONTH"),
)
def q_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_RECURSIVE_SPINE_SPARK)


# --- north star: deterministic weighted (PPS) sampling --------------------
# Inclusion probability proportional to o_totalprice, decided by comparing
# a Knuth-multiplicative arithmetic hash of the key (exact integer ops,
# identical in both engines) against the scaled weight. Pure map, zero
# shuffles, no RNG state — the deterministic replacement for
# rand()-based Bernoulli sampling that a reproducible 100 TB mixture
# pipeline needs (same rows selected on every run and every engine).
_PPS_PRED = (
    "CAST(((o_orderkey % 2147483647) * 2654435761) % 4294967296 AS DOUBLE)"
    " / 4294967296.0 < LEAST(o_totalprice / 600000.0, 1.0)"
)


@_q(
    "q_sample_weighted",
    f"""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE {_PPS_PRED}
    """,
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "orders")
        .where(F.expr(_PPS_PRED))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


# --- B14 extension: DataSketches HLL with mergeable partial sketches ------
# Per-event-type HLL sketches estimate distinct users; hll_union_agg
# merges the per-type sketches into the global sketch WITHOUT rescanning
# (the mergeability that makes sketches the 100 TB distinct-count tool:
# partial sketches per partition/day, union at read time). Estimates are
# engine-specific bits, so the gate-checked output is the exact count and
# an estimate-within-5% boolean; the oracle computes the exact count and
# asserts TRUE.
@_q(
    "q_sketch_hll",
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS within_tolerance
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'ALL' AS event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS within_tolerance
    FROM events
    """,
)
def q_sketch_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.expr("hll_sketch_agg(user_id)").alias("sketch"),
        F.count_distinct("user_id").alias("exact_users"),
    )
    typed = per_type.select(
        "event_type",
        "exact_users",
        (
            F.abs(
                F.expr("hll_sketch_estimate(sketch)")
                - F.col("exact_users").cast("double")
            )
            / F.col("exact_users")
            <= F.lit(0.05)
        ).alias("within_tolerance"),
    )
    # Global row from the UNION of per-type sketches — no second scan of
    # events for the sketch side; the exact global count is a second
    # aggregate kept only for the gate's exactness requirement.
    merged = per_type.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sketch))").alias("est")
    )
    exact_all = ev.agg(F.count_distinct("user_id").alias("exact_users"))
    global_row = exact_all.crossJoin(merged).select(
        F.lit("ALL").alias("event_type"),
        "exact_users",
        (
            F.abs(F.col("est") - F.col("exact_users").cast("double"))
            / F.col("exact_users")
            <= F.lit(0.05)
        ).alias("within_tolerance"),
    )
    return typed.unionByName(global_row)


# --- north star: fixed-iteration PageRank over the trade graph ------------
# Nodes: nations. Edges: supplier-nation → customer-nation, weighted by
# line-item count (who ships to whom). The edge derivation is the 100 TB
# part — lineitem joins orders/customer/supplier with the tiny dimension
# sides broadcast, then aggregates to O(nations²) rows; the 3 unrolled
# rank iterations are joins on that tiny relation. Rank sums are routed
# through DECIMAL(38,12) so the incoming-mass addition is
# order-insensitive and bit-identical to the oracle's (common.py policy;
# 12 fractional digits keeps the cast off the double's rounding edge).
_PR_DAMP = 0.85
_PR_ITers = 3

_PR_ORACLE = """
    WITH edges AS (
        SELECT sn.n_nationkey AS src, cn.n_nationkey AS dst,
               COUNT(*) AS w
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
        JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
        GROUP BY 1, 2
    ),
    outdeg AS (SELECT src, SUM(w) AS wout FROM edges GROUP BY src),
    norm AS (
        SELECT e.src, e.dst,
               CAST(e.w AS DOUBLE) / CAST(o.wout AS DOUBLE) AS p
        FROM edges e JOIN outdeg o ON e.src = o.src
    ),
    nodes AS (SELECT n_nationkey AS node, n_name FROM nation),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    r0 AS (SELECT node, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn),
    {iters}
    SELECT nodes.node AS nationkey, nodes.n_name AS nation, rN.r AS rank
    FROM nodes JOIN rN ON nodes.node = rN.node
"""

# Literals are CAST AS DOUBLE: DuckDB parses bare 0.85 as DECIMAL and
# (1.0 - 0.85) would be exactly 0.15, while the Spark side computes the
# same expression in doubles (1.0 - 0.85 = 0.15000000000000002…) — a
# one-ulp leak that compounds over iterations (found the hard way).
_PR_ITER_SQL = """
    r{i} AS (
        SELECT nodes.node,
               (CAST(1.0 AS DOUBLE) - CAST({d} AS DOUBLE)) / nn.n
                 + CAST({d} AS DOUBLE) * COALESCE(m.mass, 0.0) AS r
        FROM nodes CROSS JOIN nn
        LEFT JOIN (
            SELECT norm.dst AS node,
                   CAST(SUM(CAST(r{prev}.r * norm.p AS DECIMAL(38,12)))
                        AS DOUBLE) AS mass
            FROM norm JOIN r{prev} ON norm.src = r{prev}.node
            GROUP BY norm.dst
        ) m ON nodes.node = m.node
    )
"""


def _pagerank_oracle() -> str:
    parts = [
        _PR_ITER_SQL.format(i=i + 1, prev=i, d=_PR_DAMP)
        for i in range(_PR_ITers)
    ]
    sql = _PR_ORACLE.format(iters=",\n".join(parts))
    return sql.replace("rN", f"r{_PR_ITers}")


@_q("q_pagerank", _pagerank_oracle())
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    # Edge derivation: fact-side join with broadcast dimensions, then the
    # only wide shuffle — the (src, dst) aggregate down to ≤ nations².
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    outdeg = edges.groupBy("src").agg(F.sum("w").alias("wout"))
    norm = edges.join(outdeg, "src").select(
        "src", "dst", (F.col("w").cast("double") / F.col("wout").cast("double")).alias("p")
    )
    # The iterated relation is O(nations) rows: localCheckpoint-free loop,
    # each round one broadcast join + one tiny aggregate.
    norm = track_persist(norm)
    nodes = n.select(F.col("n_nationkey").alias("node"), "n_name")
    n_nodes = float(nodes.count())  # bounded scalar (collect rule §4.3.8)
    ranks = nodes.select("node", F.lit(1.0 / n_nodes).alias("r"))
    for _ in range(_PR_ITers):
        mass = (
            norm.join(F.broadcast(ranks), norm.src == ranks.node)
            .select("dst", (F.col("r") * F.col("p")).alias("contrib"))
            .groupBy("dst")
            .agg(
                F.sum(F.col("contrib").cast("decimal(38,12)"))
                .cast("double")
                .alias("mass")
            )
        )
        ranks = (
            nodes.join(mass, nodes.node == mass.dst, "left")
            .select(
                "node",
                (
                    F.lit((1.0 - _PR_DAMP) / n_nodes)
                    + F.lit(_PR_DAMP) * F.coalesce(F.col("mass"), F.lit(0.0))
                ).alias("r"),
            )
        )
    return nodes.join(ranks, "node").select(
        F.col("node").alias("nationkey"), F.col("n_name").alias("nation"), F.col("r").alias("rank")
    )


# --- A3 extension: VARIANT semi-structured access (Spark 4) ---------------
# parse_json → VARIANT → typed path extraction WITHOUT a declared schema —
# the schema-on-read complement to q_json_parse's declared-schema parse.
# VARIANT stores a binary-encoded tree (not re-parsed per access), so at
# 100 TB repeated path extraction beats get_json_object string re-parsing;
# the shredded columnar layout keeps pruning available. try_variant_get
# covers the missing-path case with NULL instead of an error.
@_q(
    "q_variant_extract",
    """
    SELECT event_id, event_type,
           CAST(json_extract(props, '$.k') AS INT) AS k
    FROM events
    WHERE CAST(json_extract(props, '$.k') AS INT) >= 90
    """,
)
def q_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "events")
        .select(
            "event_id",
            "event_type",
            F.expr("variant_get(parse_json(props), '$.k', 'int')").alias("k"),
        )
        .where(F.col("k") >= 90)
    )


# --- B12 extension: time-RANGE window frame -------------------------------
# Rolling 1-hour sum per user via RANGE BETWEEN INTERVAL — the time-based
# frame (all rows within the interval, however many), vs the ROWS frames
# q_lag_ma/q_running_total pin. The frame's row SET is deterministic
# (RANGE includes all ts ties), and the sum is decimal-routed, so the
# result is exact regardless of intra-frame order. One shuffle on
# user_id; at 100 TB this partitioning is shared with every other
# per-user stage.
@_q(
    "q_window_range_interval",
    """
    SELECT event_id, user_id, ts,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER (
               PARTITION BY user_id ORDER BY ts
               RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS rolling_1h
    FROM events
    """,
)
def q_window_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    t(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        """
        SELECT event_id, user_id, ts,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER (
                   PARTITION BY user_id ORDER BY ts
                   RANGE BETWEEN INTERVAL '1' HOUR PRECEDING AND CURRENT ROW
               ) AS DOUBLE) AS rolling_1h
        FROM events
        """
    )


# --- B14 complement: EXACT distinct via mergeable bitmaps -----------------
# The third distinct-count tier: COUNT(DISTINCT) reshuffles keys, HLL
# (q_sketch_hll) is approximate — roaring-style bitmaps are EXACT and
# mergeable: per (group, bucket) bitmaps OR-combine map-side, and the
# final count is a popcount sum. At 100 TB this is the OLAP-engine
# pattern for exact distinct rollups (partial bitmaps per partition/day,
# merged at query time), and unlike HLL the result is gate-exact with a
# plain COUNT(DISTINCT) oracle.
@_q(
    "q_bitmap_distinct",
    """
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type
    """,
)
def q_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    t(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        """
        SELECT event_type, SUM(cnt) AS n_users
        FROM (
            SELECT event_type,
                   bitmap_bucket_number(user_id) AS bucket,
                   bitmap_count(
                       bitmap_construct_agg(bitmap_bit_position(user_id))
                   ) AS cnt
            FROM events
            GROUP BY event_type, bitmap_bucket_number(user_id)
        )
        GROUP BY event_type
        """
    )


# --- north star adjunct: column-level encryption round-trip ---------------
# PII-bearing columns travel encrypted between pipeline stages
# (aes_encrypt/aes_decrypt, deterministic ECB so the check is
# reproducible; production would use GCM + per-row IVs and give up
# determinism). Ciphertext bytes are engine-specific, so the gate output
# is the decrypted round-trip plus an equality boolean — the oracle
# returns the original text and TRUE.
@_q(
    "q_aes_roundtrip",
    """
    SELECT doc_id, text AS roundtrip, TRUE AS roundtrip_ok
    FROM documents
    """,
)
def q_aes_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = "0123456789abcdef"  # 16-byte demo key; real use = KMS-managed
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            f"CAST(aes_decrypt(aes_encrypt(text, '{key}', 'ECB'), '{key}', 'ECB') AS STRING)"
        ).alias("roundtrip"),
        F.expr(
            f"CAST(aes_decrypt(aes_encrypt(text, '{key}', 'ECB'), '{key}', 'ECB') AS STRING) = text"
        ).alias("roundtrip_ok"),
    )


# --- k-hop BFS (min-hop distances) over the trade graph -------------------
# The traversal complement to q_pagerank (mass propagation), q_triangles
# (motifs) and q_dedup_components (closure): unweighted min-hop distance
# from nation 0 within 3 hops. All-integer arithmetic — bit-exactness is
# free; the oracle unrolls the same three frontier expansions. Scale: the
# edge derivation aggregates the fact joins to O(nations²) DISTINCT pairs
# (dims broadcast) and is computed ONCE (persisted); each hop is a join
# on that tiny relation + a min-aggregate.
_BFS_HOPS = 3
_BFS_SRC = 0

def _bfs_oracle() -> str:
    steps = []
    for i in range(1, _BFS_HOPS + 1):
        steps.append(f"""
    r{i} AS (
        SELECT node, MIN(dist) AS dist FROM (
            SELECT node, dist FROM r{i-1}
            UNION ALL
            SELECT e.dst AS node, r{i-1}.dist + 1 AS dist
            FROM edges e JOIN r{i-1} ON e.src = r{i-1}.node
        ) GROUP BY node
    )""")
    return f"""
    WITH edges AS (
        SELECT DISTINCT sn.n_nationkey AS src, cn.n_nationkey AS dst
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
        JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
    ),
    r0 AS (
        SELECT n_nationkey AS node, 0 AS dist FROM nation
        WHERE n_nationkey = {_BFS_SRC}
    ),{",".join(steps)}
    SELECT n.n_nationkey AS nationkey, n.n_name AS nation,
           r{_BFS_HOPS}.dist AS dist
    FROM nation n JOIN r{_BFS_HOPS} ON n.n_nationkey = r{_BFS_HOPS}.node
    """


@_q("q_bfs_hops", _bfs_oracle())
def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    edges = track_persist(
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .select(
            s.s_nationkey.alias("src"), c.c_nationkey.alias("dst")
        )
        .distinct()
        # pinned for the 3 frontier joins of this query's one action
    )
    # Frontier loop promoted to functions/graph.py:bfs_hops (round-2
    # library surface; property-tested against a pure-Python BFS).
    from big_data_streaming_spark.functions.graph import bfs_hops

    reach = bfs_hops(edges, _BFS_SRC, _BFS_HOPS)
    return (
        n.join(reach, n.n_nationkey == reach.node)
        .select(
            F.col("n_nationkey").alias("nationkey"),
            F.col("n_name").alias("nation"),
            "dist",
        )
    )


# --- bounded weighted shortest path (Bellman-Ford rounds) ------------------
# The weighted upgrade of q_bfs_hops: min-PLUS relaxation over the
# nation trade graph, edge weight = the cheapest observed quantity on
# the (supplier-nation → customer-nation) lane. Three rounds compute the
# exact minimum over all paths of <= 3 edges — weights make this a real
# relaxation problem (a 2-hop route can undercut a direct edge), which
# hop-count BFS never exercises. All-integer arithmetic; the oracle
# unrolls the identical rounds. Scale: edge derivation aggregates the
# fact join to O(nations²) rows ONCE (persisted); each round is a
# broadcast join + min-aggregate on that tiny relation — the driver
# loop is O(rounds), not O(rows).
_SP_HOPS = 3
# Source 3 has outgoing lanes at EVERY testdata scale (nation 0 has no
# suppliers at sf0.001, which made the differential check vacuous there
# — review finding): relaxations actually run on the default CI scale.
_SP_SRC = 3


def _sp_oracle() -> str:
    steps = []
    for i in range(1, _SP_HOPS + 1):
        steps.append(f"""
    r{i} AS (
        SELECT node, MIN(dist) AS dist FROM (
            SELECT node, dist FROM r{i-1}
            UNION ALL
            SELECT e.dst AS node, r{i-1}.dist + e.w AS dist
            FROM edges e JOIN r{i-1} ON e.src = r{i-1}.node
        ) GROUP BY node
    )""")
    return f"""
    WITH edges AS (
        SELECT sn.n_nationkey AS src, cn.n_nationkey AS dst,
               CAST(MIN(l.l_quantity) AS BIGINT) AS w
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
        JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
        GROUP BY sn.n_nationkey, cn.n_nationkey
    ),
    r0 AS (
        SELECT n_nationkey AS node, CAST(0 AS BIGINT) AS dist FROM nation
        WHERE n_nationkey = {_SP_SRC}
    ),{",".join(steps)}
    SELECT n.n_nationkey AS nationkey, n.n_name AS nation,
           r{_SP_HOPS}.dist AS dist
    FROM nation n JOIN r{_SP_HOPS} ON n.n_nationkey = r{_SP_HOPS}.node
    """


@_q("q_shortest_path", _sp_oracle())
def q_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    edges = track_persist(
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(
            s.s_nationkey.alias("src"), c.c_nationkey.alias("dst")
        )
        .agg(F.min("l_quantity").cast("bigint").alias("w"))
    )
    # Relaxation rounds promoted to functions/graph.py:bellman_ford_hops
    # (property-tested against a pure-Python min-plus reference).
    from big_data_streaming_spark.functions.graph import bellman_ford_hops

    reach = bellman_ford_hops(edges, _SP_SRC, _SP_HOPS)
    return n.join(reach, n.n_nationkey == reach.node).select(
        F.col("n_nationkey").alias("nationkey"),
        F.col("n_name").alias("nation"),
        "dist",
    )


# --- graph modularity of the region partition ------------------------------
# "How regional is trade?" — Newman modularity of the region assignment
# over the undirected nation trade graph:
#   Q = Σ_c [ e_c/m − (d_c/2m)² ]  =  Σ_c (4m·e_c − d_c²) / 4m²
# The right-hand form keeps every numerator an exact integer (e_c = in-
# community edges, d_c = community degree sum, m = |E|); ONE division at
# the end. Self-loop lanes (a nation supplying itself) are excluded —
# the standard formula double-counts loop degrees and the within-nation
# lane says nothing about regional structure. Scale: the graph is the
# O(nations²) aggregate of the fact join (computed once, tiny); all
# modularity arithmetic is driver-trivial.
@_q(
    "q_modularity",
    """
    WITH lanes AS (
        SELECT DISTINCT least(sn.n_nationkey, cn.n_nationkey) AS a,
                        greatest(sn.n_nationkey, cn.n_nationkey) AS b
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
        JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
        WHERE sn.n_nationkey <> cn.n_nationkey
    ), m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m FROM lanes
    ), deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS d
        FROM (SELECT a AS node FROM lanes UNION ALL SELECT b FROM lanes)
        GROUP BY node
    ), comm_deg AS (
        SELECT n.n_regionkey AS region, CAST(SUM(deg.d) AS BIGINT) AS d_c
        FROM deg JOIN nation n ON deg.node = n.n_nationkey
        GROUP BY n.n_regionkey
    ), comm_edges AS (
        SELECT na.n_regionkey AS region, CAST(COUNT(*) AS BIGINT) AS e_c
        FROM lanes
        JOIN nation na ON lanes.a = na.n_nationkey
        JOIN nation nb ON lanes.b = nb.n_nationkey
        WHERE na.n_regionkey = nb.n_regionkey
        GROUP BY na.n_regionkey
    )
    SELECT cd.region,
           COALESCE(ce.e_c, 0) AS e_c, cd.d_c, m.m,
           CAST(4 * m.m * COALESCE(ce.e_c, 0) - cd.d_c * cd.d_c AS DOUBLE)
               / CAST(4 AS DOUBLE) / CAST(m.m AS DOUBLE) / CAST(m.m AS DOUBLE)
               AS q_contrib
    FROM comm_deg cd
    LEFT JOIN comm_edges ce ON cd.region = ce.region
    CROSS JOIN m
    """,
)
def q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    lanes = track_persist(
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .where(s.s_nationkey != c.c_nationkey)
        .select(
            F.least(s.s_nationkey, c.c_nationkey).alias("a"),
            F.greatest(s.s_nationkey, c.c_nationkey).alias("b"),
        )
        .distinct()
    )
    regions = F.broadcast(
        n.select(F.col("n_nationkey").alias("node"), F.col("n_regionkey").alias("region"))
    )
    deg = (
        lanes.select(F.col("a").alias("node"))
        .unionAll(lanes.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    comm_deg = (
        deg.join(regions, "node")
        .groupBy("region")
        .agg(F.sum("d").cast("bigint").alias("d_c"))
    )
    ra = regions.select(F.col("node").alias("a"), F.col("region").alias("reg_a"))
    rb = regions.select(F.col("node").alias("b"), F.col("region").alias("reg_b"))
    comm_edges = (
        lanes.join(F.broadcast(ra), "a")
        .join(F.broadcast(rb), "b")
        .where(F.col("reg_a") == F.col("reg_b"))
        .groupBy(F.col("reg_a").alias("region"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("e_c"))
    )
    m = lanes.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    out = (
        comm_deg.join(comm_edges, "region", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "region",
            F.coalesce("e_c", F.lit(0).cast("bigint")).alias("e_c"),
            "d_c",
            "m",
        )
    )
    return out.select(
        "region",
        "e_c",
        "d_c",
        "m",
        (
            (4 * F.col("m") * F.col("e_c") - F.col("d_c") * F.col("d_c")).cast("double")
            / F.lit(4.0)
            / F.col("m").cast("double")
            / F.col("m").cast("double")
        ).alias("q_contrib"),
    )


# --- temporal graph evolution (new trading lanes per month) ----------------
# The time axis of the graph family: each (supplier-nation → customer-
# nation) lane is stamped with its FIRST order month; the output counts
# new lanes and cumulative lanes per month — how fast the trade network
# densifies. min-date per edge is a combinable aggregate; the monthly
# rollup is O(months).
@_q(
    "q_graph_evolution",
    """
    WITH lane_first AS (
        SELECT sn.n_nationkey AS src, cn.n_nationkey AS dst,
               MIN(date_trunc('month', o.o_orderdate)) AS first_month
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
        JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
        GROUP BY sn.n_nationkey, cn.n_nationkey
    ), monthly AS (
        SELECT first_month AS month, CAST(COUNT(*) AS BIGINT) AS new_lanes
        FROM lane_first GROUP BY first_month
    )
    SELECT month, new_lanes,
           CAST(SUM(new_lanes) OVER (ORDER BY month
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS total_lanes
    FROM monthly
    """,
)
def q_graph_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    lane_first = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(
            s.s_nationkey.alias("src"), c.c_nationkey.alias("dst")
        )
        .agg(F.min(F.date_trunc("month", o.o_orderdate)).alias("first_month"))
    )
    monthly = lane_first.groupBy(F.col("first_month").alias("month")).agg(
        F.count(F.lit(1)).cast("bigint").alias("new_lanes")
    )
    w = Window.orderBy("month").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return monthly.select(
        "month",
        "new_lanes",
        F.sum("new_lanes").over(w).cast("bigint").alias("total_lanes"),
    )


# --- entity resolution (record linkage: block -> verify -> merge) ----------
# The data-cleaning operator every warehouse needs and the reference's
# db-per-coin routing implies but never does (two feeds spelling "BTCUSDT"
# slightly differently would land in different databases,
# spark/streaming-longtime.py:124-125): find records that refer to the
# same real-world entity despite textual drift, and assign one canonical
# id per entity. Three stages, each the 100 TB-correct shape:
#   1. BLOCKING — candidate pairs only within (c_nationkey, 7-digit name
#      prefix) blocks, so the self-join shuffles on the block key and
#      compares O(block²) pairs, never O(n²). Near-identical customer
#      names (same prefix, ≤1 trailing-digit difference) model the dirty
#      duplicates of a real feed.
#   2. VERIFY — exact levenshtein ≤ 1 on the full name inside each block
#      (same kernel as q_edit_distance; the predicate genuinely filters:
#      blocks span 100 keys, so in-block distances range 1-2).
#   3. MERGE — transitive closure over the verified match edges
#      (operators/entity_resolution.py: one union-find per block, since
#      every component lies inside one block): A~B and B~C merge even
#      when lev(A,C) = 2. Cluster id = min custkey; singletons keep
#      their own key.
# Cluster size rides a window over the resolved relation — ONE exchange
# on cluster_id, no self-join. The oracle replays blocking+verify in SQL
# and the closure as a recursive reachable-min CTE — independent
# algorithm, same fixpoint.
@_q(
    "q_entity_resolution",
    """
    WITH RECURSIVE recs AS (
        SELECT c_custkey, c_name, c_nationkey,
               substr(c_name, 10, 7) AS blk
        FROM customer
    ), e AS (
        SELECT a.c_custkey AS src, b.c_custkey AS dst
        FROM recs a JOIN recs b
          ON a.c_nationkey = b.c_nationkey AND a.blk = b.blk
         AND a.c_custkey < b.c_custkey
        WHERE levenshtein(a.c_name, b.c_name) <= 1
    ), sym AS (
        SELECT src AS a, dst AS b FROM e
        UNION ALL SELECT dst, src FROM e
    ), reach(node, r) AS (
        SELECT c_custkey, c_custkey FROM customer
        UNION
        SELECT sym.b, reach.r FROM reach JOIN sym ON sym.a = reach.node
    ), lab AS (
        SELECT node, CAST(MIN(r) AS BIGINT) AS cluster_id
        FROM reach GROUP BY node
    ), sz AS (
        SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
        FROM lab GROUP BY cluster_id
    )
    SELECT c.c_custkey, c.c_name, lab.cluster_id, sz.cluster_size,
           c.c_custkey = lab.cluster_id AS is_canonical
    FROM customer c
    JOIN lab ON c.c_custkey = lab.node
    JOIN sz USING (cluster_id)
    """,
)
def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Core promoted to operators/entity_resolution.py:resolve_entities
    # (block → verify → merge; property-tested against a pure-Python
    # blocking + levenshtein + union-find pipeline).
    from big_data_streaming_spark.operators.entity_resolution import (
        resolve_entities,
    )

    recs = (
        t(spark, sf_dir, "customer")
        .select("c_custkey", "c_name", "c_nationkey")
        .withColumn("blk", F.substring("c_name", 10, 7))
    )
    return resolve_entities(
        recs,
        id_col="c_custkey",
        match_col="c_name",
        block_cols=["c_nationkey", "blk"],
        max_distance=1,
    )


# --- order-insensitive table checksum (migration validation) --------------
# The fingerprint a migration runs on both sides of a copy: per table,
# a row count plus two order-insensitive digests of a canonical row
# string — a modular sum and a bitwise XOR of a 48-bit md5 prefix.
# Doubles enter the canonical string as DECIMAL(38,6) text ("1234.500000"
# in both engines), timestamps/dates as their identical cast-to-string
# forms, and NULLs via an explicit sentinel, so the byte string is
# engine-independent. hex -> int is Spark conv(x, 16, 10) / DuckDB
# CAST('0x'||x AS BIGINT) — verified bit-identical. The modular sum
# (terms < 1e9+7) stays within bigint up to ~9e9 rows; XOR is width-free.
# Plan per table: one scan, map-side-combinable aggregate, one row out —
# at 100 TB the cost is the scans, with zero shuffle beyond the 1-row
# final reduce. COUNT(col) audits per-column null counts for free.
_CK_MOD = 1_000_000_007
_CK_TABLES: dict[str, tuple[str, ...]] = {
    "nation": (
        "CAST(n_nationkey AS STRING)",
        "n_name",
        "CAST(n_regionkey AS STRING)",
    ),
    "customer": (
        "CAST(c_custkey AS STRING)",
        "c_name",
        "CAST(c_nationkey AS STRING)",
        "CAST(CAST(c_acctbal AS DECIMAL(38,6)) AS STRING)",
        "c_mktsegment",
    ),
    "orders": (
        "CAST(o_orderkey AS STRING)",
        "CAST(o_custkey AS STRING)",
        "o_orderstatus",
        "CAST(CAST(o_totalprice AS DECIMAL(38,6)) AS STRING)",
        "CAST(o_orderdate AS STRING)",
        "o_orderpriority",
    ),
}


def _ck_row_expr(cols: tuple[str, ...]) -> str:
    canon = ", ".join(f"coalesce({c}, chr(1) || 'NULL')" for c in cols)
    return f"concat_ws('|', {canon})"


def _ck_oracle() -> str:
    arms = []
    for tbl, cols in _CK_TABLES.items():
        canon = ", ".join(
            f"coalesce({c.replace(' AS STRING', ' AS VARCHAR')}, chr(1) || 'NULL')"
            for c in cols
        )
        arms.append(
            f"""
        SELECT '{tbl}' AS table_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(CAST('0x' || substr(md5(concat_ws('|', {canon})), 1, 12)
                        AS BIGINT) % {_CK_MOD} AS BIGINT)) AS BIGINT) AS checksum_sum,
               CAST(bit_xor(CAST('0x' || substr(md5(concat_ws('|', {canon})), 1, 12)
                        AS BIGINT)) AS BIGINT) AS checksum_xor
        FROM {tbl}"""
        )
    return "\n        UNION ALL ".join(arms)


@_q("q_table_checksum", _ck_oracle())
def q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Core promoted to operators/maintenance.py:table_digest (sensitivity
    # + order-invariance property-tested in tests/test_determinism.py).
    from big_data_streaming_spark.operators.maintenance import table_digest

    out = None
    for tbl, cols in _CK_TABLES.items():
        one = table_digest(
            t(spark, sf_dir, tbl), list(cols), mod=_CK_MOD
        ).select(
            F.lit(tbl).alias("table_name"),
            "n_rows", "checksum_sum", "checksum_xor",
        )
        out = one if out is None else out.unionAll(one)
    return out


# --- functional-dependency audit (schema-rule discovery) ------------------
# For each candidate FD lhs → rhs: does every lhs group carry exactly
# one rhs value? The profiling op behind key inference, normalization
# advice and constraint monitoring — the discovery complement to
# q_dq_audit's declared-rule checks. Plan per candidate: ONE
# groupBy(lhs) count-distinct with map-side partial aggregation, then
# an O(1) rollup — at 100 TB each candidate costs one shuffle of
# (lhs, rhs) pairs and nothing else; candidates on the same table share
# the scan via DataFrame reuse when batched. Violation rate is a fixed-
# order integer-count ratio, exact in both engines.
_FD_CANDIDATES: tuple[tuple[str, str, str], ...] = (
    ("lineitem", "l_orderkey", "l_suppkey"),
    ("lineitem", "l_partkey", "l_suppkey"),
    ("lineitem", "l_orderkey", "l_returnflag"),
    ("orders", "o_orderkey", "o_orderstatus"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("customer", "c_custkey", "c_mktsegment"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("part", "p_brand", "p_type"),
)
_FD_RATE = "(CAST(n_violating AS DOUBLE) / CAST(n_groups AS DOUBLE))"


def _fd_oracle() -> str:
    arms = []
    for tbl, lhs, rhs in _FD_CANDIDATES:
        arms.append(
            f"""
        SELECT '{tbl}' AS table_name, '{lhs}' AS lhs, '{rhs}' AS rhs,
               CAST(COUNT(*) AS BIGINT) AS n_groups,
               CAST(SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_violating
        FROM (SELECT {lhs}, COUNT(DISTINCT {rhs}) AS d
              FROM {tbl} GROUP BY {lhs})"""
        )
    return (
        "WITH g AS ("
        + "\n        UNION ALL ".join(arms)
        + f""")
    SELECT table_name, lhs, rhs, n_groups, n_violating,
           (n_violating = 0) AS holds,
           {_FD_RATE} AS violation_rate
    FROM g
    """
    )


@_q("q_fd_audit", _fd_oracle())
def q_fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for tbl, lhs, rhs in _FD_CANDIDATES:
        g = (
            t(spark, sf_dir, tbl)
            .groupBy(lhs)
            .agg(F.count_distinct(F.col(rhs)).alias("d"))
            .agg(
                F.lit(tbl).alias("table_name"),
                F.lit(lhs).alias("lhs"),
                F.lit(rhs).alias("rhs"),
                F.count(F.lit(1)).cast("bigint").alias("n_groups"),
                F.sum(F.when(F.col("d") > 1, 1).otherwise(0))
                .cast("bigint")
                .alias("n_violating"),
            )
        )
        out = g if out is None else out.unionAll(g)
    return out.select(
        "table_name", "lhs", "rhs", "n_groups", "n_violating",
        (F.col("n_violating") == 0).alias("holds"),
        F.expr(_FD_RATE).alias("violation_rate"),
    )


# --- schema evolution: mergeSchema over mixed-generation parquet ----------
# The lake reality a 100 TB pipeline lives with: yesterday's files lack
# the column today's writer added. The query stages a two-generation
# copy of events (v1 = first half, no `region`; v2 = second half with
# `region`), reads the WHOLE directory with mergeSchema=true, and
# audits per event_type how many rows carry the new column — the
# backfill-planning query a migration runs. The oracle states the
# logical contract directly over the events view (v1 rows → NULL
# region), so the gate verifies Spark's evolved-schema scan produces
# exactly the declared semantics. The contiguous half-split follows the
# event_id file order (events.parquet is event_id-sorted; same slice
# arithmetic as the streaming 4-way split). At 100 TB mergeSchema's
# footer-union cost is driver-side and amortized by the file index;
# the scan itself stays columnar with NULL-fill on legacy files.
def _stage_schema_generations(sf_dir: str) -> str:
    import hashlib
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src = os.path.join(sf_dir, "events.parquet")
    tag = hashlib.md5(f"{sf_dir}:schema_gen_v2".encode()).hexdigest()[:10]
    dst = os.path.join(
        tempfile.gettempdir(), "bdss_stream_stage", f"schema_gen_{tag}"
    )
    want = [os.path.join(dst, "gen1.parquet"), os.path.join(dst, "gen2.parquet")]
    from big_data_streaming_spark.sources.staging import fingerprint_cached_dir

    def build() -> None:
        tbl = pq.read_table(src, columns=["event_id", "event_type", "user_id"])
        half = (tbl.num_rows + 1) // 2
        v1 = tbl.slice(0, half).drop_columns(["user_id"])
        v2_raw = tbl.slice(half)
        # user_id is nonnegative, so % 4 == & 3 (arrow has no mod kernel)
        region = pc.cast(
            pc.bit_wise_and(v2_raw.column("user_id"), pa.scalar(3, pa.int64())),
            pa.int32(),
        )
        v2 = v2_raw.drop_columns(["user_id"]).append_column("region", region)
        pq.write_table(v1, want[0])
        pq.write_table(v2, want[1])

    return fingerprint_cached_dir(src, dst, want, build)


@_q(
    "q_schema_evolution",
    """
    WITH r AS (
        SELECT event_id, event_type, user_id,
               row_number() OVER (ORDER BY event_id) AS rn,
               (SELECT COUNT(*) FROM events) AS n
        FROM events
    ), m AS (
        SELECT event_type,
               CASE WHEN rn > (n + 1) // 2
                    THEN CAST(user_id % 4 AS INTEGER) END AS region
        FROM r
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(region) AS BIGINT) AS n_with_region,
           CAST(COUNT(*) - COUNT(region) AS BIGINT) AS n_legacy,
           CAST(COUNT(DISTINCT region) AS BIGINT) AS n_regions
    FROM m GROUP BY event_type
    """,
)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _stage_schema_generations(sf_dir)
    merged = spark.read.option("mergeSchema", "true").parquet(src)
    return merged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count("region").cast("bigint").alias("n_with_region"),
        (F.count(F.lit(1)) - F.count("region")).cast("bigint").alias("n_legacy"),
        F.count_distinct("region").cast("bigint").alias("n_regions"),
    )


# --- directed-graph reciprocity audit (round 4) ------------------------------
# Reciprocity of the nation trade graph: for every directed edge kept
# after an ADAPTIVE weight threshold (w > mean edge weight — the
# q_s_core discipline; the raw graph is near-complete so an absolute
# threshold would be degenerate at one SF and empty at another), does
# the reverse edge also survive? Per-nation out/in degree and the
# reciprocal fraction — the trade-imbalance audit. Edge derivation =
# the q_pagerank fact join (broadcast dims, one wide aggregate to
# ≤ nations² rows); everything after runs on that tiny relation. All
# integers; one NULLIF-guarded division.
@_q(
    "q_graph_reciprocity",
    """
    WITH edges AS (
        SELECT sn.n_nationkey AS src, cn.n_nationkey AS dst,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
        JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
        WHERE sn.n_nationkey <> cn.n_nationkey
        GROUP BY 1, 2
    ), stats AS (
        SELECT AVG(CAST(w AS DOUBLE)) AS avg_w FROM edges
    ), kept AS (
        SELECT src, dst FROM edges, stats
        WHERE CAST(w AS DOUBLE) > avg_w
    ), recip AS (
        SELECT k.src, k.dst,
               CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END AS has_rev
        FROM kept k
        LEFT JOIN kept r ON k.src = r.dst AND k.dst = r.src
    ), outd AS (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS out_deg,
               CAST(SUM(has_rev) AS BIGINT) AS n_recip
        FROM recip GROUP BY src
    ), ind AS (
        SELECT dst AS node, CAST(COUNT(*) AS BIGINT) AS in_deg
        FROM kept GROUP BY dst
    )
    SELECT n.n_nationkey AS nationkey, n.n_name AS nation,
           COALESCE(o.out_deg, CAST(0 AS BIGINT)) AS out_deg,
           COALESCE(i.in_deg, CAST(0 AS BIGINT)) AS in_deg,
           COALESCE(o.n_recip, CAST(0 AS BIGINT)) AS n_recip,
           CAST(o.n_recip AS DOUBLE) / NULLIF(CAST(o.out_deg AS DOUBLE), 0.0)
               AS reciprocity
    FROM nation n
    LEFT JOIN outd o ON n.n_nationkey = o.node
    LEFT JOIN ind i ON n.n_nationkey = i.node
    """,
)
def q_graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .where(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    stats = edges.agg(F.avg(F.col("w").cast("double")).alias("avg_w"))
    kept = track_persist(
        edges.crossJoin(F.broadcast(stats))
        .where(F.col("w").cast("double") > F.col("avg_w"))
        .select("src", "dst")
    )
    rev = kept.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = kept.join(
        rev.withColumn("has_rev", F.lit(1)), ["src", "dst"], "left"
    ).select("src", "dst", F.coalesce("has_rev", F.lit(0)).alias("has_rev"))
    outd = recip.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("out_deg"),
        F.sum("has_rev").cast("bigint").alias("n_recip"),
    )
    ind = kept.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("in_deg")
    )
    zero = F.lit(0).cast("bigint")
    return (
        n.join(outd, n.n_nationkey == outd.node, "left")
        .join(ind, n.n_nationkey == ind.node, "left")
        .select(
            F.col("n_nationkey").alias("nationkey"),
            F.col("n_name").alias("nation"),
            F.coalesce("out_deg", zero).alias("out_deg"),
            F.coalesce("in_deg", zero).alias("in_deg"),
            F.coalesce("n_recip", zero).alias("n_recip"),
            (
                F.col("n_recip").cast("double")
                / F.nullif(F.col("out_deg").cast("double"), F.lit(0.0))
            ).alias("reciprocity"),
        )
    )


# --- degree assortativity of the trade graph (round 4) -----------------------
# Pearson correlation of (out-degree of src, in-degree of dst) across
# the directed edges kept by q_graph_reciprocity's adaptive mean-weight
# threshold: do high-degree nations trade with other hubs (assortative,
# r > 0) or with the periphery (disassortative, r < 0)? Degrees are
# small integers, so every sufficient statistic (Σx, Σy, Σxy, Σx², Σy²)
# is an exact integer sum — the Pearson finish is shared expression
# text over those integers, sqrt only. All graph work happens on the
# ≤ nations² kept-edge relation.
_ASSORT_R = (
    "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
    " / nullif(sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
    "   * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy), 0.0)"
)


@_q(
    "q_graph_assortativity",
    f"""
    WITH edges AS (
        SELECT sn.n_nationkey AS src, cn.n_nationkey AS dst,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
        JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
        WHERE sn.n_nationkey <> cn.n_nationkey
        GROUP BY 1, 2
    ), stats AS (
        SELECT AVG(CAST(w AS DOUBLE)) AS avg_w FROM edges
    ), kept AS (
        SELECT src, dst FROM edges, stats
        WHERE CAST(w AS DOUBLE) > avg_w
    ), outd AS (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS od
        FROM kept GROUP BY src
    ), ind AS (
        SELECT dst AS node, CAST(COUNT(*) AS BIGINT) AS id_
        FROM kept GROUP BY dst
    ), pairs AS (
        SELECT o.od AS x, i.id_ AS y
        FROM kept k JOIN outd o ON k.src = o.node
        JOIN ind i ON k.dst = i.node
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy
        FROM pairs
    )
    SELECT n AS n_edges, sx, sy, sxy, {_ASSORT_R} AS assortativity
    FROM s
    """,
)
def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .where(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    stats = edges.agg(F.avg(F.col("w").cast("double")).alias("avg_w"))
    kept = track_persist(
        edges.crossJoin(F.broadcast(stats))
        .where(F.col("w").cast("double") > F.col("avg_w"))
        .select("src", "dst")
    )
    outd = kept.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("od")
    )
    ind = kept.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("id_")
    )
    pairs = (
        kept.join(F.broadcast(outd), kept.src == outd.node)
        .join(F.broadcast(ind), kept.dst == ind.node)
        .select(F.col("od").alias("x"), F.col("id_").alias("y"))
    )
    stats2 = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    return stats2.selectExpr(
        "n AS n_edges", "sx", "sy", "sxy", f"{_ASSORT_R} AS assortativity"
    )


# --- personalized PageRank from a seed region (round 4) ---------------------
# The recsys/relevance variant of q_pagerank: teleport mass returns to a
# SEED SET (nations of region EUROPE) instead of the uniform vector, so
# ranks measure proximity to the seeds through weighted trade edges —
# the standard personalization used for related-item scoring. Same
# engineered exactness as q_pagerank: DECIMAL(38,12)-routed incoming
# mass (order-free), CAST-to-DOUBLE literals (the DuckDB decimal-
# literal ulp trap), fixed 3 unrolled iterations. The edge derivation
# is the 100 TB part (broadcast dims, one O(nations²) aggregate); each
# iteration joins the tiny normalized edge relation. Dangling-mass
# policy matches q_pagerank (dropped), documented and identical in
# both engines.
_PPR_SEED_REGION = "EUROPE"

_PPR_ITER_SQL = """
    r{i} AS (
        SELECT ev.node,
               (CAST(1.0 AS DOUBLE) - CAST({d} AS DOUBLE)) * ev.e
                 + CAST({d} AS DOUBLE) * COALESCE(m.mass, 0.0) AS r
        FROM ev
        LEFT JOIN (
            SELECT norm.dst AS node,
                   CAST(SUM(CAST(r{prev}.r * norm.p AS DECIMAL(38,12)))
                        AS DOUBLE) AS mass
            FROM norm JOIN r{prev} ON norm.src = r{prev}.node
            GROUP BY norm.dst
        ) m ON ev.node = m.node
    )
"""


def _ppr_oracle() -> str:
    iters = ",\n".join(
        _PPR_ITER_SQL.format(i=i + 1, prev=i, d=_PR_DAMP)
        for i in range(_PR_ITers)
    )
    return f"""
    WITH edges AS (
        SELECT sn.n_nationkey AS src, cn.n_nationkey AS dst,
               COUNT(*) AS w
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
        JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
        GROUP BY 1, 2
    ),
    outdeg AS (SELECT src, SUM(w) AS wout FROM edges GROUP BY src),
    norm AS (
        SELECT e.src, e.dst,
               CAST(e.w AS DOUBLE) / CAST(o.wout AS DOUBLE) AS p
        FROM edges e JOIN outdeg o ON e.src = o.src
    ),
    nodes AS (SELECT n_nationkey AS node, n_name FROM nation),
    seeds AS (
        SELECT n.n_nationkey AS node
        FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = '{_PPR_SEED_REGION}'
    ),
    ns AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM seeds),
    ev AS (
        SELECT nodes.node,
               CASE WHEN seeds.node IS NOT NULL
                    THEN CAST(1.0 AS DOUBLE) / ns.n ELSE 0.0 END AS e
        FROM nodes LEFT JOIN seeds ON nodes.node = seeds.node CROSS JOIN ns
    ),
    r0 AS (SELECT node, e AS r FROM ev),
    {iters}
    SELECT nodes.node AS nationkey, nodes.n_name AS nation,
           ev.e > 0.0 AS is_seed, r{_PR_ITers}.r AS ppr
    FROM nodes
    JOIN ev ON nodes.node = ev.node
    JOIN r{_PR_ITers} ON nodes.node = r{_PR_ITers}.node
    """


@_q("q_ppr", _ppr_oracle())
def q_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    rg = t(spark, sf_dir, "region").select("r_regionkey", "r_name")

    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    outdeg = edges.groupBy("src").agg(F.sum("w").alias("wout"))
    norm = track_persist(
        edges.join(outdeg, "src")
        .select(
            "src",
            "dst",
            (F.col("w").cast("double") / F.col("wout").cast("double")).alias(
                "p"
            ),
        )
    )
    nodes = n.select(F.col("n_nationkey").alias("node"), "n_name")
    seeds = (
        n.join(F.broadcast(rg), n.n_regionkey == rg.r_regionkey)
        .where(F.col("r_name") == _PPR_SEED_REGION)
        .select(F.col("n_nationkey").alias("node"), F.lit(1).alias("is_s"))
    )
    n_seeds = float(seeds.count())  # bounded scalar (collect rule §4.3.8)
    ev = nodes.join(seeds, "node", "left").select(
        "node",
        "n_name",
        F.when(F.col("is_s").isNotNull(), F.lit(1.0) / F.lit(n_seeds))
        .otherwise(F.lit(0.0))
        .alias("e"),
    )
    ranks = ev.select("node", F.col("e").alias("r"))
    for _ in range(_PR_ITers):
        mass = (
            norm.join(F.broadcast(ranks), norm.src == ranks.node)
            .select("dst", (F.col("r") * F.col("p")).alias("contrib"))
            .groupBy("dst")
            .agg(
                F.sum(F.col("contrib").cast("decimal(38,12)"))
                .cast("double")
                .alias("mass")
            )
        )
        ranks = ev.join(mass, ev.node == mass.dst, "left").select(
            "node",
            (
                F.lit(1.0 - _PR_DAMP) * F.col("e")
                + F.lit(_PR_DAMP) * F.coalesce(F.col("mass"), F.lit(0.0))
            ).alias("r"),
        )
    return ev.join(ranks, "node").select(
        F.col("node").alias("nationkey"),
        F.col("n_name").alias("nation"),
        (F.col("e") > 0.0).alias("is_seed"),
        F.col("r").alias("ppr"),
    )


# --- HITS hubs & authorities (round 4) --------------------------------------
# Kleinberg's HITS on the directed nation trade graph (distinct edges of
# the q_pagerank derivation): authority(d) = Σ h(s) over in-edges,
# hub(s) = Σ a(d) over out-edges, each vector L2-normalized per step —
# 3 fixed unrolled iterations. Exactness: every vector sum and every
# squared-norm sum is routed through DECIMAL(38,12) (order-free, the
# q_pagerank policy); sqrt and the normalizing division are single
# correctly-rounded IEEE ops, so the whole chain is bit-identical
# cross-engine. Scale: iterations join the tiny persisted edge
# relation; the fact-side edge derivation is the only heavy stage.
_HITS_ITERS = 3

_HITS_STEP_SQL = """
    araw{i} AS (
        SELECT nodes.node,
               COALESCE(m.v, 0.0) AS v
        FROM nodes LEFT JOIN (
            SELECT e.dst AS node,
                   CAST(SUM(CAST(h{prev}.v AS DECIMAL(38,12))) AS DOUBLE) AS v
            FROM eset e JOIN h{prev} ON e.src = h{prev}.node
            GROUP BY e.dst
        ) m ON nodes.node = m.node
    ),
    an{i} AS (
        SELECT sqrt(CAST(SUM(CAST(v * v AS DECIMAL(38,12))) AS DOUBLE)) AS nrm
        FROM araw{i}
    ),
    a{i} AS (
        SELECT node, v / an{i}.nrm AS v FROM araw{i} CROSS JOIN an{i}
    ),
    hraw{i} AS (
        SELECT nodes.node,
               COALESCE(m.v, 0.0) AS v
        FROM nodes LEFT JOIN (
            SELECT e.src AS node,
                   CAST(SUM(CAST(a{i}.v AS DECIMAL(38,12))) AS DOUBLE) AS v
            FROM eset e JOIN a{i} ON e.dst = a{i}.node
            GROUP BY e.src
        ) m ON nodes.node = m.node
    ),
    hn{i} AS (
        SELECT sqrt(CAST(SUM(CAST(v * v AS DECIMAL(38,12))) AS DOUBLE)) AS nrm
        FROM hraw{i}
    ),
    h{i} AS (
        SELECT node, v / hn{i}.nrm AS v FROM hraw{i} CROSS JOIN hn{i}
    )
"""


def _hits_oracle() -> str:
    steps = ",\n".join(
        _HITS_STEP_SQL.format(i=i + 1, prev=i) for i in range(_HITS_ITERS)
    )
    k = _HITS_ITERS
    return f"""
    WITH eset AS (
        SELECT DISTINCT sn.n_nationkey AS src, cn.n_nationkey AS dst
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
        JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
    ),
    nodes AS (SELECT n_nationkey AS node, n_name FROM nation),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    h0 AS (
        SELECT node, CAST(1.0 AS DOUBLE) / sqrt(nn.n) AS v
        FROM nodes CROSS JOIN nn
    ),
    {steps}
    SELECT nodes.node AS nationkey, nodes.n_name AS nation,
           h{k}.v AS hub, a{k}.v AS authority
    FROM nodes
    JOIN h{k} ON nodes.node = h{k}.node
    JOIN a{k} ON nodes.node = a{k}.node
    """


@_q("q_hits", _hits_oracle())
def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    eset = track_persist(
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .select(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .distinct()
    )
    nodes = n.select(F.col("n_nationkey").alias("node"), "n_name")
    import math

    n_nodes = float(nodes.count())  # bounded scalar (collect rule §4.3.8)
    h = nodes.select("node", F.lit(1.0 / math.sqrt(n_nodes)).alias("v"))

    def _dec_sum_to(vec, key_in, key_out):
        return (
            eset.join(F.broadcast(vec), F.col(key_in) == vec.node)
            .groupBy(F.col(key_out).alias("node"))
            .agg(
                F.sum(F.col("v").cast("decimal(38,12)"))
                .cast("double")
                .alias("m")
            )
        )

    def _normalize(raw):
        filled = nodes.join(raw, "node", "left").select(
            "node", F.coalesce(F.col("m"), F.lit(0.0)).alias("v")
        )
        nrm = filled.agg(
            F.sqrt(
                F.sum((F.col("v") * F.col("v")).cast("decimal(38,12)")).cast(
                    "double"
                )
            ).alias("nrm")
        )
        return filled.crossJoin(F.broadcast(nrm)).select(
            "node", (F.col("v") / F.col("nrm")).alias("v")
        )

    # localCheckpoint per half-step (q_s_core discipline): without it the
    # plan re-nests the whole fact-join lineage 6× and analysis time
    # dominates (61 s → ~8 s at sf0.001 when this landed).
    a = None
    for _ in range(_HITS_ITERS):
        a = _normalize(_dec_sum_to(h, "src", "dst")).localCheckpoint()
        h = _normalize(_dec_sum_to(a, "dst", "src")).localCheckpoint()
    return (
        nodes.join(h.withColumnRenamed("v", "hub"), "node")
        .join(a.withColumnRenamed("v", "authority"), "node")
        .select(
            F.col("node").alias("nationkey"),
            F.col("n_name").alias("nation"),
            "hub",
            "authority",
        )
    )


# --- Fellegi-Sunter EM linkage-weight estimation (round 4) ------------------
# The probabilistic-record-linkage theory layer over the blocked-ER
# machinery: estimate per-field match/non-match agreement rates
# (m_i, u_i) and the match proportion p by EM over comparison-pattern
# COUNTS (Fellegi & Sunter 1969; Winkler's EM formulation — public).
# Comparison vectors on nation-blocked customer pairs: segment
# equality, 1000-unit balance-band equality, name-suffix equality.
# The distributed job is the blocked self-join + 8-pattern aggregate
# (bounded by Σ|block|², the blocking contract); EM then runs 10
# FIXED steps of exact integer fixed-point arithmetic (1e9 scale,
# floor division, GREATEST guards) on the ≤8 collected pattern rows —
# bit-identical in Python and the oracle's unrolled MATERIALIZED CTE
# chain (HUGEINT only in intermediates, never in output). The fixture
# has no true duplicates; the latent mixture EM finds is whatever the
# pattern table supports — the operator under test is the pattern
# aggregation + the exact EM mechanics.
_EM_S = 10**9
_EM_STEPS = 10
_EM_FIELDS = ("segment", "balance_band", "name_suffix")

_EM_PAT_SQL = """
    pat AS MATERIALIZED (
        SELECT CASE WHEN a.c_mktsegment = b.c_mktsegment
                    THEN 1 ELSE 0 END AS g1,
               CASE WHEN floor(CAST(a.c_acctbal AS DOUBLE) / 1000.0)
                         = floor(CAST(b.c_acctbal AS DOUBLE) / 1000.0)
                    THEN 1 ELSE 0 END AS g2,
               CASE WHEN right(a.c_name, 2) = right(b.c_name, 2)
                    THEN 1 ELSE 0 END AS g3,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM customer a
        JOIN customer b
          ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        GROUP BY 1, 2, 3
    )
"""


def _em_step_sql(k: int) -> str:
    S = _EM_S
    prev = f"em{k - 1}"
    t = [
        f"(CASE WHEN g{i} = 1 THEN e.m{i} ELSE {S} - e.m{i} END)"
        for i in (1, 2, 3)
    ]
    s = [
        f"(CASE WHEN g{i} = 1 THEN e.u{i} ELSE {S} - e.u{i} END)"
        for i in (1, 2, 3)
    ]
    mm = f"(((({t[0]} * {t[1]}) // {S}) * {t[2]}) // {S})"
    uu = f"(((({s[0]} * {s[1]}) // {S}) * {s[2]}) // {S})"
    upd_m = ", ".join(
        f"CAST(CAST(SUM(CASE WHEN g{i} = 1 THEN n * gq ELSE 0 END)"
        f" AS HUGEINT) * {S} // GREATEST(SUM(n * gq), 1) AS BIGINT) AS m{i}"
        for i in (1, 2, 3)
    )
    upd_u = ", ".join(
        f"CAST(CAST(SUM(CASE WHEN g{i} = 1 THEN n * ({S} - gq) ELSE 0 END)"
        f" AS HUGEINT) * {S} // GREATEST(SUM(n * ({S} - gq)), 1)"
        f" AS BIGINT) AS u{i}"
        for i in (1, 2, 3)
    )
    return f"""
    em{k} AS MATERIALIZED (
        SELECT CAST(SUM(n * gq) // GREATEST(SUM(n), 1) AS BIGINT) AS p,
               {upd_m},
               {upd_u}
        FROM (
            SELECT g1, g2, g3, n,
                   (w * {S}) // GREATEST(w + v, 1) AS gq
            FROM (
                SELECT pat.g1, pat.g2, pat.g3, pat.n,
                       (e.p * {mm}) // {S} AS w,
                       (({S} - e.p) * {uu}) // {S} AS v
                FROM pat CROSS JOIN {prev} e
            )
        )
    )"""


def _linkage_em_oracle() -> str:
    S = _EM_S
    init = (
        f"em0 AS (SELECT CAST({S // 10} AS BIGINT) AS p,"
        + ", ".join(
            f"CAST({9 * S // 10} AS BIGINT) AS m{i}" for i in (1, 2, 3)
        )
        + ", "
        + ", ".join(f"CAST({S // 10} AS BIGINT) AS u{i}" for i in (1, 2, 3))
        + ")"
    )
    steps = ",\n".join(_em_step_sql(k) for k in range(1, _EM_STEPS + 1))
    rows = " UNION ALL ".join(
        f"SELECT '{name}' AS field, p AS p_q, m{i} AS m_q, u{i} AS u_q"
        f" FROM em{_EM_STEPS}"
        for i, name in enumerate(_EM_FIELDS, start=1)
    )
    return f"""
    WITH {_EM_PAT_SQL}, {init},
    {steps}
    SELECT field, p_q, m_q, u_q,
           CAST(p_q AS DOUBLE) / {S}.0 AS p,
           CAST(m_q AS DOUBLE) / {S}.0 AS m,
           CAST(u_q AS DOUBLE) / {S}.0 AS u,
           CASE WHEN u_q = 0 THEN 0.0
                ELSE CAST(m_q AS DOUBLE) / u_q END AS agreement_weight
    FROM ({rows})
    """


@_q("q_linkage_em", _linkage_em_oracle())
def q_linkage_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    c = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal", "c_name"
    )
    a = c.select(
        F.col("c_nationkey").alias("nk"),
        F.col("c_custkey").alias("ka"),
        F.col("c_mktsegment").alias("seg_a"),
        F.floor(F.col("c_acctbal").cast("double") / 1000.0).alias("bal_a"),
        F.expr("right(c_name, 2)").alias("sfx_a"),
    )
    b = c.select(
        F.col("c_nationkey").alias("nk"),
        F.col("c_custkey").alias("kb"),
        F.col("c_mktsegment").alias("seg_b"),
        F.floor(F.col("c_acctbal").cast("double") / 1000.0).alias("bal_b"),
        F.expr("right(c_name, 2)").alias("sfx_b"),
    )
    pat = (
        a.join(b, "nk")
        .where(F.col("ka") < F.col("kb"))
        .select(
            F.when(F.col("seg_a") == F.col("seg_b"), 1).otherwise(0).alias("g1"),
            F.when(F.col("bal_a") == F.col("bal_b"), 1).otherwise(0).alias("g2"),
            F.when(F.col("sfx_a") == F.col("sfx_b"), 1).otherwise(0).alias("g3"),
        )
        .groupBy("g1", "g2", "g3")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    rows = [
        (r["g1"], r["g2"], r["g3"], r["n"]) for r in pat.collect()
    ]  # ≤8 bounded scalars

    S = _EM_S
    p = S // 10
    m = [9 * S // 10] * 3
    u = [S // 10] * 3
    for _ in range(_EM_STEPS):
        sp = sn = 0
        sm_num = [0, 0, 0]
        su_num = [0, 0, 0]
        su_den = 0
        for g1, g2, g3, n in rows:
            g = (g1, g2, g3)
            tt = [m[i] if g[i] == 1 else S - m[i] for i in range(3)]
            ss = [u[i] if g[i] == 1 else S - u[i] for i in range(3)]
            mm = (((tt[0] * tt[1]) // S) * tt[2]) // S
            uu = (((ss[0] * ss[1]) // S) * ss[2]) // S
            w = (p * mm) // S
            v = ((S - p) * uu) // S
            gq = (w * S) // max(w + v, 1)
            sp += n * gq
            sn += n
            su_den += n * (S - gq)
            for i in range(3):
                if g[i] == 1:
                    sm_num[i] += n * gq
                    su_num[i] += n * (S - gq)
        p = sp // max(sn, 1)
        m = [(sm_num[i] * S) // max(sp, 1) for i in range(3)]
        u = [(su_num[i] * S) // max(su_den, 1) for i in range(3)]

    out_rows = [
        (name, p, m[i], u[i]) for i, name in enumerate(_EM_FIELDS)
    ]
    schema = StructType(
        [
            StructField("field", StringType()),
            StructField("p_q", LongType()),
            StructField("m_q", LongType()),
            StructField("u_q", LongType()),
        ]
    )
    res = local_rows(spark, out_rows, schema)
    return res.selectExpr(
        "field",
        "p_q",
        "m_q",
        "u_q",
        f"CAST(p_q AS DOUBLE) / {S}.0 AS p",
        f"CAST(m_q AS DOUBLE) / {S}.0 AS m",
        f"CAST(u_q AS DOUBLE) / {S}.0 AS u",
        "CASE WHEN u_q = 0 THEN 0.0"
        " ELSE CAST(m_q AS DOUBLE) / u_q END AS agreement_weight",
    )


# --- label-propagation communities (round 7) ----------------------------------
# Community DETECTION over the part co-purchase graph — the derivation
# step q_modularity takes as INPUT (it scores given communities; this
# finds them). Deterministic synchronous LPA: labels start as node ids;
# each of 3 fixed iterations every node adopts the argmax neighbor
# label under the pinned (count DESC, label ASC) tie order, so both
# engines walk identical label states (classic async LPA is
# order-dependent — useless for a differential gate). Output is the
# community-size histogram (aggregate-sized).
# Scale: edges come from the per-basket pair expansion (bounded by the
# q_basket_triples guard: C(17,2) per order, never |parts|²); every
# iteration is ONE hash shuffle on dst for the (dst, label) count and
# its argmax is an AGGREGATE (max of (count, -label) structs —
# map-side combinable), not a window. 3 iterations = 3 shuffles on the
# same key. The DuckDB oracle unrolls the same 3 iterations (QUALIFY
# row_number for the argmax — DuckDB's arg_max rejects struct keys).
_LPA_ITERS = 3


def _lpa_oracle() -> str:
    prev = "l0"
    steps = []
    for i in range(1, _LPA_ITERS + 1):
        steps.append(
            f"""l{i} AS (
        SELECT e.dst AS node, p.label
        FROM e JOIN {prev} p ON e.src = p.node
        GROUP BY e.dst, p.label
        QUALIFY ROW_NUMBER() OVER (PARTITION BY e.dst
                                   ORDER BY COUNT(*) DESC, p.label) = 1
    )"""
        )
        prev = f"l{i}"
    steps_sql = ",\n    ".join(steps)
    return f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), ud AS (
        SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
        FROM items a
        JOIN items b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
    ), e AS (
        SELECT a AS src, b AS dst FROM ud
        UNION ALL
        SELECT b AS src, a AS dst FROM ud
    ), l0 AS (
        SELECT DISTINCT dst AS node, CAST(dst AS BIGINT) AS label FROM e
    ),
    {steps_sql}
    , sizes AS (
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n_members
        FROM {prev} GROUP BY label
    )
    SELECT n_members, CAST(COUNT(*) AS BIGINT) AS n_communities
    FROM sizes GROUP BY n_members
    """


@_q("q_lpa_communities", _lpa_oracle())
def q_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    items = (
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    ud = (
        items.alias("a")
        .join(
            items.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("a"), F.col("b.l_partkey").alias("b")
        )
        .distinct()
    )
    e = ud.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
        ud.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    # e feeds every iteration (3 consumers) — persist once, released
    # between queries by the plans/rank.py lifecycle.
    e = track_persist(e)
    labels = e.select(F.col("dst").alias("node")).distinct().select(
        "node", F.col("node").cast("bigint").alias("label")
    )
    for _ in range(_LPA_ITERS):
        counts = (
            e.join(labels, e.src == labels.node)
            .groupBy("dst", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # argmax (c DESC, label ASC) as an AGGREGATE: max of the
        # (c, -label) struct, then negate back — map-side combinable,
        # no window over the node-label relation.
        labels = counts.groupBy("dst").agg(
            F.max(F.struct(F.col("c"), (-F.col("label")).alias("nl"))).alias(
                "m"
            )
        ).select(
            F.col("dst").alias("node"),
            (-F.col("m.nl")).cast("bigint").alias("label"),
        )
    sizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )
    return sizes.groupBy("n_members").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_communities")
    )


# --- grid-density clustering, DBSCAN-style (round 7) ---------------------------
# The density-based clustering family beside q_kmeans (centroidal) and
# q_lpa_communities (graph label propagation): quantize (day-of-year,
# value/5) into grid cells, call a cell CORE when its count is at least
# twice the mean cell count (exact integer inequality n·nc ≥ 2·t — the
# adaptive threshold keeps the operator non-vacuous at every scale), and
# merge 8-neighbor-adjacent core cells into clusters — the grid
# formulation of DBSCAN's eps-connectivity (cf. GriDBSCAN/GriT-DBSCAN),
# which replaces the O(n²) eps-range self-join with an EQUI-join of the
# bounded cell relation against 8 literal offsets. Components ride
# functions/graph.py's connected_components_star (same helper the LSH
# dedup family value-checks via q_dedup_cc_checked), so labels are
# canonical min cell-ids and the DuckDB recursive CTE reproduces them
# exactly. Plan: ONE fact-sized aggregate (the cell histogram); the grid
# is bounded (≤366×~115 cells) so the threshold broadcast, the offset
# join, the CC loop, and the summary all run on aggregate-sized data.
@_q(
    "q_dbscan_grid",
    """
    WITH RECURSIVE cells AS (
        SELECT dayofyear(ts) AS gx, CAST(floor(value / 5) AS BIGINT) AS gy,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events
        WHERE value IS NOT NULL AND value >= 0 AND value < 50000
        GROUP BY 1, 2
    ), tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS t, CAST(COUNT(*) AS BIGINT) AS nc
        FROM cells
    ), core AS (
        SELECT gx * 10000 + gy AS cid, gx, gy, n
        FROM cells CROSS JOIN tot WHERE n * nc >= 2 * t
    ), edges AS (
        SELECT a.cid AS src, b.cid AS dst
        FROM core a
        CROSS JOIN (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),
                           (0,1),(1,-1),(1,0),(1,1)) o(dx, dy)
        JOIN core b ON b.gx = a.gx + o.dx AND b.gy = a.gy + o.dy
    ), reach AS (
        SELECT cid, cid AS lbl FROM core
        UNION
        SELECT e.dst AS cid, r.lbl FROM reach r JOIN edges e ON e.src = r.cid
    ), lab AS (
        SELECT cid, MIN(lbl) AS component FROM reach GROUP BY cid
    )
    SELECT CAST(l.component AS BIGINT) AS component,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(c.n) AS BIGINT) AS n_points,
           CAST(MIN(c.gx) AS BIGINT) AS gx_min,
           CAST(MAX(c.gx) AS BIGINT) AS gx_max,
           CAST(MIN(c.gy) AS BIGINT) AS gy_min,
           CAST(MAX(c.gy) AS BIGINT) AS gy_max
    FROM lab l JOIN core c ON c.cid = l.cid
    GROUP BY 1
    """,
)
def q_dbscan_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_streaming_spark.functions.graph import (
        connected_components_star,
    )

    # The cid pairing gx*10000+gy below is injective ONLY for gy in
    # [0, 10000), i.e. value in [0, 50000) — outside that band distinct
    # cells would collide and silently merge (ADVICE r7). The explicit
    # domain guard makes out-of-band rows excluded-by-spec rather than
    # wrong; it is an identity filter on the fixture (value in
    # [0.01, 490]) and appears in both engines.
    ev = t(spark, sf_dir, "events").where(
        F.col("value").isNotNull()
        & (F.col("value") >= 0)
        & (F.col("value") < 50000)
    )
    cells = ev.groupBy(
        F.dayofyear("ts").alias("gx"),
        F.floor(F.col("value") / 5).cast("bigint").alias("gy"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = cells.agg(
        F.sum("n").cast("bigint").alias("t"),
        F.count(F.lit(1)).cast("bigint").alias("nc"),
    )
    core = (
        cells.crossJoin(F.broadcast(tot))
        .where(F.col("n") * F.col("nc") >= 2 * F.col("t"))
        .select(
            (F.col("gx") * 10000 + F.col("gy")).alias("cid"),
            "gx",
            "gy",
            "n",
        )
    )
    offsets = local_rows(
        spark,
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)
         if (dx, dy) != (0, 0)],
        "dx int, dy int",
    )
    a = core.alias("a")
    b = core.alias("b")
    neigh = (
        a.crossJoin(F.broadcast(offsets))
        .join(
            b,
            (F.col("b.gx") == F.col("a.gx") + F.col("dx"))
            & (F.col("b.gy") == F.col("a.gy") + F.col("dy")),
        )
        .select(F.col("a.cid").alias("src"), F.col("b.cid").alias("dst"))
    )
    # self-loops register isolated core cells as singleton components
    # (the star CC drops them from e but keeps them in its node set).
    # Star rounds, not min-label propagation: the dense-cell graph is
    # CHAINY (a seasonal ridge spans dozens of adjacent days), so its
    # diameter — not log n — would bound the label-propagation loop.
    edges = neigh.unionByName(
        core.select(F.col("cid").alias("src"), F.col("cid").alias("dst"))
    )
    comp = connected_components_star(edges)
    return (
        core.join(comp, core.cid == comp.node)
        .groupBy(F.col("component").cast("bigint").alias("component"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            F.sum("n").cast("bigint").alias("n_points"),
            F.min("gx").cast("bigint").alias("gx_min"),
            F.max("gx").cast("bigint").alias("gx_max"),
            F.min("gy").cast("bigint").alias("gy_min"),
            F.max("gy").cast("bigint").alias("gy_max"),
        )
    )
