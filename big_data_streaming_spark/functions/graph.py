"""Iterative graph operators: connected components by alternating
large-star / small-star rounds — the transitive-closure step LSH dedup
needs (docs A~B and B~C must dedup together even when A and C share no
bucket) — and hop-bounded BFS / Bellman-Ford relaxation.

Each loop is driver-side but every round is fully distributed (joins +
aggregates). Lineage is cut with ``localCheckpoint`` every round — without
it the plan doubles per round and planning time, not compute, becomes the
bottleneck. Star CC converges in O(log n) rounds on any graph shape
(Kiveris et al., SoCC 2014), so a chainy graph costs no more rounds than a
shallow one; the star-edge construction in ``minhash_dedup_components``
keeps the edge set O(n·bands), never the O(n²) within-bucket clique.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from big_data_streaming_spark.sources import local_rows


def minhash_dedup_components(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bands: int = 4,
) -> DataFrame:
    """Near-dup clustering with TRUE transitive closure: star edges
    (doc → per-bucket min doc) from the LSH bands, then connected
    components. Returns (doc_id, component, is_dup). Strictly merges the
    one-hop ``minhash_dedup_clusters`` output — chains A~B~C collapse to
    one component even when A and C never collide. The components come
    from :func:`connected_components_star`, whose round count stays
    logarithmic however deep bucket chains run."""
    from pyspark.sql.window import Window

    from big_data_streaming_spark.functions.dedup import _band_hashes

    bh = _band_hashes(df, id_col, text_col, 32, bands)
    # Per-bucket representative via a window MIN over (band, bh) instead
    # of groupBy + join-back (round 12, guide §2.4): the join form
    # evaluated the whole minhash band-hash subtree TWICE (once per join
    # side) and paid a second (band, bh) exchange; the window shares one
    # exchange and one evaluation. Output identical (same min per
    # bucket, same != filter); 6.1 → 5.1 s best-of-4 interleaved at
    # sf0.1 on q_dedup_components.
    wb = Window.partitionBy("band", "bh")
    star = (
        bh.withColumn("rep", F.min(id_col).over(wb))
        .filter(F.col(id_col) != F.col("rep"))
        .select(F.col(id_col).alias("src"), F.col("rep").alias("dst"))
        .distinct()
    )
    cc = connected_components_star(star, max_iter=20)
    all_docs = df.select(F.col(id_col))
    return (
        all_docs.join(cc, all_docs[id_col] == cc.node, "left")
        .select(
            F.col(id_col),
            F.coalesce("component", F.col(id_col)).alias("component"),
        )
        .withColumn("is_dup", F.col("component") < F.col(id_col))
    )


def connected_components_star(
    edges: DataFrame,
    max_iter: int = 25,
    persist_edges: bool = False,
) -> DataFrame:
    """(node, component) of the ``src``/``dst`` edge relation via
    alternating large-star / small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    O(log n) rounds on ANY graph shape, where min-label propagation needs
    O(diameter). The 100 TB form for deep/chainy graphs:

    * large-star: every node points its larger neighbors at the minimum
      of its neighborhood — long tendrils fold toward the minimum
      exponentially.
    * small-star: edges (u, v<u) regroup so u and all its smaller
      neighbors hang off the local minimum — stars flatten to depth 1.

    Neither step materializes a neighborhood list (hot nodes would OOM a
    ``collect_list``); the per-node minimum is an aggregate and the
    rewrite a join against it — two shuffles per half-round, all
    DataFrame ops. Convergence = edge multiset fixed point, probed with
    one aggregate action per round (count + order-independent xxhash sum
    in a single job, no edge-set subtract)."""
    # The caller's edge relation is consumed TWICE: once into the initial
    # canonical edge set and once (at the caller's final action) by the
    # ``isolated`` node roster below. ``persist_edges=True`` pins one
    # evaluation via the ranker lifecycle (released between queries by
    # the registry wrapper / bench / test fixtures) — OPT-IN because the
    # round-12 interleaved A/Bs split by caller: a heavyweight edge
    # subtree wins (n-gram Jaccard pairs: q_dedup_cc_checked 3.06 →
    # 2.35 s), while cheap subtrees pay more for the cache write + read
    # than the recompute costs (q_dbscan_grid 5.3 → 7.1 s WITH persist,
    # q_dedup_components likewise negative).
    base = edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    if persist_edges:
        from big_data_streaming_spark.plans.rank import track_persist

        base = track_persist(base)
    # eager=False: the signature probe below materializes the checkpoint
    # AND computes the signature in ONE scheduled job (round 12; the
    # eager form paid one materialization job plus one probe job per
    # round — same shuffles, twice the driver actions). Lineage is still
    # truncated at job end, so per-round plans stay bounded.
    e = (
        base.filter(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    isolated = (
        base.select(F.col("u").alias("node"))
        .unionByName(base.select(F.col("v").alias("node")))
        .distinct()
    )

    def _sig(df: DataFrame) -> tuple[int, int]:
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")), F.lit(0)
            ).alias("h"),
        ).first()
        return row["n"], int(row["h"])

    prev_sig = _sig(e)
    converged = False
    for _ in range(max_iter):
        # -- large-star ---------------------------------------------------
        sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            sym.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # The large-star output stays LAZY into the small-star step: one
        # localCheckpoint per alternating round instead of two (round-11,
        # guide §1.2 "fewer passes"). The edge evolution is unchanged —
        # the canonicalize+distinct between the steps still runs, only
        # its materialization barrier is gone — verified label-identical
        # at sf0.1 (4,675 nodes) and ~8% faster; lineage depth per round
        # stays bounded at the two star steps the checkpoint truncates.
        e_mid = (
            large.filter(F.col("u") != F.col("v"))
            .select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            .distinct()
        )
        # -- small-star ---------------------------------------------------
        # e_mid is canonical (u > v): every edge points to the smaller node
        m2 = e_mid.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            e_mid.join(m2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(m2.select(F.col("u"), F.col("m").alias("v")))
        )
        # lazy checkpoint + signature probe = ONE job per round (the
        # probe's aggregate materializes the checkpoint as it runs).
        e = (
            small.filter(F.col("u") != F.col("v"))
            .select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            .distinct()
            .localCheckpoint(eager=False)
        )
        sig = _sig(e)
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        # Anti-fabrication (ADVICE r9): exhausting the round budget
        # without reaching the edge-multiset fixed point means ``e`` can
        # still hold MULTIPLE edges per node — the comp join below would
        # then emit duplicate rows with fabricated component labels
        # (max_iter <= 0 runs no round at all). Fail loudly instead of
        # returning garbage; alternating star rounds converge in
        # O(log n), so a graph that blows a 25-round budget (n > 2^25 per
        # component under the worst-case bound) is a caller error, not a
        # data shape to paper over.
        raise RuntimeError(
            f"connected_components_star did not reach the edge-multiset "
            f"fixed point within max_iter={max_iter} alternating rounds; "
            f"unconverged star edges would yield duplicate/fabricated "
            f"component labels. Raise max_iter."
        )

    # fixed point: e holds (node, component-min) star edges
    comp = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    return (
        isolated.join(comp, "node", "left")
        .select(
            "node",
            F.coalesce("component", F.col("node")).alias("component"),
        )
    )


def bfs_hops(
    edges: DataFrame,
    source,
    hops: int,
) -> DataFrame:
    """(node, dist) for every node within ``hops`` directed ``src`` →
    ``dst`` edges of ``source`` — bounded-frontier BFS as iterated join + min-aggregate.

    Each round expands the CURRENT reach set along the edge relation and
    folds with MIN(dist); ``hops`` rounds compute exact min-hop distances
    for all paths of length <= hops. The reach relation is broadcast into
    the expansion join (it is bounded by the node count), so each round
    shuffles only the expanded frontier. Callers with an expensively-
    derived edge relation should persist it — it is probed every round.
    """
    reach = (
        edges.select(F.col("src").alias("node"))
        .limit(0)
        .withColumn("dist", F.lit(0))
    )
    reach = local_rows(edges.sparkSession, [(source, 0)], reach.schema)
    for _ in range(hops):
        expanded = edges.join(
            F.broadcast(reach), F.col("src") == F.col("node")
        ).select(F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
        # Truncate lineage each round (as connected_components_star
        # does): without it, round i re-executes all previous rounds' join+agg
        # under the re-broadcast — O(hops²) recompute and ever-deeper
        # plans once hops grows past the small-hop callers.
        reach = (
            reach.unionByName(expanded)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint()
        )
    return reach


def bellman_ford_hops(
    edges: DataFrame,
    source,
    hops: int,
) -> DataFrame:
    """(node, dist) min-PLUS relaxation: exact cheapest path of at most
    ``hops`` edges from ``source`` over a weighted directed edge relation
    (``src``, ``dst``, weight ``w``)
    — the weighted twin of :func:`bfs_hops` (same broadcast-frontier
    rounds; the fold is min over dist + w instead of min over hop
    counts). Negative weights are fine within the hop bound (no cycles
    complete in < hops relaxations by construction)."""
    reach = (
        edges.select(F.col("src").alias("node"))
        .limit(0)
        .withColumn("dist", F.lit(0).cast("bigint"))
    )
    reach = local_rows(edges.sparkSession, [(source, 0)], reach.schema)
    for _ in range(hops):
        expanded = edges.join(
            F.broadcast(reach), F.col("src") == F.col("node")
        ).select(
            F.col("dst").alias("node"),
            (F.col("dist") + F.col("w")).alias("dist"),
        )
        reach = (
            reach.unionByName(expanded)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint()  # same O(hops²) lineage guard as bfs_hops
        )
    return reach
