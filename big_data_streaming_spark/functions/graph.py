"""Iterative graph operators: connected components by min-label
propagation — the transitive-closure step LSH dedup needs (docs A~B and
B~C must dedup together even when A and C share no bucket).

The loop is driver-side but each iteration is fully distributed (join +
aggregate); convergence is checked with a bounded scalar count. Lineage
is cut with ``localCheckpoint`` every iteration — without it the plan
doubles per round and planning time, not compute, becomes the bottleneck.
Converges in O(graph diameter) rounds; LSH-bucket graphs are star-shaped
(docs → bucket representative), so diameters are small (≤ 2×bands hops).

At 100 TB this is the standard min-label-propagation CC (cf. the
large-star/small-star refinement); the star-edge construction below keeps
the edge set O(n·bands), never the O(n²) within-bucket clique.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from big_data_streaming_spark.sources import local_rows


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    check_every: int = 2,
) -> DataFrame:
    """(node, component) for every node in ``edges``; component = min node
    id reachable. Undirected (edges are symmetrized).

    Convergence is probed only every ``check_every`` rounds: the changed-
    label count is a full join + count action, and paying it per round
    doubles the action count for graphs that need several rounds anyway.
    Between probes the propagation step (already an eager localCheckpoint
    job) runs back-to-back. Worst case this runs ``check_every - 1``
    extra no-op propagation rounds — each a cheap join on an already-
    converged label set — in exchange for halving (or better) the number
    of driver actions on deep graphs."""
    # The symmetrized edge relation is probed EVERY round; without persist
    # each iteration re-derives the caller's whole edge subtree (for the
    # ER caller that is a blocked self-join + levenshtein per round —
    # measured 6.3 s → 3.7 s at sf0.1 with persist). Unpersisted before
    # return; the returned labels are localCheckpointed and independent.
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .persist()
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint()
    )
    if max_iter <= 0:
        # Zero rounds would return all-singleton labels for any graph
        # with edges — exactly the fabricated-components output the
        # non-convergence guard below exists to prevent (ADVICE r7).
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    check_every = max(1, check_every)
    last_checked = labels
    converged = False

    def propagate(lbl: DataFrame) -> DataFrame:
        """One round of min-label propagation. Shared by the loop body
        and the final-round convergence probe so the probe can never
        drift from the recurrence that actually ran (ADVICE r8)."""
        nbr_min = (
            sym.join(lbl, sym.b == lbl.node)
            .groupBy("a")
            .agg(F.min("component").alias("nbr_component"))
        )
        return lbl.join(nbr_min, lbl.node == nbr_min.a, "left").select(
            "node",
            F.least(
                F.col("component"),
                F.coalesce("nbr_component", F.col("component")),
            ).alias("component"),
        )

    try:
        for i in range(max_iter):
            labels = propagate(labels)
            probing = (i + 1) % check_every == 0 or i == max_iter - 1
            # Checkpoint only at probe boundaries: between probes the
            # rounds compose LAZILY, so check_every propagation rounds
            # cost ONE materialization job instead of one per round —
            # the same shuffle work in fewer scheduled jobs. Measured
            # neutral at sf0.1 (the work, not the job count, dominates
            # there — BENCH_NOTES.md round 9) but it halves the action
            # count that a many-round run pays on a busy scheduler.
            # Lineage depth stays bounded by check_every (a handful of
            # joins), which the checkpoint then truncates.
            if probing:
                # eager=False: the changed-count action materializes the
                # checkpoint as it runs — one job per probe boundary
                # instead of checkpoint-then-count (round 12).
                labels = labels.localCheckpoint(eager=False)
                changed = (
                    labels.alias("n")
                    .join(last_checked.alias("o"), "node")
                    .filter(F.col("n.component") != F.col("o.component"))
                    .count()
                )
                if changed == 0:
                    converged = True
                    break
                last_checked = labels
        if not converged:
            # Final-round boundary (ADVICE r7): the in-loop probe compares
            # against a snapshot up to check_every rounds old, so a graph
            # that converges EXACTLY on round max_iter still reads
            # changed > 0 although the returned labels are correct. One
            # extra propagation round on the final labels — a single
            # cheap join on the (possibly) converged label set —
            # distinguishes "converged on the last round" from "still
            # moving" before the guard below fails loudly.
            probe = propagate(labels)
            still_moving = (
                probe.alias("n")
                .join(labels.alias("o"), "node")
                .filter(F.col("n.component") != F.col("o.component"))
                .count()
            )
            converged = still_moving == 0
    finally:
        # release even when an action inside the loop throws — a leaked
        # persist would pin the caller's edge subtree for the session
        sym.unpersist()
    if not converged:
        # Anti-fabrication: labels that stopped moving because the ROUND
        # BUDGET ran out are not components — on a chainy graph (diameter
        # > max_iter) every node past the propagation horizon keeps a
        # wrong, too-large label, and the caller would silently merge or
        # split clusters. Surfaced by q_dbscan_grid development: the
        # sf0.01 dense-cell grid has diameter ~40 and the default budget
        # returned unconverged labels that only a differential oracle
        # caught. Fail loudly instead; deep/chainy graphs should use
        # connected_components_star (O(log n) rounds on any shape).
        raise RuntimeError(
            f"connected_components did not converge within max_iter="
            f"{max_iter} rounds (labels still changing at the final "
            f"probe). The graph's diameter likely exceeds the round "
            f"budget — raise max_iter or use connected_components_star."
        )
    return labels


def minhash_dedup_components(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 4,
    max_iter: int = 20,
    algorithm: str = "propagation",
) -> DataFrame:
    """Near-dup clustering with TRUE transitive closure: star edges
    (doc → per-bucket min doc) from the LSH bands, then connected
    components. Returns (doc_id, component, is_dup). Strictly merges the
    one-hop ``minhash_dedup_clusters`` output — chains A~B~C collapse to
    one component even when A and C never collide.

    ``algorithm``: "propagation" (min-label, O(diameter) rounds — right
    for the star-shaped LSH graphs this produces, diameter ≤ 2·bands) or
    "star" (large-star/small-star, O(log n) rounds — right when bucket
    chains run deep, e.g. tiny bands over a near-duplicate-heavy corpus)."""
    from pyspark.sql.window import Window

    from big_data_streaming_spark.functions.dedup import _band_hashes

    bh = _band_hashes(df, id_col, text_col, num_hashes, bands)
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
    if algorithm == "star":
        cc = connected_components_star(star, max_iter=max_iter)
    elif algorithm == "propagation":
        cc = connected_components(star, max_iter=max_iter)
    else:
        raise ValueError(f"unknown CC algorithm: {algorithm!r}")
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
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    persist_edges: bool = False,
) -> DataFrame:
    """(node, component) via alternating large-star / small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    O(log n) rounds on ANY graph shape, vs O(diameter) for min-label
    propagation. The 100 TB form for deep/chainy graphs:

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
    base = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
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
        # then emit duplicate rows with fabricated component labels, the
        # exact bug class connected_components' propagation guard raises
        # loudly on. Fail the same way instead of returning garbage;
        # alternating star rounds converge in O(log n), so a graph that
        # blows a 25-round budget (n > 2^25 per component under the
        # worst-case bound) is a caller error, not a data shape to paper
        # over.
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
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, dist) for every node within ``hops`` directed edges of
    ``source`` — bounded-frontier BFS as iterated join + min-aggregate.

    Each round expands the CURRENT reach set along the edge relation and
    folds with MIN(dist); ``hops`` rounds compute exact min-hop distances
    for all paths of length <= hops. The reach relation is broadcast into
    the expansion join (it is bounded by the node count), so each round
    shuffles only the expanded frontier. Callers with an expensively-
    derived edge relation should persist it — it is probed every round.
    """
    reach = (
        edges.select(F.col(src).alias("node"))
        .limit(0)
        .withColumn("dist", F.lit(0))
    )
    reach = local_rows(edges.sparkSession, [(source, 0)], reach.schema)
    for _ in range(hops):
        expanded = edges.join(
            F.broadcast(reach), F.col(src) == F.col("node")
        ).select(F.col(dst).alias("node"), (F.col("dist") + 1).alias("dist"))
        # Truncate lineage each round (mirrors connected_components):
        # without it, round i re-executes all previous rounds' join+agg
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
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """(node, dist) min-PLUS relaxation: exact cheapest path of at most
    ``hops`` edges from ``source`` over a weighted directed edge relation
    — the weighted twin of :func:`bfs_hops` (same broadcast-frontier
    rounds; the fold is min over dist + w instead of min over hop
    counts). Negative weights are fine within the hop bound (no cycles
    complete in < hops relaxations by construction)."""
    reach = (
        edges.select(F.col(src).alias("node"))
        .limit(0)
        .withColumn("dist", F.lit(0).cast("bigint"))
    )
    reach = local_rows(edges.sparkSession, [(source, 0)], reach.schema)
    for _ in range(hops):
        expanded = edges.join(
            F.broadcast(reach), F.col(src) == F.col("node")
        ).select(
            F.col(dst).alias("node"),
            (F.col("dist") + F.col(weight)).alias("dist"),
        )
        reach = (
            reach.unionByName(expanded)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint()  # same O(hops²) lineage guard as bfs_hops
        )
    return reach
