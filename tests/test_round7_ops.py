"""Targeted property tests for the round-7 operators — the edge cases
the three-scale differential gate cannot reach (corrupt payloads,
exact-allocation identities, kernel/arithmetic agreement on adversarial
inputs)."""

from __future__ import annotations

import struct

import pytest

from big_data_streaming_spark.workload import QUERIES

SF = "/root/testdata/sf0.001"


# --- audio clip kernel ------------------------------------------------------


def _wav(samples: list[int], rate: int = 44100) -> bytes:
    n = len(samples)
    data = b"".join(struct.pack("<h", s) for s in samples)
    return (
        b"RIFF"
        + struct.pack("<I", 36 + 2 * n)
        + b"WAVEfmt "
        + struct.pack("<I", 16)
        + struct.pack("<HH", 1, 1)
        + struct.pack("<I", rate)
        + struct.pack("<I", rate * 2)
        + struct.pack("<HH", 2, 16)
        + b"data"
        + struct.pack("<I", 2 * n)
        + data
    )


def test_audio_clip_stats_counts_and_nulls(spark):
    """Kernel vs hand-computed truth on adversarial payloads: exact
    threshold boundaries (±32000 clip, ±31999 don't), int16 extremes,
    an empty data section, a corrupt header, a NULL payload, an
    odd-length data section, and a header one byte short."""
    from big_data_streaming_spark.functions.multimodal import (
        audio_clip_stats,
    )

    rows = [
        (0, _wav([0, 100, -100])),            # no clips, max_abs 100
        (1, _wav([32000, -32000, 31999, -31999])),  # exactly 2 clip
        (2, _wav([-32768, 32767])),            # extremes: both clip
        (3, _wav([])),                         # empty data section
        (4, b"RIFFxxxxNOTAWAVE"),               # corrupt → NULLs
        (5, None),                              # NULL payload → NULLs
        (6, _wav([7, -7]) + b"\x01"),           # odd-length data → NULLs
        (7, _wav([])[:43]),                     # 43 bytes: no header → NULLs
        (8, b""),                               # empty payload → NULLs
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    got = {
        r["doc_id"]: r.asDict()
        for r in audio_clip_stats(df, threshold=32000).collect()
    }
    assert got[0]["clip_count"] == 0 and got[0]["max_abs"] == 100
    assert got[1]["clip_count"] == 2 and got[1]["n_samples"] == 4
    assert got[2]["clip_count"] == 2 and got[2]["max_abs"] == 32768
    assert got[3]["n_samples"] == 0 and got[3]["clip_share"] == 0.0
    nulls = {"n_samples": None, "clip_count": None, "max_abs": None,
             "clip_share": None}
    for k in (4, 5, 6, 7, 8):
        assert {c: got[k][c] for c in nulls} == nulls, (k, got[k])


def test_synth_wav_tone_payload_matches_recurrence(spark):
    """The codegen-built payload's data section must decode to exactly
    the documented recurrence: stored uint16 m_k = (seed + k*c) % 65536,
    signed s_k = m_k - 65536 when m_k >= 32768."""
    import numpy as np

    from pyspark.sql import functions as F

    from big_data_streaming_spark.functions.multimodal import (
        synth_wav_tone_payload,
    )

    df = spark.range(3).select(
        F.col("id").alias("doc_id"),
        synth_wav_tone_payload(
            F.col("id") * 97, F.lit(50) + F.col("id")
        ).alias("payload"),
    )
    for r in df.collect():
        seed, n = r["doc_id"] * 97, 50 + r["doc_id"]
        got = np.frombuffer(bytes(r["payload"]), dtype="<i2", offset=44)
        m = (seed + np.arange(n, dtype=np.int64) * 2654435761) % 65536
        want = np.where(m >= 32768, m - 65536, m)
        assert got.size == n
        assert (got == want).all()


# --- quota apportionment ----------------------------------------------------


def test_quota_apportion_sums_exactly_to_budget(spark):
    """Hamilton's method must allocate EXACTLY K — no rounding drift —
    with every stratum getting base or base+1."""
    pdf = QUERIES["q_quota_apportion"](spark, SF).toPandas()
    assert int(pdf["alloc"].sum()) == 1000
    assert ((pdf["alloc"] - pdf["base"]).isin([0, 1])).all()
    # proportionality sanity: allocation within 1 of the real quota
    n = int(pdf["n_docs"].sum())
    quota = 1000.0 * pdf["n_docs"] / n
    assert ((pdf["alloc"] - quota).abs() <= 1.0).all()


# --- KMV sketch -------------------------------------------------------------


def test_kmv_estimate_within_sketch_error(spark):
    """The KMV estimate must land within the standard ~2/sqrt(k)
    relative-error envelope of the exact distinct count (k=64 → ~25%;
    allow 3/sqrt(k) for the single deterministic draw)."""
    row = QUERIES["q_kmv_distinct"](spark, SF).collect()[0]
    assert row["k_used"] == 64
    assert abs(row["rel_err"]) <= 3.0 / (64 ** 0.5), row


# --- release wrapper end-to-end --------------------------------------------


def test_registry_query_releases_prior_pins(spark):
    """Sequential registry execution must not accumulate persisted
    relations (ADVICE r6): after running a global_order-using query and
    then constructing any other registry query, the pin list is empty."""
    from big_data_streaming_spark.plans import rank as rank_mod

    rank_mod.release_persisted()
    QUERIES["q_cliff_delta"](spark, SF).collect()
    assert len(rank_mod._PERSISTED) >= 1
    QUERIES["q_count_all"](spark, SF)
    assert not rank_mod._PERSISTED


# --- KMV set-operation estimates --------------------------------------------


def test_kmv_setops_estimator_identities(spark):
    """Internal-consistency identities the differential gate can't see
    (both engines would agree on a WRONG formula): the membership count
    is bounded by the sketch, rho is a proper fraction, exact_union obeys
    inclusion-exclusion against its own parts, and the deterministic KMV
    union estimate lands within the standard 3/sqrt(k) band of the true
    hash-set union."""
    row = QUERIES["q_kmv_setops"](spark, SF).collect()[0]
    assert row["k_used"] <= 64 and row["n_both"] <= row["k_used"]
    assert 0.0 <= row["est_jaccard"] <= 1.0
    assert row["exact_union"] >= max(row["exact_inter"], 1)
    assert (
        abs(row["est_union"] - row["exact_union"]) / row["exact_union"]
        <= 3.0 / (row["k_used"] ** 0.5)
    ), row


# --- RANSAC cleared-denominator inlier test ----------------------------------


def test_ransac_cleared_denominator_identity():
    """|dx·(yc-yc1) - (x-x1)·dy| <= eps·|dx|  must decide EXACTLY the
    set  |yc - (yc1 + (x-x1)·dy/dx)| <= eps  (dx != 0): the BIGINT form
    the query ships cannot drift from the textbook division form. Swept
    over a deterministic grid that crosses the boundary in both signs."""
    eps = 7
    for dx in (-5, -1, 2, 9):
        for dy in (-13, 0, 4):
            for x_off in range(-6, 7):
                for yc_off in range(-40, 41, 5):
                    lhs_int = abs(dx * yc_off - x_off * dy) <= eps * abs(dx)
                    lhs_div = abs(yc_off - x_off * dy / dx) <= eps
                    assert lhs_int == lhs_div, (dx, dy, x_off, yc_off)


def test_ransac_models_bounded_and_ranked(spark):
    """<=16 candidate models, dx never 0 (degenerate pairs filtered),
    consensus_rank is a 1..n permutation ordered by n_inliers."""
    rows = QUERIES["q_ransac"](spark, SF).collect()
    assert 1 <= len(rows) <= 16
    assert all(r["dx"] != 0 for r in rows)
    ranked = sorted(rows, key=lambda r: r["consensus_rank"])
    assert [r["consensus_rank"] for r in ranked] == list(
        range(1, len(rows) + 1)
    )
    assert all(
        a["n_inliers"] >= b["n_inliers"]
        for a, b in zip(ranked, ranked[1:])
    )


# --- star CC on a deep chain (the q_dbscan_grid convergence hazard) ----------


def test_star_cc_converges_on_deep_chain(spark):
    """q_dbscan_grid's dense-cell graph is CHAINY: a seasonal ridge spans
    dozens of adjacent days, so component diameter — not log n — bounds
    min-label propagation (the default max_iter=20 silently returned
    UNCONVERGED labels on the sf0.01 grid during development). The star
    variant the query ships must collapse a 60-node path to one canonical
    component well inside its round budget."""
    from big_data_streaming_spark.functions.graph import (
        connected_components_star,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "src bigint, dst bigint"
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components_star(edges).collect()
    }
    assert got == {i: 0 for i in range(61)}


def test_dbscan_grid_components_disjoint_and_dense(spark):
    """Component summaries must partition the core-cell set: n_cells sums
    to the independently recomputed core count, every component's bbox is
    inside the grid, and each component is at least mean-dense by
    construction of the core threshold."""
    from pyspark.sql import functions as F

    from big_data_streaming_spark.workload.common import t as _t

    rows = QUERIES["q_dbscan_grid"](spark, SF).collect()
    ev = _t(spark, SF, "events").where(F.col("value").isNotNull())
    cells = ev.groupBy(
        F.dayofyear("ts").alias("gx"),
        F.floor(F.col("value") / 5).cast("bigint").alias("gy"),
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = cells.agg(F.sum("n").alias("t"), F.count(F.lit(1)).alias("nc"))
    n_core = (
        cells.crossJoin(tot)
        .where(F.col("n") * F.col("nc") >= 2 * F.col("t"))
        .count()
    )
    assert sum(r["n_cells"] for r in rows) == n_core
    for r in rows:
        assert 1 <= r["gx_min"] <= r["gx_max"] <= 366
        assert 0 <= r["gy_min"] <= r["gy_max"]
        assert r["n_points"] >= r["n_cells"]  # core cells are non-empty
