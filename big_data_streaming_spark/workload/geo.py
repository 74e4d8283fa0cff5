"""Geospatial operators: grid aggregation and grid-bucketed nearest
neighbor.

The fixture carries no coordinates, so both queries synthesize them
DETERMINISTICALLY from the customer key with the same pure-BIGINT Knuth
mixing hash the sampling queries use (``pipeline._mix_hash``) — both
engines derive bit-identical integer micro-degree positions, so every
downstream number is exact integer arithmetic (no haversine: libm trig
is not cross-engine safe; the squared equirectangular distance in
micro-degrees is, and it preserves the nearest-neighbor ORDER at city
scale, which is what the operator ranks on).

Scale notes are per query; the family design point is the standard one
for planetary point data: bucket by grid cell first, so joins touch the
3x3 cell neighborhood instead of all pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from big_data_streaming_spark.sources import local_rows
from big_data_streaming_spark.workload.common import (
    dec_avg,
    dec_sum,
    oracle_dec_avg,
    oracle_dec_sum,
    registry,
    t,
)

QUERIES, ORACLES, _q = registry()


# Synthetic position: two independent Knuth mixes of the key, folded to
# integer micro-degrees. lat in [-90e6, 90e6], lon in [-180e6, 180e6].
# All operands positive before the final shift, so %-semantics agree
# across engines; the key is mod-reduced by 2^31-1 before the multiply so
# the product stays < 2^63 for ANY bigint c_custkey (identity below 2^31,
# so fixture results are bit-unchanged; unreduced, ANSI raises and
# non-ANSI wraps past key ~ 3.47e9 — the 100 TB id regime).
_LAT_US = (
    "((((c_custkey % 2147483647) * 2654435761) % 4294967296)"
    " % 180000001 - 90000000)"
)
_LON_US = (
    "(((((c_custkey + 7) % 2147483647) * 2654435761) % 4294967296)"
    " % 360000001 - 180000000)"
)

# 10-degree grid cells: lat cell 0..18, lon cell 0..36. The shifted
# numerators are non-negative, so floor-div and trunc-div agree and
# Spark's `div` matches DuckDB's `//` exactly.
_CELL_SIZE_US = 10_000_000


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "customer").selectExpr(
        "c_custkey",
        "c_acctbal",
        f"CAST({_LAT_US} AS BIGINT) AS lat_us",
        f"CAST({_LON_US} AS BIGINT) AS lon_us",
    ).selectExpr(
        "c_custkey",
        "c_acctbal",
        "lat_us",
        "lon_us",
        f"(lat_us + 90000000) div {_CELL_SIZE_US} AS cell_lat",
        f"(lon_us + 180000000) div {_CELL_SIZE_US} AS cell_lon",
    )


_POINTS_SQL = f"""
        SELECT c_custkey, c_acctbal, lat_us, lon_us,
               (lat_us + 90000000) // {_CELL_SIZE_US} AS cell_lat,
               (lon_us + 180000000) // {_CELL_SIZE_US} AS cell_lon
        FROM (SELECT c_custkey, c_acctbal,
                     CAST({_LAT_US} AS BIGINT) AS lat_us,
                     CAST({_LON_US} AS BIGINT) AS lon_us
              FROM customer)
"""


# --- grid-cell density + balance aggregation (round 5) --------------------
# The workhorse of planetary-scale point analytics: bucket points into
# fixed grid cells and aggregate per cell (density maps, supply/demand
# heatmaps, H3/S2-style rollups — this is the square-grid analog). One
# projection (the position derivation runs in codegen) + ONE hash
# aggregate, map-side combinable; output is O(|cells|) regardless of
# input size. At 100 TB this is a single shuffle on a small key — the
# exact shape a 1000-executor cluster wants.
@_q(
    "q_geo_grid",
    f"""
    WITH pts AS ({_POINTS_SQL})
    SELECT cell_lat, cell_lon,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           {oracle_dec_sum('c_acctbal', 'total_balance')},
           {oracle_dec_avg('c_acctbal', 'avg_balance')}
    FROM pts
    GROUP BY cell_lat, cell_lon
    """,
)
def q_geo_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _points(spark, sf_dir)
        .groupBy("cell_lat", "cell_lon")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            dec_sum("c_acctbal", "total_balance"),
            dec_avg("c_acctbal", "avg_balance"),
        )
    )


# --- grid-bucketed nearest neighbor (round 5) ------------------------------
# For every probe customer (key % 20 == 0), the nearest OTHER customer
# by squared equirectangular distance, searched ONLY within the probe's
# 3x3 cell neighborhood — the canonical spatial-join shape: candidates
# are bounded by local density, never |points|² (an all-pairs distance
# join at 100 TB is the spatial q_theilsen blowup). Probes explode to
# their 9 neighbor cells (a 9-row broadcast offset grid), join candidates
# on the cell key, rank by (d², candidate key) and keep rn=1. d² is pure
# BIGINT: |Δlat| <= 180e6 and |Δlon| <= 360e6, so the squared sum tops
# out near 1.6e17 — well inside int64. Probes whose neighborhood is
# empty drop out (documented: "nearest within one cell radius"); the
# fixture's density keeps the result non-empty at every scale. At scale
# the candidate join shuffles on the cell key and AQE splits dense
# cities; the window ranks within probe partitions only.
@_q(
    "q_geo_knn",
    f"""
    WITH pts AS ({_POINTS_SQL}),
    probes AS (SELECT * FROM pts WHERE c_custkey % 20 = 0),
    offs AS (
        SELECT a.dlat, b.dlon
        FROM (VALUES (-1), (0), (1)) a(dlat),
             (VALUES (-1), (0), (1)) b(dlon)
    ),
    cand AS (
        SELECT p.c_custkey AS probe_key,
               c.c_custkey AS cand_key,
               (p.lat_us - c.lat_us) * (p.lat_us - c.lat_us)
                 + (p.lon_us - c.lon_us) * (p.lon_us - c.lon_us) AS d2
        FROM probes p
        JOIN offs o ON TRUE
        JOIN pts c
          ON c.cell_lat = p.cell_lat + o.dlat
         AND c.cell_lon = p.cell_lon + o.dlon
         AND c.c_custkey <> p.c_custkey
    ),
    rk AS (
        SELECT probe_key, cand_key, d2,
               row_number() OVER (PARTITION BY probe_key
                                  ORDER BY d2, cand_key) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY probe_key) AS BIGINT)
                   AS n_candidates
        FROM cand
    )
    SELECT probe_key, cand_key AS neighbor_key,
           CAST(d2 AS BIGINT) AS d2_us, n_candidates
    FROM rk WHERE rn = 1
    """,
)
def q_geo_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _points(spark, sf_dir)
    probes = pts.where(F.col("c_custkey") % 20 == 0)
    offs = local_rows(
        spark,
        [(dlat, dlon) for dlat in (-1, 0, 1) for dlon in (-1, 0, 1)],
        "dlat long, dlon long",
    )
    p = probes.crossJoin(F.broadcast(offs)).select(
        F.col("c_custkey").alias("probe_key"),
        F.col("lat_us").alias("p_lat"),
        F.col("lon_us").alias("p_lon"),
        (F.col("cell_lat") + F.col("dlat")).alias("j_lat"),
        (F.col("cell_lon") + F.col("dlon")).alias("j_lon"),
    )
    c = pts.select(
        F.col("c_custkey").alias("cand_key"),
        F.col("lat_us").alias("c_lat"),
        F.col("lon_us").alias("c_lon"),
        F.col("cell_lat").alias("j_lat"),
        F.col("cell_lon").alias("j_lon"),
    )
    cand = (
        p.join(c, ["j_lat", "j_lon"])
        .where(F.col("cand_key") != F.col("probe_key"))
        .select(
            "probe_key",
            "cand_key",
            (
                (F.col("p_lat") - F.col("c_lat")) * (F.col("p_lat") - F.col("c_lat"))
                + (F.col("p_lon") - F.col("c_lon"))
                * (F.col("p_lon") - F.col("c_lon"))
            ).alias("d2"),
        )
    )
    wp = Window.partitionBy("probe_key")
    rk = cand.select(
        "probe_key",
        "cand_key",
        "d2",
        F.row_number().over(wp.orderBy("d2", "cand_key")).alias("rn"),
        F.count(F.lit(1)).over(wp).cast("bigint").alias("n_candidates"),
    )
    return rk.where(F.col("rn") == 1).select(
        "probe_key",
        F.col("cand_key").alias("neighbor_key"),
        F.col("d2").cast("bigint").alias("d2_us"),
        "n_candidates",
    )


# --- grid-cell hotspot detection (round 6) ----------------------------------
# The Getis-Ord-flavoured local density scan on the 10° grid: a cell is
# a hotspot candidate when it holds >= 5 points; its 3×3-neighborhood
# mass is compared against the global mean cell count. The neighborhood
# sum is a 9-row broadcast offset grid joined on the CELL key (never a
# point-level join); all counts are exact integers and both ratios are
# single fixed divisions. Output is O(|hot cells|). At 100 TB: one cell
# aggregate + one cell-key join — the q_geo_knn candidate discipline
# applied to density analytics.
@_q(
    "q_geo_hotspots",
    f"""
    WITH pts AS ({_POINTS_SQL}),
    cells AS (
        SELECT cell_lat, cell_lon, CAST(COUNT(*) AS BIGINT) AS n
        FROM pts GROUP BY 1, 2
    ), g AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
               CAST(SUM(n) AS BIGINT) AS n_points
        FROM cells
    ), offs AS (
        SELECT dx.x AS dx, dy.x AS dy
        FROM (VALUES (-1), (0), (1)) dx(x), (VALUES (-1), (0), (1)) dy(x)
    ), neigh AS (
        SELECT a.cell_lat, a.cell_lon, a.n,
               CAST(SUM(b.n) AS BIGINT) AS neigh_n
        FROM cells a
        JOIN offs ON TRUE
        JOIN cells b ON b.cell_lat = a.cell_lat + offs.dx
                    AND b.cell_lon = a.cell_lon + offs.dy
        GROUP BY 1, 2, 3
    )
    SELECT neigh.cell_lat, neigh.cell_lon, neigh.n, neigh.neigh_n,
           CAST(neigh.n * g.n_cells AS DOUBLE) / CAST(g.n_points AS DOUBLE)
               AS density_ratio,
           CAST(neigh.neigh_n * g.n_cells AS DOUBLE)
               / CAST(9 * g.n_points AS DOUBLE) AS neigh_density_ratio
    FROM neigh CROSS JOIN g
    WHERE neigh.n >= 5
    """,
)
def q_geo_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = (
        _points(spark, sf_dir)
        .groupBy("cell_lat", "cell_lon")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    g = cells.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.sum("n").cast("bigint").alias("n_points"),
    )
    offs = F.broadcast(
        local_rows(
            cells.sparkSession,
            [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)],
            "dx long, dy long",
        )
    )
    a = cells.alias("a")
    b = cells.alias("b")
    neigh = (
        a.crossJoin(offs)
        .join(
            b,
            (F.col("b.cell_lat") == F.col("a.cell_lat") + F.col("dx"))
            & (F.col("b.cell_lon") == F.col("a.cell_lon") + F.col("dy")),
        )
        .groupBy("a.cell_lat", "a.cell_lon", "a.n")
        .agg(F.sum("b.n").cast("bigint").alias("neigh_n"))
    )
    return (
        neigh.where(F.col("n") >= 5)
        .crossJoin(F.broadcast(g))
        .selectExpr(
            "cell_lat",
            "cell_lon",
            "n",
            "neigh_n",
            "CAST(n * n_cells AS DOUBLE) / CAST(n_points AS DOUBLE)"
            " AS density_ratio",
            "CAST(neigh_n * n_cells AS DOUBLE)"
            " / CAST(9 * n_points AS DOUBLE) AS neigh_density_ratio",
        )
    )


# --- multi-resolution zoom-pyramid rollup (round 6) --------------------------
# The tile-pyramid shape every map backend precomputes: the same point
# set aggregated at 10°, 30° and 90° cells in one pass. Coarser cells
# are pure integer floor-divisions of the micro-degree position, so the
# three resolutions are one union of three map-side-combinable
# aggregates (at scale: grouping-sets style, one scan). Balance rolls
# up in exact cents.
@_q(
    "q_geo_multires",
    f"""
    WITH pts AS ({_POINTS_SQL})
    SELECT CAST(10 AS BIGINT) AS res_deg,
           (lat_us + 90000000) // 10000000 AS cell_lat,
           (lon_us + 180000000) // 10000000 AS cell_lon,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(floor(c_acctbal * 100.0) AS BIGINT)) AS BIGINT)
               AS balance_cents
    FROM pts GROUP BY 2, 3
    UNION ALL
    SELECT CAST(30 AS BIGINT),
           (lat_us + 90000000) // 30000000,
           (lon_us + 180000000) // 30000000,
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(floor(c_acctbal * 100.0) AS BIGINT)) AS BIGINT)
    FROM pts GROUP BY 2, 3
    UNION ALL
    SELECT CAST(90 AS BIGINT),
           (lat_us + 90000000) // 90000000,
           (lon_us + 180000000) // 90000000,
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(floor(c_acctbal * 100.0) AS BIGINT)) AS BIGINT)
    FROM pts GROUP BY 2, 3
    """,
)
def q_geo_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _points(spark, sf_dir)
    out = None
    for res in (10, 30, 90):
        us = res * 1_000_000
        part = pts.groupBy(
            F.expr(f"(lat_us + 90000000) div {us}").alias("cell_lat"),
            F.expr(f"(lon_us + 180000000) div {us}").alias("cell_lon"),
        ).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum(F.expr("CAST(floor(c_acctbal * 100.0) AS BIGINT)"))
            .cast("bigint")
            .alias("balance_cents"),
        ).select(
            F.lit(res).cast("bigint").alias("res_deg"),
            "cell_lat",
            "cell_lon",
            "n_customers",
            "balance_cents",
        )
        out = part if out is None else out.unionAll(part)
    return out


# --- bounding-box query with cell prefilter (round 6) ------------------------
# The basic spatial read path: count and aggregate the points inside a
# fixed lat/lon box. The predicate is written cell-first (coarse integer
# cell range) then exact micro-degree bounds — at scale the cell range
# prunes grid-partitioned files before any row is read, the same
# two-stage discipline as q_geo_knn's candidate join. Exact integer
# bounds and cents rollup.
_BBOX = dict(lat_lo=-30_000_000, lat_hi=30_000_000,
             lon_lo=0, lon_hi=90_000_000)


@_q(
    "q_geo_bbox",
    f"""
    WITH pts AS ({_POINTS_SQL})
    SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(MIN(lat_us) AS BIGINT) AS min_lat_us,
           CAST(MAX(lat_us) AS BIGINT) AS max_lat_us,
           CAST(SUM(CAST(floor(c_acctbal * 100.0) AS BIGINT)) AS BIGINT)
               AS balance_cents
    FROM pts
    WHERE cell_lat BETWEEN ({_BBOX['lat_lo']} + 90000000) // {_CELL_SIZE_US}
                       AND ({_BBOX['lat_hi']} + 90000000) // {_CELL_SIZE_US}
      AND cell_lon BETWEEN ({_BBOX['lon_lo']} + 180000000) // {_CELL_SIZE_US}
                       AND ({_BBOX['lon_hi']} + 180000000) // {_CELL_SIZE_US}
      AND lat_us BETWEEN {_BBOX['lat_lo']} AND {_BBOX['lat_hi']}
      AND lon_us BETWEEN {_BBOX['lon_lo']} AND {_BBOX['lon_hi']}
    """,
)
def q_geo_bbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = _BBOX
    cs = _CELL_SIZE_US
    return (
        _points(spark, sf_dir)
        .where(
            F.col("cell_lat").between(
                (b["lat_lo"] + 90_000_000) // cs,
                (b["lat_hi"] + 90_000_000) // cs,
            )
            & F.col("cell_lon").between(
                (b["lon_lo"] + 180_000_000) // cs,
                (b["lon_hi"] + 180_000_000) // cs,
            )
            & F.col("lat_us").between(b["lat_lo"], b["lat_hi"])
            & F.col("lon_us").between(b["lon_lo"], b["lon_hi"])
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.min("lat_us").cast("bigint").alias("min_lat_us"),
            F.max("lat_us").cast("bigint").alias("max_lat_us"),
            F.sum(F.expr("CAST(floor(c_acctbal * 100.0) AS BIGINT)"))
            .cast("bigint")
            .alias("balance_cents"),
        )
    )


# --- Moran's I spatial autocorrelation (round 9) -----------------------------
# Do dense grid cells neighbor dense grid cells? Moran's I over the
# per-cell customer count x_i with rook (4-neighbor) weights:
# I = (N/W) * sum_adj (x_i - xbar)(x_j - xbar) / sum_i (x_i - xbar)^2.
# Exactness: with d_i = N*x_i - S (S = sum x) the 1/N^2 factors cancel
# and I = N * sum_adj(d_i d_j) / (W * sum_i d_i^2) — every d_i is a
# pure BIGINT; the products are doubles of exact integers routed
# through the decimal sum. CAVEAT (ADVICE r9, shared with q_geary_c
# and the analytics.py pair family): the DECIMAL(38,6)→DOUBLE finish
# is cross-engine exact only while the scaled sum stays below 2^53 —
# d_i d_j products grow ~n² with the row count, so at 100 TB parity
# past that point is value-dependent, not pinned. Plan: one fact-sized groupBy onto the BOUNDED 19 x 37
# cell grid, one broadcast rook self-join of the O(cells) relation
# (<= 703 rows — bounded non-equi join, never fact-sized), O(1)
# output. Cells with no rook neighbor contribute to the denominator
# only (standard). 100 TB: the grid stays 703 cells whatever the row
# count — only the first aggregate sees the data.
_ROOK = (
    "(a.cell_lat = b.cell_lat AND abs(a.cell_lon - b.cell_lon) = 1)"
    " OR (a.cell_lon = b.cell_lon AND abs(a.cell_lat - b.cell_lat) = 1)"
)
_MORAN_I = (
    "(CAST(n_cells AS DOUBLE) * num"
    " / (CAST(NULLIF(w_pairs, 0) AS DOUBLE) * NULLIF(den, 0.0)))"
)


@_q(
    "q_moran_i",
    f"""
    WITH pts AS ({_POINTS_SQL}),
    cl AS (
        SELECT cell_lat, cell_lon, CAST(COUNT(*) AS BIGINT) AS x
        FROM pts GROUP BY cell_lat, cell_lon
    ), dims AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
               CAST(SUM(x) AS BIGINT) AS s
        FROM cl
    ), d AS (
        SELECT cell_lat, cell_lon, x,
               CAST(n_cells * x - s AS BIGINT) AS dv, n_cells
        FROM cl CROSS JOIN dims
    ), adj AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS w_pairs,
               {oracle_dec_sum(
        "CAST(a.dv AS DOUBLE) * CAST(b.dv AS DOUBLE)", "num"
    )}
        FROM d a JOIN d b ON {_ROOK}
    ), den AS (
        SELECT MAX(n_cells) AS n_cells,
               {oracle_dec_sum("CAST(dv AS DOUBLE) * CAST(dv AS DOUBLE)",
                               "den")}
        FROM d
    )
    SELECT n_cells, w_pairs, {_MORAN_I} AS moran_i
    FROM adj CROSS JOIN den
    """,
)
def q_moran_i(spark: SparkSession, sf_dir: str) -> DataFrame:
    cl = (
        _points(spark, sf_dir)
        .groupBy("cell_lat", "cell_lon")
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    dims = cl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.sum("x").cast("bigint").alias("s"),
    )
    d = cl.crossJoin(F.broadcast(dims)).select(
        "cell_lat",
        "cell_lon",
        "x",
        (F.col("n_cells") * F.col("x") - F.col("s"))
        .cast("bigint")
        .alias("dv"),
        "n_cells",
    )
    a = d.selectExpr(
        "cell_lat AS a_lat", "cell_lon AS a_lon", "dv AS a_dv"
    )
    b = d.selectExpr(
        "cell_lat AS b_lat", "cell_lon AS b_lon", "dv AS b_dv"
    )
    rook = F.expr(
        "(a_lat = b_lat AND abs(a_lon - b_lon) = 1)"
        " OR (a_lon = b_lon AND abs(a_lat - b_lat) = 1)"
    )
    adj = a.join(F.broadcast(b), rook).agg(
        F.count(F.lit(1)).cast("bigint").alias("w_pairs"),
        dec_sum(
            F.expr("CAST(a_dv AS DOUBLE) * CAST(b_dv AS DOUBLE)"), "num"
        ),
    )
    den = d.agg(
        F.max("n_cells").alias("n_cells"),
        dec_sum(F.expr("CAST(dv AS DOUBLE) * CAST(dv AS DOUBLE)"), "den"),
    )
    return adj.crossJoin(F.broadcast(den)).selectExpr(
        "n_cells", "w_pairs", f"{_MORAN_I} AS moran_i"
    )


# --- Geary's C spatial contiguity ratio (round 9) ----------------------------
# The local-difference companion of q_moran_i (Moran reads global
# covariance, Geary reads neighbor-pair contrast — sensitive to local
# structure Moran smooths over): C = ((N-1)/(2W)) * sum_adj (x_i -
# x_j)^2 / sum_i (x_i - xbar)^2. With d_i = N*x_i - S the denominator
# is den/N^2, so C = (N-1) * N^2 * T / (2 W den), T = sum_adj
# (x_i - x_j)^2 — T is a pure-BIGINT sum of squared count differences
# routed through the decimal sum (same DECIMAL→DOUBLE >2^53 caveat as
# q_moran_i above). Same bounded rook self-join and
# one-aggregate plan as q_moran_i; C ~ 1 is no autocorrelation, C < 1
# positive.
_GEARY_C = (
    "(CAST(n_cells - 1 AS DOUBLE) * CAST(n_cells AS DOUBLE)"
    " * CAST(n_cells AS DOUBLE) * t_sum"
    " / (2.0 * CAST(NULLIF(w_pairs, 0) AS DOUBLE) * NULLIF(den, 0.0)))"
)


@_q(
    "q_geary_c",
    f"""
    WITH pts AS ({_POINTS_SQL}),
    cl AS (
        SELECT cell_lat, cell_lon, CAST(COUNT(*) AS BIGINT) AS x
        FROM pts GROUP BY cell_lat, cell_lon
    ), dims AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
               CAST(SUM(x) AS BIGINT) AS s
        FROM cl
    ), d AS (
        SELECT cell_lat, cell_lon, x,
               CAST(n_cells * x - s AS BIGINT) AS dv, n_cells
        FROM cl CROSS JOIN dims
    ), adj AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS w_pairs,
               {oracle_dec_sum(
        "CAST((a.x - b.x) * (a.x - b.x) AS DOUBLE)", "t_sum"
    )}
        FROM d a JOIN d b ON {_ROOK}
    ), den AS (
        SELECT MAX(n_cells) AS n_cells,
               {oracle_dec_sum("CAST(dv AS DOUBLE) * CAST(dv AS DOUBLE)",
                               "den")}
        FROM d
    )
    SELECT n_cells, w_pairs, {_GEARY_C} AS geary_c
    FROM adj CROSS JOIN den
    """,
)
def q_geary_c(spark: SparkSession, sf_dir: str) -> DataFrame:
    cl = (
        _points(spark, sf_dir)
        .groupBy("cell_lat", "cell_lon")
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    dims = cl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.sum("x").cast("bigint").alias("s"),
    )
    d = cl.crossJoin(F.broadcast(dims)).select(
        "cell_lat",
        "cell_lon",
        "x",
        (F.col("n_cells") * F.col("x") - F.col("s"))
        .cast("bigint")
        .alias("dv"),
        "n_cells",
    )
    a = d.selectExpr("cell_lat AS a_lat", "cell_lon AS a_lon", "x AS a_x")
    b = d.selectExpr("cell_lat AS b_lat", "cell_lon AS b_lon", "x AS b_x")
    rook = F.expr(
        "(a_lat = b_lat AND abs(a_lon - b_lon) = 1)"
        " OR (a_lon = b_lon AND abs(a_lat - b_lat) = 1)"
    )
    adj = a.join(F.broadcast(b), rook).agg(
        F.count(F.lit(1)).cast("bigint").alias("w_pairs"),
        dec_sum(
            F.expr("CAST((a_x - b_x) * (a_x - b_x) AS DOUBLE)"), "t_sum"
        ),
    )
    den = d.agg(
        F.max("n_cells").alias("n_cells"),
        dec_sum(F.expr("CAST(dv AS DOUBLE) * CAST(dv AS DOUBLE)"), "den"),
    )
    return adj.crossJoin(F.broadcast(den)).selectExpr(
        "n_cells", "w_pairs", f"{_GEARY_C} AS geary_c"
    )


# --- Ripley's K function on the cell grid (round 10) --------------------------
# Multi-scale spatial clustering read: K(r) counts how many neighbors
# the average point sees within distance r, normalized by intensity —
# K above the uniform expectation = clustering at that scale, below =
# dispersion. Grid form (the 100 TB shape): distances are Chebyshev
# CELL distances on the bounded 19 x 37 grid, so the pair stage is a
# <= 703-row broadcast self-join with |dlat| <= r AND |dlon| <= r —
# never a fact-sized distance join. pairs(r) = sum n_c1 * n_c2 over
# cell pairs within r (ordered, same-cell included) minus n self-
# pairs; k_hat(r) = n_cells * pairs(r) / (n (n-1)) — the grid-measure
# analog of |A| sum 1(d<=r) / (n(n-1) ). Count products ride
# DECIMAL(19,0) squares (exact to 1e38); one shared division. The
# multi-radius ladder (r = 1, 2, 3 cells) complements q_moran_i /
# q_geary_c (single-lag autocorrelation) with the cumulative-scale
# view. Plan: one fact-sized grid aggregate, one bounded self-join,
# 3-row output.
_RIPLEY_FIN = (
    "(CAST(n_cells AS DOUBLE) * pairs"
    " / NULLIF(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0), 0.0))"
)


@_q(
    "q_ripley_k",
    f"""
    WITH pts AS ({_POINTS_SQL}),
    cl AS (
        SELECT cell_lat, cell_lon, CAST(COUNT(*) AS BIGINT) AS x
        FROM pts GROUP BY cell_lat, cell_lon
    ), dims AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
               CAST(SUM(x) AS BIGINT) AS n
        FROM cl
    ), pr AS (
        SELECT greatest(abs(a.cell_lat - b.cell_lat),
                        abs(a.cell_lon - b.cell_lon)) AS cheb,
               CAST(a.x AS DECIMAL(19,0)) * CAST(b.x AS DECIMAL(19,0))
                   AS prod
        FROM cl a JOIN cl b
          ON abs(a.cell_lat - b.cell_lat) <= 3
         AND abs(a.cell_lon - b.cell_lon) <= 3
    ), lad AS (
        SELECT rr.r,
               CAST(SUM(CASE WHEN pr.cheb <= rr.r THEN pr.prod END)
                    AS DOUBLE) AS ordered_pairs
        FROM pr CROSS JOIN (VALUES (1), (2), (3)) AS rr(r)
        GROUP BY rr.r
    )
    SELECT CAST(r AS BIGINT) AS r, n, n_cells,
           ordered_pairs - CAST(n AS DOUBLE) AS pairs,
           {_RIPLEY_FIN.replace("pairs", "(ordered_pairs - CAST(n AS DOUBLE))")}
               AS k_hat
    FROM lad CROSS JOIN dims
    """,
)
def q_ripley_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _points(spark, sf_dir)
    cl = pts.groupBy("cell_lat", "cell_lon").agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    dims = cl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.sum("x").cast("bigint").alias("n"),
    )
    a = cl.selectExpr("cell_lat AS alat", "cell_lon AS alon", "x AS ax")
    b = cl.selectExpr("cell_lat AS blat", "cell_lon AS blon", "x AS bx")
    pr = a.join(
        F.broadcast(b),
        (F.abs(F.col("alat") - F.col("blat")) <= 3)
        & (F.abs(F.col("alon") - F.col("blon")) <= 3),
    ).select(
        F.greatest(
            F.abs(F.col("alat") - F.col("blat")),
            F.abs(F.col("alon") - F.col("blon")),
        ).alias("cheb"),
        F.expr(
            "CAST(ax AS DECIMAL(19,0)) * CAST(bx AS DECIMAL(19,0))"
        ).alias("prod"),
    )
    rr = spark.range(1, 4).select(F.col("id").cast("int").alias("r"))
    lad = (
        pr.crossJoin(F.broadcast(rr))
        .groupBy("r")
        .agg(
            F.sum(F.expr("CASE WHEN cheb <= r THEN prod END"))
            .cast("double")
            .alias("ordered_pairs")
        )
    )
    fin = _RIPLEY_FIN.replace(
        "pairs", "(ordered_pairs - CAST(n AS DOUBLE))"
    )
    return lad.crossJoin(F.broadcast(dims)).selectExpr(
        "CAST(r AS BIGINT) AS r",
        "n",
        "n_cells",
        "ordered_pairs - CAST(n AS DOUBLE) AS pairs",
        f"{fin} AS k_hat",
    )
