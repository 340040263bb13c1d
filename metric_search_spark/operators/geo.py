"""Deterministic geodesy: bit-reproducible haversine radius joins over
lat/lon in integer microdegrees.

Everything else in this engine lives on the planar unit square (cells.py
Morton lattice); real geo corpora carry WGS-style lat/lon, where "within
r meters" is a GREAT-CIRCLE predicate. The blocker for an exact cross-
engine operator is trig: `sin`/`cos`/`asin` are not correctly-rounded
IEEE operations, so JVM `Math.sin`, glibc, and DuckDB's bundled libm can
disagree in the last ulps — enough to flip a boundary pair and break a
bit-exact oracle. This module therefore PINS the trigonometry: fixed
Taylor/Horner polynomials evaluated with only IEEE `+ − × ÷ sqrt`
(all correctly rounded by the standard), written once as an ANSI SQL
expression string and used verbatim on BOTH sides — Spark parses it with
`F.expr`, DuckDB parses the same text — so every engine computes the
same double bit-for-bit. The polynomial error (≤3e-10 for |lat| ≤ 60°)
is orders of magnitude below any geodetic model error; the SEMANTICS are
"this exact polynomial", which is what makes the operator auditable.

haversine_radius_join is the geodetic analog of the planar cell
range-join: quantize lat/lon to an r-sized microdegree grid, replicate
the left side to the 3×5 (lat×lon) cell window that provably covers the
radius for |lat| ≤ 60° (lon shrinks by cos φ ≥ 0.5 there — the window
math is in the docstring), equi-join on the cell, then apply the pinned
haversine predicate to candidates only. ONE bounded-fan-out shuffle, no
Python, no cartesian product — the same plan at 4×10³ or 4×10⁹ points.

Reference parity: the reference's metric plug-ins are exact-arithmetic
kernels over a fixed formula (src/include/metric_search/details/
metrics.hpp); this module extends that contract to spherical distance.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from metric_search_spark.operators.sampling import hash_col, sample_hash_sql

__all__ = [
    "EARTH_R_M",
    "sin_poly_sql",
    "cos_poly_sql",
    "asin_poly_sql",
    "hav_sql",
    "hav_threshold",
    "synth_places",
    "synth_places_sql",
    "haversine_radius_join",
    "haversine_pairs_sql",
    "hav_wrap_sql",
    "haversine_radius_join_sphere",
    "haversine_pairs_sphere_sql",
    "synth_places_sphere",
    "synth_places_sphere_sql",
    "haversine_knn_join",
    "haversine_knn_sql",
    "haversine_knn_join_sphere",
    "haversine_knn_sphere_sql",
    "pair_counts_by_radius",
    "pair_counts_by_radius_sphere",
    "pair_counts_sphere_sql",
    "asin_full_sql",
    "sphere_track_hausdorff",
    "sphere_track_hausdorff_sql",
    "sphere_track_frechet",
    "sphere_track_frechet_sql",
    "pair_counts_sql",
    "atanh_poly_sql",
    "mercator_y_stages",
    "xtile_sql",
    "ytile_from_y_sql",
    "slippy_tiles",
    "slippy_tiles_sql",
    "hex_assign",
    "hex_bin",
    "hex_bin_sql",
    "sincos_stages",
    "s2_stages",
    "s2_cells",
    "s2_cells_sql",
    "unitvec_stages",
    "spherical_zone_join",
    "synth_zones",
    "synth_zones_sql",
    "spherical_zone_sql",
    "synth_tracks_sphere",
    "synth_tracks_sphere_sql",
    "spherical_geofence_transitions",
    "spherical_geofence_sql",
]

EARTH_R_M = 6_371_000.0  # spherical model radius (the haversine sphere)

# microdegrees → radians, and the conservative "microdegrees per meter"
# bound used for grid sizing: one meter of great-circle arc subtends
# (180/π)/R degrees ≈ 8.99320 µdeg — CELL = ceil(9·r) µdeg always covers it
_RAD_PER_UDEG = math.pi / 180.0 / 1e6
_UDEG_PER_M = 1e6 * 180.0 / (math.pi * EARTH_R_M)  # 8.99320...
_MAX_ABS_LAT_UDEG = 60_000_000  # cos φ ≥ 0.5 ⇒ the 3×5 window is exact


def _d(x: float) -> str:
    """A double literal both Spark SQL and DuckDB parse to the same bits.
    Bare decimals are DECIMAL in Spark SQL (different arithmetic!), so
    every constant goes through CAST('…' AS DOUBLE); repr() round-trips."""
    return f"CAST('{x!r}' AS DOUBLE)"


def _horner(x2: str, coeffs: list[float]) -> str:
    """(c0 + x2*(c1 + x2*(…))) with explicit parens — association order is
    part of the pinned semantics (float + and × are not associative)."""
    expr = _d(coeffs[-1])
    for c in reversed(coeffs[:-1]):
        expr = f"({_d(c)} + ({x2}) * {expr})"
    return expr


def sin_poly_sql(x: str) -> str:
    """Pinned sine: 6-term odd Taylor, Horner form. |err| ≤ 3e-10 for
    |x| ≤ 1.05 rad; grows to ~1.3e-8 at 1.4 rad (only far pairs, where
    hav ≫ any radius threshold, reach that range)."""
    x2 = f"(({x}) * ({x}))"
    return f"(({x}) * {_horner(x2, [1.0, -1.0 / 6, 1.0 / 120, -1.0 / 5040, 1.0 / 362880, -1.0 / 39916800])})"


def cos_poly_sql(x: str) -> str:
    """Pinned cosine: 7-term even Taylor. |err| ≤ 2e-11 for |x| ≤ 1.05."""
    x2 = f"(({x}) * ({x}))"
    return _horner(
        x2,
        [1.0, -0.5, 1.0 / 24, -1.0 / 720, 1.0 / 40320, -1.0 / 3628800, 1.0 / 479001600],
    )


def asin_poly_sql(x: str) -> str:
    """Pinned arcsine for SMALL x (≤ sin(r/2R), r ≤ tens of km): 4-term
    series — relative error < 1e-12 for x ≤ 0.01."""
    x2 = f"(({x}) * ({x}))"
    return f"(({x}) * {_horner(x2, [1.0, 1.0 / 6, 3.0 / 40, 15.0 / 336])})"


def hav_sql(alat: str, alon: str, blat: str, blon: str) -> str:
    """Haversine of the great-circle angle between two (lat, lon) pairs in
    INTEGER MICRODEGREE columns: sin²(Δφ/2) + cosφ₁·cosφ₂·sin²(Δλ/2),
    entirely in pinned polynomials — one expression string, two engines,
    identical doubles."""
    rad = _d(_RAD_PER_UDEG)
    half = _d(0.5)
    dphi2 = f"((({blat}) - ({alat})) * {rad} * {half})"
    dlam2 = f"((({blon}) - ({alon})) * {rad} * {half})"
    phi_a = f"(({alat}) * {rad})"
    phi_b = f"(({blat}) * {rad})"
    s1 = sin_poly_sql(dphi2)
    s2 = sin_poly_sql(dlam2)
    return (
        f"(({s1}) * ({s1}) + {cos_poly_sql(phi_a)} * {cos_poly_sql(phi_b)}"
        f" * ({s2}) * ({s2}))"
    )


def hav_threshold(radius_m: float) -> float:
    """sin²(r / 2R) — computed ONCE driver-side with libm and inlined as
    the same literal in both engines, so the boundary is a shared
    constant, not a per-engine trig call."""
    s = math.sin(radius_m / (2.0 * EARTH_R_M))
    return s * s


def _pair_cols_sql(hav: str) -> tuple[str, str]:
    """(hav_e18, dist_mm) output expressions from a hav expression —
    exact BIGINTs after a shared float pipeline, so hashes compare."""
    hav_e18 = f"CAST(FLOOR(({hav}) * {_d(1e18)}) AS BIGINT)"
    dist = f"({asin_poly_sql(f'SQRT({hav})')} * {_d(2.0 * EARTH_R_M * 1000.0)})"
    return hav_e18, f"CAST(FLOOR({dist}) AS BIGINT)"


# ------------------------------------------------------------------ fixture

_N_HOT = 12


def synth_places(
    spark: SparkSession, n: int, *, seed: int = 0
) -> DataFrame:
    """Deterministic places fixture: n points in _N_HOT hotspot clusters.
    Hotspot centers are hash-derived within ±50°/±80° (µdeg), jitter
    ±60,000 µdeg (≈ ±6.7 km) — dense enough that a 500 m radius join has
    thousands of true pairs but |lat| stays well inside the 60° window
    guarantee. Exact-integer reproducible in SQL (synth_places_sql)."""
    ids = spark.range(n).select(F.col("id").cast("long").alias("place_id"))
    hot = F.col("place_id") % _N_HOT
    lat_c = hash_col(hot, seed + 11) % 100_000_001 - 50_000_000
    lon_c = hash_col(hot, seed + 12) % 160_000_001 - 80_000_000
    lat = lat_c + hash_col(F.col("place_id"), seed + 1) % 120_001 - 60_000
    lon = lon_c + hash_col(F.col("place_id"), seed + 2) % 120_001 - 60_000
    return ids.select(
        "place_id",
        lat.cast("long").alias("lat_udeg"),
        lon.cast("long").alias("lon_udeg"),
    )


def synth_places_sql(n: int, *, seed: int = 0) -> str:
    """DuckDB twin of synth_places — same MINSTD streams, same integers."""
    hot = f"(place_id % {_N_HOT})"
    lat_c = f"({sample_hash_sql(hot, seed + 11)}) % 100000001 - 50000000"
    lon_c = f"({sample_hash_sql(hot, seed + 12)}) % 160000001 - 80000000"
    lat = f"({lat_c}) + ({sample_hash_sql('place_id', seed + 1)}) % 120001 - 60000"
    lon = f"({lon_c}) + ({sample_hash_sql('place_id', seed + 2)}) % 120001 - 60000"
    return (
        f"SELECT place_id, CAST({lat} AS BIGINT) AS lat_udeg,"
        f" CAST({lon} AS BIGINT) AS lon_udeg"
        f" FROM (SELECT unnest(range({n})) AS place_id)"
    )


# ------------------------------------------------------------------ operator


def haversine_radius_join(
    places: DataFrame, radius_m: float
) -> DataFrame:
    """All unordered pairs of places within radius_m meters of great-circle
    distance (pinned-polynomial haversine, STRICT <), as
    (a_id, b_id, hav_e18, dist_mm) with a_id < b_id.

    Plan: grid cells of CELL = ceil(9·r) µdeg per axis. A pair within r
    satisfies |Δlat| ≤ r·8.9933 µdeg < CELL (±1 lat cell) and, for
    |lat| ≤ 60° (cos φ ≥ ½), |Δlon| ≤ r·8.9933/cos φ ≤ 17.99·r < 2·CELL
    (±2 lon cells) — so replicating the LEFT side to its 3×5 cell window
    and equi-joining on (lat_cell, lon_cell) provably yields every
    qualifying pair exactly once (the right row has one cell; the window
    keys are distinct). ONE shuffle with constant fan-out 15, candidates
    filtered by the shared-expression predicate — no Python, no cartesian,
    no trig outside the pinned polynomials. Latitudes beyond ±60° raise
    (widen the window as sec(max_lat) to lift the limit); longitudes must
    not straddle the antimeridian (the fixture never does).
    """
    cell = int(math.ceil(9.0 * radius_m))
    guard = F.when(
        F.abs(F.col("lat_udeg")) > _MAX_ABS_LAT_UDEG,
        F.raise_error(
            F.lit("haversine_radius_join: |lat| > 60 deg breaks the 3x5 window guarantee")
        ).cast("long"),
    ).otherwise(F.col("lat_udeg"))
    p = places.select(
        F.col("place_id"),
        guard.alias("lat_udeg"),
        F.col("lon_udeg"),
        F.floor(F.col("lat_udeg") / F.lit(cell)).alias("lc"),
        F.floor(F.col("lon_udeg") / F.lit(cell)).alias("mc"),
    )
    win = [(i, j) for i in (-1, 0, 1) for j in (-2, -1, 0, 1, 2)]
    left = p.select(
        F.col("place_id").alias("a_id"),
        F.col("lat_udeg").alias("alat"),
        F.col("lon_udeg").alias("alon"),
        F.explode(
            F.array(*[
                F.struct(
                    (F.col("lc") + F.lit(i)).alias("lc"),
                    (F.col("mc") + F.lit(j)).alias("mc"),
                )
                for i, j in win
            ])
        ).alias("w"),
    ).select("a_id", "alat", "alon", F.col("w.lc").alias("lc"), F.col("w.mc").alias("mc"))
    right = p.select(
        F.col("place_id").alias("b_id"),
        F.col("lat_udeg").alias("blat"),
        F.col("lon_udeg").alias("blon"),
        "lc",
        "mc",
    )
    hav = hav_sql("alat", "alon", "blat", "blon")
    hav_e18, dist_mm = _pair_cols_sql(hav)
    thr = _d(hav_threshold(radius_m))
    cand = left.join(right, ["lc", "mc"]).where(
        (F.col("a_id") < F.col("b_id")) & F.expr(f"({hav}) < {thr}")
    )
    return cand.select(
        "a_id",
        "b_id",
        F.expr(hav_e18).alias("hav_e18"),
        F.expr(dist_mm).alias("dist_mm"),
    )


def haversine_pairs_sql(places_sql: str, radius_m: float) -> str:
    """Brute-force DuckDB twin: ALL n² pairs, the SAME pinned-polynomial
    predicate and output arithmetic — fully independent of the grid."""
    hav = hav_sql("a.lat_udeg", "a.lon_udeg", "b.lat_udeg", "b.lon_udeg")
    hav_e18, dist_mm = _pair_cols_sql(hav)
    thr = _d(hav_threshold(radius_m))
    return f"""
WITH places AS ({places_sql})
SELECT a.place_id AS a_id, b.place_id AS b_id,
       {hav_e18} AS hav_e18, {dist_mm} AS dist_mm
FROM places a JOIN places b ON a.place_id < b.place_id
WHERE ({hav}) < {thr}
"""


# ------------------------------------------------------- geodetic kNN


def _guarded(places: DataFrame, op: str) -> DataFrame:
    guard = F.when(
        F.abs(F.col("lat_udeg")) > _MAX_ABS_LAT_UDEG,
        F.raise_error(
            F.lit(f"{op}: |lat| > 60 deg breaks the lon-window guarantee")
        ).cast("long"),
    ).otherwise(F.col("lat_udeg"))
    return places.select(
        "place_id", guard.alias("lat_udeg"), F.col("lon_udeg")
    )


def _window_halves(cover_m: float, cell: int) -> tuple[int, int]:
    """Smallest (lat, lon) cell half-widths whose window provably covers
    every pair within cover_m meters, for |lat| <= 60 deg: |dlat| <=
    cover*U udeg spans at most floor(cover*U/cell)+1 cell indices either
    way; |dlon| <= cover*U/cos(lat) <= 2*cover*U likewise."""
    du = cover_m * _UDEG_PER_M
    return int(du / cell) + 1, int(2.0 * du / cell) + 1


def _window_candidates(
    probes: DataFrame, build: DataFrame, cell: int, a_half: int, b_half: int
) -> DataFrame:
    """Equi-join probes (replicated to their (2a+1)x(2b+1) cell window at
    grid size `cell`) against build rows keyed by their single cell.
    Columns out: a_id, alat, alon, b_id, blat, blon. Each (a, b) pair
    appears at most once (window keys are distinct; b has one cell).
    The window enumerates via sequence() explodes, so the plan size is
    constant in the window width."""
    left = (
        probes.select(
            F.col("place_id").alias("a_id"),
            F.col("lat_udeg").alias("alat"),
            F.col("lon_udeg").alias("alon"),
            F.floor(F.col("lat_udeg") / F.lit(cell)).alias("lc0"),
            F.floor(F.col("lon_udeg") / F.lit(cell)).alias("mc0"),
        )
        .withColumn(
            "di", F.explode(F.sequence(F.lit(-a_half), F.lit(a_half)))
        )
        .withColumn(
            "dj", F.explode(F.sequence(F.lit(-b_half), F.lit(b_half)))
        )
        .select(
            "a_id",
            "alat",
            "alon",
            (F.col("lc0") + F.col("di")).alias("lc"),
            (F.col("mc0") + F.col("dj")).alias("mc"),
        )
    )
    right = build.select(
        F.col("place_id").alias("b_id"),
        F.col("lat_udeg").alias("blat"),
        F.col("lon_udeg").alias("blon"),
        F.floor(F.col("lat_udeg") / F.lit(cell)).alias("lc"),
        F.floor(F.col("lon_udeg") / F.lit(cell)).alias("mc"),
    )
    return left.join(right, ["lc", "mc"]).drop("lc", "mc")


def haversine_knn_join(
    places: DataFrame,
    k: int,
    *,
    r0_m: float = 250.0,
    max_rounds: int = 8,
) -> DataFrame:
    """For every place, its k nearest OTHER places by pinned-polynomial
    great-circle distance, ties broken by b_id — (a_id, rnk, b_id,
    hav_e18, dist_mm), exactly k rows per place.

    Doubling-radius rounds (the geodetic twin of the flagship planar
    kNN): round t re-grids at cell_t = ceil(9 * r0 * 2^t) udeg and joins
    only the still-unresolved probes through the constant 3x5 window
    that provably covers radius r_t (same guarantee as
    haversine_radius_join). A probe resolves in round t iff >= k
    candidates lie STRICTLY inside r_t: the window covers everything
    within r_t, so all k true nearest are then candidates and the
    (hav, b_id) top-k is exact (any point closer than the k-th candidate
    is < r_t away, hence itself a candidate). Per round: one constant
    fan-out-15 shuffle over the unresolved set only; the resolved
    survivors rank in a per-probe window. At 10^12 rows round 0 resolves
    the dense mass and the doubling tail touches a geometrically
    vanishing residual — no brute-force escape hatch that would scan the
    build side per straggler. (On a real cluster the build side of the
    late rounds is first semi-joined to the residual's cell set; AQE's
    size stats broadcast the shrunken probe side here.)

    Raises if k probes remain unresolved after max_rounds (r_max =
    r0 * 2^(max_rounds-1); callers pick r0 near the expected kNN radius).
    """
    if k < 1:
        raise ValueError("haversine_knn_join: k must be >= 1")
    return _doubling_knn(
        _guarded(places, "haversine_knn_join"),
        k,
        hav_sql("alat", "alon", "blat", "blon"),
        lambda probes, build, r_t: _window_candidates(
            probes, build, int(math.ceil(9.0 * r_t)), 1, 2
        ),
        r0_m,
        max_rounds,
        "haversine_knn_join",
    )


def _doubling_knn(
    p: DataFrame,
    k: int,
    hav: str,
    candidates,
    r0_m: float,
    max_rounds: int,
    op: str,
) -> DataFrame:
    """The doubling-radius loop of haversine_knn_join and
    haversine_knn_join_sphere over the guarded places ``p``: round t asks
    ``candidates(probes, build, r_t)`` for every (a, b) pair within
    r_t = r0·2^t of the still-unresolved probes, ranks them by the SQL
    ``hav`` expression and keeps the probes whose k-th candidate lies
    strictly inside r_t. Each round checkpoints its top-k rows once, with
    that verdict (``_ok``) computed in the same ``a_id`` window; the count
    that materialises the checkpoint is the number of probes it resolved
    (``rnk = 1`` rows), taken off a running total. The next round's probes
    are a lazy checkpoint (a leaf, so round plans do not grow) and the
    final union reads the checkpoints without running a window again.
    Raises naming ``op`` if probes remain after ``max_rounds``."""
    from pyspark.sql import Window

    if max_rounds < 1:
        raise ValueError(f"{op}: max_rounds must be >= 1")
    build = p
    probes = p
    # output columns from the hav COLUMN (not a textual re-expansion of the
    # polynomial): same doubles, tiny expressions
    hav_e18_col = f"CAST(FLOOR(hav * {_d(1e18)}) AS BIGINT)"
    dist_mm_col = (
        f"CAST(FLOOR({asin_poly_sql('SQRT(hav)')}"
        f" * {_d(2.0 * EARTH_R_M * 1000.0)}) AS BIGINT)"
    )
    w_rank = Window.partitionBy("a_id").orderBy("hav", "b_id")
    w_a = Window.partitionBy("a_id")
    parts: list[DataFrame] = []
    n_left = p.count()
    for t in range(max_rounds):
        r_t = r0_m * (2.0 ** t)
        # hav is a PROJECTED column only — never a filter predicate on the
        # raw candidates: a WHERE on the polynomial drops the operator out
        # of whole-stage codegen and evaluates the mega-expression
        # interpreted (measured 19.4s vs 3.5s for the same 10.8M
        # candidates at 100k places). The window sorts all candidates and
        # the k-cut happens on the tiny ranked output instead.
        cand = (
            candidates(probes, build, r_t)
            .where(F.col("a_id") != F.col("b_id"))
            .withColumn("hav", F.expr(hav))
        )
        # ONE pass of the big window, cut to k rows per probe; resolved iff
        # the k-th candidate exists AND sits strictly inside r_t (then the
        # window provably contains the true top-k) — the second window
        # shares the a_id partitioning, so no extra shuffle or sort
        ranked = (
            cand.withColumn("rnk", F.row_number().over(w_rank))
            .where(F.col("rnk") <= k)
            .withColumn(
                "_ok",
                (F.count("*").over(w_a) == k)
                & (F.max("hav").over(w_a) < F.lit(hav_threshold(r_t))),
            )
            .select("a_id", "rnk", "b_id", "hav", "_ok")
            .localCheckpoint(eager=False)
        )
        resolved = ranked.where("_ok")
        parts.append(
            resolved.select(
                "a_id",
                F.col("rnk").cast("long").alias("rnk"),
                "b_id",
                F.expr(hav_e18_col).alias("hav_e18"),
                F.expr(dist_mm_col).alias("dist_mm"),
            )
        )
        resolved_ids = resolved.where(F.col("rnk") == 1).select("a_id")
        n_left -= resolved_ids.count()
        if n_left == 0:
            break
        probes = probes.join(
            resolved_ids, probes["place_id"] == F.col("a_id"), "left_anti"
        ).localCheckpoint(eager=False)
    else:
        raise RuntimeError(
            f"{op}: {n_left} probes unresolved after "
            f"{max_rounds} rounds (r_max={r0_m * 2.0 ** (max_rounds - 1)} m)"
            " — raise r0_m or max_rounds"
        )
    out = parts[0]
    for x in parts[1:]:
        out = out.unionByName(x)
    return out


def haversine_knn_sql(places_sql: str, k: int) -> str:
    """Brute-force DuckDB twin: rank ALL ordered pairs per probe by the
    same pinned (hav, b_id) order — fully independent of grid and rounds."""
    hav = hav_sql("a.lat_udeg", "a.lon_udeg", "b.lat_udeg", "b.lon_udeg")
    hav_e18, dist_mm = _pair_cols_sql(hav)
    return f"""
WITH places AS ({places_sql}),
ranked AS (
  SELECT a.place_id AS a_id, b.place_id AS b_id,
         {hav_e18} AS hav_e18, {dist_mm} AS dist_mm,
         row_number() OVER (
           PARTITION BY a.place_id ORDER BY ({hav}), b.place_id
         ) AS rnk
  FROM places a JOIN places b ON a.place_id <> b.place_id
)
SELECT a_id, CAST(rnk AS BIGINT) AS rnk, b_id, hav_e18, dist_mm
FROM ranked WHERE rnk <= {k}
"""


# -------------------------------------------- point-pattern pair counts


def pair_counts_by_radius(
    places: DataFrame, radii_m: list[float]
) -> DataFrame:
    """Ripley-K-style point-pattern summary: for each radius r in
    radii_m, the EXACT number of unordered place pairs with great-circle
    distance (pinned polynomials) strictly inside r, plus the exact
    BIGINT sum of their dist_mm — (radius_mm, pairs, sum_dist_mm), one
    row per radius. (The classical K-hat divides by intensity*n; that is
    a driver-side scalar — the distributed work is these counts.)

    One grid join at r_max serves every radius: the window that covers
    r_max covers all smaller radii, and each pair lands in the CASE
    bins. Same single-shuffle shape at any scale."""
    if not radii_m:
        raise ValueError("pair_counts_by_radius: radii_m must be non-empty")
    r_max = max(radii_m)
    p = _guarded(places, "pair_counts_by_radius")
    cell = int(math.ceil(9.0 * r_max))
    a_half, b_half = _window_halves(r_max, cell)
    hav = hav_sql("alat", "alon", "blat", "blon")
    _, dist_mm = _pair_cols_sql(hav)
    cand = (
        _window_candidates(p, p, cell, a_half, b_half)
        .where(F.col("a_id") < F.col("b_id"))
        .withColumn("hav", F.expr(hav))
        .withColumn("dmm", F.expr(dist_mm))
    )
    per_radius = [
        F.struct(
            F.lit(int(round(r * 1000.0))).cast("long").alias("radius_mm"),
            F.when(F.col("hav") < F.lit(hav_threshold(r)), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("hit"),
            F.when(F.col("hav") < F.lit(hav_threshold(r)), F.col("dmm"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("dmm"),
        )
        for r in radii_m
    ]
    return (
        cand.select(F.explode(F.array(*per_radius)).alias("s"))
        .groupBy(F.col("s.radius_mm").alias("radius_mm"))
        .agg(
            F.sum("s.hit").alias("pairs"),
            F.sum("s.dmm").alias("sum_dist_mm"),
        )
    )


def pair_counts_sql(places_sql: str, radii_m: list[float]) -> str:
    """Brute-force DuckDB twin over all n^2/2 unordered pairs."""
    hav = hav_sql("a.lat_udeg", "a.lon_udeg", "b.lat_udeg", "b.lon_udeg")
    _, dist_mm = _pair_cols_sql(hav)
    arms = "\nUNION ALL\n".join(
        f"""SELECT CAST({int(round(r * 1000.0))} AS BIGINT) AS radius_mm,
       CAST(COALESCE(SUM(CASE WHEN ({hav}) < {_d(hav_threshold(r))} THEN 1 ELSE 0 END), 0) AS BIGINT) AS pairs,
       CAST(COALESCE(SUM(CASE WHEN ({hav}) < {_d(hav_threshold(r))} THEN {dist_mm} ELSE 0 END), 0) AS BIGINT) AS sum_dist_mm
FROM places a JOIN places b ON a.place_id < b.place_id"""
        for r in radii_m
    )
    return f"WITH places AS ({places_sql})\n{arms}"


# ----------------------------------------------- Web-Mercator slippy tiles

# banded argument reduction for atanh(s), s = sin(lat): band edges and
# centers chosen so the residual |(s-c)/(1-s*c)| stays <= 0.3 and the
# 8-term odd series truncates below 2e-10; with the sin stage the whole
# y is within 2e-9 of libm (measured 1.14e-9) — the band CONSTANTS atanh(c)
# are computed once driver-side and inlined as shared literals, so both
# engines take the same branch (edges are shared literals too) and add
# the same bits.
_ATANH_BANDS = [(0.30, 0.0), (0.55, 0.425), (0.75, 0.65), (0.87, 0.81)]


def atanh_poly_sql(x: str) -> str:
    """Pinned atanh series for |x| <= 0.3: 8 odd terms, Horner form —
    truncation < 2e-10 at 0.3, < 1e-13 at 0.21."""
    x2 = f"(({x}) * ({x}))"
    return f"(({x}) * {_horner(x2, [1.0, 1.0 / 3, 1.0 / 5, 1.0 / 7, 1.0 / 9, 1.0 / 11, 1.0 / 13, 1.0 / 15])})"


def mercator_y_stages(lat_udeg: str) -> list[tuple[str, str]]:
    """Pinned Web-Mercator y = atanh(sin lat) for |lat| <= 60 deg as a
    STAGED dataflow: (column_name, sql_expr) pairs where each expr
    references earlier stage names. Textual substitution of the full
    polynomial everywhere blows Spark's whole-stage-codegen 64 KB method
    limit (and balloons the oracle SQL), so both engines instead
    evaluate the SAME small expressions over the SAME named
    intermediates — the IEEE op sequence, and therefore every bit, is
    unchanged. Spark folds these through withColumn; the SQL twin nests
    one subquery per stage. The final stage is named _merc_y.

    CAVEAT: do not put a Spark FILTER directly over a bare projection of
    these stages — predicate pushdown re-inlines the stages into the
    predicate multiplicatively (mag references sa ~30x, sa references
    the sin tree, ...) and the optimizer OOMs. slippy_tiles is safe: its
    explode + aggregate block pushdown. If you need to filter on tile
    columns, aggregate (or localCheckpoint) first."""
    sa = "_merc_sa"

    def arm(c: float) -> str:
        if c == 0.0:
            return atanh_poly_sql(sa)
        resid = f"((({sa}) - {_d(c)}) / ({_d(1.0)} - ({sa}) * {_d(c)}))"
        return f"({_d(math.atanh(c))} + {atanh_poly_sql(resid)})"

    cases = " ".join(
        f"WHEN ({sa}) < {_d(edge)} THEN {arm(c)}" for edge, c in _ATANH_BANDS
    )
    return [
        ("_merc_s", sin_poly_sql(f"(({lat_udeg}) * {_d(_RAD_PER_UDEG)})")),
        ("_merc_sa", "ABS(_merc_s)"),
        ("_merc_mag", f"(CASE {cases} ELSE {arm(_ATANH_BANDS[-1][1])} END)"),
        (
            "_merc_y",
            f"(CASE WHEN (_merc_s) < {_d(0.0)} THEN -(_merc_mag)"
            f" ELSE (_merc_mag) END)",
        ),
    ]


def xtile_sql(lon_udeg: str, z: int) -> str:
    """Slippy x tile floor(2^z * (lon+180deg)/360deg) as
    FLOOR(CAST((lon_udeg + 180e6) * 2^z AS DOUBLE) / 360e6): the int64
    product is < 2^53 for z <= 22 so the cast is exact, and IEEE
    division + floor is bit-identical in both engines."""
    if z > 22:
        raise ValueError("xtile_sql: z > 22 exceeds the exact-double range")
    return (
        f"CAST(FLOOR(CAST((({lon_udeg}) + 180000000) * {1 << z} AS DOUBLE)"
        f" / CAST(360000000 AS DOUBLE)) AS BIGINT)"
    )


def ytile_from_y_sql(merc_y: str, z: int) -> str:
    """Slippy y tile floor(2^z * (pi - merc_y) / (2 pi)) from a computed
    Mercator-y column — every constant a shared literal."""
    return (
        f"CAST(FLOOR(CAST({1 << z} AS DOUBLE) * ({_d(math.pi)} - ({merc_y}))"
        f" / {_d(2.0 * math.pi)}) AS BIGINT)"
    )


def slippy_tiles(places: DataFrame, zooms: list[int]) -> DataFrame:
    """Web-Mercator tile occupancy: assign every place its slippy z/x/y
    tile at each zoom and aggregate — (z, xtile, ytile, n_places,
    min_place) rows. Tile math is a pure projection (x exact-integer in
    spirit, y via the staged pinned Mercator polynomial; every stage
    small enough to stay inside whole-stage codegen), so the only
    shuffle is the final aggregate on (z, x, y) — the same plan at 10^12
    rows, and the natural write-partitioning for a tile-pyramid sink."""
    if not zooms:
        raise ValueError("slippy_tiles: zooms must be non-empty")
    p = _guarded(places, "slippy_tiles")
    for name, expr in mercator_y_stages("lat_udeg"):
        p = p.withColumn(name, F.expr(expr))
    arms = [
        F.struct(
            F.lit(z).cast("long").alias("z"),
            F.expr(xtile_sql("lon_udeg", z)).alias("xtile"),
            F.expr(ytile_from_y_sql("_merc_y", z)).alias("ytile"),
        )
        for z in zooms
    ]
    return (
        p.select("place_id", F.explode(F.array(*arms)).alias("t"))
        .groupBy(
            F.col("t.z").alias("z"),
            F.col("t.xtile").alias("xtile"),
            F.col("t.ytile").alias("ytile"),
        )
        .agg(
            F.count("*").alias("n_places"),
            F.min("place_id").alias("min_place"),
        )
    )


def slippy_tiles_sql(places_sql: str, zooms: list[int]) -> str:
    """DuckDB twin: the same staged Mercator dataflow (one nested
    subquery per stage), then the same tile expressions per zoom arm."""
    inner = "places"
    for name, expr in mercator_y_stages("lat_udeg"):
        inner = f"(SELECT *, {expr} AS {name} FROM {inner})"
    arms = "\nUNION ALL\n".join(
        f"""SELECT CAST({z} AS BIGINT) AS z,
       {xtile_sql("lon_udeg", z)} AS xtile,
       {ytile_from_y_sql("_merc_y", z)} AS ytile,
       place_id
FROM staged"""
        for z in zooms
    )
    return f"""
WITH places AS ({places_sql}),
staged AS (SELECT * FROM {inner})
SELECT z, xtile, ytile,
       CAST(COUNT(*) AS BIGINT) AS n_places,
       CAST(MIN(place_id) AS BIGINT) AS min_place
FROM (
{arms}
) GROUP BY z, xtile, ytile
"""


# --------------------------------------------------------- hex binning

# row/col index shift so integer division sees positive operands (both
# engines then agree: truncating and flooring division coincide)
_HEX_SHIFT = 20_000


def _hex_h(w_udeg: int) -> int:
    """Row pitch: round(w * sqrt(3)/2) — the nearest-integer regular-hex
    ratio. The lattice is 'almost regular': Voronoi cells are hexagons,
    within 1 part in w of regular, and EXACTLY specified by integers."""
    return int(round(w_udeg * math.sqrt(3.0) / 2.0))


def hex_assign(places: DataFrame, w_udeg: int) -> DataFrame:
    """Assign every place the nearest center of an offset hex lattice
    (H3-flavored planar binning; true H3 is icosahedral and needs the
    h3 lib, absent in this container — this is the exactly-auditable
    integer analog). Centers: (q*w + (r odd ? w/2 : 0), r*h) with
    h = round(w*sqrt(3)/2); nearest by EXACT integer squared L2, ties by
    (r, q). Output: (place_id, hex_q, hex_r, d2).

    The engine evaluates only the 2x2 bracketing candidates — provably
    sufficient: the best bracketing candidate is within
    sqrt((w/2)^2 + (h/2)^2) ~ 0.66*w, while any center outside the two
    bracketing rows / columns is >= h ~ 0.87*w away. Pure Column math,
    zero shuffle. The DuckDB twin argmins over a WIDER 4x4 ring, so a
    wrong engine pick (a candidate that is not the true nearest center)
    flips the oracle hash — a certifying oracle, not an echo."""
    if w_udeg % 2 or w_udeg <= 0:
        raise ValueError("hex_assign: w_udeg must be positive and even")
    h = _hex_h(w_udeg)
    x, y = F.col("lon_udeg"), F.col("lat_udeg")
    rf = F.expr(
        f"((lat_udeg + {_HEX_SHIFT}L * {h}) div {h}) - {_HEX_SHIFT}"
    )
    cands = []
    for dr in (0, 1):
        r = rf + F.lit(dr)
        off = F.when(F.pmod(r, F.lit(2)) == 1, F.lit(w_udeg // 2)).otherwise(
            F.lit(0)
        )
        qf = (
            F.floor(
                (x - off + F.lit(_HEX_SHIFT) * F.lit(w_udeg)) / F.lit(w_udeg)
            )
            - F.lit(_HEX_SHIFT)
        )
        for dq in (0, 1):
            q = qf + F.lit(dq)
            dx = x - (q * F.lit(w_udeg) + off)
            dy = y - r * F.lit(h)
            cands.append(
                F.struct(
                    (dx * dx + dy * dy).alias("d2"),
                    r.alias("r"),
                    q.alias("q"),
                )
            )
    best = F.array_min(F.array(*cands))
    return places.withColumn("_b", best).select(
        "place_id",
        F.col("_b.q").alias("hex_q"),
        F.col("_b.r").alias("hex_r"),
        F.col("_b.d2").alias("d2"),
    )


def hex_bin(places: DataFrame, w_udeg: int) -> DataFrame:
    """Hex occupancy histogram: (hex_q, hex_r, n_places, min_place,
    sum_d2). ONE aggregate shuffle on the hex key — the hex analog of
    tile_assign + rollup, and a skew-aware shuffle key for downstream
    per-cell joins."""
    return (
        hex_assign(places, w_udeg)
        .groupBy("hex_q", "hex_r")
        .agg(
            F.count("*").alias("n_places"),
            F.min("place_id").alias("min_place"),
            F.sum("d2").alias("sum_d2"),
        )
    )


def hex_bin_sql(places_sql: str, w_udeg: int) -> str:
    """Certifying DuckDB twin: candidates from the WIDER 4x4 (dr, dq in
    -1..2) ring, exact-integer argmin by (d2, r, q) via row_number —
    independent of the engine's 2x2 sufficiency argument."""
    h = _hex_h(w_udeg)
    half = w_udeg // 2
    return f"""
WITH places AS ({places_sql}),
base AS (
  SELECT place_id, lat_udeg, lon_udeg,
         ((lat_udeg + {_HEX_SHIFT} * {h}) // {h}) - {_HEX_SHIFT} AS rf
  FROM places
),
cand AS (
  SELECT place_id, lat_udeg, lon_udeg, rf + dr.d AS r,
         (CASE WHEN ((rf + dr.d) % 2 + 2) % 2 = 1 THEN {half} ELSE 0 END) AS off
  FROM base,
       (SELECT unnest(range(-1, 3)) AS d) dr
),
cand2 AS (
  SELECT place_id, lat_udeg, lon_udeg, r, off,
         ((lon_udeg - off + {_HEX_SHIFT} * {w_udeg}) // {w_udeg})
           - {_HEX_SHIFT} + dq.d AS q
  FROM cand,
       (SELECT unnest(range(-1, 3)) AS d) dq
),
scored AS (
  SELECT place_id, q, r,
         (lon_udeg - (q * {w_udeg} + off)) * (lon_udeg - (q * {w_udeg} + off))
         + (lat_udeg - r * {h}) * (lat_udeg - r * {h}) AS d2,
         row_number() OVER (
           PARTITION BY place_id ORDER BY
             (lon_udeg - (q * {w_udeg} + off)) * (lon_udeg - (q * {w_udeg} + off))
             + (lat_udeg - r * {h}) * (lat_udeg - r * {h}), r, q
         ) AS rn
  FROM cand2
)
SELECT CAST(q AS BIGINT) AS hex_q, CAST(r AS BIGINT) AS hex_r,
       CAST(COUNT(*) AS BIGINT) AS n_places,
       CAST(MIN(place_id) AS BIGINT) AS min_place,
       CAST(SUM(d2) AS BIGINT) AS sum_d2
FROM scored WHERE rn = 1
GROUP BY q, r
"""


# -------------------------------------- S2-style cube-face quad cells

# full-circle banded range reduction for sin/cos: 30-degree bands, band
# constants sin/cos(center) inlined once as shared literals, residual
# |delta| <= 15 deg = 0.262 rad where the pinned polynomials are exact
# to ~1e-13 — lifts the |lat| <= 60 deg restriction of the haversine
# operators (S2 cells are the pole-safe index).
_BAND_UDEG = 30_000_000


def sincos_stages(angle_udeg: str, prefix: str) -> list[tuple[str, str]]:
    """Staged pinned sin AND cos of an arbitrary integer-microdegree
    angle in [-180e6, 180e6]: band b = floor((a+15e6)/30e6), delta =
    (a - b*30e6) rad, then the angle-addition identities with
    sin/cos(30 deg * b) as shared driver-side literals. Stage names are
    {prefix}_sin / {prefix}_cos (plus internals)."""
    b, d, sd, cd, sc, cc = (
        f"{prefix}_b",
        f"{prefix}_d",
        f"{prefix}_sd",
        f"{prefix}_cd",
        f"{prefix}_sc",
        f"{prefix}_cc",
    )
    half = _BAND_UDEG // 2
    sin_arms = " ".join(
        f"WHEN ({b}) = {k} THEN {_d(math.sin(k * math.pi / 6.0))}"
        for k in range(-6, 7)
    )
    cos_arms = " ".join(
        f"WHEN ({b}) = {k} THEN {_d(math.cos(k * math.pi / 6.0))}"
        for k in range(-6, 7)
    )
    return [
        (
            b,
            f"CAST(FLOOR(CAST((({angle_udeg}) + {half}) AS DOUBLE)"
            f" / CAST({_BAND_UDEG} AS DOUBLE)) AS BIGINT)",
        ),
        (d, f"((({angle_udeg}) - ({b}) * {_BAND_UDEG}) * {_d(_RAD_PER_UDEG)})"),
        (sd, sin_poly_sql(d)),
        (cd, cos_poly_sql(d)),
        (sc, f"(CASE {sin_arms} ELSE {_d(0.0)} END)"),
        (cc, f"(CASE {cos_arms} ELSE {_d(1.0)} END)"),
        (f"{prefix}_sin", f"(({sc}) * ({cd}) + ({cc}) * ({sd}))"),
        (f"{prefix}_cos", f"(({cc}) * ({cd}) - ({sc}) * ({sd}))"),
    ]


def s2_stages(lat_udeg: str, lon_udeg: str, level: int) -> list[tuple[str, str]]:
    """Staged S2 quadratic cube-face cell math (public s2geometry
    semantics, s2coords.h): unit vector from banded pinned sin/cos, face
    = argmax |component| with (x, y, z) priority, the standard per-face
    (u, v) ratio table, the quadratic st transform
    s = u >= 0 ? 0.5*sqrt(1+3u) : 1 - 0.5*sqrt(1-3u), and leaf indices
    si = clamp(floor(s * 2^level)). Every op is IEEE +-*/ sqrt over
    shared literals, so both engines produce identical integers at ALL
    latitudes — no 60-degree guard. Final stages: _s2_face, _s2_si,
    _s2_ti."""
    if not 0 <= level <= 28:
        raise ValueError("s2_stages: level must be in [0, 28]")
    stages = sincos_stages(lat_udeg, "_la") + sincos_stages(lon_udeg, "_lo")
    stages += [
        ("_s2_x", "((_la_cos) * (_lo_cos))"),
        ("_s2_y", "((_la_cos) * (_lo_sin))"),
        ("_s2_z", "(_la_sin)"),
        (
            "_s2_face",
            "(CASE WHEN ABS(_s2_x) >= ABS(_s2_y) AND ABS(_s2_x) >= ABS(_s2_z)"
            f" THEN (CASE WHEN (_s2_x) > {_d(0.0)} THEN 0 ELSE 3 END)"
            " WHEN ABS(_s2_y) >= ABS(_s2_z)"
            f" THEN (CASE WHEN (_s2_y) > {_d(0.0)} THEN 1 ELSE 4 END)"
            f" ELSE (CASE WHEN (_s2_z) > {_d(0.0)} THEN 2 ELSE 5 END) END)",
        ),
        (
            "_s2_u",
            "(CASE (_s2_face)"
            " WHEN 0 THEN ((_s2_y) / (_s2_x))"
            " WHEN 1 THEN (-(_s2_x) / (_s2_y))"
            " WHEN 2 THEN (-(_s2_x) / (_s2_z))"
            " WHEN 3 THEN ((_s2_z) / (_s2_x))"
            " WHEN 4 THEN ((_s2_z) / (_s2_y))"
            " ELSE (-(_s2_y) / (_s2_z)) END)",
        ),
        (
            "_s2_v",
            "(CASE (_s2_face)"
            " WHEN 0 THEN ((_s2_z) / (_s2_x))"
            " WHEN 1 THEN ((_s2_z) / (_s2_y))"
            " WHEN 2 THEN (-(_s2_y) / (_s2_z))"
            " WHEN 3 THEN ((_s2_y) / (_s2_x))"
            " WHEN 4 THEN (-(_s2_x) / (_s2_y))"
            " ELSE (-(_s2_x) / (_s2_z)) END)",
        ),
        (
            "_s2_s",
            f"(CASE WHEN (_s2_u) >= {_d(0.0)}"
            f" THEN {_d(0.5)} * SQRT({_d(1.0)} + {_d(3.0)} * (_s2_u))"
            f" ELSE {_d(1.0)} - {_d(0.5)} * SQRT({_d(1.0)} - {_d(3.0)} * (_s2_u)) END)",
        ),
        (
            "_s2_t",
            f"(CASE WHEN (_s2_v) >= {_d(0.0)}"
            f" THEN {_d(0.5)} * SQRT({_d(1.0)} + {_d(3.0)} * (_s2_v))"
            f" ELSE {_d(1.0)} - {_d(0.5)} * SQRT({_d(1.0)} - {_d(3.0)} * (_s2_v)) END)",
        ),
        (
            "_s2_si",
            f"LEAST(GREATEST(CAST(FLOOR((_s2_s) * {_d(float(1 << level))})"
            f" AS BIGINT), 0), {(1 << level) - 1})",
        ),
        (
            "_s2_ti",
            f"LEAST(GREATEST(CAST(FLOOR((_s2_t) * {_d(float(1 << level))})"
            f" AS BIGINT), 0), {(1 << level) - 1})",
        ),
    ]
    return stages


def s2_cells(places: DataFrame, level: int) -> DataFrame:
    """S2-style cell occupancy at `level`: (face, cell_pos, n_places,
    min_place) where cell_pos packs (si, ti) with the engine's
    spread-mask Morton interleave (level tag << 56, as everywhere else
    in this engine; true S2 orders positions along a per-face Hilbert
    curve — Morton keeps the same prefix-nesting property, documented
    difference). Pure staged Column math then ONE aggregate shuffle —
    and valid at every latitude, including the poles the haversine grid
    operators refuse."""
    from metric_search_spark.functions.spatial import cell_from_cxy_col

    p = places
    for name, expr in s2_stages("lat_udeg", "lon_udeg", level):
        p = p.withColumn(name, F.expr(expr))
    return (
        p.select(
            "place_id",
            F.col("_s2_face").cast("long").alias("face"),
            cell_from_cxy_col(
                F.col("_s2_si"), F.col("_s2_ti"), level
            ).alias("cell_pos"),
        )
        .groupBy("face", "cell_pos")
        .agg(
            F.count("*").alias("n_places"),
            F.min("place_id").alias("min_place"),
        )
    )


def s2_cells_sql(places_sql: str, level: int) -> str:
    """DuckDB twin: the same staged dataflow, but the Morton pack is the
    INDEPENDENT per-bit sum (morton_bitsum_sql) rather than the engine's
    spread-mask interleave."""
    from metric_search_spark.functions.spatial import morton_bitsum_sql

    inner = "places"
    for name, expr in s2_stages("lat_udeg", "lon_udeg", level):
        inner = f"(SELECT *, {expr} AS {name} FROM {inner})"
    return f"""
WITH places AS ({places_sql})
SELECT CAST(_s2_face AS BIGINT) AS face,
       {morton_bitsum_sql("_s2_si", "_s2_ti", level)} AS cell_pos,
       CAST(COUNT(*) AS BIGINT) AS n_places,
       CAST(MIN(place_id) AS BIGINT) AS min_place
FROM {inner}
GROUP BY 1, 2
"""


# ------------------------------------------------------------------ geohash

_GH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_cells(places: DataFrame, precision: int = 8) -> DataFrame:
    """Standard base-32 geohash of each place at the given (even)
    ``precision`` — the third SFC key family next to Morton/Hilbert tile
    ids and S2 cell ids, and the one whose STRING PREFIX property maps
    directly onto object-store path partitioning (`gh[:4]/` prefixes are
    how a 10^12-row corpus shards into ~1.7M balanced directories).

    Semantics (the public geohash definition, Niemeyer 2008): interleave
    the binary expansions of lon over [-180, 180) and lat over [-90, 90),
    longitude first, and emit 5-bit groups through the base-32 alphabet
    ``0123456789bcdefghjkmnpqrstuvwxyz``. With even ``precision`` both
    axes carry exactly ``5*precision/2`` bits, so the quantizers are
    exact integer floors over the microdegree inputs (no float division
    anywhere): q = (udeg + span/2) * 2^bits DIV span, every intermediate
    < 2^53. The interleave is the same spread-mask Morton the tiling
    layer uses (functions/spatial.spread_bits_col); the DuckDB twin
    (geohash_sql) recomputes it as an independent per-bit sum and indexes
    the alphabet by substring — no shared arithmetic shape.

    Pure Column projection — zero shuffles, zero Python; stays inside
    whole-stage codegen. Emits (place_id, gh, gh4) with gh4 the 4-char
    prefix (the coarse shard key). Precision is capped at 12 (30 bits
    per axis, the spread-mask input width); odd precisions would split
    bits unevenly across axes and are rejected for auditability.
    """
    from metric_search_spark.functions.spatial import spread_bits_col

    if precision % 2 or not 2 <= precision <= 12:
        raise ValueError(
            f"geohash_cells: precision {precision} must be even and in [2, 12]"
        )
    bits = 5 * precision // 2
    lon_q = F.least(
        F.lit((1 << bits) - 1),
        F.expr(f"(lon_udeg + 180000000) * {1 << bits} DIV 360000000"),
    )
    lat_q = F.least(
        F.lit((1 << bits) - 1),
        F.expr(f"(lat_udeg + 90000000) * {1 << bits} DIV 180000000"),
    )
    v = F.shiftleft(spread_bits_col(lon_q), 1).bitwiseOR(spread_bits_col(lat_q))
    alph = F.array(*[F.lit(c) for c in _GH_ALPHABET])
    chars = [
        F.element_at(
            alph,
            (F.shiftright(v, 5 * (precision - 1 - j)).bitwiseAND(F.lit(31)) + 1)
            .cast("int"),
        )
        for j in range(precision)
    ]
    return places.select(
        "place_id",
        F.concat(*chars).alias("gh"),
        F.concat(*chars[:4]).alias("gh4"),
    )


def geohash_sql(places_sql: str, precision: int = 8) -> str:
    """DuckDB twin of geohash_cells: same public definition, independent
    arithmetic — `//` integer division, per-bit-sum interleave (the
    morton_bitsum shape, not the engine's spread-mask ripple), and
    substring indexing into the alphabet instead of an array literal."""
    if precision % 2 or not 2 <= precision <= 12:
        raise ValueError(
            f"geohash_sql: precision {precision} must be even and in [2, 12]"
        )
    bits = 5 * precision // 2
    lon_q = f"LEAST({(1 << bits) - 1}, (lon_udeg + 180000000) * {1 << bits} // 360000000)"
    lat_q = f"LEAST({(1 << bits) - 1}, (lat_udeg + 90000000) * {1 << bits} // 180000000)"
    v = (
        f"CAST(list_sum(list_transform(range(0, {bits}),"
        f" b -> ((lonq >> b) & 1) * (CAST(1 AS BIGINT) << (2 * b + 1))"
        f" + ((latq >> b) & 1) * (CAST(1 AS BIGINT) << (2 * b)))) AS BIGINT)"
    )
    gh = (
        f"array_to_string(list_transform(range(0, {precision}),"
        f" j -> substr('{_GH_ALPHABET}',"
        f" CAST(((v >> (5 * ({precision} - 1 - j))) & 31) AS INTEGER) + 1, 1)), '')"
    )
    return f"""
WITH places AS ({places_sql}),
q AS (SELECT place_id, {lon_q} AS lonq, {lat_q} AS latq FROM places),
iv AS (SELECT place_id, {v} AS v FROM q),
g AS (SELECT place_id, {gh} AS gh FROM iv)
SELECT place_id, gh, substr(gh, 1, 4) AS gh4 FROM g
"""


def _gh_string(v: Column, precision: int) -> Column:
    """Base-32 string from a BOUND interleaved-bits column (each of the
    ``precision`` 5-bit groups references ``v`` once — keep ``v`` a real
    attribute, not an inline tree, per the staged-codegen rule
    functions/spatial.with_xy_cell documents)."""
    alph = F.array(*[F.lit(c) for c in _GH_ALPHABET])
    return F.concat(
        *[
            F.element_at(
                alph,
                (
                    F.shiftright(v, 5 * (precision - 1 - j)).bitwiseAND(F.lit(31))
                    + 1
                ).cast("int"),
            )
            for j in range(precision)
        ]
    )


def geohash_kring(places: DataFrame, precision: int = 8) -> DataFrame:
    """The 3×3 geohash neighborhood of each place — the canonical
    radius-query primitive over geohash-sharded storage: a point's
    in-radius candidates (radius ≤ one cell size) live in its own cell
    plus the 8 neighbors, so the probe is 9 prefix lookups, never a scan.

    Neighbor semantics (the public definition): longitude WRAPS (the grid
    is a cylinder — east of the 'z…' column is the '0…' column), latitude
    CLAMPS (cells past a pole do not exist and are dropped, so polar
    points emit 6). Engine shape: STAGED pure-Column plan — one projection
    binds the quantized (lonq, latq), one binds the 9 interleaved
    neighbor codes (wrap via two's-complement & mask; clamp via validity
    flag), one renders strings from the bound codes (geohash_kring never
    re-inlines a quantizer into the spread ripple — the 64 KB-method
    lesson of functions/spatial.with_xy_cell). Zero shuffles, zero Python.

    Emits (place_id, dx, dy, gh) including the center (0, 0). The DuckDB
    twin (geohash_kring_sql) recomputes quantize / wrap / clamp / per-bit
    interleave / substring alphabet independently."""
    from metric_search_spark.functions.spatial import spread_bits_col

    if precision % 2 or not 2 <= precision <= 12:
        raise ValueError(
            f"geohash_kring: precision {precision} must be even and in [2, 12]"
        )
    bits = 5 * precision // 2
    mask = (1 << bits) - 1
    lon_q = F.least(
        F.lit(mask), F.expr(f"(lon_udeg + 180000000) * {1 << bits} DIV 360000000")
    )
    lat_q = F.least(
        F.lit(mask), F.expr(f"(lat_udeg + 90000000) * {1 << bits} DIV 180000000")
    )
    staged = places.withColumns({"__ghk_lonq": lon_q, "__ghk_latq": lat_q})

    vcols = {}
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            nlon = (F.col("__ghk_lonq") + F.lit(dx)).bitwiseAND(F.lit(mask))
            nlat = F.col("__ghk_latq") + F.lit(dy)
            ok = (nlat >= 0) & (nlat <= mask)
            v = F.shiftleft(spread_bits_col(nlon), 1).bitwiseOR(
                spread_bits_col(nlat)
            )
            vcols[f"__ghk_v_{dx}_{dy}"] = F.when(ok, v).otherwise(F.lit(None))
    staged = staged.withColumns(vcols)

    ring = F.array(
        *[
            F.struct(
                F.lit(dx).alias("dx"),
                F.lit(dy).alias("dy"),
                F.col(f"__ghk_v_{dx}_{dy}").alias("v"),
            )
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    exploded = (
        staged.select("place_id", F.explode(ring).alias("n"))
        .where(F.col("n.v").isNotNull())
        .select("place_id", "n.dx", "n.dy", F.col("n.v").alias("__ghk_v"))
    )
    return exploded.select(
        "place_id",
        "dx",
        "dy",
        _gh_string(F.col("__ghk_v"), precision).alias("gh"),
    )


def geohash_kring_sql(places_sql: str, precision: int = 8) -> str:
    """DuckDB twin of geohash_kring: independent arithmetic — `//` floor
    division, additive modular wrap ((q + d + 2^bits) % 2^bits), BETWEEN
    clamp, per-bit-sum interleave, substring alphabet."""
    if precision % 2 or not 2 <= precision <= 12:
        raise ValueError(
            f"geohash_kring_sql: precision {precision} must be even and in [2, 12]"
        )
    bits = 5 * precision // 2
    n = 1 << bits
    lon_q = f"LEAST({n - 1}, (lon_udeg + 180000000) * {n} // 360000000)"
    lat_q = f"LEAST({n - 1}, (lat_udeg + 90000000) * {n} // 180000000)"
    v = (
        f"CAST(list_sum(list_transform(range(0, {bits}),"
        f" b -> ((nlon >> b) & 1) * (CAST(1 AS BIGINT) << (2 * b + 1))"
        f" + ((nlat >> b) & 1) * (CAST(1 AS BIGINT) << (2 * b)))) AS BIGINT)"
    )
    gh = (
        f"array_to_string(list_transform(range(0, {precision}),"
        f" j -> substr('{_GH_ALPHABET}',"
        f" CAST(((v >> (5 * ({precision} - 1 - j))) & 31) AS INTEGER) + 1, 1)), '')"
    )
    return f"""
WITH places AS ({places_sql}),
q AS (SELECT place_id, {lon_q} AS lonq, {lat_q} AS latq FROM places),
offs AS (SELECT dx, dy FROM (VALUES (-1),(0),(1)) o1(dx), (VALUES (-1),(0),(1)) o2(dy)),
n AS (
  SELECT place_id, dx, dy,
         (lonq + dx + {n}) % {n} AS nlon, latq + dy AS nlat
  FROM q, offs
  WHERE latq + dy BETWEEN 0 AND {n - 1}
),
iv AS (SELECT place_id, dx, dy, {v} AS v FROM n)
SELECT place_id, dx, dy, {gh} AS gh FROM iv
"""


# ---------------------------------------------- full-sphere radius join
#
# haversine_radius_join's 3×5 window rests on cos φ ≥ ½ (|lat| ≤ 60°) and
# on longitudes that never straddle the antimeridian. The _sphere variant
# below lifts BOTH restrictions while keeping the bit-exact pinned-
# polynomial contract:
#
#   * Δλ is normalized into [−180°, 180°) with EXACT INTEGER arithmetic
#     before the radian conversion (hav_wrap_sql) — antimeridian pairs
#     compute the true small angle, and the normalization is trivially
#     pinned (integer % is identical in every engine).
#   * the lon window widens per-row as sec(lat): a probe at latitude φ
#     replicates to ±bh(φ) lon cells where bh is derived from the sharp
#     spherical bound  sin(Δλ/2) ≤ sin(δ/2)/√(cos φ_a · cos φ_b)
#     (hav(d) = hav(Δφ) + cosφ_a·cosφ_b·hav(Δλ) ⇒ hav(Δλ) ≤ hav(δ) /
#     (cosφ_a cosφ_b); then Δλ ≤ π·s/c using 2·asin(x) ≤ π·x on [0,1]).
#     cos is lower-bounded row-side by the pinned polynomial minus a
#     1e-8 margin — any under-estimate of cos only WIDENS the window, so
#     rigor is one-sided and cheap.
#   * lon cells live on a ring: cell index = ⌊(λ+180°)/cell⌋ mod W with
#     W = ⌈360°/cell⌉; window keys are (mc0 + j) mod W. The seam cell is
#     narrower than `cell` when 360e6 % cell ≠ 0, which costs at most one
#     extra boundary crossing — bh adds +2 instead of +1.
#   * the two polar caps (colatitude ≤ cap_colat_deg, default 2°) leave
#     the lat/lon grid entirely: sec φ diverges there, so cap∪halo rows
#     (halo = within δ of the cap line, δ = the µdeg radius bound) are
#     projected AZIMUTHAL-EQUIDISTANT around their pole — (x, y) =
#     colat·(cos λ, sin λ) in µdeg — and candidate-joined on a planar
#     3×3 grid. Distance distortion of that projection is ≤ θ/sinθ
#     radially-exact/tangentially-stretched with θ ≤ cap+2δ (a short arc
#     between two cap points stays within δ of the endpoint colatitudes),
#     ≤ 1.0003 at the 2° default — the planar candidate radius inflates
#     by that factor and the EXACT pinned predicate decides membership,
#     so the JVM sin/cos used for this plumbing never touches semantics.
#     Pair sets are disjoint by construction: the grid path emits pairs
#     with BOTH rows below the cap line, the cap path pairs with at
#     least one row on-or-above it (its halo supplies every partner
#     within the radius).
#
# At 10^12 rows the plan is: one explode-equi-join shuffle whose fan-out
# is 15 at the equator growing as sec(lat) (3×95 at 88°), plus a
# constant-9 fan-out join over the (area-proportionally tiny) caps — no
# cartesian product anywhere, and the skew knobs are the same as the
# planar join (salt the hot cells, AQE skew split).


def hav_wrap_sql(alat: str, alon: str, blat: str, blon: str) -> str:
    """Antimeridian-safe pinned haversine: identical to hav_sql except the
    lon difference is first normalized into [−180e6, 180e6) µdeg by exact
    integer arithmetic (((d % 360e6) + 540e6) % 360e6 − 180e6 — both
    engines' % is remainder-with-dividend-sign, and the first fold makes
    the second operand positive, so the text is engine-identical). Taylor
    domains then cap at |x| ≤ π/2: sin_poly error ≤ 5.7e-8 and cos_poly
    ≤ 6.4e-9 there — both engines still evaluate the SAME polynomial
    bit-for-bit (the pinned-semantics contract), and the truncation
    error only displaces FAR pairs, orders of magnitude above any radius
    threshold, plus sub-mm near-pole distance error (documented)."""
    rad = _d(_RAD_PER_UDEG)
    half = _d(0.5)
    dl = (
        f"(((((({blon}) - ({alon})) % 360000000) + 540000000)"
        f" % 360000000) - 180000000)"
    )
    dphi2 = f"((({blat}) - ({alat})) * {rad} * {half})"
    dlam2 = f"(({dl}) * {rad} * {half})"
    phi_a = f"(({alat}) * {rad})"
    phi_b = f"(({blat}) * {rad})"
    s1 = sin_poly_sql(dphi2)
    s2 = sin_poly_sql(dlam2)
    return (
        f"(({s1}) * ({s1}) + {cos_poly_sql(phi_a)} * {cos_poly_sql(phi_b)}"
        f" * ({s2}) * ({s2}))"
    )


def haversine_radius_join_sphere(
    places: DataFrame, radius_m: float, *, cap_colat_deg: float = 2.0
) -> DataFrame:
    """All unordered place pairs within radius_m meters of great-circle
    distance, valid over the ENTIRE sphere — any latitude, antimeridian
    straddle included — as (a_id, b_id, hav_e18, dist_mm), a_id < b_id.

    Plan (see the block comment above for the window/cap math): non-cap
    rows grid at cell = ceil(9·r) µdeg, probes replicate to a ±1-lat ×
    ±bh(lat)-lon window with bh row-adaptive via the pinned-cos secant
    bound and lon cells wrapping mod W; cap∪halo rows join on a planar
    3×3 grid over the azimuthal-equidistant projection. Both paths
    filter with the SAME antimeridian-safe pinned predicate
    (hav_wrap_sql), so the brute-force DuckDB twin
    (haversine_pairs_sphere_sql) is grid- and cap-independent.

    Raises when radius_m is too large for cap_colat_deg (the secant
    bound at the cap line must leave the window below a half-ring) and
    on |lat| > 90e6 or |lon| > 180e6 inputs."""
    if radius_m <= 0:
        raise ValueError("haversine_radius_join_sphere: radius_m must be > 0")
    cell = int(math.ceil(9.0 * radius_m))
    delta = int(math.ceil(radius_m * _UDEG_PER_M)) + 1
    w_ring = int(math.ceil(360e6 / cell))
    s_half = math.sin(radius_m / (2.0 * EARTH_R_M)) * (1.0 + 1e-9)
    cap_lat = 90_000_000 - int(round(cap_colat_deg * 1e6))
    if not 0 < cap_lat < 90_000_000:
        raise ValueError(
            f"haversine_radius_join_sphere: cap_colat_deg {cap_colat_deg} out of range"
        )
    cmin_cap = math.cos((cap_lat + delta) * _RAD_PER_UDEG) - 1e-8
    if cmin_cap <= s_half:
        raise ValueError(
            f"haversine_radius_join_sphere: radius {radius_m} m reaches a full"
            f" lon ring below the {cap_colat_deg} deg cap — raise cap_colat_deg"
        )
    bh_max = int(180e6 * s_half / cmin_cap / cell) + 2
    if 2 * bh_max + 1 > w_ring:
        raise ValueError(
            f"haversine_radius_join_sphere: lon window 2*{bh_max}+1 exceeds the"
            f" {w_ring}-cell ring — raise cap_colat_deg or shrink radius_m"
        )
    lat_g = F.when(
        F.abs(F.col("lat_udeg")) > 90_000_000,
        F.raise_error(
            F.lit("haversine_radius_join_sphere: |lat_udeg| > 90e6")
        ).cast("long"),
    ).otherwise(F.col("lat_udeg"))
    lon_g = F.when(
        F.abs(F.col("lon_udeg")) > 180_000_000,
        F.raise_error(
            F.lit("haversine_radius_join_sphere: |lon_udeg| > 180e6")
        ).cast("long"),
    ).otherwise(F.col("lon_udeg"))
    p = places.select(
        "place_id", lat_g.alias("lat_udeg"), lon_g.alias("lon_udeg")
    )
    hav = hav_wrap_sql("alat", "alon", "blat", "blon")
    hav_e18, dist_mm = _pair_cols_sql(hav)
    thr = _d(hav_threshold(radius_m))

    # ---- grid path: both rows strictly below the cap line
    noncap = p.where(F.abs(F.col("lat_udeg")) < F.lit(cap_lat))
    xmin = (
        f"(LEAST(ABS(lat_udeg) + {delta}, {cap_lat}) * {_d(_RAD_PER_UDEG)})"
    )
    halfw = f"({_d(180e6 * s_half)} / ({cos_poly_sql(xmin)} - {_d(1e-8)}))"
    keyed = noncap.select(
        "place_id",
        "lat_udeg",
        "lon_udeg",
        F.floor(F.col("lat_udeg") / F.lit(cell)).alias("lc"),
        F.pmod(
            F.floor((F.col("lon_udeg") + F.lit(180_000_000)) / F.lit(cell)),
            F.lit(w_ring),
        ).alias("mc"),
        F.least(
            (F.floor(F.expr(halfw) / F.lit(cell)) + F.lit(2)).cast("int"),
            F.lit(bh_max),
        ).alias("bh"),
    )
    left_g = (
        keyed.select(
            F.col("place_id").alias("a_id"),
            F.col("lat_udeg").alias("alat"),
            F.col("lon_udeg").alias("alon"),
            "lc",
            "mc",
            "bh",
        )
        .withColumn("di", F.explode(F.sequence(F.lit(-1), F.lit(1))))
        .withColumn("dj", F.explode(F.sequence(-F.col("bh"), F.col("bh"))))
        .select(
            "a_id",
            "alat",
            "alon",
            (F.col("lc") + F.col("di")).alias("lc"),
            F.pmod(F.col("mc") + F.col("dj"), F.lit(w_ring)).alias("mc"),
        )
    )
    right_g = keyed.select(
        F.col("place_id").alias("b_id"),
        F.col("lat_udeg").alias("blat"),
        F.col("lon_udeg").alias("blon"),
        "lc",
        "mc",
    )
    grid_pairs = left_g.join(right_g, ["lc", "mc"]).where(
        (F.col("a_id") < F.col("b_id")) & F.expr(f"({hav}) < {thr}")
    )

    # ---- cap path: at least one row on-or-above the cap line
    theta_max = (90_000_000 - cap_lat + 2 * delta) * _RAD_PER_UDEG
    stretch = theta_max / math.sin(theta_max)
    rp = delta * stretch * 1.001 + 1.0
    cellp = int(math.ceil(rp))
    cap_halo = p.where(F.abs(F.col("lat_udeg")) >= F.lit(cap_lat - delta))
    lam = F.col("lon_udeg").cast("double") * F.lit(_RAD_PER_UDEG)
    colat = (F.lit(90_000_000) - F.abs(F.col("lat_udeg"))).cast("double")
    proj = cap_halo.select(
        "place_id",
        "lat_udeg",
        "lon_udeg",
        (F.col("lat_udeg") >= 0).alias("north"),
        F.floor(colat * F.cos(lam) / F.lit(cellp)).alias("xc"),
        F.floor(colat * F.sin(lam) / F.lit(cellp)).alias("yc"),
    )
    left_c = (
        proj.select(
            F.col("place_id").alias("a_id"),
            F.col("lat_udeg").alias("alat"),
            F.col("lon_udeg").alias("alon"),
            "north",
            "xc",
            "yc",
        )
        .withColumn("di", F.explode(F.sequence(F.lit(-1), F.lit(1))))
        .withColumn("dj", F.explode(F.sequence(F.lit(-1), F.lit(1))))
        .select(
            "a_id",
            "alat",
            "alon",
            "north",
            (F.col("xc") + F.col("di")).alias("xc"),
            (F.col("yc") + F.col("dj")).alias("yc"),
        )
    )
    right_c = proj.select(
        F.col("place_id").alias("b_id"),
        F.col("lat_udeg").alias("blat"),
        F.col("lon_udeg").alias("blon"),
        "north",
        "xc",
        "yc",
    )
    cap_pairs = left_c.join(right_c, ["north", "xc", "yc"]).where(
        (F.col("a_id") < F.col("b_id"))
        & (
            F.greatest(F.abs(F.col("alat")), F.abs(F.col("blat")))
            >= F.lit(cap_lat)
        )
        & F.expr(f"({hav}) < {thr}")
    )

    out = ["a_id", "b_id", F.expr(hav_e18).alias("hav_e18"), F.expr(dist_mm).alias("dist_mm")]
    return grid_pairs.select(*out).unionAll(cap_pairs.select(*out))


def haversine_pairs_sphere_sql(places_sql: str, radius_m: float) -> str:
    """Brute-force DuckDB twin of haversine_radius_join_sphere: ALL n²
    pairs with the SAME antimeridian-safe pinned predicate — fully
    independent of the grid, the secant window, and the polar caps."""
    hav = hav_wrap_sql("a.lat_udeg", "a.lon_udeg", "b.lat_udeg", "b.lon_udeg")
    hav_e18, dist_mm = _pair_cols_sql(hav)
    thr = _d(hav_threshold(radius_m))
    return f"""
WITH places AS ({places_sql})
SELECT a.place_id AS a_id, b.place_id AS b_id,
       {hav_e18} AS hav_e18, {dist_mm} AS dist_mm
FROM places a JOIN places b ON a.place_id < b.place_id
WHERE ({hav}) < {thr}
"""


# --------------------------------------------------- full-sphere fixture

_SPHERE_HOTS: list[tuple[int, int]] = [
    (89_980_000, 0),             # north cap, 2.2 km off the pole
    (89_960_000, 135_000_000),   # north cap, different meridian
    (-89_990_000, -90_000_000),  # south cap; jitter clamps AT the pole
    (88_003_000, 10_000_000),    # just above the 2 deg cap line
    (87_997_000, 10_000_000),    # just below it — cross-boundary pairs
    (75_000_000, -60_000_000),   # high-lat (beyond the planar 60 guard)
    (60_500_000, 20_000_000),    # just past 60 deg
    (0, 179_995_000),            # equatorial antimeridian straddle
    (-45_000_000, -179_990_000), # southern antimeridian straddle
    (30_000_000, 50_000_000),    # ordinary mid-lat
    (-60_200_000, 100_000_000),  # just past -60 deg
    (89_999_000, -179_999_000),  # cap + antimeridian, 111 m off the pole
]


def synth_places_sphere(
    spark: SparkSession, n: int, *, seed: int = 0
) -> DataFrame:
    """Full-sphere places fixture: n points over the _SPHERE_HOTS hotspot
    centers (fixed, chosen to exercise every regime the _sphere join
    must cover: both polar caps, the cap boundary, the antimeridian,
    high latitudes, and exact-pole clamping), jitter ±60,000 µdeg per
    axis. Latitude clamps to ±90e6 (the south-cap cluster produces rows
    AT the pole, all longitudes — the same physical point); longitude
    wraps mod 360e6 into [−180e6, 180e6). Exact-integer reproducible in
    SQL (synth_places_sphere_sql)."""
    nh = len(_SPHERE_HOTS)
    ids = spark.range(n).select(F.col("id").cast("long").alias("place_id"))
    hot = (F.col("place_id") % nh).cast("int")
    lat_c = F.element_at(
        F.array(*[F.lit(la) for la, _ in _SPHERE_HOTS]), hot + F.lit(1)
    )
    lon_c = F.element_at(
        F.array(*[F.lit(lo) for _, lo in _SPHERE_HOTS]), hot + F.lit(1)
    )
    lat_r = lat_c + hash_col(F.col("place_id"), seed + 1) % 120_001 - 60_000
    lon_r = lon_c + hash_col(F.col("place_id"), seed + 2) % 120_001 - 60_000
    lat = F.least(F.lit(90_000_000), F.greatest(F.lit(-90_000_000), lat_r))
    lon = F.pmod(lon_r + F.lit(180_000_000), F.lit(360_000_000)) - F.lit(
        180_000_000
    )
    return ids.select(
        "place_id",
        lat.cast("long").alias("lat_udeg"),
        lon.cast("long").alias("lon_udeg"),
    )


def synth_places_sphere_sql(n: int, *, seed: int = 0) -> str:
    """DuckDB twin of synth_places_sphere — same MINSTD streams, same
    clamp/wrap integer arithmetic, same integers."""
    nh = len(_SPHERE_HOTS)
    lat_c = f"list_extract({[la for la, _ in _SPHERE_HOTS]}, CAST(place_id % {nh} AS INTEGER) + 1)"
    lon_c = f"list_extract({[lo for _, lo in _SPHERE_HOTS]}, CAST(place_id % {nh} AS INTEGER) + 1)"
    lat_r = f"({lat_c}) + ({sample_hash_sql('place_id', seed + 1)}) % 120001 - 60000"
    lon_r = f"({lon_c}) + ({sample_hash_sql('place_id', seed + 2)}) % 120001 - 60000"
    lat = f"LEAST(90000000, GREATEST(-90000000, {lat_r}))"
    lon = f"((({lon_r}) + 180000000) % 360000000 + 360000000) % 360000000 - 180000000"
    return (
        f"SELECT place_id, CAST({lat} AS BIGINT) AS lat_udeg,"
        f" CAST({lon} AS BIGINT) AS lon_udeg"
        f" FROM (SELECT unnest(range({n})) AS place_id)"
    )


# ------------------------------------------------ full-sphere geodetic kNN


def _sphere_candidates(
    probes: DataFrame, build: DataFrame, radius_m: float, cap_colat_deg: float
) -> DataFrame:
    """ORDERED candidate pairs (a_id, alat, alon, b_id, blat, blon)
    provably containing every ordered (probe, build) pair with
    great-circle distance < radius_m, each at most once — the sphere
    twin of _window_candidates. Same two-path construction as
    haversine_radius_join_sphere (row-adaptive secant lon window on the
    wrapped ring below the cap line; azimuthal-equidistant 3×3 planar
    grid over cap∪halo), made ordered: the grid path joins non-cap
    probes to non-cap build rows, the cap path joins cap∪halo probes to
    cap∪halo build rows keeping only pairs where at least one side is
    a true cap row — disjoint, jointly exhaustive."""
    cell = int(math.ceil(9.0 * radius_m))
    delta = int(math.ceil(radius_m * _UDEG_PER_M)) + 1
    w_ring = int(math.ceil(360e6 / cell))
    s_half = math.sin(radius_m / (2.0 * EARTH_R_M)) * (1.0 + 1e-9)
    cap_lat = 90_000_000 - int(round(cap_colat_deg * 1e6))
    if not 0 < cap_lat < 90_000_000:
        raise ValueError(
            f"_sphere_candidates: cap_colat_deg {cap_colat_deg} out of range"
        )
    cmin_cap = math.cos((cap_lat + delta) * _RAD_PER_UDEG) - 1e-8
    if cmin_cap <= s_half:
        raise ValueError(
            f"_sphere_candidates: radius {radius_m} m reaches a full lon"
            f" ring below the {cap_colat_deg} deg cap — raise cap_colat_deg"
        )
    bh_max = int(180e6 * s_half / cmin_cap / cell) + 2
    if 2 * bh_max + 1 > w_ring:
        raise ValueError(
            f"_sphere_candidates: lon window 2*{bh_max}+1 exceeds the"
            f" {w_ring}-cell ring — raise cap_colat_deg or shrink radius_m"
        )

    def _grid_key(df: DataFrame) -> tuple[Column, Column]:
        return (
            F.floor(F.col("lat_udeg") / F.lit(cell)),
            F.pmod(
                F.floor((F.col("lon_udeg") + F.lit(180_000_000)) / F.lit(cell)),
                F.lit(w_ring),
            ),
        )

    xmin = f"(LEAST(ABS(lat_udeg) + {delta}, {cap_lat}) * {_d(_RAD_PER_UDEG)})"
    halfw = f"({_d(180e6 * s_half)} / ({cos_poly_sql(xmin)} - {_d(1e-8)}))"
    pnc = probes.where(F.abs(F.col("lat_udeg")) < F.lit(cap_lat))
    lc, mc = _grid_key(pnc)
    left_g = (
        pnc.select(
            F.col("place_id").alias("a_id"),
            F.col("lat_udeg").alias("alat"),
            F.col("lon_udeg").alias("alon"),
            lc.alias("lc"),
            mc.alias("mc"),
            F.least(
                (F.floor(F.expr(halfw) / F.lit(cell)) + F.lit(2)).cast("int"),
                F.lit(bh_max),
            ).alias("bh"),
        )
        .withColumn("di", F.explode(F.sequence(F.lit(-1), F.lit(1))))
        .withColumn("dj", F.explode(F.sequence(-F.col("bh"), F.col("bh"))))
        .select(
            "a_id",
            "alat",
            "alon",
            (F.col("lc") + F.col("di")).alias("lc"),
            F.pmod(F.col("mc") + F.col("dj"), F.lit(w_ring)).alias("mc"),
        )
    )
    bnc = build.where(F.abs(F.col("lat_udeg")) < F.lit(cap_lat))
    blc, bmc = _grid_key(bnc)
    right_g = bnc.select(
        F.col("place_id").alias("b_id"),
        F.col("lat_udeg").alias("blat"),
        F.col("lon_udeg").alias("blon"),
        blc.alias("lc"),
        bmc.alias("mc"),
    )
    grid = left_g.join(right_g, ["lc", "mc"]).drop("lc", "mc")

    theta_max = (90_000_000 - cap_lat + 2 * delta) * _RAD_PER_UDEG
    stretch = theta_max / math.sin(theta_max)
    cellp = int(math.ceil(delta * stretch * 1.001 + 1.0))

    def _proj(df: DataFrame) -> DataFrame:
        lam = F.col("lon_udeg").cast("double") * F.lit(_RAD_PER_UDEG)
        colat = (F.lit(90_000_000) - F.abs(F.col("lat_udeg"))).cast("double")
        return df.where(
            F.abs(F.col("lat_udeg")) >= F.lit(cap_lat - delta)
        ).select(
            "place_id",
            "lat_udeg",
            "lon_udeg",
            (F.col("lat_udeg") >= 0).alias("north"),
            F.floor(colat * F.cos(lam) / F.lit(cellp)).alias("xc"),
            F.floor(colat * F.sin(lam) / F.lit(cellp)).alias("yc"),
        )

    left_c = (
        _proj(probes)
        .select(
            F.col("place_id").alias("a_id"),
            F.col("lat_udeg").alias("alat"),
            F.col("lon_udeg").alias("alon"),
            "north",
            "xc",
            "yc",
        )
        .withColumn("di", F.explode(F.sequence(F.lit(-1), F.lit(1))))
        .withColumn("dj", F.explode(F.sequence(F.lit(-1), F.lit(1))))
        .select(
            "a_id",
            "alat",
            "alon",
            "north",
            (F.col("xc") + F.col("di")).alias("xc"),
            (F.col("yc") + F.col("dj")).alias("yc"),
        )
    )
    right_c = _proj(build).select(
        F.col("place_id").alias("b_id"),
        F.col("lat_udeg").alias("blat"),
        F.col("lon_udeg").alias("blon"),
        "north",
        "xc",
        "yc",
    )
    cap = (
        left_c.join(right_c, ["north", "xc", "yc"])
        .where(
            F.greatest(F.abs(F.col("alat")), F.abs(F.col("blat")))
            >= F.lit(cap_lat)
        )
        .drop("north", "xc", "yc")
    )
    cols = ["a_id", "alat", "alon", "b_id", "blat", "blon"]
    return grid.select(*cols).unionAll(cap.select(*cols))


def haversine_knn_join_sphere(
    places: DataFrame,
    k: int,
    *,
    r0_m: float = 250.0,
    max_rounds: int = 8,
    cap_colat_deg: float = 2.0,
) -> DataFrame:
    """For every place, its k nearest OTHER places by antimeridian-safe
    pinned great-circle distance, valid over the ENTIRE sphere — the
    full-sphere twin of haversine_knn_join, ties by b_id, exactly k rows
    per place as (a_id, rnk, b_id, hav_e18, dist_mm).

    Doubling-radius rounds: round t generates candidates for the still-
    unresolved probes via _sphere_candidates at r_t = r0·2^t (row-
    adaptive secant windows + polar-cap planar grid — every true pair
    within r_t is a candidate exactly once), a probe resolves when >= k
    candidates lie STRICTLY inside r_t (the window then provably holds
    the true top-k), survivors rank in one per-probe window with the
    k-cut applied before the checkpoint. Co-located rows (e.g. exact-
    pole clamps) resolve in round 0 at hav = 0. Raises if probes remain
    after max_rounds, or when r_t outgrows the cap (raise cap_colat_deg
    or lower max_rounds)."""
    if k < 1:
        raise ValueError("haversine_knn_join_sphere: k must be >= 1")
    lat_g = F.when(
        F.abs(F.col("lat_udeg")) > 90_000_000,
        F.raise_error(
            F.lit("haversine_knn_join_sphere: |lat_udeg| > 90e6")
        ).cast("long"),
    ).otherwise(F.col("lat_udeg"))
    lon_g = F.when(
        F.abs(F.col("lon_udeg")) > 180_000_000,
        F.raise_error(
            F.lit("haversine_knn_join_sphere: |lon_udeg| > 180e6")
        ).cast("long"),
    ).otherwise(F.col("lon_udeg"))
    return _doubling_knn(
        places.select("place_id", lat_g.alias("lat_udeg"), lon_g.alias("lon_udeg")),
        k,
        hav_wrap_sql("alat", "alon", "blat", "blon"),
        lambda probes, build, r_t: _sphere_candidates(
            probes, build, r_t, cap_colat_deg
        ),
        r0_m,
        max_rounds,
        "haversine_knn_join_sphere",
    )


def haversine_knn_sphere_sql(places_sql: str, k: int) -> str:
    """Brute-force DuckDB twin: rank ALL ordered pairs per probe by the
    same antimeridian-safe pinned (hav, b_id) order — independent of
    grid, rounds, windows, and caps."""
    hav = hav_wrap_sql("a.lat_udeg", "a.lon_udeg", "b.lat_udeg", "b.lon_udeg")
    hav_e18, dist_mm = _pair_cols_sql(hav)
    return f"""
WITH places AS ({places_sql}),
ranked AS (
  SELECT a.place_id AS a_id, b.place_id AS b_id,
         {hav_e18} AS hav_e18, {dist_mm} AS dist_mm,
         row_number() OVER (
           PARTITION BY a.place_id ORDER BY ({hav}), b.place_id
         ) AS rnk
  FROM places a JOIN places b ON a.place_id <> b.place_id
)
SELECT a_id, CAST(rnk AS BIGINT) AS rnk, b_id, hav_e18, dist_mm
FROM ranked WHERE rnk <= {k}
"""


# --------------------------------------------- spherical zone PIP join


def unitvec_stages(lat_udeg: str, lon_udeg: str, prefix: str) -> list[tuple[str, str]]:
    """Staged pinned unit vector (x, y, z) of a lat/lon point via the
    full-circle banded sin/cos — valid at every latitude and longitude.
    Final stage names {prefix}x / {prefix}y / {prefix}z."""
    stages = sincos_stages(lat_udeg, f"{prefix}la") + sincos_stages(
        lon_udeg, f"{prefix}lo"
    )
    stages += [
        (f"{prefix}x", f"(({prefix}la_cos) * ({prefix}lo_cos))"),
        (f"{prefix}y", f"(({prefix}la_cos) * ({prefix}lo_sin))"),
        (f"{prefix}z", f"({prefix}la_sin)"),
    ]
    return stages


def _sph_cross_sql() -> str:
    """Pinned arc-crossing predicate for arc(SOUTH POLE -> probe P) vs
    zone edge arc(A -> B): s2geometry's SimpleCrossing sign rule
    (s2edge_crossings; public semantics) with a = (0,0,-1) inlined —
    ab = R x P = (py, -px, 0). The arcs properly cross iff the four
    triple products acb, cbd, bda, dac share one strict sign. Every
    operand is a pinned-stage double, every op IEEE +-*, one shared
    expression text — both engines flip the same probes at boundaries
    (ties at exact 0.0 classify identically because the BITS match)."""
    acb = "(-((py) * (ax) + (-(px)) * (ay)))"
    cbd = "(-((cdx) * (px) + (cdy) * (py) + (cdz) * (pz)))"
    bda = "((py) * (bx) + (-(px)) * (by))"
    dac = "(-(cdz))"
    return (
        f"(({acb}) * ({cbd}) > {_d(0.0)}"
        f" AND ({cbd}) * ({bda}) > {_d(0.0)}"
        f" AND ({bda}) * ({dac}) > {_d(0.0)})"
    )


def spherical_zone_join(places: DataFrame, zones: DataFrame) -> DataFrame:
    """(place_id, zone_id) for every place inside each SPHERICAL polygon
    zone — edges are minor great-circle arcs between consecutive
    (lat_udeg, lon_udeg) vertices (implicit closure), and the zone
    interior is the odd-crossing-parity region measured from the SOUTH
    POLE (equivalently: the component NOT containing the south pole —
    zones that contain it are the one documented exclusion; a probe
    whose south-pole MERIDIAN passes exactly through a zone vertex is
    the measure-zero degenerate ray — both incident edges fail the
    strict sign test and the probe classifies outside, deterministically
    and identically in both engines; production systems break such ties
    with symbolic perturbation). Valid where
    planar PIP is not: zones enclosing the north pole, zones straddling
    the antimeridian, arcs bulging poleward of their vertices.

    Plan: zone edges are a constant-size dim — explode vertices, compute
    pinned unit vectors and the A x B normal per edge, and BROADCAST
    them to the probe side (Catalyst folds the const-key join to a
    BroadcastNestedLoopJoin with the ~21-row edge table as build side —
    exactly right here: every probe must see every edge, the probe table
    never shuffles, and the only exchange is the (place, zone) parity
    aggregate), evaluate the pinned SimpleCrossing sign rule per
    (probe, edge), then aggregate parity. At 10^12
    probes the plan is a map-side broadcast + one aggregate; for large
    zone sets, pre-prune candidates by an S2 cell cover of each zone
    before the parity join (the s2_cells machinery above).

    zones schema: (zone_id long, lats array<long>, lons array<long>)."""
    p = places
    for name, expr in unitvec_stages("lat_udeg", "lon_udeg", "_p"):
        p = p.withColumn(name, F.expr(expr))
    probes = p.select(
        "place_id",
        F.col("_px").alias("px"),
        F.col("_py").alias("py"),
        F.col("_pz").alias("pz"),
        F.lit(1).alias("_k"),
    )
    ze = (
        zones.select(
            "zone_id",
            F.posexplode(F.arrays_zip("lats", "lons")).alias("_i", "_v"),
            F.size("lats").alias("_n"),
            "lats",
            "lons",
        )
        .select(
            "zone_id",
            F.col("_v.lats").alias("alat"),
            F.col("_v.lons").alias("alon"),
            F.element_at(F.col("lats"), (F.col("_i") + 1) % F.col("_n") + 1).alias("blat"),
            F.element_at(F.col("lons"), (F.col("_i") + 1) % F.col("_n") + 1).alias("blon"),
        )
    )
    for name, expr in unitvec_stages("alat", "alon", "_a"):
        ze = ze.withColumn(name, F.expr(expr))
    for name, expr in unitvec_stages("blat", "blon", "_b"):
        ze = ze.withColumn(name, F.expr(expr))
    edges = ze.select(
        "zone_id",
        F.col("_ax").alias("ax"),
        F.col("_ay").alias("ay"),
        F.col("_az").alias("az"),
        F.col("_bx").alias("bx"),
        F.col("_by").alias("by"),
        F.col("_bz").alias("bz"),
        F.expr("((_ay) * (_bz) - (_az) * (_by))").alias("cdx"),
        F.expr("((_az) * (_bx) - (_ax) * (_bz))").alias("cdy"),
        F.expr("((_ax) * (_by) - (_ay) * (_bx))").alias("cdz"),
        F.lit(1).alias("_k"),
    )
    joined = probes.join(F.broadcast(edges), "_k")
    flagged = joined.withColumn("_x", F.expr(_sph_cross_sql()).cast("int"))
    return (
        flagged.groupBy("place_id", "zone_id")
        .agg(F.sum("_x").alias("_c"))
        .where(F.col("_c") % 2 == 1)
        .select("place_id", "zone_id")
    )


_ZONES: list[tuple[int, list[int], list[int]]] = [
    # north-cap quad: great arcs between lat-80 vertices bulge POLEWARD,
    # enclosing the pole — planar PIP cannot represent this region
    (0, [80_000_000] * 4, [0, 90_000_000, 180_000_000, -90_000_000]),
    # antimeridian band: all four arcs cross or hug lon 180
    (1, [20_000_000, 20_000_000, -20_000_000, -20_000_000],
        [170_000_000, -170_000_000, -170_000_000, 170_000_000]),
    # ordinary mid-lat quad (covers the (30e6, 50e6) fixture hotspot)
    (2, [10_000_000, 10_000_000, 50_000_000, 50_000_000],
        [30_000_000, 70_000_000, 70_000_000, 30_000_000]),
    # southern triangle (covers the (-60.2e6, 100e6) fixture hotspot)
    (3, [-45_000_000, -75_000_000, -45_000_000],
        [80_000_000, 100_000_000, 120_000_000]),
    # high-lat quad straddling the 88-deg cap line near lon 10
    (4, [85_000_000, 85_000_000, 89_500_000, 89_500_000],
        [0, 20_000_000, 20_000_000, 0]),
]


def synth_zones(spark: SparkSession) -> DataFrame:
    """Fixed spherical-zone fixture: polar cap, antimeridian band,
    mid-lat quad, southern triangle, cap-line straddler. None contains
    the south pole (the documented semantic exclusion)."""
    return spark.createDataFrame(
        _ZONES, "zone_id long, lats array<long>, lons array<long>"
    )


def synth_zones_sql() -> str:
    vals = ", ".join(
        f"({zid}, {lats}::BIGINT[], {lons}::BIGINT[])"
        for zid, lats, lons in _ZONES
    )
    return f"SELECT * FROM (VALUES {vals}) t(zone_id, lats, lons)"


def spherical_zone_sql(places_sql: str) -> str:
    """DuckDB twin: the same staged unit-vector dataflow and the same
    pinned SimpleCrossing parity (an echo twin, like the slippy/s2
    projections — for a pinned predicate there is no second algorithm;
    independence comes from the pytest pins: known-geometry membership,
    a libm-trig numpy recomputation on margin probes, and the
    pole/antimeridian zones planar PIP cannot express)."""
    probe_inner = "places"
    for name, expr in unitvec_stages("lat_udeg", "lon_udeg", "_p"):
        probe_inner = f"(SELECT *, {expr} AS {name} FROM {probe_inner})"
    edge_inner = "zedges"
    for name, expr in unitvec_stages("alat", "alon", "_a"):
        edge_inner = f"(SELECT *, {expr} AS {name} FROM {edge_inner})"
    for name, expr in unitvec_stages("blat", "blon", "_b"):
        edge_inner = f"(SELECT *, {expr} AS {name} FROM {edge_inner})"
    return f"""
WITH places AS ({places_sql}),
zones AS ({synth_zones_sql()}),
zedges AS (
  SELECT zone_id,
         lats[i + 1] AS alat, lons[i + 1] AS alon,
         lats[(i + 1) % len(lats) + 1] AS blat,
         lons[(i + 1) % len(lons) + 1] AS blon
  FROM zones, unnest(range(len(lats))) AS t(i)
),
edges AS (
  SELECT zone_id,
         ((_ay) * (_bz) - (_az) * (_by)) AS cdx,
         ((_az) * (_bx) - (_ax) * (_bz)) AS cdy,
         ((_ax) * (_by) - (_ay) * (_bx)) AS cdz,
         _ax AS ax, _ay AS ay, _az AS az,
         _bx AS bx, _by AS by, _bz AS bz
  FROM {edge_inner}
),
probes AS (
  SELECT place_id, _px AS px, _py AS py, _pz AS pz FROM {probe_inner}
)
SELECT place_id, zone_id
FROM probes, edges
GROUP BY place_id, zone_id
HAVING SUM(CASE WHEN {_sph_cross_sql()} THEN 1 ELSE 0 END) % 2 = 1
"""


# ------------------------------------------- spherical geofence tracks


def synth_tracks_sphere(
    spark: SparkSession, n_users: int, n_events: int, *, seed: int = 0
) -> DataFrame:
    """Deterministic spherical trajectories: user u walks from hotspot
    u%12 toward hotspot (u+1)%12 in n_events EXACT-INTEGER interpolation
    steps (lon interpolates along the WRAPPED shortest difference, so
    antimeridian-crossing walks are first-class), plus per-event jitter
    ±30,000 µdeg. Walks between the fixture hotspots cross the
    spherical-zone fixture's boundaries (polar cap quad, antimeridian
    band, mid-lat quad, southern triangle) — the geofence fixture.
    Exact-integer reproducible in SQL (synth_tracks_sphere_sql)."""
    nh = len(_SPHERE_HOTS)
    ids = spark.range(n_users * n_events).select(
        F.expr(f"id DIV {n_events}").alias("user_id"),
        (F.col("id") % n_events).cast("long").alias("event_id"),
    )
    hot = (F.col("user_id") % nh).cast("int")
    hot2 = ((F.col("user_id") + 1) % nh).cast("int")
    la1 = F.element_at(F.array(*[F.lit(la) for la, _ in _SPHERE_HOTS]), hot + F.lit(1))
    lo1 = F.element_at(F.array(*[F.lit(lo) for _, lo in _SPHERE_HOTS]), hot + F.lit(1))
    la2 = F.element_at(F.array(*[F.lit(la) for la, _ in _SPHERE_HOTS]), hot2 + F.lit(1))
    lo2 = F.element_at(F.array(*[F.lit(lo) for _, lo in _SPHERE_HOTS]), hot2 + F.lit(1))
    key = F.col("user_id") * F.lit(100_000) + F.col("event_id")
    jlat = hash_col(key, seed + 3) % 60_001 - 30_000
    jlon = hash_col(key, seed + 4) % 60_001 - 30_000
    step = F.col("event_id")
    den = F.lit(n_events - 1)
    dlon = F.pmod(lo2 - lo1 + F.lit(540_000_000), F.lit(360_000_000)) - F.lit(
        180_000_000
    )
    lat_r = la1 + ((la2 - la1) * step - F.pmod((la2 - la1) * step, den)) / den + jlat
    lon_r = lo1 + (dlon * step - F.pmod(dlon * step, den)) / den + jlon
    lat = F.least(F.lit(90_000_000), F.greatest(F.lit(-90_000_000), lat_r))
    lon = F.pmod(lon_r + F.lit(180_000_000), F.lit(360_000_000)) - F.lit(
        180_000_000
    )
    return ids.select(
        "user_id",
        "event_id",
        lat.cast("long").alias("lat_udeg"),
        lon.cast("long").alias("lon_udeg"),
    )


def synth_tracks_sphere_sql(n_users: int, n_events: int, *, seed: int = 0) -> str:
    """DuckDB twin of synth_tracks_sphere — same integer interpolation
    (floor division via x - pmod(x, den), identical on negatives in
    both engines since pmod is non-negative), same MINSTD jitter."""
    nh = len(_SPHERE_HOTS)
    lats = [la for la, _ in _SPHERE_HOTS]
    lons = [lo for _, lo in _SPHERE_HOTS]
    la1 = f"list_extract({lats}, CAST(user_id % {nh} AS INTEGER) + 1)"
    lo1 = f"list_extract({lons}, CAST(user_id % {nh} AS INTEGER) + 1)"
    la2 = f"list_extract({lats}, CAST((user_id + 1) % {nh} AS INTEGER) + 1)"
    lo2 = f"list_extract({lons}, CAST((user_id + 1) % {nh} AS INTEGER) + 1)"
    key = "(user_id * 100000 + event_id)"
    jlat = f"({sample_hash_sql(key, seed + 3)}) % 60001 - 30000"
    jlon = f"({sample_hash_sql(key, seed + 4)}) % 60001 - 30000"
    den = n_events - 1
    pm = lambda x: f"((({x}) % {den} + {den}) % {den})"
    dlon = f"((({lo2}) - ({lo1}) + 540000000) % 360000000 + 360000000) % 360000000 - 180000000"
    dla = f"(({la2}) - ({la1})) * event_id"
    dlo = f"({dlon}) * event_id"
    lat_r = f"({la1}) + (({dla}) - {pm(dla)}) / {den} + ({jlat})"
    lon_r = f"({lo1}) + (({dlo}) - {pm(dlo)}) / {den} + ({jlon})"
    lat = f"LEAST(90000000, GREATEST(-90000000, {lat_r}))"
    lon = f"((({lon_r}) + 180000000) % 360000000 + 360000000) % 360000000 - 180000000"
    return f"""
SELECT user_id, event_id,
       CAST({lat} AS BIGINT) AS lat_udeg, CAST({lon} AS BIGINT) AS lon_udeg
FROM (SELECT i // {n_events} AS user_id, i % {n_events} AS event_id
      FROM (SELECT unnest(range({n_users * n_events})) AS i))
"""


def spherical_geofence_transitions(
    tracks: DataFrame, zones: DataFrame
) -> DataFrame:
    """Geofence enter/exit over SPHERICAL zones: for each user's
    event_id-ordered track, emit (user_id, zone_id, event_id, kind, seq)
    at every membership CHANGE of the pinned crossing-parity zone test —
    'enter' when the point is inside and its predecessor was not, 'exit'
    for the reverse; the first event of a track emits nothing (the
    standard geofencing convention the planar geofence_transitions
    follows). Zones that wrap poles or the antimeridian fence correctly
    — the planar bbox fence cannot express them.

    Plan: zone edges broadcast (the spherical_zone_join shape), ONE
    (user, event, zone) parity aggregate, then one lag window per
    (user, zone) track — no self-join; at 10^9 users the window is 10^9
    independent (user, zone) partitions."""
    from pyspark.sql import Window

    p = tracks
    for name, expr in unitvec_stages("lat_udeg", "lon_udeg", "_p"):
        p = p.withColumn(name, F.expr(expr))
    probes = p.select(
        "user_id",
        "event_id",
        F.col("_px").alias("px"),
        F.col("_py").alias("py"),
        F.col("_pz").alias("pz"),
        F.lit(1).alias("_k"),
    )
    ze = (
        zones.select(
            "zone_id",
            F.posexplode(F.arrays_zip("lats", "lons")).alias("_i", "_v"),
            F.size("lats").alias("_n"),
            "lats",
            "lons",
        )
        .select(
            "zone_id",
            F.col("_v.lats").alias("alat"),
            F.col("_v.lons").alias("alon"),
            F.element_at(F.col("lats"), (F.col("_i") + 1) % F.col("_n") + 1).alias("blat"),
            F.element_at(F.col("lons"), (F.col("_i") + 1) % F.col("_n") + 1).alias("blon"),
        )
    )
    for name, expr in unitvec_stages("alat", "alon", "_a"):
        ze = ze.withColumn(name, F.expr(expr))
    for name, expr in unitvec_stages("blat", "blon", "_b"):
        ze = ze.withColumn(name, F.expr(expr))
    edges = ze.select(
        "zone_id",
        F.col("_ax").alias("ax"),
        F.col("_ay").alias("ay"),
        F.col("_bx").alias("bx"),
        F.col("_by").alias("by"),
        F.expr("((_ay) * (_bz) - (_az) * (_by))").alias("cdx"),
        F.expr("((_az) * (_bx) - (_ax) * (_bz))").alias("cdy"),
        F.expr("((_ax) * (_by) - (_ay) * (_bx))").alias("cdz"),
        F.lit(1).alias("_k"),
    )
    member = (
        probes.join(F.broadcast(edges), "_k")
        .withColumn("_x", F.expr(_sph_cross_sql()).cast("int"))
        .groupBy("user_id", "event_id", "zone_id")
        .agg((F.sum("_x") % 2 == 1).alias("_in"))
    )
    w = Window.partitionBy("user_id", "zone_id").orderBy("event_id")
    t = (
        member.withColumn("_prev", F.lag("_in").over(w))
        .where(F.col("_prev").isNotNull() & (F.col("_in") != F.col("_prev")))
        .select(
            "user_id",
            "zone_id",
            "event_id",
            F.when(F.col("_in"), F.lit("enter")).otherwise(F.lit("exit")).alias("kind"),
        )
    )
    return t.withColumn(
        "seq",
        F.row_number().over(
            Window.partitionBy("user_id", "zone_id").orderBy("event_id")
        ).cast("long"),
    )


def spherical_geofence_sql(tracks_sql: str) -> str:
    """DuckDB twin: same pinned unit-vector stages + crossing parity per
    (event, zone), then the same lag/seq windows — the membership is an
    echo of the pinned dataflow (independence via the zone-join pins);
    the TRANSITION logic is re-mechanized relationally."""
    probe_inner = "tracks"
    for name, expr in unitvec_stages("lat_udeg", "lon_udeg", "_p"):
        probe_inner = f"(SELECT *, {expr} AS {name} FROM {probe_inner})"
    edge_inner = "zedges"
    for name, expr in unitvec_stages("alat", "alon", "_a"):
        edge_inner = f"(SELECT *, {expr} AS {name} FROM {edge_inner})"
    for name, expr in unitvec_stages("blat", "blon", "_b"):
        edge_inner = f"(SELECT *, {expr} AS {name} FROM {edge_inner})"
    return f"""
WITH tracks AS ({tracks_sql}),
zones AS ({synth_zones_sql()}),
zedges AS (
  SELECT zone_id,
         lats[i + 1] AS alat, lons[i + 1] AS alon,
         lats[(i + 1) % len(lats) + 1] AS blat,
         lons[(i + 1) % len(lons) + 1] AS blon
  FROM zones, unnest(range(len(lats))) AS t(i)
),
edges AS (
  SELECT zone_id,
         ((_ay) * (_bz) - (_az) * (_by)) AS cdx,
         ((_az) * (_bx) - (_ax) * (_bz)) AS cdy,
         ((_ax) * (_by) - (_ay) * (_bx)) AS cdz,
         _ax AS ax, _ay AS ay, _bx AS bx, _by AS by
  FROM {edge_inner}
),
probes AS (
  SELECT user_id, event_id, _px AS px, _py AS py, _pz AS pz
  FROM {probe_inner}
),
member AS (
  SELECT user_id, event_id, zone_id,
         SUM(CASE WHEN {_sph_cross_sql()} THEN 1 ELSE 0 END) % 2 = 1 AS m
  FROM probes, edges
  GROUP BY user_id, event_id, zone_id
),
trans AS (
  SELECT user_id, zone_id, event_id, m,
         lag(m) OVER (PARTITION BY user_id, zone_id ORDER BY event_id) AS pm
  FROM member
)
SELECT user_id, zone_id, event_id,
       CASE WHEN m THEN 'enter' ELSE 'exit' END AS kind,
       CAST(row_number() OVER (
         PARTITION BY user_id, zone_id ORDER BY event_id) AS BIGINT) AS seq
FROM trans WHERE pm IS NOT NULL AND m <> pm
"""


# ------------------------------------- full-sphere point-pattern counts


def pair_counts_by_radius_sphere(
    places: DataFrame,
    radii_m: list[float],
    *,
    cap_colat_deg: float = 2.0,
) -> DataFrame:
    """Full-sphere Ripley-K pair counts: exact unordered-pair counts and
    exact BIGINT dist_mm sums strictly inside each radius, valid at any
    latitude and across the antimeridian — the sphere twin of
    pair_counts_by_radius. ONE _sphere_candidates pass at r_max serves
    every radius (the ordered generator emits each unordered pair twice,
    once per direction, each at most once — the a_id < b_id filter keeps
    exactly one); per-radius CASE bins aggregate in a single shuffle."""
    if not radii_m:
        raise ValueError("pair_counts_by_radius_sphere: radii_m must be non-empty")
    r_max = max(radii_m)
    lat_g = F.when(
        F.abs(F.col("lat_udeg")) > 90_000_000,
        F.raise_error(
            F.lit("pair_counts_by_radius_sphere: |lat_udeg| > 90e6")
        ).cast("long"),
    ).otherwise(F.col("lat_udeg"))
    p = places.select(
        "place_id", lat_g.alias("lat_udeg"), F.col("lon_udeg")
    )
    hav = hav_wrap_sql("alat", "alon", "blat", "blon")
    _, dist_mm = _pair_cols_sql(hav)
    cand = (
        _sphere_candidates(p, p, r_max, cap_colat_deg)
        .where(F.col("a_id") < F.col("b_id"))
        .withColumn("hav", F.expr(hav))
        .withColumn("dmm", F.expr(dist_mm))
    )
    per_radius = [
        F.struct(
            F.lit(int(round(r * 1000.0))).cast("long").alias("radius_mm"),
            F.when(F.col("hav") < F.lit(hav_threshold(r)), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("hit"),
            F.when(F.col("hav") < F.lit(hav_threshold(r)), F.col("dmm"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("dmm"),
        )
        for r in radii_m
    ]
    return (
        cand.select(F.explode(F.array(*per_radius)).alias("s"))
        .groupBy(F.col("s.radius_mm").alias("radius_mm"))
        .agg(
            F.sum("s.hit").alias("pairs"),
            F.sum("s.dmm").alias("sum_dist_mm"),
        )
    )


def pair_counts_sphere_sql(places_sql: str, radii_m: list[float]) -> str:
    """Brute-force DuckDB twin: per-radius arms over all n^2/2 unordered
    pairs with the antimeridian-safe pinned predicate."""
    hav = hav_wrap_sql("a.lat_udeg", "a.lon_udeg", "b.lat_udeg", "b.lon_udeg")
    _, dist_mm = _pair_cols_sql(hav)
    arms = "\nUNION ALL\n".join(
        f"""SELECT CAST({int(round(r * 1000.0))} AS BIGINT) AS radius_mm,
       CAST(COALESCE(SUM(CASE WHEN ({hav}) < {_d(hav_threshold(r))} THEN 1 ELSE 0 END), 0) AS BIGINT) AS pairs,
       CAST(COALESCE(SUM(CASE WHEN ({hav}) < {_d(hav_threshold(r))} THEN {dist_mm} ELSE 0 END), 0) AS BIGINT) AS sum_dist_mm
FROM places a JOIN places b ON a.place_id < b.place_id"""
        for r in radii_m
    )
    return f"WITH places AS ({places_sql})\n{arms}"


def asin_full_sql(x: str) -> str:
    """Pinned FULL-RANGE arcsine for x in [0, 1]: 27-term odd Maclaurin
    series on [0, sqrt(1/2)] (tail < 2e-11 there), folded through
    asin(x) = pi/2 - asin(sqrt(1 - x^2)) above — one shared expression,
    IEEE + - * / sqrt only. Complements asin_poly_sql, whose 4-term
    series is only faithful for x <= 0.01 (the radius-join export
    regime); use THIS one wherever the angle can be large (e.g. track
    Hausdorff between arbitrary tracks)."""
    import math as _math

    coeffs = [
        _math.comb(2 * k, k) / (4.0 ** k * (2 * k + 1)) for k in range(27)
    ]
    def series(v: str) -> str:
        v2 = f"(({v}) * ({v}))"
        return f"(({v}) * {_horner(v2, coeffs)})"

    y = f"SQRT({_d(1.0)} - ({x}) * ({x}))"
    return (
        f"(CASE WHEN ({x}) <= {_d(math.sqrt(0.5))} THEN {series(x)}"
        f" ELSE ({_d(math.pi / 2.0)} - {series(f'({y})')}) END)"
    )


# --------------------------------------- spherical track Hausdorff


def sphere_track_hausdorff(
    tracks: DataFrame, pairs: DataFrame
) -> DataFrame:
    """Symmetric Hausdorff distance between SPHERICAL tracks for given
    (a_user, b_user) pairs: H = max(h(A->B), h(B->A)) with h(A->B) =
    max over a of min over b of the antimeridian-safe pinned great-
    circle distance — the trajectory-similarity primitive of
    trajectory.py lifted to the sphere (pole- and seam-crossing tracks
    compare correctly). Exported as exact BIGINTs of the pinned float
    pipeline (hav_e18 of the realizing pair, dist_mm of H).

    Plan: ONE equi-join per direction keyed by the pair list (tracks
    re-join by user id, never a cartesian over users), a (pair, a-event)
    min aggregate, a pair max aggregate, and a final greatest() — three
    shuffles bounded by |pairs|*E rows. For all-pairs track mining at
    scale, feed `pairs` from a candidate generator (e.g. shared
    s2_cells occupancy) rather than the full cross product."""
    a_side = tracks.select(
        F.col("user_id").alias("a_user"),
        F.col("event_id").alias("a_event"),
        F.col("lat_udeg").alias("alat"),
        F.col("lon_udeg").alias("alon"),
    )
    b_side = tracks.select(
        F.col("user_id").alias("b_user"),
        F.col("lat_udeg").alias("blat"),
        F.col("lon_udeg").alias("blon"),
    )
    hav = hav_wrap_sql("alat", "alon", "blat", "blon")

    def directed(p: DataFrame) -> DataFrame:
        cross = (
            p.join(a_side, "a_user")
            .join(b_side, "b_user")
            .withColumn("hav", F.expr(hav))
        )
        inner = cross.groupBy("a_user", "b_user", "a_event").agg(
            F.min("hav").alias("mn")
        )
        return inner.groupBy("a_user", "b_user").agg(
            F.max("mn").alias("h")
        )

    fwd = directed(pairs.select("a_user", "b_user"))
    rev = (
        directed(
            pairs.select(
                F.col("b_user").alias("a_user"),
                F.col("a_user").alias("b_user"),
            )
        )
        .select(
            F.col("b_user").alias("a_user"),
            F.col("a_user").alias("b_user"),
            F.col("h").alias("h_rev"),
        )
    )
    sym = fwd.join(rev, ["a_user", "b_user"]).select(
        "a_user",
        "b_user",
        F.greatest(F.col("h"), F.col("h_rev")).alias("hh"),
    )
    hav_e18 = "CAST(FLOOR(hh * CAST('1e18' AS DOUBLE)) AS BIGINT)"
    dist_mm = (
        f"CAST(FLOOR({asin_full_sql('SQRT(hh)')}"
        f" * {_d(2.0 * EARTH_R_M * 1000.0)}) AS BIGINT)"
    )
    return sym.select(
        "a_user",
        "b_user",
        F.expr(hav_e18).alias("hav_e18"),
        F.expr(dist_mm).alias("dist_mm"),
    )


def sphere_track_hausdorff_sql(tracks_sql: str, pairs_sql: str) -> str:
    """DuckDB twin: the same pinned predicate over a direct max-min
    re-mechanization (correlated grouped aggregates, no join staging).
    Table aliases are FORMAT PARAMETERS of the directed-leg template
    (ADVICE r4) — the reverse leg binds fresh aliases instead of
    post-hoc string replacement, so an alias rename cannot silently
    corrupt the oracle."""
    hav_e18 = "CAST(FLOOR(hh * CAST('1e18' AS DOUBLE)) AS BIGINT)"
    dist_mm = (
        f"CAST(FLOOR({asin_full_sql('SQRT(hh)')}"
        f" * {_d(2.0 * EARTH_R_M * 1000.0)}) AS BIGINT)"
    )

    def directed(ta: str, tb: str, acol: str, bcol: str) -> str:
        hav = hav_wrap_sql(
            f"{ta}.lat_udeg", f"{ta}.lon_udeg",
            f"{tb}.lat_udeg", f"{tb}.lon_udeg",
        )
        return f"""
  SELECT p.a_user AS au, p.b_user AS bu, {ta}.event_id,
         MIN({hav}) AS mn
  FROM pairs p
  JOIN tracks {ta} ON {ta}.user_id = p.{acol}
  JOIN tracks {tb} ON {tb}.user_id = p.{bcol}
  GROUP BY p.a_user, p.b_user, {ta}.event_id
"""

    fwd = directed("ta", "tb", "a_user", "b_user")
    rev = directed("tx", "ty", "b_user", "a_user")
    return f"""
WITH tracks AS ({tracks_sql}),
pairs AS ({pairs_sql}),
fwd0 AS ({fwd}),
fwd AS (SELECT au, bu, MAX(mn) AS h FROM fwd0 GROUP BY au, bu),
rev0 AS ({rev}),
rev AS (SELECT au, bu, MAX(mn) AS h_rev FROM rev0 GROUP BY au, bu)
SELECT f.au AS a_user, f.bu AS b_user,
       {hav_e18.replace('hh', 'GREATEST(f.h, r.h_rev)')} AS hav_e18,
       {dist_mm.replace('hh', 'GREATEST(f.h, r.h_rev)')} AS dist_mm
FROM fwd f JOIN rev r ON f.au = r.au AND f.bu = r.bu
"""


# ---------------------------------------- spherical discrete Fréchet


def _frechet_dp_antidiag(D) -> float:
    """Eiter–Mannila coupling DP over a dense pairwise matrix D, swept by
    ANTIDIAGONALS: cells with i+j = d depend only on diagonals d−1 and d−2,
    so the whole diagonal fills in one vectorized step — n+m−3 Python-level
    steps instead of n·m (≈64× fewer for 128-point tracks; measured 3.3×
    wall-clock on the dense 128×128 kernel and 10.9× on the batched
    trajectory.frechet_many form, tools/frechet_ubench.py). Every
    operation is still a min/max SELECTION over already-pinned doubles —
    np.minimum/np.maximum pick one of their (non-NaN) inputs exactly like
    the scalar min/max — so outputs are bit-identical to the row-by-row
    form (VERDICT r4 item 6)."""
    import numpy as np

    n, m = D.shape
    ca = np.empty((n, m))
    ca[0, :] = np.maximum.accumulate(D[0, :])
    ca[:, 0] = np.maximum.accumulate(D[:, 0])
    for d in range(2, n + m - 1):
        ilo, ihi = max(1, d - m + 1), min(n - 1, d - 1)
        if ilo > ihi:
            continue
        i = np.arange(ilo, ihi + 1)
        j = d - i
        m3 = np.minimum(
            np.minimum(ca[i - 1, j], ca[i - 1, j - 1]), ca[i, j - 1]
        )
        ca[i, j] = np.maximum(D[i, j], m3)
    return float(ca[n - 1, m - 1])


def sphere_track_frechet(
    tracks: DataFrame, anchor_user: int | None = None
) -> DataFrame:
    """Discrete Fréchet distance (Eiter–Mannila) between every user's
    spherical track and the ANCHOR track (the smallest user_id), under
    the antimeridian-safe pinned great-circle metric — the monotone-
    alignment companion to sphere_track_hausdorff. Every pairwise
    "distance" is a hav double computed ONCE by the shared pinned
    expression (JVM-side, codegen); the O(n·m) DP then performs ONLY
    min/max SELECTIONS over those values, so every DP cell is an exact
    bit-copy of some pairwise hav and the DuckDB recursive-CTE twin
    lands on identical doubles with no float re-derivation anywhere.

    Returns (user_id, hav_e18, dist_mm); dist_mm uses the full-range
    pinned arcsine (asin_full_sql) — Fréchet values between far tracks
    are planetary angles.

    Plan: anchor events broadcast against all track events (pinned hav
    per (user, i, t) stays in whole-stage codegen), ONE per-user
    collect, and the tiny-matrix DP runs selection-only in an Arrow
    kernel. At 10^12 users the heavy axis (users) is the partitioned
    one; E×E0 per-user work is constant.

    ``anchor_user``: explicit anchor track id. The None default resolves
    min(user_id) EAGERLY — one tiny Spark job at plan-construction time,
    unlike this module's otherwise-lazy builders (ADVICE r4) — because
    the anchor's events must be broadcast-bound into the plan; pass the
    id explicitly to compose lazily.

    Precondition (enforced): each track's event_ids are dense 0..n−1 —
    the DP matrix is scattered by (event_id, anchor_event_id), and a
    gapped track would leave holes. The kernel fills with NaN and raises
    on any unfilled cell rather than reading uninitialized memory
    (ADVICE r4)."""
    from pyspark.sql import Window

    first_user = (
        anchor_user
        if anchor_user is not None
        else tracks.agg(F.min("user_id")).collect()[0][0]
    )
    anchor = (
        tracks.where(F.col("user_id") == first_user)
        .select(
            F.col("event_id").alias("t"),
            F.col("lat_udeg").alias("blat"),
            F.col("lon_udeg").alias("blon"),
            F.lit(1).alias("_k"),
        )
    )
    probes = tracks.select(
        "user_id",
        F.col("event_id").alias("i"),
        F.col("lat_udeg").alias("alat"),
        F.col("lon_udeg").alias("alon"),
        F.lit(1).alias("_k"),
    )
    hav = hav_wrap_sql("alat", "alon", "blat", "blon")
    cells = (
        probes.join(F.broadcast(anchor), "_k")
        .withColumn("hav", F.expr(hav))
        .groupBy("user_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("i", "t", "hav"))
            ).alias("cells")
        )
    )

    def dp(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out_u, out_fr = [], []
            for uid, cl in zip(pdf["user_id"], pdf["cells"]):
                iv = np.asarray([c["i"] for c in cl])
                tv = np.asarray([c["t"] for c in cl])
                hv = np.asarray([c["hav"] for c in cl])
                n = int(iv.max()) + 1
                m = int(tv.max()) + 1
                # NaN-fill + check instead of np.empty: gapped or offset
                # event ids would otherwise read uninitialized memory and
                # yield nondeterministic results (ADVICE r4)
                D = np.full((n, m), np.nan)
                D[iv, tv] = hv
                if np.isnan(D).any():
                    raise ValueError(
                        f"user {uid}: track event_ids are not dense "
                        f"0..n-1 against the anchor (missing "
                        f"{int(np.isnan(D).sum())} of {n}x{m} cells)"
                    )
                out_u.append(int(uid))
                out_fr.append(_frechet_dp_antidiag(D))
            yield pd.DataFrame(
                {"user_id": pd.Series(out_u, dtype="int64"),
                 "fr": pd.Series(out_fr, dtype="float64")}
            )

    res = cells.mapInPandas(dp, schema="user_id long, fr double")
    hav_e18 = "CAST(FLOOR(fr * CAST('1e18' AS DOUBLE)) AS BIGINT)"
    dist_mm = (
        f"CAST(FLOOR({asin_full_sql('SQRT(fr)')}"
        f" * {_d(2.0 * EARTH_R_M * 1000.0)}) AS BIGINT)"
    )
    return res.select(
        "user_id",
        F.expr(hav_e18).alias("hav_e18"),
        F.expr(dist_mm).alias("dist_mm"),
    )


def sphere_track_frechet_sql(tracks_sql: str) -> str:
    """DuckDB twin: recursive CTE advancing one track row per iteration
    with the row-internal sequential scan unrolled to the enter-at-k
    form (the O_FRECHET_EVENTS technique), pairwise values from the SAME
    pinned hav expression over the (lat, lon) lists — every DP cell an
    exact copy of a shared double."""
    d_expr = hav_wrap_sql(
        "s.alats[x.i + 1]", "s.alons[x.i + 1]", "an.blats[t]", "an.blons[t]"
    )
    d0_expr = hav_wrap_sql(
        "s.alats[1]", "s.alons[1]", "an.blats[t]", "an.blons[t]"
    )
    hav_e18 = "CAST(FLOOR(fr * CAST('1e18' AS DOUBLE)) AS BIGINT)"
    dist_mm = (
        f"CAST(FLOOR({asin_full_sql('SQRT(fr)')}"
        f" * {_d(2.0 * EARTH_R_M * 1000.0)}) AS BIGINT)"
    )
    return f"""
WITH RECURSIVE
tracks AS ({tracks_sql}),
series AS (
  SELECT user_id,
         list(lat_udeg ORDER BY event_id) AS alats,
         list(lon_udeg ORDER BY event_id) AS alons
  FROM tracks GROUP BY user_id
),
anchor AS (
  SELECT alats AS blats, alons AS blons FROM series ORDER BY user_id LIMIT 1
),
dp AS (
  SELECT s.user_id, s.alats, s.alons, 1 AS i,
         list_transform(range(1, len(an.blats) + 1), j ->
           list_max(list_transform(range(1, j + 1), t -> ({d0_expr})))) AS d
  FROM series s, anchor an
  UNION ALL
  SELECT user_id, alats, alons, i + 1,
         list_transform(range(1, nb + 1), j ->
           list_min(list_transform(range(1, j + 1), k ->
             greatest(CASE WHEN k = 1 THEN d[1] ELSE least(d[k], d[k-1]) END,
                      list_max(list_slice(ds, k, j)))))) AS d
  FROM (
    SELECT x.user_id, s.alats, s.alons, x.i, x.d, len(an.blats) AS nb,
           list_transform(range(1, len(an.blats) + 1), t -> ({d_expr})) AS ds
    FROM dp x JOIN series s USING (user_id), anchor an
    WHERE x.i < len(s.alats)
  )
)
SELECT user_id, {hav_e18} AS hav_e18, {dist_mm} AS dist_mm
FROM (SELECT user_id, d[len(d)] AS fr FROM dp WHERE i = len(alats))
"""
