"""Deterministic geodesy pins: the pinned-polynomial trig matches libm to
stated tolerance, the 3x5 grid-window join finds exactly the brute-force
pair set, the >60-degree latitude guard trips, and the plan carries one
bounded-fan-out join (no cartesian)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from metric_search_spark.operators.geo import (
    EARTH_R_M,
    hav_sql,
    hav_threshold,
    haversine_radius_join,
    sin_poly_sql,
    synth_places,
)
from tests.sparkutil import get_spark


@pytest.fixture(scope="module")
def spark():
    return get_spark()


def test_sin_poly_matches_libm(spark):
    """Pinned sine within 5e-10 of libm for |x| <= 1.05 rad (the range any
    |lat| <= 60 degree coordinate can reach)."""
    xs = [i / 100.0 for i in range(-105, 106)]
    rows = spark.createDataFrame([(x,) for x in xs], "x double").select(
        "x", F.expr(sin_poly_sql("x")).alias("s")
    ).collect()
    for r in rows:
        assert abs(r.s - math.sin(r.x)) < 5e-10, r.x


def test_hav_matches_libm_haversine(spark):
    """Pinned haversine vs a libm recomputation on real coordinate pairs:
    agreement to 1e-9 relative (the polynomials' stated envelope)."""
    pairs = [
        (48_856_600, 2_352_200, 48_860_000, 2_337_000),   # Paris ~1.2 km
        (40_712_800, -74_006_000, 40_748_400, -73_985_700),  # NYC ~4.3 km
        (-33_868_800, 151_209_300, -33_865_100, 151_209_900),  # Sydney
        (59_437_000, 24_753_600, 59_437_000, 24_753_600),  # identical
    ]
    df = spark.createDataFrame(
        pairs, "alat long, alon long, blat long, blon long"
    ).select(F.expr(hav_sql("alat", "alon", "blat", "blon")).alias("h"))
    got = [r.h for r in df.collect()]
    for (alat, alon, blat, blon), h in zip(pairs, got):
        c = math.pi / 180.0 / 1e6
        want = (
            math.sin((blat - alat) * c / 2) ** 2
            + math.cos(alat * c)
            * math.cos(blat * c)
            * math.sin((blon - alon) * c / 2) ** 2
        )
        assert abs(h - want) <= 1e-9 * max(want, 1e-12), (h, want)


def test_grid_join_equals_brute_force(spark):
    """The 3x5-window grid join returns EXACTLY the brute-force pair set
    (same predicate, all n^2 pairs) on a 600-point hotspot fixture."""
    p = synth_places(spark, 600, seed=3).cache()
    r = 500.0
    got = {
        (x.a_id, x.b_id, x.hav_e18, x.dist_mm)
        for x in haversine_radius_join(p, r).collect()
    }
    a = p.select(
        F.col("place_id").alias("a_id"),
        F.col("lat_udeg").alias("alat"),
        F.col("lon_udeg").alias("alon"),
    )
    b = p.select(
        F.col("place_id").alias("b_id"),
        F.col("lat_udeg").alias("blat"),
        F.col("lon_udeg").alias("blon"),
    )
    hav = hav_sql("alat", "alon", "blat", "blon")
    brute = (
        a.crossJoin(b)
        .where(
            (F.col("a_id") < F.col("b_id"))
            & F.expr(f"({hav}) < CAST('{hav_threshold(r)!r}' AS DOUBLE)")
        )
        .select(
            "a_id",
            "b_id",
            F.expr(
                f"CAST(FLOOR(({hav}) * CAST('1e+18' AS DOUBLE)) AS BIGINT)"
            ).alias("hav_e18"),
        )
        .collect()
    )
    p.unpersist()
    assert len(got) > 50  # the fixture is dense enough to be a real test
    assert {(x.a_id, x.b_id) for x in brute} == {(g[0], g[1]) for g in got}
    want_h = {(x.a_id, x.b_id): x.hav_e18 for x in brute}
    for a_id, b_id, hav_e18, _ in got:
        assert want_h[(a_id, b_id)] == hav_e18


def test_polar_latitude_guard(spark):
    """|lat| > 60 degrees breaks the fixed 3x5 window guarantee; the
    operator must raise, not silently drop pairs."""
    bad = spark.createDataFrame(
        [(0, 75_000_000, 0), (1, 75_000_100, 100)],
        "place_id long, lat_udeg long, lon_udeg long",
    )
    with pytest.raises(Exception, match="60 deg"):
        haversine_radius_join(bad, 500.0).collect()


def test_plan_has_no_cartesian(spark):
    """The join is an equi-join on grid cells: no CartesianProduct /
    BroadcastNestedLoopJoin in the physical plan."""
    p = synth_places(spark, 200, seed=3)
    plan = (
        haversine_radius_join(p, 500.0)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dist_mm_is_metric_scale(spark):
    """dist_mm really is great-circle millimeters: a pure north-south pair
    at 100 udeg apart is ~11.12 m."""
    p = spark.createDataFrame(
        [(0, 10_000_000, 0), (1, 10_000_100, 0)],
        "place_id long, lat_udeg long, lon_udeg long",
    )
    row = haversine_radius_join(p, 500.0).collect()[0]
    want_mm = 100e-6 * math.pi / 180.0 * EARTH_R_M * 1000.0
    assert abs(row.dist_mm - want_mm) < 10.0  # within 1 cm


def test_knn_equals_brute_force(spark):
    """Doubling-round geodetic kNN returns EXACTLY the brute-force
    (hav, b_id)-ranked top-5 on a 500-point fixture, including probes
    that need multiple rounds (r0 is set tiny to force escalation)."""
    from pyspark.sql import Window

    from metric_search_spark.operators.geo import haversine_knn_join

    p = synth_places(spark, 500, seed=3).cache()
    out = haversine_knn_join(p, 5, r0_m=30.0, max_rounds=12)
    a = p.select(
        F.col("place_id").alias("a_id"),
        F.col("lat_udeg").alias("alat"),
        F.col("lon_udeg").alias("alon"),
    )
    b = p.select(
        F.col("place_id").alias("b_id"),
        F.col("lat_udeg").alias("blat"),
        F.col("lon_udeg").alias("blon"),
    )
    hav = hav_sql("alat", "alon", "blat", "blon")
    w = Window.partitionBy("a_id").orderBy(F.expr(hav), "b_id")
    brute = (
        a.crossJoin(b)
        .where(F.col("a_id") != F.col("b_id"))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select("a_id", F.col("rnk").cast("long").alias("rnk"), "b_id")
    )
    got = out.select("a_id", "rnk", "b_id")
    p.unpersist()
    assert got.count() == 2500
    assert got.exceptAll(brute).count() == 0
    assert brute.exceptAll(got).count() == 0


def test_knn_raises_when_rounds_exhausted(spark):
    """Two far-apart points can't find k=1 neighbors inside r0*2^0: with
    max_rounds=1 the operator must raise, not return partial results."""
    from metric_search_spark.operators.geo import haversine_knn_join

    p = spark.createDataFrame(
        [(0, 10_000_000, 0), (1, 10_000_000, 10_000_000)],  # ~1000 km apart
        "place_id long, lat_udeg long, lon_udeg long",
    )
    with pytest.raises(RuntimeError, match="unresolved"):
        haversine_knn_join(p, 1, r0_m=100.0, max_rounds=1)


def test_knn_rejects_max_rounds_below_one(spark):
    """max_rounds < 1 runs no round: it raises ValueError instead of an
    UnboundLocalError from the loop's unresolved count."""
    from metric_search_spark.operators.geo import haversine_knn_join

    p = synth_places(spark, 20, seed=3)
    with pytest.raises(ValueError, match="max_rounds"):
        haversine_knn_join(p, 1, max_rounds=0)


def test_pair_counts_match_radius_join(spark):
    """pair_counts_by_radius at a single radius equals haversine_radius_
    join's pair count and exact dist_mm sum."""
    from metric_search_spark.operators.geo import pair_counts_by_radius

    p = synth_places(spark, 700, seed=3).cache()
    r = 500.0
    row = pair_counts_by_radius(p, [r]).collect()[0]
    pairs = haversine_radius_join(p, r)
    want_n = pairs.count()
    want_sum = pairs.agg(F.sum("dist_mm")).collect()[0][0]
    p.unpersist()
    assert row.radius_mm == 500_000
    assert row.pairs == want_n
    assert row.sum_dist_mm == want_sum


def test_pair_counts_monotone_radii(spark):
    """Counts are cumulative in r: each larger radius dominates."""
    from metric_search_spark.operators.geo import pair_counts_by_radius

    p = synth_places(spark, 700, seed=3)
    rows = sorted(
        pair_counts_by_radius(p, [100.0, 300.0, 900.0]).collect(),
        key=lambda x: x.radius_mm,
    )
    assert rows[0].pairs <= rows[1].pairs <= rows[2].pairs
    assert rows[2].pairs > 0


def test_mercator_y_matches_libm(spark):
    """Staged pinned Mercator y within 2e-9 of libm atanh(sin lat)
    across the full legal band, including band edges."""
    from metric_search_spark.operators.geo import mercator_y_stages

    lats = [int(v * 1e5) for v in range(-599, 600, 3)]
    lats += [0, 17_457_000, 33_367_000, 48_590_000, 59_999_999]  # band edges
    df = spark.createDataFrame([(v,) for v in lats], "lat_udeg long")
    for name, expr in mercator_y_stages("lat_udeg"):
        df = df.withColumn(name, F.expr(expr))
    for r in df.collect():
        want = math.atanh(math.sin(r.lat_udeg / 1e6 * math.pi / 180.0))
        assert abs(r._merc_y - want) < 2e-9, r.lat_udeg


def test_slippy_known_tiles(spark):
    """Known slippy tiles (OSM convention): Paris center at z12 is
    (2074, 1409); equator/prime-meridian at z1 is (1, 0) (south-east
    quadrant boundary belongs to the next tile down/right)."""
    from metric_search_spark.operators.geo import slippy_tiles

    p = spark.createDataFrame(
        [(0, 48_856_600, 2_352_200), (1, 0, 0)],
        "place_id long, lat_udeg long, lon_udeg long",
    )
    rows = {
        r.min_place: (r.xtile, r.ytile)
        for r in slippy_tiles(p, [12]).collect()
        if r.z == 12
    }
    assert rows[0] == (2074, 1409)
    z1 = {
        r.min_place: (r.xtile, r.ytile)
        for r in slippy_tiles(p, [1]).collect()
    }
    assert z1[1] == (1, 1)


def test_slippy_zoom_nesting(spark):
    """Tile pyramid invariant: the z16 tile of every place nests inside
    its z12 tile (x_16 DIV 2^4 == x_12, same for y). Asserted over
    collected rows: a Spark-side filter on these columns would push the
    predicate below the staged-Mercator projection and re-inline the
    polynomial multiplicatively (documented in mercator_y_stages)."""
    from metric_search_spark.operators.geo import (
        mercator_y_stages,
        xtile_sql,
        ytile_from_y_sql,
    )

    df = synth_places(spark, 400, seed=7)
    for name, expr in mercator_y_stages("lat_udeg"):
        df = df.withColumn(name, F.expr(expr))
    rows = df.select(
        F.expr(xtile_sql("lon_udeg", 12)).alias("x12"),
        F.expr(ytile_from_y_sql("_merc_y", 12)).alias("y12"),
        F.expr(xtile_sql("lon_udeg", 16)).alias("x16"),
        F.expr(ytile_from_y_sql("_merc_y", 16)).alias("y16"),
    ).collect()
    assert len(rows) == 400
    for r in rows:
        assert r.x16 // 16 == r.x12 and r.y16 // 16 == r.y12, r


def test_hex_assign_is_true_nearest(spark):
    """The 2x2-candidate hex assignment equals a brute-force argmin over
    a 7x7 center ring (exact integer d2, ties by (r, q)) — certifies the
    bracketing-candidates sufficiency proof."""
    from metric_search_spark.operators.geo import _hex_h, hex_assign

    W = 20_000
    H = _hex_h(W)
    got = {
        r.place_id: (r.hex_q, r.hex_r, r.d2)
        for r in hex_assign(synth_places(spark, 300, seed=7), W).collect()
    }
    pts = synth_places(spark, 300, seed=7).collect()
    for p in pts:
        x, y = p.lon_udeg, p.lat_udeg
        rf = (y + 20_000 * H) // H - 20_000
        best = None
        for r in range(rf - 3, rf + 4):
            off = W // 2 if r % 2 else 0
            qf = (x - off + 20_000 * W) // W - 20_000
            for q in range(qf - 3, qf + 4):
                d2 = (x - (q * W + off)) ** 2 + (y - r * H) ** 2
                key = (d2, r, q)
                if best is None or key < best:
                    best = key
        assert got[p.place_id] == (best[2], best[1], best[0]), p


def test_hex_assign_zero_shuffle(spark):
    """Hex assignment is pure Column math — no Exchange in the plan."""
    from metric_search_spark.operators.geo import hex_assign

    plan = (
        hex_assign(synth_places(spark, 100, seed=7), 20_000)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_hex_assign_rejects_odd_width(spark):
    from metric_search_spark.operators.geo import hex_assign

    with pytest.raises(ValueError, match="even"):
        hex_assign(synth_places(spark, 10, seed=7), 1001)


def test_banded_sincos_machine_epsilon(spark):
    """Full-circle banded sin/cos within 5e-15 of libm — including band
    edges and the antimeridian."""
    from metric_search_spark.operators.geo import sincos_stages

    angs = [int(a * 1e6) for a in range(-180, 181, 7)]
    angs += [-179_999_999, -15_000_001, 14_999_999, 15_000_000, 179_999_999]
    df = spark.createDataFrame([(a,) for a in angs], "a long")
    for name, expr in sincos_stages("a", "_t"):
        df = df.withColumn(name, F.expr(expr))
    for r in df.collect():
        th = r.a / 1e6 * math.pi / 180.0
        assert abs(r._t_sin - math.sin(th)) < 5e-15, r.a
        assert abs(r._t_cos - math.cos(th)) < 5e-15, r.a


def test_s2_matches_python_everywhere(spark):
    """Staged S2 face/s/t equals a libm python recompute of the public
    s2geometry math on scattered points, poles, equator, and face
    corners."""
    from metric_search_spark.operators.geo import s2_stages

    pts = [
        (i, (i * 7919) % 180_000_001 - 90_000_000,
         (i * 104729) % 360_000_001 - 180_000_000)
        for i in range(300)
    ]
    pts += [
        (300, 90_000_000, 0), (301, -90_000_000, 123_000_000),
        (302, 0, 0), (303, 0, 45_000_000), (304, 45_000_000, 45_000_000),
        (305, 0, 180_000_000), (306, 0, -180_000_000),
    ]
    df = spark.createDataFrame(
        pts, "place_id long, lat_udeg long, lon_udeg long"
    )
    for name, expr in s2_stages("lat_udeg", "lon_udeg", 10):
        df = df.withColumn(name, F.expr(expr))

    def py_s2(lat, lon):
        phi = lat / 1e6 * math.pi / 180.0
        lam = lon / 1e6 * math.pi / 180.0
        x = math.cos(phi) * math.cos(lam)
        y = math.cos(phi) * math.sin(lam)
        z = math.sin(phi)
        ax, ay, az = abs(x), abs(y), abs(z)
        if ax >= ay and ax >= az:
            face, u, v = (0 if x > 0 else 3), y / x, z / x
        elif ay >= az:
            face, u, v = (1 if y > 0 else 4), -x / y, z / y
        else:
            face, u, v = (2 if z > 0 else 5), -x / z, -y / z
        if face == 3:
            u, v = z / x, y / x
        if face == 4:
            u, v = z / y, -x / y
        if face == 5:
            u, v = -y / z, -x / z
        if face == 2:
            u, v = -x / z, -y / z

        def st(w):
            return (
                0.5 * math.sqrt(1 + 3 * w)
                if w >= 0
                else 1 - 0.5 * math.sqrt(1 - 3 * w)
            )

        return face, st(u), st(v)

    for r in df.select(
        "place_id", "lat_udeg", "lon_udeg", "_s2_face", "_s2_s", "_s2_t"
    ).collect():
        face, s, t = py_s2(r.lat_udeg, r.lon_udeg)
        assert face == r._s2_face, r
        assert abs(s - r._s2_s) < 1e-8 and abs(t - r._s2_t) < 1e-8, r


def test_s2_cell_roundtrip_contains_point(spark):
    """Geometric certification: mapping each assigned (face, si, ti)
    CELL CENTER back to a unit vector (inverse quadratic transform,
    python/libm) lands within the cell's circumradius of the original
    point — the assignment is geometrically consistent, not just
    self-consistent."""
    from metric_search_spark.operators.geo import s2_stages

    lv = 8
    df = synth_places(spark, 200, seed=11)
    for name, expr in s2_stages("lat_udeg", "lon_udeg", lv):
        df = df.withColumn(name, F.expr(expr))
    rows = df.select(
        "lat_udeg", "lon_udeg", "_s2_face", "_s2_si", "_s2_ti"
    ).collect()

    def uv_from_st(s):
        return (4 * s * s - 1) / 3.0 if s >= 0.5 else (1 - 4 * (1 - s) * (1 - s)) / 3.0

    def xyz_from_fuv(face, u, v):
        if face == 0:
            p = (1.0, u, v)
        elif face == 1:
            p = (-u, 1.0, v)
        elif face == 2:
            p = (-u, -v, 1.0)
        elif face == 3:
            p = (-1.0, -v, -u)
        elif face == 4:
            p = (v, -1.0, -u)
        else:
            p = (v, u, -1.0)
        n = math.sqrt(p[0] ** 2 + p[1] ** 2 + p[2] ** 2)
        return tuple(c / n for c in p)

    for r in rows:
        s = (r._s2_si + 0.5) / (1 << lv)
        t = (r._s2_ti + 0.5) / (1 << lv)
        cx = xyz_from_fuv(r._s2_face, uv_from_st(s), uv_from_st(t))
        phi = r.lat_udeg / 1e6 * math.pi / 180.0
        lam = r.lon_udeg / 1e6 * math.pi / 180.0
        px = (
            math.cos(phi) * math.cos(lam),
            math.cos(phi) * math.sin(lam),
            math.sin(phi),
        )
        chord = math.sqrt(sum((a - b) ** 2 for a, b in zip(cx, px)))
        # max cell diagonal at level 8: ~ (pi/2)/2^8 * sqrt2 * distortion<2
        assert chord < 2.0 * math.sqrt(2.0) * (math.pi / 2) / (1 << lv), r


def test_haversine_knn_invariant_under_r0_mistuning(spark):
    """Exactness must not depend on tuning (VERDICT r4 follow-up): the
    doubling-round kNN returns IDENTICAL rows — same (a_id, rnk, b_id),
    bit-equal hav_e18/dist_mm — whether r0 starts far too small (deep
    escalation through many rounds), at the default, or absurdly large
    (everything resolves in round 0 through the same 3x5 window cover).
    The brute-force parity test pins one setting; this pins the setting-
    independence that makes the operator safe to deploy untuned."""
    from metric_search_spark.operators.geo import haversine_knn_join

    p = synth_places(spark, 400, seed=11).cache()
    frames = [
        haversine_knn_join(p, 4, r0_m=r0, max_rounds=rounds)
        .orderBy("a_id", "rnk")
        .collect()
        for r0, rounds in ((25.0, 14), (250.0, 8), (80_000.0, 2))
    ]
    base = [tuple(r) for r in frames[0]]
    assert len(base) == 400 * 4
    for other in frames[1:]:
        assert [tuple(r) for r in other] == base
