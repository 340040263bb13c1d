"""Full-sphere haversine radius join pins: the adaptive secant-window +
wrapped-ring + polar-cap plan reproduces the brute-force pair set exactly
(including antimeridian, cap-boundary, and exact-pole pairs), emits no
duplicate pairs, guards bad inputs and infeasible radii, and plans no
cartesian product."""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from metric_search_spark.operators.geo import (
    hav_wrap_sql,
    haversine_pairs_sphere_sql,
    haversine_radius_join_sphere,
    synth_places_sphere,
    synth_places_sphere_sql,
)
from tests.sparkutil import get_spark


@pytest.fixture(scope="module")
def spark():
    return get_spark()


N, SEED, R = 900, 7, 500.0


@pytest.fixture(scope="module")
def pairs(spark):
    p = synth_places_sphere(spark, N, seed=SEED)
    return (
        haversine_radius_join_sphere(p, R)
        .toPandas()
        .sort_values(["a_id", "b_id"])
        .reset_index(drop=True)
    )


def test_fixture_parity_and_regimes(spark):
    """Spark fixture == DuckDB fixture bit-for-bit, and the fixture
    actually reaches every regime: both caps, exact pole, antimeridian
    wrap, high latitude."""
    sp = (
        synth_places_sphere(spark, N, seed=SEED)
        .toPandas()
        .sort_values("place_id")
        .reset_index(drop=True)
    )
    dk = (
        duckdb.sql(synth_places_sphere_sql(N, seed=SEED))
        .df()
        .sort_values("place_id")
        .reset_index(drop=True)
    )
    assert sp.equals(dk)
    assert (sp.lat_udeg == -90_000_000).any()  # clamped AT the pole
    assert (sp.lat_udeg.abs() >= 88_000_000).any()
    assert (sp.lon_udeg.abs() > 179_000_000).any()
    assert sp.lon_udeg.between(-180_000_000, 179_999_999).all()


def test_matches_brute_force_exactly(pairs):
    """The grid+cap plan's pair set equals the all-pairs pinned predicate
    — rows, ids, and both exported BIGINTs bit-for-bit."""
    ora = (
        duckdb.sql(
            haversine_pairs_sphere_sql(
                synth_places_sphere_sql(N, seed=SEED), R
            )
        )
        .df()
        .sort_values(["a_id", "b_id"])
        .reset_index(drop=True)
    )
    assert len(pairs) == len(ora) > 0
    for c in ("a_id", "b_id", "hav_e18", "dist_mm"):
        assert (
            pairs[c].astype("int64").values == ora[c].astype("int64").values
        ).all(), c


def test_no_duplicate_pairs(pairs):
    assert pairs.duplicated(["a_id", "b_id"]).sum() == 0
    assert (pairs.a_id < pairs.b_id).all()


def test_regime_pairs_present(spark, pairs):
    """Pairs exist in the hard regimes: involving a cap row, crossing the
    cap boundary, straddling the antimeridian, and at the exact pole
    (clamped south-cluster rows are the same physical point: dist 0)."""
    m = (
        synth_places_sphere(spark, N, seed=SEED)
        .toPandas()
        .set_index("place_id")
    )
    alat = pairs.a_id.map(m.lat_udeg)
    blat = pairs.b_id.map(m.lat_udeg)
    alon = pairs.a_id.map(m.lon_udeg)
    blon = pairs.b_id.map(m.lon_udeg)
    cap = 88_000_000
    assert ((alat.abs() >= cap) | (blat.abs() >= cap)).any()
    assert (
        ((alat.abs() >= cap) & (blat.abs() < cap))
        | ((blat.abs() >= cap) & (alat.abs() < cap))
    ).any()
    anti = (alon * blon < 0) & (
        (alon.abs() > 179_000_000) | (blon.abs() > 179_000_000)
    )
    assert anti.any()
    at_pole = (alat == -90_000_000) & (blat == -90_000_000)
    assert at_pole.any()
    assert (pairs.dist_mm[at_pole] == 0).all()


def test_antimeridian_unit_pair(spark):
    """Two points 0.0004 deg of lon apart ACROSS the seam (±179.9998)
    pair up at ~44 m; the raw-difference hav_sql would have placed them
    ~2 Earth-circumferences apart in Taylor-domain terms."""
    p = spark.createDataFrame(
        [(0, 0, 179_999_800), (1, 0, -179_999_800), (2, 0, 0)],
        "place_id long, lat_udeg long, lon_udeg long",
    )
    got = haversine_radius_join_sphere(p, 100.0).toPandas()
    assert [(r.a_id, r.b_id) for r in got.itertuples()] == [(0, 1)]
    d_m = got.dist_mm.iloc[0] / 1000.0
    assert abs(d_m - 2.0 * 0.0002 * math.pi / 180.0 * 6_371_000.0) < 0.5


def test_near_pole_cross_meridian_pair(spark):
    """Two points on OPPOSITE meridians 200 µdeg off the north pole are
    ~44.5 m apart over the pole — only the cap path can see this pair
    (their lon cells are half a ring apart)."""
    p = spark.createDataFrame(
        [(0, 89_999_800, 0), (1, 89_999_800, 180_000_000), (2, 80_000_000, 0)],
        "place_id long, lat_udeg long, lon_udeg long",
    )
    got = haversine_radius_join_sphere(p, 100.0).toPandas()
    assert [(r.a_id, r.b_id) for r in got.itertuples()] == [(0, 1)]
    d_m = got.dist_mm.iloc[0] / 1000.0
    assert abs(d_m - 2.0 * 0.0002 * math.pi / 180.0 * 6_371_000.0) < 0.5


def test_wrapped_hav_periodicity(spark):
    """hav_wrap_sql(λ) == hav_wrap_sql(λ ± 360 deg) bit-for-bit: the
    integer normalization makes longitude genuinely periodic."""
    rows = (
        spark.range(1)
        .select(
            F.expr(
                hav_wrap_sql("10000000", "179000000", "11000000", "-179000000")
            ).alias("a"),
            F.expr(
                hav_wrap_sql("10000000", "179000000", "11000000", "181000000")
            ).alias("b"),
        )
        .collect()[0]
    )
    assert rows.a == rows.b


def test_guards(spark):
    p = synth_places_sphere(spark, 50, seed=SEED)
    with pytest.raises(ValueError, match="cap_colat_deg"):
        haversine_radius_join_sphere(p, 100_000.0, cap_colat_deg=0.5)
    bad = spark.createDataFrame(
        [(0, 95_000_000, 0)], "place_id long, lat_udeg long, lon_udeg long"
    )
    with pytest.raises(Exception, match="lat_udeg"):
        haversine_radius_join_sphere(bad, 100.0).collect()


def test_plan_no_cartesian(spark):
    p = synth_places_sphere(spark, 100, seed=SEED)
    plan = (
        haversine_radius_join_sphere(p, R)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# -------------------------------------------------- full-sphere kNN


def test_knn_sphere_matches_brute_force(spark):
    """Doubling-round sphere kNN == brute-force (hav, b_id) rank over all
    ordered pairs, bit-for-bit, k rows per probe — including the
    co-located exact-pole rows (hav 0, pure b_id ties) and antimeridian
    neighborhoods."""
    from metric_search_spark.operators.geo import (
        haversine_knn_join_sphere,
        haversine_knn_sphere_sql,
    )

    n, k = 700, 4
    p = synth_places_sphere(spark, n, seed=SEED)
    got = (
        haversine_knn_join_sphere(p, k, r0_m=250.0)
        .toPandas()
        .sort_values(["a_id", "rnk"])
        .reset_index(drop=True)
    )
    ora = (
        duckdb.sql(
            haversine_knn_sphere_sql(
                synth_places_sphere_sql(n, seed=SEED), k
            )
        )
        .df()
        .sort_values(["a_id", "rnk"])
        .reset_index(drop=True)
    )
    assert len(got) == len(ora) == n * k
    for c in ("a_id", "rnk", "b_id", "hav_e18", "dist_mm"):
        assert (
            got[c].astype("int64").values == ora[c].astype("int64").values
        ).all(), c


def test_knn_sphere_rejects_max_rounds_below_one(spark):
    """max_rounds < 1 runs no round: it raises ValueError instead of an
    UnboundLocalError from the loop's unresolved count."""
    from metric_search_spark.operators.geo import haversine_knn_join_sphere

    p = synth_places_sphere(spark, 20, seed=SEED)
    with pytest.raises(ValueError, match="max_rounds"):
        haversine_knn_join_sphere(p, 1, max_rounds=0)


def test_knn_sphere_pole_neighbors_distance_zero(spark):
    """Probes clamped AT the south pole have co-located rows as their
    nearest neighbors at exactly dist 0, ordered by b_id."""
    from metric_search_spark.operators.geo import haversine_knn_join_sphere

    n, k = 700, 4
    p = synth_places_sphere(spark, n, seed=SEED)
    pole_ids = {
        r.place_id
        for r in p.where(F.col("lat_udeg") == -90_000_000).collect()
    }
    assert len(pole_ids) >= k + 1
    got = haversine_knn_join_sphere(p, k, r0_m=250.0).toPandas()
    mine = got[got.a_id.isin(pole_ids)]
    assert (mine.dist_mm == 0).all()
    # hav between two clamped rows is cos_poly(pi/2)^2 * sin^2(dlam/2)
    # ~ 1e-17 — not exactly zero, so ordering among them follows dlam
    # before b_id (the parity test pins the exact order); here pin that
    # every neighbor of a pole row IS another pole row.
    assert set(mine.b_id) <= pole_ids


# --------------------------------------------- spherical zone PIP join


def _uv(lat_udeg, lon_udeg):
    import numpy as np

    la = lat_udeg * math.pi / 180e6
    lo = lon_udeg * math.pi / 180e6
    return np.array(
        [math.cos(la) * math.cos(lo), math.cos(la) * math.sin(lo), math.sin(la)]
    )


def _ref_inside(P, lats, lons):
    """Independent libm/numpy reference: explicit great-circle
    intersection points of arc(south pole -> P) with each edge arc,
    membership by on-minor-arc dot tests — a different mechanization
    from the pinned SimpleCrossing sign rule."""
    import numpy as np

    R = np.array([0.0, 0.0, -1.0])

    def on_arc(X, A, B):
        n = np.cross(A, B)
        return (
            np.dot(np.cross(A, X), n) >= 0 and np.dot(np.cross(X, B), n) >= 0
        )

    k = len(lats)
    tot = 0
    for i in range(k):
        A = _uv(lats[i], lons[i])
        B = _uv(lats[(i + 1) % k], lons[(i + 1) % k])
        X = np.cross(np.cross(R, P), np.cross(A, B))
        nx = float(np.linalg.norm(X))
        if nx < 1e-12:
            continue
        X = X / nx
        tot += sum(1 for S in (X, -X) if on_arc(S, R, P) and on_arc(S, A, B))
    return tot % 2 == 1


def test_spherical_zone_join_matches_twin_and_reference(spark):
    from metric_search_spark.operators.geo import (
        _ZONES,
        spherical_zone_join,
        spherical_zone_sql,
        synth_zones,
    )

    n = 1200
    p = synth_places_sphere(spark, n, seed=SEED)
    got = (
        spherical_zone_join(p, synth_zones(spark))
        .toPandas()
        .sort_values(["place_id", "zone_id"])
        .reset_index(drop=True)
    )
    ora = (
        duckdb.sql(spherical_zone_sql(synth_places_sphere_sql(n, seed=SEED)))
        .df()
        .sort_values(["place_id", "zone_id"])
        .reset_index(drop=True)
    )
    assert len(got) == len(ora) > 0
    assert (got.place_id.astype("int64").values == ora.place_id.astype("int64").values).all()
    assert (got.zone_id.astype("int64").values == ora.zone_id.astype("int64").values).all()
    # every zone has members (polar cap, antimeridian band, quad,
    # triangle, cap straddler)
    assert set(got.zone_id) == {z for z, _, _ in _ZONES}
    # independent numpy/libm arc-intersection recomputation; exact-pole
    # probes ride their stored-lon meridian (the pinned convention)
    pl = synth_places_sphere(spark, n, seed=SEED).toPandas()
    ref = set()
    for r in pl.itertuples():
        lat = r.lat_udeg
        eff = 89_999_999 if lat == 90_000_000 else (
            -89_999_999 if lat == -90_000_000 else lat
        )
        P = _uv(eff, r.lon_udeg)
        for zid, lats, lons in _ZONES:
            if _ref_inside(P, lats, lons):
                ref.add((int(r.place_id), zid))
    assert {(int(r.place_id), int(r.zone_id)) for r in got.itertuples()} == ref


def test_spherical_zone_known_membership(spark):
    """Hand-checkable probes: deep in the polar cap; on the antimeridian
    inside the band; mid-quad; outside everything; lat-70 (outside the
    lat-80 cap quad even though planar reasoning would waffle)."""
    from metric_search_spark.operators.geo import (
        spherical_zone_join,
        synth_zones,
    )

    probes = spark.createDataFrame(
        [
            (0, 89_000_000, 50_000_000),    # polar cap (zone 0)
            (1, 0, 179_900_000),            # antimeridian band (zone 1)
            (2, 0, -179_900_000),           # band, west side (zone 1)
            (3, 30_000_000, 50_000_000),    # mid-lat quad (zone 2)
            (4, -60_000_000, 100_000_000),  # southern triangle (zone 3)
            (5, 70_000_000, 45_000_000),    # between cap quad and quads: none
            (6, 0, 0),                      # none
        ],
        "place_id long, lat_udeg long, lon_udeg long",
    )
    got = spherical_zone_join(probes, synth_zones(spark)).toPandas()
    members = {(r.place_id, r.zone_id) for r in got.itertuples()}
    assert members == {(0, 0), (1, 1), (2, 1), (3, 2), (4, 3)}


def test_spherical_zone_plan_broadcast_no_probe_shuffle(spark):
    """The edge dim broadcasts (BNLJ build side — deliberate for an
    every-probe-sees-every-edge predicate); the probe table reaches the
    parity aggregate without a join-side shuffle."""
    from metric_search_spark.operators.geo import (
        spherical_zone_join,
        synth_zones,
    )

    p = synth_places_sphere(spark, 200, seed=SEED)
    plan = (
        spherical_zone_join(p, synth_zones(spark))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


# ----------------------------------------- randomized-regime parity


@pytest.mark.parametrize("seed,radius_m", [(101, 200.0), (202, 5000.0)])
def test_uniform_sphere_random_parity(spark, seed, radius_m):
    """Beyond the hotspot fixture: uniform random points over the WHOLE
    sphere (plus forced exact-pole and seam rows) must reproduce the
    brute-force pinned pair set at multiple radii — a different density
    regime (sparse global) and a different radius/cell scale than the
    fixture tests."""
    import pandas as pd

    n = 400
    rows = []
    st = seed
    def nxt():
        nonlocal st
        st = (st * 48271) % 2147483647
        return st
    for i in range(n - 6):
        rows.append((i, nxt() % 180_000_001 - 90_000_000,
                     nxt() % 360_000_001 - 180_000_000))
    rows += [
        (n - 6, 90_000_000, 123_456),    # exact north pole
        (n - 5, -90_000_000, -50_000_000),
        (n - 4, 89_999_990, 179_999_990),  # near pole + seam
        (n - 3, -89_999_990, -179_999_990),
        (n - 2, 0, 180_000_000),           # exact seam edge value
        (n - 1, 0, -180_000_000),
    ]
    p = spark.createDataFrame(
        rows, "place_id long, lat_udeg long, lon_udeg long"
    )
    got = (
        haversine_radius_join_sphere(p, radius_m)
        .toPandas()
        .sort_values(["a_id", "b_id"])
        .reset_index(drop=True)
    )
    vals = ", ".join(f"({a}, {b}, {c})" for a, b, c in rows)
    places_sql = (
        f"SELECT * FROM (VALUES {vals}) t(place_id, lat_udeg, lon_udeg)"
    )
    ora = (
        duckdb.sql(haversine_pairs_sphere_sql(places_sql, radius_m))
        .df()
        .sort_values(["a_id", "b_id"])
        .reset_index(drop=True)
    )
    assert len(got) == len(ora)
    for c in ("a_id", "b_id", "hav_e18", "dist_mm"):
        assert (
            got[c].astype("int64").values == ora[c].astype("int64").values
        ).all(), c
    assert got.duplicated(["a_id", "b_id"]).sum() == 0


# --------------------------------------------- spherical geofence


def test_spherical_geofence_matches_twin(spark):
    from metric_search_spark.operators.geo import (
        spherical_geofence_sql,
        spherical_geofence_transitions,
        synth_tracks_sphere,
        synth_tracks_sphere_sql,
        synth_zones,
    )

    u, e = 150, 20
    tr = synth_tracks_sphere(spark, u, e, seed=SEED)
    got = (
        spherical_geofence_transitions(tr, synth_zones(spark))
        .toPandas()
        .sort_values(["user_id", "zone_id", "event_id"])
        .reset_index(drop=True)
    )
    ora = (
        duckdb.sql(
            spherical_geofence_sql(synth_tracks_sphere_sql(u, e, seed=SEED))
        )
        .df()
        .sort_values(["user_id", "zone_id", "event_id"])
        .reset_index(drop=True)
    )
    assert len(got) == len(ora) > 0
    for c in ("user_id", "zone_id", "event_id", "seq"):
        assert (
            got[c].astype("int64").values == ora[c].astype("int64").values
        ).all(), c
    assert (got.kind.values == ora.kind.values).all()
    assert set(got.kind) == {"enter", "exit"}


def test_spherical_geofence_semantics(spark):
    """A hand-built track that enters then exits the polar cap zone, and
    a user whose track STARTS inside (emits no enter for event 0)."""
    from metric_search_spark.operators.geo import (
        spherical_geofence_transitions,
        synth_zones,
    )

    rows = [
        (0, 0, 60_000_000, 10_000_000),   # outside cap
        (0, 1, 89_000_000, 10_000_000),   # inside cap -> enter at 1
        (0, 2, 89_500_000, -170_000_000), # still inside (different lon)
        (0, 3, 50_000_000, 10_000_000),   # outside -> exit at 3
        # NOTE lon 10e6, NOT 0: a probe whose south-pole meridian passes
        # exactly through a zone VERTEX (zone 0 has one at lon 0) is the
        # documented measure-zero degenerate ray and classifies outside
        (1, 0, 89_000_000, 10_000_000),   # starts inside: no event
        (1, 1, 89_200_000, 50_000_000),   # stays inside: no event
    ]
    tr = spark.createDataFrame(
        rows, "user_id long, event_id long, lat_udeg long, lon_udeg long"
    )
    got = spherical_geofence_transitions(tr, synth_zones(spark)).toPandas()
    cap = got[got.zone_id == 0].sort_values("event_id")
    assert [(r.user_id, r.event_id, r.kind, r.seq) for r in cap.itertuples()] == [
        (0, 1, "enter", 1),
        (0, 3, "exit", 2),
    ]
    # user 1 never changes CAP-zone membership (it also starts inside
    # zone 4 — the 85..89.5/lon 0..20 quad — and legitimately exits it
    # at event 1 when lon jumps to 50: transitions there are correct)
    assert got[(got.user_id == 1) & (got.zone_id == 0)].empty


# --------------------------------------- full-sphere Ripley counts


def test_sphere_ripley_matches_brute_force(spark):
    from metric_search_spark.operators.geo import (
        pair_counts_by_radius_sphere,
        pair_counts_sphere_sql,
    )

    n, radii = 900, [100.0, 500.0, 1000.0]
    p = synth_places_sphere(spark, n, seed=SEED)
    got = (
        pair_counts_by_radius_sphere(p, radii)
        .toPandas()
        .sort_values("radius_mm")
        .reset_index(drop=True)
    )
    ora = (
        duckdb.sql(
            pair_counts_sphere_sql(synth_places_sphere_sql(n, seed=SEED), radii)
        )
        .df()
        .sort_values("radius_mm")
        .reset_index(drop=True)
    )
    for c in ("radius_mm", "pairs", "sum_dist_mm"):
        assert (
            got[c].astype("int64").values == ora[c].astype("int64").values
        ).all(), c
    # pole-cluster density guarantees a rising count profile with
    # thousands of sub-100m pairs (co-located clamps count at dist 0)
    assert got.pairs.is_monotonic_increasing
    assert got.pairs.iloc[0] > 1000


# ------------------------------------------ spherical track Hausdorff


def test_asin_full_matches_libm(spark):
    """Full-range pinned arcsine within 5e-11 of libm across [0, 1] —
    including the branch fold at sqrt(1/2)."""
    from metric_search_spark.operators.geo import asin_full_sql

    xs = [i / 500.0 for i in range(0, 501)]
    rows = (
        spark.createDataFrame([(x,) for x in xs], "x double")
        .select("x", F.expr(asin_full_sql("x")).alias("a"))
        .collect()
    )
    assert max(abs(r.a - math.asin(r.x)) for r in rows) < 5e-11


def test_sphere_hausdorff_matches_twin_and_geodesy(spark):
    from metric_search_spark.operators.geo import (
        sphere_track_hausdorff,
        sphere_track_hausdorff_sql,
        synth_tracks_sphere,
        synth_tracks_sphere_sql,
    )

    u, e = 100, 16
    tr = synth_tracks_sphere(spark, u, e, seed=SEED)
    pairs = spark.createDataFrame(
        [(i, (i + 1) % u) for i in range(u)], "a_user long, b_user long"
    )
    got = (
        sphere_track_hausdorff(tr, pairs)
        .toPandas()
        .sort_values(["a_user", "b_user"])
        .reset_index(drop=True)
    )
    pairs_sql = (
        f"SELECT i AS a_user, (i + 1) % {u} AS b_user"
        f" FROM (SELECT unnest(range({u})) AS i)"
    )
    ora = (
        duckdb.sql(
            sphere_track_hausdorff_sql(
                synth_tracks_sphere_sql(u, e, seed=SEED), pairs_sql
            )
        )
        .df()
        .sort_values(["a_user", "b_user"])
        .reset_index(drop=True)
    )
    assert len(got) == len(ora) == u
    for c in ("a_user", "b_user", "hav_e18", "dist_mm"):
        assert (
            got[c].astype("int64").values == ora[c].astype("int64").values
        ).all(), c
    # geodesic fidelity at planetary angles: dist_mm from the pinned
    # full-range asin matches libm's 2R*asin(sqrt(hav)) to < 2 mm
    for r in got.itertuples():
        h = min(1.0, r.hav_e18 / 1e18)
        true_mm = 2.0 * 6_371_000.0 * math.asin(math.sqrt(h)) * 1000.0
        assert abs(true_mm - r.dist_mm) < 2.0


def test_sphere_hausdorff_identical_tracks_zero(spark):
    from metric_search_spark.operators.geo import (
        sphere_track_hausdorff,
        synth_tracks_sphere,
    )

    tr = synth_tracks_sphere(spark, 4, 10, seed=SEED)
    pairs = spark.createDataFrame(
        [(i, i) for i in range(4)], "a_user long, b_user long"
    )
    got = sphere_track_hausdorff(tr, pairs).toPandas()
    assert (got.dist_mm == 0).all() and (got.hav_e18 == 0).all()


# ---------------------------------------- spherical discrete Fréchet


def test_sphere_frechet_matches_twin(spark):
    from metric_search_spark.operators.geo import (
        sphere_track_frechet,
        sphere_track_frechet_sql,
        synth_tracks_sphere,
        synth_tracks_sphere_sql,
    )

    u, e = 80, 14
    tr = synth_tracks_sphere(spark, u, e, seed=SEED)
    got = (
        sphere_track_frechet(tr)
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    ora = (
        duckdb.sql(
            sphere_track_frechet_sql(synth_tracks_sphere_sql(u, e, seed=SEED))
        )
        .df()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    assert len(got) == len(ora) == u
    for c in ("user_id", "hav_e18", "dist_mm"):
        assert (
            got[c].astype("int64").values == ora[c].astype("int64").values
        ).all(), c
    assert got[got.user_id == 0].dist_mm.iloc[0] == 0  # anchor vs itself
    # Frechet >= Hausdorff of the same pair (alignment is a matching
    # constraint on top of the same pointwise metric)
    from metric_search_spark.operators.geo import sphere_track_hausdorff

    pairs = spark.createDataFrame(
        [(i, 0) for i in range(1, u)], "a_user long, b_user long"
    )
    hh = (
        sphere_track_hausdorff(tr, pairs)
        .toPandas()
        .set_index("a_user")
        .dist_mm
    )
    fr = got.set_index("user_id").dist_mm
    for uu in range(1, u):
        assert fr[uu] >= hh[uu] - 1, uu
