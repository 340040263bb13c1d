"""Checks of the benchmark's correctness twins, without Spark:

    python3 -m pytest perfbench/test_oracle.py -q

Each comparison must pass the right answer and flag a deliberately wrong
one, and a flagged check must count as a failed operation."""

from __future__ import annotations

import numpy as np

import oracle
from harness import Harness
from tracing import Tracer


def _points(n, seed=0):
    rng = np.random.default_rng(seed)
    return np.arange(100, 100 + n, dtype=np.int64), rng.uniform(0, 1, (n, 2))


def _as_got(ids, d):
    return {int(q): list(zip(i.tolist(), dd.tolist())) for q, i, dd in zip(*ids, d)}


def test_knn_brute_matches_a_loop_with_id_tie_order():
    ids, B = _points(60)
    B[7] = B[3]  # an exact distance tie, broken by id
    P = B[:5]
    got_ids, got_d = oracle.knn_brute(B, ids, P, 4)
    for p in range(5):
        ref = sorted((float(np.hypot(*(P[p] - B[j]))), int(ids[j])) for j in range(len(B)))[:4]
        assert got_ids[p].tolist() == [i for _, i in ref]
        assert np.allclose(got_d[p], [d for d, _ in ref])


def test_compare_knn_flags_a_wrong_answer():
    ids, B = _points(50)
    P = B[:3]
    want_ids, want_d = oracle.knn_brute(B, ids, P, 5)
    probe_ids = ids[:3]
    right = _as_got((probe_ids, want_ids), want_d)
    assert oracle.compare_knn(right, probe_ids, want_ids, want_d) == []

    swapped = dict(right)
    swapped[int(probe_ids[1])] = list(reversed(right[int(probe_ids[1])]))
    assert len(oracle.compare_knn(swapped, probe_ids, want_ids, want_d)) == 1

    far = dict(right)
    q = int(probe_ids[2])
    far[q] = right[q][:-1] + [(right[q][-1][0], right[q][-1][1] * 1.01)]
    assert len(oracle.compare_knn(far, probe_ids, want_ids, want_d)) == 1

    missing = {k: v for k, v in right.items() if k != int(probe_ids[0])}
    assert len(oracle.compare_knn(missing, probe_ids, want_ids, want_d)) == 1


def test_range_is_strict_and_pair_count_matches_brute_force():
    ids, B = _points(400, seed=1)
    r = 0.05
    B[1] = B[0] + [r, 0.0]  # exactly at the radius: excluded
    D = oracle.l2_cross(B, B)
    assert oracle.range_pair_count(B, r) == int(np.count_nonzero(D < r))
    sets = oracle.range_sets(B, ids, B[:1], r)
    assert int(ids[1]) not in sets[0] and int(ids[0]) in sets[0]


def test_compare_range_flags_extra_and_missing_ids():
    want = [{1, 2, 3}, {4}]
    probe_ids = np.array([10, 11])
    assert oracle.compare_range({10: {1, 2, 3}, 11: {4}}, probe_ids, want) == []
    assert len(oracle.compare_range({10: {1, 2}, 11: {4, 5}}, probe_ids, want)) == 2


def test_compare_tiles_and_geo_flag_wrong_values():
    ids = np.array([1, 2, 3])
    tiles = np.array([5, 6, 7])
    assert oracle.compare_tiles(tiles, tiles, ids) == []
    assert len(oracle.compare_tiles(np.array([5, 9, 7]), tiles, ids)) == 1

    want = np.array([100.0, 200.0, 300.0])
    within = want + oracle.GEO_TOL_M / 2
    assert oracle.compare_geo_kth(within, want, ids) == []
    wrong = want.copy()
    wrong[2] += 2 * oracle.GEO_TOL_M
    wrong[0] = np.nan  # a sampled place the engine never returned
    assert len(oracle.compare_geo_kth(wrong, want, ids)) == 2


def test_geo_kth_is_the_kth_other_place():
    lat = np.array([0.0, 0.0, 0.0, 0.0])
    lon = np.array([0.0, 1000.0, 3000.0, 6000.0])  # microdegrees on the equator
    got = oracle.geo_kth_m(lat, lon, np.array([0]), 2)
    assert np.isclose(got[0], oracle.haversine_m(0.0, 0.0, 0.0, 3000.0))


def test_mirror_applies_inserts_then_deletes():
    m = oracle.Mirror(np.array([1, 2]), np.array([[0.1, 0.1], [0.2, 0.2]]))
    m.insert(np.array([3]), np.array([[0.3, 0.3]]))
    m.delete([1, 3])
    ids, xy = m.arrays()
    assert ids.tolist() == [2] and xy.tolist() == [[0.2, 0.2]]


def test_a_flagged_check_counts_as_a_failed_operation(tmp_path):
    h = Harness("uniform", 0, str(tmp_path), Tracer("t", "uniform", False))
    assert h.call("knn", 10, lambda: 42) == 42
    h.check("knn", lambda: [])
    assert (h.attempted, h.failed) == (1, 0)
    h.check("knn", lambda: ["knn probe 1: wrong"])
    h.call("range", 10, lambda: 1 / 0)
    h.check("range_sample", lambda: 1 / 0, counted=True)
    assert (h.attempted, h.failed) == (3, 3)
    assert h.rate(("knn",)) > 0 and h.rate(("range",)) == 0.0
