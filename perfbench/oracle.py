"""Correctness twins: numpy answers the benchmark compares engine output
against, outside the timed region. Pure numpy, no Spark, so the checker
itself is testable on its own (see test_oracle.py)."""

from __future__ import annotations

import numpy as np

EARTH_R_M = 6_371_000.0
# The engine evaluates haversine with pinned polynomials, not libm, and
# floors distances to whole millimetres; against numpy's libm its k-th
# distances differ by at most ~1 mm at the fixture's scale.
GEO_TOL_M = 0.01


def l2_cross(P: np.ndarray, B: np.ndarray) -> np.ndarray:
    """(P, B) distances with the engine's 2-D formula: sqrt(dx*dx + dy*dy)."""
    dx = P[:, None, 0] - B[None, :, 0]
    dy = P[:, None, 1] - B[None, :, 1]
    return np.sqrt(dx * dx + dy * dy)


def knn_brute(
    B: np.ndarray, ids: np.ndarray, P: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Exact kNN of each probe row over build rows ``B`` ranked by
    (dist, id): returns (neighbor ids (P, k), dists (P, k))."""
    D = l2_cross(P, B)
    order = np.lexsort((np.broadcast_to(ids, D.shape), D), axis=1)[:, :k]
    return ids[order], np.take_along_axis(D, order, axis=1)


def range_sets(
    B: np.ndarray, ids: np.ndarray, P: np.ndarray, radius: float
) -> list[set]:
    """Build ids strictly within ``radius`` (d < r) of each probe."""
    D = l2_cross(P, B)
    return [set(ids[np.nonzero(row < radius)[0]].tolist()) for row in D]


def range_pair_count(B: np.ndarray, radius: float) -> int:
    """Ordered self-join pairs (self pairs included) with d < r, the row
    count of ``range_join(t, t, r)``: sweep over rows sorted by x, comparing
    each row with the next j-th row for as long as any x-gap is < r."""
    xs = B[np.argsort(B[:, 0], kind="stable")]
    n = len(xs)
    pairs = 0
    j = 1
    while j < n:
        dx = xs[j:, 0] - xs[:-j, 0]
        live = dx < radius
        if not live.any():
            break
        dy = xs[j:, 1] - xs[:-j, 1]
        pairs += int(np.count_nonzero(live & (np.sqrt(dx * dx + dy * dy) < radius)))
        j += 1
    return n + 2 * pairs


def haversine_m(lat_a, lon_a, lat_b, lon_b) -> np.ndarray:
    """Great-circle distance in meters between microdegree coordinates."""
    rad = np.pi / 180.0 / 1e6
    pa, pb = lat_a * rad, lat_b * rad
    h = np.sin((pb - pa) / 2) ** 2 + np.cos(pa) * np.cos(pb) * np.sin(
        (lon_b - lon_a) * rad / 2
    ) ** 2
    return 2.0 * EARTH_R_M * np.arcsin(np.sqrt(h))


def geo_kth_m(lat: np.ndarray, lon: np.ndarray, probe_idx: np.ndarray, k: int) -> np.ndarray:
    """Distance in meters from each given place to its k-th nearest OTHER
    place."""
    out = np.empty(len(probe_idx))
    for s in range(0, len(probe_idx), 256):
        p = probe_idx[s : s + 256]
        d = haversine_m(lat[p][:, None], lon[p][:, None], lat[None, :], lon[None, :])
        d[np.arange(len(p)), p] = np.inf
        out[s : s + 256] = np.partition(d, k - 1, axis=1)[:, k - 1]
    return out


class Mirror:
    """The benchmark's own copy of an index's record set: base ⊕ inserts −
    deletes, as (id -> (x, y))."""

    def __init__(self, ids: np.ndarray, xy: np.ndarray):
        self.rows = {int(i): (float(x), float(y)) for i, (x, y) in zip(ids, xy)}

    def insert(self, ids: np.ndarray, xy: np.ndarray) -> None:
        for i, (x, y) in zip(ids, xy):
            self.rows[int(i)] = (float(x), float(y))

    def delete(self, ids) -> None:
        for i in ids:
            self.rows.pop(int(i), None)

    def arrays(self) -> tuple[np.ndarray, np.ndarray]:
        ids = np.fromiter(self.rows.keys(), dtype=np.int64, count=len(self.rows))
        xy = np.array(list(self.rows.values()), dtype=np.float64).reshape(-1, 2)
        return ids, xy


# -------------------------------------------------------------- comparisons
# Each returns a list of human-readable mismatch descriptions (empty = ok).


def compare_knn(
    got: dict[int, list[tuple[int, float]]],
    probe_ids: np.ndarray,
    want_ids: np.ndarray,
    want_d: np.ndarray,
) -> list[str]:
    """``got`` maps probe id -> [(neighbor id, dist)] in rank order."""
    bad = []
    for q, wi, wd in zip(probe_ids.tolist(), want_ids, want_d):
        rows = got.get(q, [])
        gi = [r[0] for r in rows]
        gd = np.array([r[1] for r in rows])
        if gi != wi.tolist() or not np.allclose(gd, wd, rtol=1e-12, atol=0.0):
            bad.append(f"knn probe {q}: got {gi[:3]}.. want {wi[:3].tolist()}..")
    return bad


def compare_range(
    got: dict[int, set], probe_ids: np.ndarray, want: list[set]
) -> list[str]:
    bad = []
    for q, w in zip(probe_ids.tolist(), want):
        g = got.get(q, set())
        if g != w:
            bad.append(
                f"range probe {q}: {len(g - w)} extra, {len(w - g)} missing"
            )
    return bad


def compare_tiles(got: np.ndarray, want: np.ndarray, ids: np.ndarray) -> list[str]:
    wrong = np.nonzero(got != want)[0]
    return [f"tile of id {ids[i]}: got {got[i]} want {want[i]}" for i in wrong[:5]]


def compare_geo_kth(got_m: np.ndarray, want_m: np.ndarray, ids: np.ndarray) -> list[str]:
    wrong = np.nonzero(~(np.abs(got_m - want_m) <= GEO_TOL_M))[0]
    return [
        f"geo place {ids[i]}: k-th {got_m[i]:.3f} m want {want_m[i]:.3f} m"
        for i in wrong[:5]
    ]
