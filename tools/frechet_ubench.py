"""Micro-benchmark + bit-identity check for the antidiagonal Fréchet DP
(VERDICT r4 item 6): the scalar row-by-row Eiter–Mannila loop vs
operators.geo._frechet_dp_antidiag on 128-point tracks, and
trajectory.frechet_many (batched antidiagonal) vs per-row scalar.

Usage: python tools/frechet_ubench.py
Prints one line per kernel: n, wall per call, speedup, max |Δbits| (must
be 0 — every DP op is a selection over pinned doubles).
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def scalar_dp(D: np.ndarray) -> float:
    n, m = D.shape
    ca = np.empty((n, m))
    ca[0, :] = np.maximum.accumulate(D[0, :])
    for i in range(1, n):
        ca[i, 0] = max(D[i, 0], ca[i - 1, 0])
        for j in range(1, m):
            ca[i, j] = max(
                D[i, j], min(ca[i - 1, j], ca[i - 1, j - 1], ca[i, j - 1])
            )
    return float(ca[-1, -1])


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def main() -> int:
    from metric_search_spark.operators.geo import _frechet_dp_antidiag
    from metric_search_spark.operators.trajectory import frechet_many, frechet_one

    rng = np.random.default_rng(3)
    n = 128
    rc = 0
    mats = [rng.random((n, n)) for _ in range(20)]
    t0 = time.perf_counter()
    want = [scalar_dp(D) for D in mats]
    t_scalar = (time.perf_counter() - t0) / len(mats)
    t0 = time.perf_counter()
    got = [_frechet_dp_antidiag(D) for D in mats]
    t_anti = (time.perf_counter() - t0) / len(mats)
    bits = max(
        abs(
            np.float64(a).view(np.int64).item()
            - np.float64(b).view(np.int64).item()
        )
        for a, b in zip(want, got)
    )
    print(
        f"dense DP {n}x{n}: scalar {t_scalar * 1e3:.2f} ms -> antidiag "
        f"{t_anti * 1e3:.2f} ms ({t_scalar / t_anti:.1f}x), dbits={bits}"
    )
    rc |= bits != 0

    batch = rng.random((64, n, 2))
    anchor = rng.random((n, 2))
    frechet_many(batch, anchor)  # warm-up: first-call alloc/codepath cost
    t_many = min(
        _timed(lambda: frechet_many(batch, anchor)) for _ in range(3)
    )
    many = frechet_many(batch, anchor)
    t_ones = min(
        _timed(lambda: [frechet_one(p, anchor) for p in batch])
        for _ in range(3)
    )
    ones = np.array([frechet_one(p, anchor) for p in batch])
    bits = int(
        np.abs(
            many.view(np.int64) - ones.view(np.int64)
        ).max()
    )
    print(
        f"batched {batch.shape[0]}x{n}pt: per-row scalar {t_ones * 1e3:.1f} ms"
        f" -> antidiag batch {t_many * 1e3:.1f} ms"
        f" ({t_ones / t_many:.1f}x), dbits={bits}"
    )
    rc |= bits != 0
    return rc


if __name__ == "__main__":
    sys.exit(main())
