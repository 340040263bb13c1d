"""Per-run bookkeeping shared by the workloads: timed calls, failures,
correctness checks and layer counts."""

from __future__ import annotations

import sys
import time
import traceback

import numpy as np

from tracing import Tracer


class Harness:
    def __init__(self, workload: str, seed: int, workdir: str, tracer: Tracer):
        self.workload = workload
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.workdir = workdir
        self.tracer = tracer
        self.samples: dict[str, list[float]] = {}  # op -> seconds per call
        self.rows: dict[str, int] = {}  # op -> rows through its calls
        self.counts: dict[str, float] = {}  # layer counts of the latest call
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def call(self, op: str, rows: int, fn):
        """Time one public call; an exception counts as a failed operation
        and returns None. The caller checks the result afterwards, outside
        the timed interval."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # noqa: BLE001 — a failed op is a measurement
            self._fail(op, f"{type(e).__name__}: {e}")
            traceback.print_exc(file=sys.stderr)
            return None
        self.samples.setdefault(op, []).append(time.perf_counter() - t0)
        self.rows[op] = self.rows.get(op, 0) + rows
        return out

    def check(self, op: str, fn, counted: bool = False) -> None:
        """Run a correctness twin; any mismatch fails the operation it
        checks. ``counted`` marks a check that is an operation of its own."""
        if counted:
            self.attempted += 1
        try:
            bad = fn()
        except Exception as e:  # noqa: BLE001
            bad = [f"check raised {type(e).__name__}: {e}"]
        if bad:
            self._fail(op, "; ".join(bad[:3]))

    def _fail(self, op: str, why: str) -> None:
        self.failed += 1
        self.failures.append(f"{op}: {why[:300]}")
        print(f"perfbench: FAILED {op}: {why[:300]}", file=sys.stderr)

    def rate(self, ops: tuple[str, ...]) -> float:
        """Rows per second of call time over the given ops (0 if none ran)."""
        t = sum(sum(self.samples.get(o, [])) for o in ops)
        r = sum(self.rows.get(o, 0) for o in ops if o in self.samples)
        return r / t if t > 0 else 0.0
