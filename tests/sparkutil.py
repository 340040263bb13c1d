"""Shared SparkSession for tests (one local JVM per pytest run), a Spark
job counter and the kNN exactness helpers several test modules use."""

from __future__ import annotations

import uuid

import numpy as np
import pandas as pd

from metric_search_spark.session import build_session

_SPARK = None

# the local properties SparkContext.setJobGroup sets
_GROUP_PROPS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)


def get_spark():
    global _SPARK
    if _SPARK is None:
        _SPARK = build_session(
            cpus=4,
            app_name="metric_search_spark-tests",
            shuffle_partitions=8,
            extra_conf={"spark.driver.memory": "4g"},
        )
    return _SPARK


def count_jobs(spark, fn):
    """Run ``fn()`` under a fresh job group and return (its result, the
    number of Spark jobs it ran, from the status tracker). The caller's
    job group, if any, is restored afterwards."""
    sc = spark.sparkContext
    saved = {p: sc.getLocalProperty(p) for p in _GROUP_PROPS}
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "tests.sparkutil.count_jobs")
    try:
        out = fn()
    finally:
        for p, v in saved.items():
            sc.setLocalProperty(p, v)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def record_candidate_plans(monkeypatch):
    """Wrap the escalation rounds' probe expansion: record each round's
    (ring, line count of its analyzed candidate plan)."""
    from metric_search_spark.operators import joins

    seen = []
    expand = joins._expand_probes

    def recording(probes, salts, res, ring_k, build_cells):
        cand = expand(probes, salts, res, ring_k, build_cells)
        tree = cand._jdf.queryExecution().analyzed().treeString()
        seen.append((ring_k, len(tree.splitlines())))
        return cand

    monkeypatch.setattr(joins, "_expand_probes", recording)
    return seen


def far_probe_case():
    """300 points packed into [0, 0.05]², one probe in the far corner at
    (0.99, 0.99) and one inside the cluster: at res=4 the far probe's
    ring-1 to ring-8 windows are empty, so it escalates to the exhaustive
    round while the near one resolves at once."""
    rng = np.random.default_rng(0)
    pts = pd.DataFrame(
        {"id": np.arange(300), "x": 0.05 * rng.random(300), "y": 0.05 * rng.random(300)}
    )
    probes = pd.DataFrame({"id": [10_000, 10_001], "x": [0.99, 0.02], "y": [0.99, 0.03]})
    return pts, probes


def assert_exact(got, records, probes, k):
    """Every probe's rows are the brute-force top-k in (dist, id) order."""
    P = records[["x", "y"]].to_numpy()
    ids = records["id"].to_numpy()
    for _, q in probes.iterrows():
        d = np.sqrt((P[:, 0] - q.x) ** 2 + (P[:, 1] - q.y) ** 2)
        want = sorted(range(len(ids)), key=lambda j: (d[j], ids[j]))[:k]
        grp = got[got["query_id"] == q.id].sort_values("rank")
        assert list(grp["rank"]) == list(range(1, len(want) + 1))
        assert list(grp["neighbor_id"]) == [ids[j] for j in want], q.id
        np.testing.assert_allclose(grp["dist"], d[want], rtol=0, atol=1e-15)
