"""End-to-end Spark tests for the two-stage kNN / range joins vs a numpy
brute-force oracle (FIXTURES.md F4 engine property: per-partition kNN join
results equal brute force; mirrors the reference's knn/rnn golden tests at
/root/reference/tests/test_api.cpp:40-65 lifted to set-oriented joins)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from metric_search_spark.cells import coords_from_phash
from metric_search_spark.operators.joins import KnnJoinStats, knn_join, range_join
from metric_search_spark.sources.synth import lite_rows_for_ids

from tests.sparkutil import get_spark


@pytest.fixture(scope="module")
def spark():
    return get_spark()


def _image_probe_frames(spark, n=400, n_probes=60):
    pdf = lite_rows_for_ids(np.arange(n), seed=42)
    x, y = coords_from_phash(pdf["phash"].to_numpy())
    tbl = pd.DataFrame(
        {
            "id": pdf["image_id"],
            "vec": [[a, b] for a, b in zip(x, y)],
            "x": x,
            "y": y,
        }
    )
    build = spark.createDataFrame(tbl)
    probes = spark.createDataFrame(tbl.iloc[:n_probes])
    return tbl, build, probes


def _brute_knn(P, B, pids, bids, k):
    """Oracle: ties by id, ascending (dist, id)."""
    out = {}
    for i, p in enumerate(P):
        d = np.sqrt(((B - p) ** 2).sum(axis=1))
        order = sorted(range(len(B)), key=lambda j: (round(d[j], 12), bids[j]))[:k]
        out[pids[i]] = [(bids[j], d[j]) for j in order]
    return out


def test_knn_join_matches_bruteforce(spark):
    tbl, build, probes = _image_probe_frames(spark)
    stats = KnnJoinStats()
    res = knn_join(
        probes, build, k=5, res=3, target_per_cell=32, stats=stats
    ).toPandas()
    V = np.asarray(list(tbl["vec"]), dtype=np.float64)
    oracle = _brute_knn(V[:60], V, list(tbl["id"][:60]), list(tbl["id"]), 5)
    assert set(res["query_id"]) == set(oracle)
    for qid, grp in res.sort_values(["query_id", "rank"]).groupby("query_id"):
        got = list(zip(grp["neighbor_id"], grp["dist"]))
        want = oracle[qid]
        assert [g[0] for g in got] == [w[0] for w in want], qid
        np.testing.assert_allclose(
            [g[1] for g in got], [w[1] for w in want], atol=1e-9
        )


def test_knn_join_salting_exact(spark):
    """All rows in one hot cell → salting splits it; results stay exact."""
    rng = np.random.default_rng(7)
    n = 300
    x = 0.4 + 0.01 * rng.random(n)  # everything in one res-3 cell
    y = 0.4 + 0.01 * rng.random(n)
    tbl = pd.DataFrame(
        {"id": np.arange(n), "vec": [[a, b] for a, b in zip(x, y)], "x": x, "y": y}
    )
    df = spark.createDataFrame(tbl)
    out = knn_join(df, df, k=3, res=3, salt_threshold=50).toPandas()
    V = np.stack([x, y], axis=1)
    oracle = _brute_knn(V[:20], V, list(range(n)), list(range(n)), 3)
    for qid in range(20):
        grp = out[out["query_id"] == qid].sort_values("rank")
        assert list(grp["neighbor_id"]) == [w[0] for w in oracle[qid]]


def test_knn_join_highdim_projection(spark):
    """64-d L2 metric indexed by a contractive 2-D projection (first two dims
    scaled into [0,1)) stays exact via the coord_scale guarantee."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    lo, hi = -4.0, 4.0  # generous fixed bounds for the projection axes
    emb2 = emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("vec"),
        ((F.element_at("embedding", 1) - lo) / (hi - lo)).cast("double").alias("x"),
        ((F.element_at("embedding", 2) - lo) / (hi - lo)).cast("double").alias("y"),
    )
    out = knn_join(
        emb2, emb2, k=5, res=2, coord_scale=(hi - lo), target_per_cell=64
    ).toPandas()
    pdf = emb.toPandas()
    V = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    ids = list(pdf["vec_id"])
    oracle = _brute_knn(V, V, ids, ids, 5)
    assert len(out) == len(ids) * 5
    for qid, grp in out.sort_values(["query_id", "rank"]).groupby("query_id"):
        assert list(grp["neighbor_id"]) == [w[0] for w in oracle[qid]], qid


def test_knn_join_res0_single_cell(spark):
    """Regression: res=0 (single-cell grid) must still produce results —
    the k-ring literal's type must group with long cell ids in the cogroup."""
    import pandas as pd

    rng = np.random.default_rng(13)
    b = pd.DataFrame({"id": np.arange(50), "x": rng.random(50), "y": rng.random(50)})
    p = pd.DataFrame({"id": np.arange(100, 110), "x": rng.random(10), "y": rng.random(10)})
    out = knn_join(
        spark.createDataFrame(p), spark.createDataFrame(b), k=5, vec_col=None, res=0
    ).toPandas()
    assert len(out) == 50
    B = b[["x", "y"]].to_numpy()
    for _, q in p.iterrows():
        d = np.sqrt(((B - [q.x, q.y]) ** 2).sum(axis=1))
        want = sorted(range(50), key=lambda j: (d[j], j))[:5]
        got = list(
            out[out["query_id"] == q.id].sort_values("rank")["neighbor_id"]
        )
        assert got == want


def test_knn_join_escalation_2d_fast_path(spark):
    """Regression (ADVICE r1, high): a probe left unresolved after ring 1 on
    the 2-D fast path (vec_col=None, no _vec column) must survive the
    escalation rounds — including the exhaustive cross-join round — instead
    of dying on a missing-column AnalysisException."""
    import pandas as pd

    # one lone point in the (0,0) corner cell, a 30-point cluster in the
    # opposite corner: at res=2 (4×4 grid) the loner's ring-1 (and ring-2)
    # candidate set is just itself, forcing the exhaustive escalation round
    xs = np.concatenate(([0.05], 0.87 + 0.1 * np.linspace(0, 1, 30)))
    ys = np.concatenate(([0.05], 0.93 - 0.09 * np.linspace(0, 1, 30)))
    df = spark.createDataFrame(
        pd.DataFrame({"id": np.arange(31), "x": xs, "y": ys})
    )
    stats = KnnJoinStats()
    out = knn_join(
        df, df, k=5, vec_col=None, res=2, salt_threshold=8, stats=stats
    ).toPandas()
    assert len(out) == 31 * 5
    assert any(r.get("unresolved", 0) > 0 for r in stats.rounds), stats.rounds
    P = np.column_stack((xs, ys))
    for qid in range(31):
        d = np.sqrt(((P - P[qid]) ** 2).sum(axis=1))
        want = sorted(range(31), key=lambda j: (d[j], j))[:5]
        got = list(out[out["query_id"] == qid].sort_values("rank")["neighbor_id"])
        assert got == want, qid


def _record_candidate_plans(monkeypatch):
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


def _far_probe_case():
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


def _assert_exact(got, records, probes, k):
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


def test_knn_join_far_probe_rounds_plan_constant(spark, monkeypatch):
    """A probe far from every build row escalates through ring 2, 4, 8 and
    the exhaustive round. Answers stay exact, and every window round plans
    over the materialised unresolved probes, so its candidate plan has the
    same size as the first escalation round's (it used to triple)."""
    pts, probes = _far_probe_case()
    seen = _record_candidate_plans(monkeypatch)
    stats = KnnJoinStats()
    got = knn_join(
        spark.createDataFrame(probes), spark.createDataFrame(pts), k=5,
        vec_col=None, res=4, stats=stats,
    ).toPandas()
    _assert_exact(got, pts, probes, 5)
    assert stats.rounds == [
        {"ring_k": 1, "unresolved": 1},
        {"ring_k": 2, "unresolved": 1},
        {"ring_k": 4, "unresolved": 1},
        {"ring_k": 8, "unresolved": 1},
        {"ring_k": 16, "exhaustive": True},
    ]
    assert [r for r, _ in seen] == [2, 4, 8, 16]
    window_lines = [n for r, n in seen if r < 16]
    assert window_lines == [window_lines[0]] * 3, seen


def test_knn_join_res0_grid_plan_multichunk(spark):
    """The res=0 brute-force tier must stay exact when it splits into
    multiple probe × build chunks (bounded-memory block grid + window
    merge), including with a high-dim vec column."""
    import pandas as pd

    rng = np.random.default_rng(7)
    n = 120
    V = rng.normal(size=(n, 8))
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "id": np.arange(n),
                "vec": [list(v) for v in V],
                "x": rng.random(n),
                "y": rng.random(n),
            }
        )
    )
    stats = KnnJoinStats()
    out = knn_join(df, df, k=4, res=0, grid_chunk_rows=32, stats=stats).toPandas()
    assert stats.rounds[0]["plan"] == "grid"
    assert stats.rounds[0]["bparts"] == 4 and stats.rounds[0]["pparts"] == 4
    assert len(out) == n * 4
    for qid in range(n):
        d = np.sqrt(((V - V[qid]) ** 2).sum(axis=1))
        want = sorted(range(n), key=lambda j: (round(d[j], 12), j))[:4]
        got = list(out[out["query_id"] == qid].sort_values("rank")["neighbor_id"])
        assert got == want, qid


def test_range_join_matches_bruteforce(spark):
    tbl, build, probes = _image_probe_frames(spark, n=300, n_probes=40)
    r = 0.05
    out = range_join(probes, build, r, res=3).toPandas()
    V = np.asarray(list(tbl["vec"]), dtype=np.float64)
    got = {(q, n) for q, n in zip(out["query_id"], out["neighbor_id"])}
    want = set()
    for i in range(40):
        d = np.sqrt(((V - V[i]) ** 2).sum(axis=1))
        for j in np.nonzero(d < r)[0]:  # STRICT <, reference rnn quirk
            want.add((tbl["id"][i], tbl["id"][j]))
    assert got == want
