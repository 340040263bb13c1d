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

from tests.sparkutil import (
    assert_exact,
    count_jobs,
    far_probe_case,
    get_spark,
    record_candidate_plans,
)


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


def test_knn_join_far_probe_rounds_plan_constant(spark, monkeypatch):
    """A probe far from every build row escalates through ring 2, 4, 8 and
    the exhaustive round. Answers stay exact, and every window round plans
    over the materialised unresolved probes, so its candidate plan has the
    same size as the first escalation round's (it used to triple)."""
    pts, probes = far_probe_case()
    seen = record_candidate_plans(monkeypatch)
    stats = KnnJoinStats()
    got = knn_join(
        spark.createDataFrame(probes), spark.createDataFrame(pts), k=5,
        vec_col=None, res=4, stats=stats,
    ).toPandas()
    assert_exact(got, pts, probes, 5)
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


def test_knn_join_rejects_max_rounds_below_one(spark):
    """max_rounds < 1 would leave every probe ring 1 cannot resolve
    without an escalation round, i.e. silently drop it: it raises."""
    pts, probes = far_probe_case()
    with pytest.raises(ValueError, match="max_rounds"):
        knn_join(
            spark.createDataFrame(probes), spark.createDataFrame(pts), k=5,
            vec_col=None, res=4, max_rounds=0,
        )


def _xy_frame(spark, ids, xs, ys):
    tbl = pd.DataFrame(
        {
            "id": np.asarray(ids, dtype=np.int64),
            "vec": [[float(a), float(b)] for a, b in zip(xs, ys)],
            "x": np.asarray(xs, dtype=np.float64),
            "y": np.asarray(ys, dtype=np.float64),
        }
    )
    return tbl, spark.createDataFrame(tbl)


def test_knn_join_empty_halo_probe_escalates_exact(spark):
    """A probe whose 3×3 halo holds no build row comes out of the round-1
    kernel unresolved (empty arrays, ``_ok`` false) instead of vanishing,
    escalates and gets the exact answer; the full-vector (``_vec``) path."""
    rng = np.random.default_rng(5)
    bx, by = 0.26 + 0.06 * rng.random(60), 0.26 + 0.06 * rng.random(60)
    build_t, build = _xy_frame(spark, np.arange(60), bx, by)
    # (0.55, 0.55) sits in res-3 cell (4, 4): ring 1 spans [0.375, 0.75)²
    # and holds nothing; (0.3, 0.3) is inside the cluster
    probes_t, probes = _xy_frame(spark, [500, 501], [0.55, 0.3], [0.55, 0.3])
    stats = KnnJoinStats()
    got = knn_join(probes, build, k=4, res=3, stats=stats).toPandas()
    assert stats.rounds[0] == {"ring_k": 1, "unresolved": 1}, stats.rounds
    assert_exact(got, build_t, probes_t, 4)


def test_knn_join_kth_on_guarantee_radius_stays_unresolved(spark):
    """Dyadic on-grid coordinates put the kth distance EXACTLY on the ring-1
    guarantee radius (0.375 at res 2 for a probe at (0.375, 0.375)). The
    verdict is strict, so the probe escalates and the outside point at the
    same distance with the smaller id wins the tie, as brute force says."""
    # id 5 is inside ring 1 (cell (1, 0)); id 2 is outside (cell (3, 1))
    build_t, build = _xy_frame(spark, [5, 2], [0.375, 0.75], [0.0, 0.375])
    probes_t, probes = _xy_frame(spark, [100], [0.375], [0.375])
    stats = KnnJoinStats()
    got = knn_join(
        probes, build, k=1, vec_col=None, res=2, stats=stats
    ).toPandas()
    assert stats.rounds == [
        {"ring_k": 1, "unresolved": 1},
        {"ring_k": 2, "unresolved": 0},
    ]
    assert list(got["neighbor_id"]) == [2] and list(got["dist"]) == [0.375]
    assert_exact(got, build_t, probes_t, 1)


def test_kernel_verdict_equals_guarantee_col(spark):
    """The round-1 kernel's ``_ok`` is the ``_guarantee_col`` verdict, for
    probes on cell borders and outside [0, 1), and its numpy guarantee
    radius is bit-identical to the Column one."""
    from metric_search_spark.cells import ring_guarantee_radius
    from metric_search_spark.core.metrics import get_metric
    from metric_search_spark.operators import joins

    res, k, scale = 3, 3, 0.75
    rng = np.random.default_rng(11)
    _, build = _xy_frame(spark, np.arange(300), rng.random(300), rng.random(300))
    edges = [-0.3, 0.0, 0.125, 0.25, 0.5, 0.625, 0.875, 1.0 - 2.0**-31, 1.0, 1.4]
    gx, gy = np.meshgrid(edges, edges)
    px = np.concatenate([gx.ravel(), rng.random(40)])
    py = np.concatenate([gy.ravel(), rng.random(40)])
    _, probes = _xy_frame(spark, 1000 + np.arange(len(px)), px, py)
    build_c = joins._prepare(build, "id", None, "x", "y", res)
    probes_c = joins._prepare(probes, "id", None, "x", "y", res)
    packed = joins._ranked_group_topk_arrays(
        joins._pack_probes(joins._with_salt(probes_c, None)),
        joins._halo_build_packed(build_c, None, res, 1),
        get_metric("euclidean"),
        k,
        "bigint",
        "bigint",
        res=res,
        need=k,
        coord_scale=scale,
    )
    guar = joins._guarantee_col(res, 1)
    want = F.coalesce(
        F.when(F.size("_dists") >= k, F.element_at("_dists", k))
        < guar * F.lit(scale),
        F.lit(False),
    )
    got = (
        packed.join(
            probes_c.select(F.col("_id").alias("query_id"), "_x", "_y"),
            "query_id",
        )
        .select("query_id", "_x", "_y", "_ok", want.alias("want"), guar.alias("g"))
        .toPandas()
    )
    assert len(got) == len(px)
    assert got["_ok"].any() and not got["_ok"].all()
    assert (got["_ok"] == got["want"]).all()
    c = np.clip(got[["_x", "_y"]].to_numpy(), 0.0, 1.0 - 2.0**-31)
    np.testing.assert_array_equal(
        ring_guarantee_radius(c[:, 0], c[:, 1], res, 1), got["g"].to_numpy()
    )


def test_range_join_one_hot_cell_exact(spark):
    """Every row in one hot cell: the probes split across salt buckets, the
    halo fans out to each, and the pairs equal brute force."""
    from metric_search_spark.operators import joins

    rng = np.random.default_rng(9)
    n, r = 300, 0.002
    x = 0.4 + 0.01 * rng.random(n)  # everything in one res-3 cell
    y = 0.4 + 0.01 * rng.random(n)
    tbl, df = _xy_frame(spark, np.arange(n), x, y)
    hot = joins._hot_cells(joins._prepare(df, "id", "vec", "x", "y", 3), 50)
    assert [row["n_salt"] for row in hot.collect()] == [6]
    out = range_join(df, df, r, res=3, salt_threshold=50).toPandas()
    got = set(zip(out["query_id"], out["neighbor_id"]))
    V = np.column_stack((x, y))
    want = set()
    for i in range(n):
        d = np.sqrt(((V - V[i]) ** 2).sum(axis=1))
        want |= {(i, j) for j in np.nonzero(d < r)[0]}
    assert len(want) > n
    assert got == want


def test_knn_join_escalation_hot_build_cell_exact(spark):
    """The far probe escalates against a salted build side: the cluster's
    cell is hot (300 rows, threshold 50), so every escalation round fans the
    probe out to the cell's salt buckets. Both probes stay exact."""
    pts, probes = far_probe_case()
    stats = KnnJoinStats()
    got = knn_join(
        spark.createDataFrame(probes), spark.createDataFrame(pts), k=5,
        vec_col=None, res=4, salt_threshold=50, stats=stats,
    ).toPandas()
    assert stats.rounds[0] == {"ring_k": 1, "unresolved": 1}
    assert stats.rounds[-1].get("exhaustive"), stats.rounds
    assert_exact(got, pts, probes, 5)


def test_ring1_knn_join_no_hot_cell_jobs(spark):
    """A ring-1-only knn_join on a table with no hot cell broadcasts no
    salt table into the kernel's plan and runs at most the 13 Spark jobs
    measured when the round-1 verdict moved into the kernel: the build
    count, the hot-cell aggregate, the kernel's shuffles and one count of
    the unresolved flags (local[4])."""
    rng = np.random.default_rng(3)
    n = 2000
    tbl = pd.DataFrame({"id": np.arange(n), "x": rng.random(n), "y": rng.random(n)})
    probes_t = tbl.iloc[:100]
    build, probes = spark.createDataFrame(tbl), spark.createDataFrame(probes_t)
    stats = KnnJoinStats()
    out, jobs = count_jobs(
        spark,
        lambda: knn_join(probes, build, k=3, vec_col=None, res=3, stats=stats),
    )
    assert stats.rounds == [{"ring_k": 1, "unresolved": 0}]
    plan = out._msk_plan._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" not in plan, plan
    assert jobs <= 13, jobs
    assert_exact(out.toPandas(), tbl, probes_t, 3)


def test_far_probe_knn_join_jobs(spark):
    """The far-probe case (ring 1, 2, 4, 8, then the exhaustive round) runs
    at most the 55 Spark jobs measured when the round-1 verdict moved into
    the kernel and each hot-cell table came to be aggregated once
    (local[4])."""
    pts, probes = far_probe_case()
    stats = KnnJoinStats()
    out, jobs = count_jobs(
        spark,
        lambda: knn_join(
            spark.createDataFrame(probes), spark.createDataFrame(pts), k=5,
            vec_col=None, res=4, stats=stats,
        ),
    )
    assert len(stats.rounds) == 5, stats.rounds
    assert jobs <= 55, jobs
    assert_exact(out.toPandas(), pts, probes, 5)
