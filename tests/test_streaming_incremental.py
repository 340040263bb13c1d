"""LSM delta/compaction over the checkpointed index + Structured Streaming
ingestion (resumable micro-batch appends)."""

from __future__ import annotations

import os
import shutil
import threading

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from metric_search_spark.operators.joins import KnnJoinStats
from metric_search_spark.sources.index import build_index, load_nodes, verify_index
from metric_search_spark.streaming import incremental
from metric_search_spark.streaming.incremental import (
    append_delta,
    compact_index,
    delete_ids,
    knn_probe_live,
    read_delta,
    stream_into_index,
)

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


def _base(spark, tmp_path, n=300):
    rng = np.random.default_rng(21)
    pdf = pd.DataFrame({"id": np.arange(n), "x": rng.random(n), "y": rng.random(n)})
    path = str(tmp_path / "idx")
    build_index(spark.createDataFrame(pdf), path, res=2, batches=2)
    return pdf, path


def _brute(pdf, probes, k):
    P = pdf[["x", "y"]].to_numpy()
    ids = pdf["id"].to_numpy()
    out = {}
    for _, q in probes.iterrows():
        d = np.sqrt((P[:, 0] - q.x) ** 2 + (P[:, 1] - q.y) ** 2)
        order = sorted(range(len(ids)), key=lambda j: (d[j], ids[j]))[:k]
        out[int(q.id)] = [int(ids[j]) for j in order]
    return out


def test_delta_insert_delete_probe_compact(spark, tmp_path):
    pdf, path = _base(spark, tmp_path)
    rng = np.random.default_rng(22)
    new = pd.DataFrame(
        {"id": np.arange(1000, 1050), "x": rng.random(50), "y": rng.random(50)}
    )
    append_delta(spark.createDataFrame(new), path)
    dead_ids = pdf["id"].iloc[:20]
    delete_ids(spark.createDataFrame(pd.DataFrame({"id": dead_ids})), path)

    effective = pd.concat([pdf.iloc[20:], new]).reset_index(drop=True)
    probes = effective.sample(30, random_state=3)
    want = _brute(effective, probes, 5)

    live = knn_probe_live(
        spark.createDataFrame(probes), path, k=5
    ).toPandas()
    for qid, grp in live.sort_values(["query_id", "rank"]).groupby("query_id"):
        assert list(grp["neighbor_id"]) == want[int(qid)], qid

    # compaction applies the delta and preserves answers + invariants
    n_cells = compact_index(spark, path)
    assert n_cells > 0
    assert read_delta(spark, path) is None
    assert load_nodes(spark, path).count() == len(effective)
    health = verify_index(spark, path).toPandas()
    assert health["covering_ok"].all()
    after = knn_probe_live(spark.createDataFrame(probes), path, k=5).toPandas()
    for qid, grp in after.sort_values(["query_id", "rank"]).groupby("query_id"):
        assert list(grp["neighbor_id"]) == want[int(qid)], qid


def test_compaction_commit_point_and_idempotent_reapply(spark, tmp_path):
    """Crash-atomicity contract (ADVICE r1, medium): after the snapshot
    publish (the commit point) the index must already be consistent —
    BEFORE old generations are GC'd and even if the same delta is applied
    again (idempotence)."""
    pdf, path = _base(spark, tmp_path, n=150)
    rng = np.random.default_rng(31)
    new = pd.DataFrame(
        {"id": np.arange(500, 520), "x": rng.random(20), "y": rng.random(20)}
    )
    append_delta(spark.createDataFrame(new), path)
    delete_ids(
        spark.createDataFrame(pd.DataFrame({"id": pdf["id"].iloc[:10]})), path
    )
    compact_index(spark, path)
    effective = pd.concat([pdf.iloc[10:], new]).reset_index(drop=True)
    assert load_nodes(spark, path).count() == len(effective)

    # the same delta applied twice → re-append the SAME delta and
    # recompact; content must not duplicate
    append_delta(spark.createDataFrame(new), path)
    delete_ids(
        spark.createDataFrame(pd.DataFrame({"id": pdf["id"].iloc[:10]})), path
    )
    compact_index(spark, path)
    nodes = load_nodes(spark, path).toPandas()
    assert len(nodes) == len(effective)
    assert nodes["id"].is_unique
    assert set(nodes["id"]) == set(effective["id"])
    health = verify_index(spark, path).toPandas()
    assert health["covering_ok"].all()

    # one more generation on top: answers must equal brute force on the
    # final effective set
    more = pd.DataFrame(
        {"id": np.arange(600, 610), "x": rng.random(10), "y": rng.random(10)}
    )
    append_delta(spark.createDataFrame(more), path)
    compact_index(spark, path)
    effective = pd.concat([effective, more]).reset_index(drop=True)
    probes = effective.sample(20, random_state=5)
    want = _brute(effective, probes, 4)
    got = knn_probe_live(spark.createDataFrame(probes), path, k=4).toPandas()
    for qid, grp in got.sort_values(["query_id", "rank"]).groupby("query_id"):
        assert list(grp["neighbor_id"]) == want[int(qid)], qid


def test_hot_cell_delete_burst_local_overfetch(spark, tmp_path):
    """VERDICT r2 item 6: a delete burst concentrated in one hot cell stays
    local — the probe ranks the visible record set, in which the burst
    removes rows from the hot cell only, and answers stay exact vs brute
    force."""
    from metric_search_spark.sources.index import _visible
    from metric_search_spark.streaming.incremental import _effective_delta

    rng = np.random.default_rng(44)
    n_hot, n_far = 100, 200
    hot = pd.DataFrame(
        {
            "id": np.arange(n_hot),
            # entirely inside cell (0,0) of the res=2 grid (cells are 0.25)
            "x": 0.02 + 0.2 * rng.random(n_hot),
            "y": 0.02 + 0.2 * rng.random(n_hot),
        }
    )
    far = pd.DataFrame(
        {
            "id": np.arange(1000, 1000 + n_far),
            # right half of the unit square, > one full cell away from hot
            "x": 0.55 + 0.43 * rng.random(n_far),
            "y": rng.random(n_far),
        }
    )
    pdf = pd.concat([hot, far]).reset_index(drop=True)
    path = str(tmp_path / "idx_burst")
    build_index(spark.createDataFrame(pdf), path, res=2, batches=2)

    # the burst: tombstone 80 of the 100 hot-cell rows
    dead_ids = hot["id"].iloc[:80]
    delete_ids(spark.createDataFrame(pd.DataFrame({"id": dead_ids})), path)

    effective = pdf[~pdf["id"].isin(set(dead_ids))].reset_index(drop=True)
    probes = pd.concat(
        [far.sample(30, random_state=7), hot.iloc[90:]]  # 30 far + 10 hot live
    ).reset_index(drop=True)
    want = _brute(effective, probes, 5)
    got = knn_probe_live(spark.createDataFrame(probes), path, k=5).toPandas()
    for qid, grp in got.sort_values(["query_id", "rank"]).groupby("query_id"):
        assert list(grp["neighbor_id"]) == want[int(qid)], qid

    # visibility pin: no tombstoned id is visible, and the hot cell keeps
    # exactly its 20 live rows
    nodes = load_nodes(spark, path)
    hot_rows = nodes.where(F.col("id") < n_hot).select("cell").distinct()
    hot_cells = {r["cell"] for r in hot_rows.collect()}
    assert len(hot_cells) == 1, hot_cells
    vis = _visible(nodes, 2, _effective_delta(read_delta(spark, path))).toPandas()
    assert not set(vis["_id"]) & set(dead_ids)
    hot_vis = vis[vis["_cell"].isin(hot_cells)]
    assert sorted(hot_vis["_id"]) == sorted(hot["id"].iloc[80:])


def _assert_probe_exact(spark, path, effective, probes, k):
    want = _brute(effective, probes, k)
    got = knn_probe_live(spark.createDataFrame(probes), path, k=k).toPandas()
    assert got["query_id"].nunique() == len(probes)
    for qid, grp in got.sort_values(["query_id", "rank"]).groupby("query_id"):
        assert list(grp["neighbor_id"]) == want[int(qid)], qid


def test_live_insert_into_cell_without_base_tree(spark, tmp_path):
    """Live inserts landing in a cell the base index holds no tree for are
    found by probes from that very cell (the overlay alone forms the cell's
    node side)."""
    rng = np.random.default_rng(81)
    # base only in the left half of the res=2 grid: cell (3,3) is empty
    pdf = pd.DataFrame(
        {"id": np.arange(120), "x": 0.45 * rng.random(120), "y": rng.random(120)}
    )
    path = str(tmp_path / "idx_treeless")
    build_index(spark.createDataFrame(pdf), path, res=2, batches=2)
    new = pd.DataFrame(
        {
            "id": np.arange(500, 508),
            "x": 0.76 + 0.22 * rng.random(8),
            "y": 0.76 + 0.22 * rng.random(8),
        }
    )
    append_delta(spark.createDataFrame(new), path)
    effective = pd.concat([pdf, new]).reset_index(drop=True)
    probes = pd.DataFrame({"id": [9001, 9002], "x": [0.8, 0.95], "y": [0.9, 0.8]})
    _assert_probe_exact(spark, path, effective, probes, 3)


def test_fully_tombstoned_cell_escalates(spark, tmp_path):
    """Every base row of the probe's cell is tombstoned, so ring 1 holds
    fewer than k live rows and the probe must escalate to stay exact."""
    rng = np.random.default_rng(82)
    corner = pd.DataFrame(  # cell (0,0) of the res=2 grid
        {"id": np.arange(6), "x": 0.2 * rng.random(6), "y": 0.2 * rng.random(6)}
    )
    near = pd.DataFrame(  # cell (1,1): inside the corner's ring 1
        {"id": [10, 11], "x": [0.3, 0.4], "y": [0.35, 0.45]}
    )
    far = pd.DataFrame(
        {
            "id": np.arange(100, 200),
            "x": 0.55 + 0.43 * rng.random(100),
            "y": rng.random(100),
        }
    )
    pdf = pd.concat([corner, near, far]).reset_index(drop=True)
    path = str(tmp_path / "idx_allgone")
    build_index(spark.createDataFrame(pdf), path, res=2, batches=2)
    delete_ids(spark.createDataFrame(corner[["id"]]), path)
    effective = pd.concat([near, far]).reset_index(drop=True)
    probes = pd.DataFrame({"id": [9001, 9002], "x": [0.05, 0.2], "y": [0.1, 0.02]})
    _assert_probe_exact(spark, path, effective, probes, 5)


def test_k_exceeds_cell_live_rows(spark, tmp_path):
    """k larger than the live rows of a cell that mixes tombstones, an
    update and inserts: the cell returns what it has and the ring
    guarantee pulls the rest from its neighbours."""
    pdf, path = _base(spark, tmp_path, n=150)
    in_cell = pdf[(pdf["x"] < 0.25) & (pdf["y"] < 0.25)]
    dead = in_cell["id"].iloc[:-2]
    delete_ids(spark.createDataFrame(pd.DataFrame({"id": dead})), path)
    upd = in_cell.iloc[-1:].assign(x=0.1, y=0.1)
    new = pd.DataFrame({"id": [800], "x": [0.05], "y": [0.2]})
    append_delta(spark.createDataFrame(pd.concat([upd, new])), path)
    effective = pd.concat(
        [pdf[~pdf["id"].isin({*dead, *upd["id"]})], upd, new]
    ).reset_index(drop=True)
    probes = pd.DataFrame({"id": [9001, 9002], "x": [0.12, 0.2], "y": [0.1, 0.2]})
    _assert_probe_exact(spark, path, effective, probes, 8)


def test_probe_rejects_non_l2_metric_index(spark, tmp_path):
    """ADVICE r1 (low): the stored-index probe must refuse an index whose
    metric can't back the L2 ring guarantee instead of silently returning
    inexact results."""
    from metric_search_spark.sources.index import knn_probe_index

    rng = np.random.default_rng(33)
    pdf = pd.DataFrame({"id": np.arange(40), "x": rng.random(40), "y": rng.random(40)})
    path = str(tmp_path / "idx_l1")
    build_index(spark.createDataFrame(pdf), path, res=1, batches=1, metric="manhattan")
    with pytest.raises(ValueError, match="L2-dominating"):
        knn_probe_index(spark.createDataFrame(pdf.iloc[:5]), path, k=3)


def test_update_and_reinsert_semantics(spark, tmp_path):
    """Latest-op-wins delta semantics: a live insert of a base id is an
    UPDATE (stale base copy suppressed — including a move ACROSS cells),
    delete→reinsert reinstates the id (reference erase-then-insert,
    tree.cpp:526/391), and compaction lands the identical record set."""
    pdf, path = _base(spark, tmp_path, n=200)
    rng = np.random.default_rng(55)

    # update 5 base ids in place (same region) + move 3 across the grid
    upd = pdf.iloc[:8].copy()
    upd.loc[upd.index[:5], ["x", "y"]] = rng.random((5, 2)) * 0.1 + upd.iloc[:5][["x", "y"]].to_numpy() * 0.9
    upd.loc[upd.index[5:], "x"] = 1.0 - upd.iloc[5:]["x"].to_numpy()  # far cell
    upd.loc[upd.index[5:], "y"] = 1.0 - upd.iloc[5:]["y"].to_numpy()
    append_delta(spark.createDataFrame(upd), path)

    # delete two ids, then reinsert ONE of them at new coords
    delete_ids(spark.createDataFrame(pd.DataFrame({"id": [100, 101]})), path)
    reins = pd.DataFrame({"id": [100], "x": [0.5], "y": [0.5]})
    append_delta(spark.createDataFrame(reins), path)

    effective = pdf[~pdf["id"].isin({100, 101, *upd["id"]})]
    effective = pd.concat([effective, upd, reins]).reset_index(drop=True)
    probes = effective.sample(25, random_state=9)
    want = _brute(effective, probes, 5)

    live = knn_probe_live(spark.createDataFrame(probes), path, k=5).toPandas()
    for qid, grp in live.sort_values(["query_id", "rank"]).groupby("query_id"):
        assert list(grp["neighbor_id"]) == want[int(qid)], qid

    n_cells = compact_index(spark, path)
    assert n_cells > 0
    nodes = load_nodes(spark, path).toPandas()
    assert len(nodes) == len(effective)
    assert nodes["id"].is_unique
    merged = nodes.merge(effective, on="id")
    assert np.allclose(merged["vx"], merged["x"])  # fresh coords landed
    assert np.allclose(merged["vy"], merged["y"])
    after = knn_probe_live(spark.createDataFrame(probes), path, k=5).toPandas()
    for qid, grp in after.sort_values(["query_id", "rank"]).groupby("query_id"):
        assert list(grp["neighbor_id"]) == want[int(qid)], qid
    health = verify_index(spark, path).toPandas()
    assert health["covering_ok"].all()


def _mixed_delta(spark, pdf, path, seed):
    """Append 5 updates (moved anywhere, some across cells) and 30 inserts,
    then tombstone 3 base ids and one of the inserts."""
    rng = np.random.default_rng(seed)
    upd = pdf.iloc[:5].assign(x=rng.random(5), y=rng.random(5))
    new = pd.DataFrame({"id": np.arange(700, 730), "x": rng.random(30), "y": rng.random(30)})
    append_delta(spark.createDataFrame(pd.concat([upd, new])), path)
    delete_ids(spark.createDataFrame(pd.DataFrame({"id": [50, 51, 52, 705]})), path)


def test_compaction_lands_the_visible_record_set(spark, tmp_path):
    """Probe and compaction share one record set: after compact_index,
    load_nodes holds exactly the (id, vx, vy) rows, in the same cells,
    that _visible showed the probe before it."""
    from metric_search_spark.sources.index import _visible
    from metric_search_spark.streaming.incremental import _effective_delta

    pdf, path = _base(spark, tmp_path, n=200)
    _mixed_delta(spark, pdf, path, seed=61)
    delta = _effective_delta(read_delta(spark, path))
    before = _visible(load_nodes(spark, path), 2, delta).toPandas()
    assert compact_index(spark, path) > 0
    after = load_nodes(spark, path).toPandas()
    assert len(before) == 200 + 30 - 4
    assert sorted(zip(after["id"], after["cell"], after["vx"], after["vy"])) == sorted(
        zip(before["_id"], before["_cell"], before["_x"], before["_y"])
    )


def test_lineage_after_compaction_matches_visible_nodes(spark, tmp_path):
    """load_lineage is derived from the visible nodes, so after a
    compaction it counts, per cell, exactly the rows the index holds."""
    from metric_search_spark.sources.index import load_lineage

    pdf, path = _base(spark, tmp_path, n=200)
    _mixed_delta(spark, pdf, path, seed=62)
    compact_index(spark, path)
    nodes = load_nodes(spark, path).toPandas()
    want = nodes.groupby("cell").agg(
        n=("id", "size"), max_level=("level", "max"), min_level=("level", "min")
    )
    lin = load_lineage(spark, path).toPandas().set_index("cell").sort_index()
    assert lin["n_nodes"].sum() == len(nodes) == 200 + 30 - 4
    assert list(lin.index) == list(want.index)
    assert (lin["n_nodes"] == want["n"]).all()
    assert (lin["n_rows"] == want["n"]).all()
    assert (lin["max_level"] == want["max_level"]).all()
    assert (lin["min_level"] == want["min_level"]).all()
    assert (lin["build_ms"] > 0).all()


def test_probe_distances_bit_equal_numpy(spark, tmp_path):
    """The stored-index probe measures with the kernels' one distance
    expression: knn_probe_index and knn_probe_live distances equal numpy
    sqrt(dx*dx + dy*dy) bit for bit. Few rows per cell, so most answers
    span several cells and every kind of stored row is measured."""
    from metric_search_spark.sources.index import knn_probe_index

    pdf, path = _base(spark, tmp_path, n=60)
    rng = np.random.default_rng(63)
    probes = pd.DataFrame({"id": np.arange(9000, 9100), "x": rng.random(100), "y": rng.random(100)})

    def assert_bit_equal(got, records):
        q = probes.set_index("id").loc[got["query_id"]]
        r = records.set_index("id").loc[got["neighbor_id"]]
        dx = q["x"].to_numpy() - r["x"].to_numpy()
        dy = q["y"].to_numpy() - r["y"].to_numpy()
        np.testing.assert_array_equal(got["dist"].to_numpy(), np.sqrt(dx * dx + dy * dy))

    assert_bit_equal(knn_probe_index(spark.createDataFrame(probes), path, k=6).toPandas(), pdf)
    new = pd.DataFrame({"id": np.arange(800, 840), "x": rng.random(40), "y": rng.random(40)})
    append_delta(spark.createDataFrame(new), path)
    got = knn_probe_live(spark.createDataFrame(probes), path, k=6).toPandas()
    assert got["neighbor_id"].isin(new["id"]).any()
    assert_bit_equal(got, pd.concat([pdf, new]))


def test_far_probe_rounds_exact_plan_constant(spark, tmp_path, monkeypatch):
    """knn_probe_index and knn_probe_live (with a delta) escalate a probe
    far from every record through ring 1, 2, 4, 8 and the exhaustive
    round of knn_join's rounds. Answers stay exact in (dist, id) order, and
    every escalation round's candidate plan has the size of the first: each
    plans over the materialised unresolved probes (the plan used to triple
    per round)."""
    from metric_search_spark.sources.index import knn_probe_index

    pts, probes = far_probe_case()
    path = str(tmp_path / "idx_far")
    build_index(spark.createDataFrame(pts), path, res=4, batches=1)
    seen = record_candidate_plans(monkeypatch)
    stats = KnnJoinStats()
    got = knn_probe_index(
        spark.createDataFrame(probes), path, k=5, stats=stats
    ).toPandas()
    assert_exact(got, pts, probes, 5)
    assert stats.rounds[0] == {"ring_k": 1, "unresolved": 1}, stats.rounds

    new = pd.DataFrame({"id": [900, 901], "x": [0.06, 0.3], "y": [0.07, 0.2]})
    append_delta(spark.createDataFrame(new), path)
    delete_ids(spark.createDataFrame(pd.DataFrame({"id": [0, 1, 2]})), path)
    stats = KnnJoinStats()
    got = knn_probe_live(
        spark.createDataFrame(probes), path, k=5, stats=stats
    ).toPandas()
    assert_exact(got, pd.concat([pts.iloc[3:], new]), probes, 5)
    assert stats.rounds[0] == {"ring_k": 1, "unresolved": 1}, stats.rounds

    # per call: ring 1 is the halo kernel (no probe expansion), then the
    # escalation rounds (ring 2, 4, 8) over a leaf, then the exhaustive one
    assert [r for r, _ in seen] == [2, 4, 8, 16] * 2
    for call in (seen[:4], seen[4:]):
        lines = [n for _, n in call[:3]]
        assert lines == [lines[0]] * 3, seen


def test_k_above_every_visible_row(spark, tmp_path):
    """k larger than the whole visible record set: after ring 1 and 2 the
    probe reaches the exhaustive round, which ranks every occupied cell,
    and returns exactly the live rows in (dist, id) order."""
    pdf = pd.DataFrame(
        {"id": np.arange(6), "x": [0.05, 0.1, 0.3, 0.6, 0.8, 0.95],
         "y": [0.9, 0.1, 0.5, 0.2, 0.7, 0.05]}
    )
    path = str(tmp_path / "idx_small")
    build_index(spark.createDataFrame(pdf), path, res=2, batches=2)
    delete_ids(spark.createDataFrame(pd.DataFrame({"id": [2, 4]})), path)
    new = pd.DataFrame({"id": [40], "x": [0.5], "y": [0.5]})
    append_delta(spark.createDataFrame(new), path)
    visible = pd.concat([pdf[~pdf["id"].isin([2, 4])], new])
    probes = pd.DataFrame({"id": [9001, 9002, 9003], "x": [0.0, 0.5, 0.99], "y": [0.0, 0.45, 0.99]})
    got = knn_probe_live(spark.createDataFrame(probes), path, k=8).toPandas()
    assert (got.groupby("query_id").size() == len(visible)).all()
    assert_exact(got, visible, probes, 8)


def _cycle(spark, path, rng, ids, compact=True):
    """Append rows ``ids`` at random coords (then compact); returns them."""
    rows = pd.DataFrame({"id": ids, "x": rng.random(len(ids)), "y": rng.random(len(ids))})
    append_delta(spark.createDataFrame(rows), path)
    if compact:
        compact_index(spark, path)
    return rows


def _node_dirs(path):
    return sorted(os.listdir(f"{path}/nodes"))


def test_crash_after_generation_write_before_publish(spark, tmp_path, monkeypatch):
    """A compaction that dies after writing its generation but before the
    snapshot publish changes no answer; the next compaction's GC reclaims
    the orphan generation."""
    pdf, path = _base(spark, tmp_path, n=150)
    rng = np.random.default_rng(66)
    dirs_before = _node_dirs(path)

    def crash(path, snap):
        raise RuntimeError("crash before publish")

    monkeypatch.setattr(incremental, "_publish", crash)
    new = _cycle(spark, path, rng, np.arange(700, 720), compact=False)
    with pytest.raises(RuntimeError, match="crash before publish"):
        compact_index(spark, path)
    orphans = set(_node_dirs(path)) - set(dirs_before)
    assert len(orphans) == 1, orphans
    effective = pd.concat([pdf, new]).reset_index(drop=True)
    assert read_delta(spark, path).count() == len(new)  # nothing applied
    _assert_probe_exact(spark, path, effective, effective.sample(15, random_state=2), 4)

    monkeypatch.undo()
    assert compact_index(spark, path) > 0
    assert not orphans & set(_node_dirs(path))
    assert read_delta(spark, path) is None
    _assert_probe_exact(spark, path, effective, effective.sample(15, random_state=2), 4)


def test_crash_mid_gc(spark, tmp_path, monkeypatch):
    """A compaction that dies halfway through its GC (one stale node dir
    deleted, the rest left) changes no answer; the next GC finishes."""
    pdf, path = _base(spark, tmp_path, n=150)
    rng = np.random.default_rng(67)
    first = _cycle(spark, path, rng, np.arange(700, 710))
    real_rmtree = shutil.rmtree
    calls = []

    def rmtree_then_crash(p, *a, **kw):
        calls.append(p)
        if len(calls) > 1:
            raise RuntimeError("crash mid-GC")
        real_rmtree(p, *a, **kw)

    second = _cycle(spark, path, rng, np.arange(710, 720), compact=False)
    monkeypatch.setattr(shutil, "rmtree", rmtree_then_crash)
    with pytest.raises(RuntimeError, match="crash mid-GC"):
        compact_index(spark, path)
    monkeypatch.undo()
    assert len(calls) == 2  # the two build batches were due for deletion
    effective = pd.concat([pdf, first, second]).reset_index(drop=True)
    assert read_delta(spark, path) is None  # the publish had committed
    probes = effective.sample(15, random_state=4)
    _assert_probe_exact(spark, path, effective, probes, 4)

    third = _cycle(spark, path, rng, np.arange(720, 725))
    assert len(_node_dirs(path)) == 2
    effective = pd.concat([effective, third]).reset_index(drop=True)
    _assert_probe_exact(spark, path, effective, probes, 4)


def test_snapshot_versions_order_numerically(spark, tmp_path):
    """Eleven build batches publish v1..v11: the reader must take v11, not
    the lexicographically larger v9, and a compaction publishes v12 and
    keeps only the snapshots its GC rule needs."""
    from metric_search_spark.sources.index import completed_batches, index_meta

    rng = np.random.default_rng(77)
    pdf = pd.DataFrame({"id": np.arange(80), "x": rng.random(80), "y": rng.random(80)})
    path = str(tmp_path / "idx")
    build_index(spark.createDataFrame(pdf), path, res=2, batches=11)
    assert set(os.listdir(f"{path}/snapshot")) == {f"v{i}.json" for i in range(1, 12)}
    assert completed_batches(spark, path) == set(range(11))
    assert index_meta(spark, path) == (2, 11, "euclidean")
    new = _cycle(spark, path, rng, np.arange(900, 905))
    assert sorted(os.listdir(f"{path}/snapshot")) == ["v11.json", "v12.json"]
    assert completed_batches(spark, path) == set(range(11))
    effective = pd.concat([pdf, new]).reset_index(drop=True)
    assert load_nodes(spark, path).count() == len(effective)


def test_compaction_keeps_rows_appended_while_it_runs(spark, tmp_path, monkeypatch):
    """A row appended after compaction listed the delta is not applied by
    that compaction and must not be cleared with the rows it did apply."""
    pdf, path = _base(spark, tmp_path, n=150)
    rng = np.random.default_rng(68)
    new = _cycle(spark, path, rng, np.arange(700, 710), compact=False)
    late = pd.DataFrame({"id": [9999], "x": [0.5], "y": [0.5]})
    real = incremental._effective_delta

    def append_then_apply(delta):
        append_delta(spark.createDataFrame(late), path)
        return real(delta)

    monkeypatch.setattr(incremental, "_effective_delta", append_then_apply)
    compact_index(spark, path)
    monkeypatch.undo()
    left = read_delta(spark, path).toPandas()
    assert left["id"].tolist() == [9999]
    effective = pd.concat([pdf, new, late]).reset_index(drop=True)
    probes = pd.DataFrame({"id": [9001, 9002], "x": [0.5, 0.52], "y": [0.5, 0.49]})
    _assert_probe_exact(spark, path, effective, probes, 3)


def test_probe_pinned_before_compaction_survives_it(spark, tmp_path, monkeypatch):
    """A knn_probe_live that pinned snapshot N runs to completion while
    compact_index publishes N+1 and GCs, and matches brute force."""
    pdf, path = _base(spark, tmp_path, n=150)
    rng = np.random.default_rng(69)
    first = _cycle(spark, path, rng, np.arange(700, 710))
    delete_ids(spark.createDataFrame(pd.DataFrame({"id": pdf["id"].iloc[:5]})), path)
    second = _cycle(spark, path, rng, np.arange(710, 720), compact=False)
    effective = pd.concat([pdf.iloc[5:], first, second]).reset_index(drop=True)
    probes = effective.sample(15, random_state=6)
    real = incremental._effective_delta
    pinned, compacted = threading.Event(), threading.Event()
    box = {}

    def hold_probe(delta):
        if threading.current_thread().name == "probe":
            pinned.set()  # snapshot pinned and delta listed
            assert compacted.wait(300)
        return real(delta)

    def probe():
        try:
            box["got"] = knn_probe_live(spark.createDataFrame(probes), path, k=4).toPandas()
        except Exception as e:  # noqa: BLE001 — re-raised on the main thread
            box["err"] = e

    monkeypatch.setattr(incremental, "_effective_delta", hold_probe)
    t = threading.Thread(target=probe, name="probe")
    t.start()
    try:
        assert pinned.wait(300)
        dirs_before = set(_node_dirs(path))
        assert compact_index(spark, path) > 0
        assert dirs_before - set(_node_dirs(path))  # the GC deleted something
    finally:
        compacted.set()
        t.join(300)
    assert not t.is_alive()
    if "err" in box:
        raise box["err"]
    want = _brute(effective, probes, 4)
    for qid, grp in box["got"].sort_values(["query_id", "rank"]).groupby("query_id"):
        assert list(grp["neighbor_id"]) == want[int(qid)], qid


def test_unreadable_snapshot_raises(spark, tmp_path):
    """A truncated newest snapshot must raise — read as "no index" or as
    an older version it would bring deleted rows back."""
    pdf, path = _base(spark, tmp_path, n=60)
    delete_ids(spark.createDataFrame(pd.DataFrame({"id": [1, 2]})), path)
    newest = max(os.listdir(f"{path}/snapshot"), key=lambda f: int(f[1:-5]))
    f = f"{path}/snapshot/{newest}"
    with open(f, "rb") as fh:
        data = fh.read()
    with open(f, "wb") as fh:
        fh.write(data[: len(data) // 2])
    probes = spark.createDataFrame(pdf.iloc[:3])
    for call in (
        lambda: load_nodes(spark, path),
        lambda: knn_probe_live(probes, path, k=3),
        lambda: compact_index(spark, path),
    ):
        with pytest.raises(RuntimeError, match="unreadable index snapshot"):
            call()


def test_never_built_path_raises(spark, tmp_path):
    path = str(tmp_path / "never_built")
    probes = spark.createDataFrame(pd.DataFrame({"id": [1], "x": [0.5], "y": [0.5]}))
    for call in (
        lambda: load_nodes(spark, path),
        lambda: knn_probe_live(probes, path, k=3),
        lambda: compact_index(spark, path),
    ):
        with pytest.raises(ValueError, match="no completed batches"):
            call()


def test_clean_probe_jobs_flat_across_compactions(spark, tmp_path):
    """Each compaction replaces the visible index with one generation, so
    a clean probe costs the same Spark jobs after the 3rd compaction as
    after the 1st, and at most two node generations stay on disk."""
    pdf, path = _base(spark, tmp_path, n=300)
    rng = np.random.default_rng(70)
    probes = spark.createDataFrame(pdf.iloc[:10])
    jobs = []
    for cycle in range(3):
        _cycle(spark, path, rng, np.arange(800 + 10 * cycle, 810 + 10 * cycle))
        _, n = count_jobs(
            spark, lambda: knn_probe_live(probes, path, k=3).collect()
        )
        jobs.append(n)
        # the build batches are one generation, each compaction one more
        gens = {d if d.startswith("gen=") else "build" for d in _node_dirs(path)}
        assert len(gens) <= 2, gens
    assert jobs[2] == jobs[0], jobs


def test_probe_jobs_and_stats(spark, tmp_path):
    """A ring-1-resolving stored-index probe runs knn_join's halo kernel
    once: at most 10 Spark jobs for a clean knn_probe_index and 12 for a
    knn_probe_live with a delta, collect included (measured when the probe
    took knn_join's round 1, local[4]; 13 and 16 before). ``stats`` records
    the index resolution and the one round."""
    from metric_search_spark.sources.index import knn_probe_index

    pdf, path = _base(spark, tmp_path, n=300)
    probes_t = pdf.sample(10, random_state=5)
    probes = spark.createDataFrame(probes_t)
    stats = KnnJoinStats()
    rows, jobs = count_jobs(
        spark, lambda: knn_probe_index(probes, path, k=3, stats=stats).collect()
    )
    assert (stats.n_build, stats.resolution) == (0, 2)
    assert stats.rounds == [{"ring_k": 1, "unresolved": 0}]
    assert jobs <= 10, jobs
    assert_exact(pd.DataFrame([r.asDict() for r in rows]), pdf, probes_t, 3)

    rng = np.random.default_rng(71)
    new = _cycle(spark, path, rng, np.arange(900, 920), compact=False)
    delete_ids(spark.createDataFrame(pd.DataFrame({"id": pdf["id"].iloc[:5]})), path)
    stats = KnnJoinStats()
    rows, jobs = count_jobs(
        spark, lambda: knn_probe_live(probes, path, k=3, stats=stats).collect()
    )
    assert stats.rounds == [{"ring_k": 1, "unresolved": 0}]
    assert jobs <= 12, jobs
    visible = pd.concat([pdf.iloc[5:], new])
    assert_exact(pd.DataFrame([r.asDict() for r in rows]), visible, probes_t, 3)


def test_probe_result_outlives_the_files_it_read(spark, tmp_path):
    """A probe result is materialised: after two compactions, whose GC
    deletes the build batches and the delta files it read, it still
    collects to the brute-force answer."""
    from metric_search_spark.sources.index import _data_files

    pdf, path = _base(spark, tmp_path, n=200)
    rng = np.random.default_rng(72)
    new = _cycle(spark, path, rng, np.arange(700, 720), compact=False)
    visible = pd.concat([pdf, new])
    probes_t = visible.sample(12, random_state=8)
    out = knn_probe_live(spark.createDataFrame(probes_t), path, k=4)

    def files():
        return set(_node_dirs(path)) | set(_data_files(f"{path}/delta"))

    read = files()
    _cycle(spark, path, rng, np.arange(720, 725))
    _cycle(spark, path, rng, np.arange(725, 730))
    assert not read & files()
    assert_exact(out.toPandas(), visible, probes_t, 4)


def test_compact_refuses_object_store_paths(spark):
    with pytest.raises(NotImplementedError, match="driver-local"):
        compact_index(spark, "s3://bucket/idx")


def test_probe_live_empty_probes(spark, tmp_path):
    """Zero probes + nonzero tombstones: the probe returns an empty result
    instead of IndexError-ing."""
    pdf, path = _base(spark, tmp_path, n=60)
    delete_ids(spark.createDataFrame(pd.DataFrame({"id": pdf["id"].iloc[:5]})), path)
    empty = spark.createDataFrame([], "id long, x double, y double")
    out = knn_probe_live(empty, path, k=3)
    assert out.count() == 0
    assert set(out.columns) >= {"query_id", "neighbor_id", "dist"}


def test_stream_ingestion_available_now(spark, tmp_path):
    pdf, path = _base(spark, tmp_path, n=200)
    src = tmp_path / "stream_src"
    src.mkdir()
    rng = np.random.default_rng(23)
    for chunk in range(2):
        rows = pd.DataFrame(
            {
                "id": np.arange(2000 + 25 * chunk, 2000 + 25 * (chunk + 1)),
                "x": rng.random(25),
                "y": rng.random(25),
            }
        )
        rows.to_parquet(src / f"chunk{chunk}.parquet")
    stream = spark.readStream.schema("id long, x double, y double").parquet(str(src))
    q = stream_into_index(stream, path, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    delta = read_delta(spark, path)
    assert delta is not None and delta.count() == 50
    # restart with no new files: checkpoint prevents reprocessing
    stream2 = spark.readStream.schema("id long, x double, y double").parquet(str(src))
    q2 = stream_into_index(stream2, path, str(tmp_path / "ckpt"))
    q2.awaitTermination(120)
    assert read_delta(spark, path).count() == 50
