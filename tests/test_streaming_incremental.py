"""LSM delta/compaction over the checkpointed index + Structured Streaming
ingestion (resumable micro-batch appends)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from metric_search_spark.sources.index import build_index, load_nodes, verify_index
from metric_search_spark.streaming.incremental import (
    append_delta,
    compact_index,
    delete_ids,
    knn_probe_live,
    read_delta,
    stream_into_index,
)

from tests.sparkutil import get_spark


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
    """Crash-atomicity contract (ADVICE r1, medium): after the
    manifest_compact append (the commit point) the index must already be
    consistent — BEFORE old generations are GC'd (shadowing) and even if the
    delta log survives and is re-applied (idempotence)."""
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

    # simulate the crash window: delta survives the commit → re-append the
    # SAME delta and recompact; content must not duplicate
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

    # shadowing: a new generation with a stale older copy still un-GC'd —
    # emulate by appending another insert batch and compacting; answers must
    # equal brute force on the final effective set
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
    """VERDICT r2 item 6: a delete burst concentrated in one hot cell must
    not inflate every probe's base fetch — the burst's suppressed rows land
    in the hot cell's overlay only, so far cells fetch exactly k, only the
    hot cell over-fetches (by its own tombstone count), and answers stay
    exact vs brute force."""
    from metric_search_spark.sources.index import _SUPPRESSED, _delta_overlay
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

    # fetch-pressure pin: a cell's tree answers k + (its overlay's
    # suppressed rows), so all 80 tombstones must sit in the hot cell's
    # overlay and no far cell may carry an overlay row at all
    nodes = load_nodes(spark, path)
    hot_rows = nodes.where(F.col("id") < n_hot).select("cell").distinct()
    hot_cells = {r["cell"] for r in hot_rows.collect()}
    assert len(hot_cells) == 1, hot_cells
    live, suppress = _effective_delta(read_delta(spark, path))
    overlay = _delta_overlay(nodes, live, suppress, res=2).toPandas()
    assert set(overlay["cell"]) == hot_cells, overlay
    assert (overlay["kind"] == _SUPPRESSED).all(), overlay
    assert sorted(overlay["id"]) == sorted(dead_ids)


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


def test_gc_swap_crash_recovery(spark, tmp_path):
    """recover_node_dirs heals every intermediate state of _replace_dir's
    two-rename GC swap; answers and node counts are unchanged after each
    simulated crash."""
    import os
    import shutil

    from metric_search_spark.sources.index import recover_node_dirs

    pdf, path = _base(spark, tmp_path, n=150)
    rng = np.random.default_rng(66)
    new = pd.DataFrame({"id": np.arange(700, 720), "x": rng.random(20), "y": rng.random(20)})
    append_delta(spark.createDataFrame(new), path)
    compact_index(spark, path)
    n_total = load_nodes(spark, path).count()
    nodes_dir = f"{path}/nodes"
    victim = f"{nodes_dir}/batch=0"

    # state A: crash between rename(dst→old) and rename(tmp→dst), no tmp
    # written yet — the ORIGINAL copy must come back
    os.rename(victim, f"{victim}__old")
    recover_node_dirs(path)
    assert os.path.isdir(victim) and not os.path.isdir(f"{victim}__old")
    assert load_nodes(spark, path).count() == n_total

    # state B: crash after the GC rewrite but before any rename — a stray
    # __tmp with the final present is dropped
    shutil.copytree(victim, f"{victim}__tmp")
    recover_node_dirs(path)
    assert not os.path.isdir(f"{victim}__tmp")
    assert load_nodes(spark, path).count() == n_total

    # state C: crash between the two renames WITH the tmp present — the new
    # (GC'd) copy is promoted
    shutil.copytree(victim, f"{victim}__tmp")
    os.rename(victim, f"{victim}__old")
    recover_node_dirs(path)
    assert os.path.isdir(victim)
    assert not os.path.isdir(f"{victim}__old") and not os.path.isdir(f"{victim}__tmp")
    spark.catalog.refreshByPath(nodes_dir)
    assert load_nodes(spark, path).count() == n_total

    # state D: crash after rename(tmp→dst) but before dropping __old —
    # post-swap garbage is deleted, dst untouched
    shutil.copytree(victim, f"{victim}__old")
    recover_node_dirs(path)
    assert not os.path.isdir(f"{victim}__old")
    assert load_nodes(spark, path).count() == n_total


def test_generations_monotonic_and_numeric_order(spark, tmp_path):
    """Generation ids come from the manifest (max+1), and compaction_batches
    orders them NUMERICALLY — 'compact10' must shadow 'compact9', which
    lexicographic name order would invert."""
    from metric_search_spark.sources.index import compaction_batches

    pdf, path = _base(spark, tmp_path, n=80)
    rng = np.random.default_rng(77)
    for i in range(2):
        rows = pd.DataFrame(
            {"id": [900 + i], "x": [rng.random()], "y": [rng.random()]}
        )
        append_delta(spark.createDataFrame(rows), path)
        compact_index(spark, path)
    gens = compaction_batches(spark, path)
    assert gens == ["compact1", "compact2"]

    # numeric-vs-lexicographic pin: seed manifest rows named compact9/10
    extra = spark.createDataFrame(
        [(f"compact{g}", 2, 2, "euclidean", 0, 0.0, 0.0) for g in (10, 9)],
        "batch string, batches int, res int, metric string, n_nodes long, "
        "wall_s double, rows_per_sec double",
    )
    extra.write.mode("append").parquet(f"{path}/manifest_compact")
    gens = compaction_batches(spark, path)
    assert gens == ["compact1", "compact2", "compact9", "compact10"]


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
