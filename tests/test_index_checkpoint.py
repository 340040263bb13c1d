"""Checkpointed index: build → verify invariants → kill/resume equivalence →
kNN probes against stored trees match brute force (SURVEY.md §5 layers 1/3 +
north-rule resumability)."""

from __future__ import annotations

import shutil

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from metric_search_spark.sources.index import (
    build_index,
    completed_batches,
    knn_probe_index,
    load_lineage,
    load_nodes,
    verify_index,
)

from tests.sparkutil import get_spark


@pytest.fixture(scope="module")
def spark():
    return get_spark()


@pytest.fixture()
def table(spark):
    rng = np.random.default_rng(11)
    n = 600
    pdf = pd.DataFrame(
        {"id": np.arange(n), "x": rng.random(n), "y": rng.random(n)}
    )
    return pdf, spark.createDataFrame(pdf)


def test_build_verify_and_lineage(spark, table, tmp_path):
    pdf, df = table
    path = str(tmp_path / "idx")
    build_index(df, path, res=3, batches=4)
    assert completed_batches(spark, path) == {0, 1, 2, 3}
    nodes = load_nodes(spark, path)
    assert nodes.count() == len(pdf)  # every record is a node exactly once
    health = verify_index(spark, path).toPandas()
    assert health["covering_ok"].all()
    assert health["nesting_ok"].all()
    lin = load_lineage(spark, path).toPandas()
    assert lin["n_nodes"].sum() == len(pdf)
    assert (lin["build_ms"] > 0).all()


def test_load_lineage_without_completed_batch(spark, tmp_path):
    with pytest.raises(ValueError, match="no completed batches"):
        load_lineage(spark, str(tmp_path / "never_built"))


def test_kill_resume_equivalence(spark, table, tmp_path):
    pdf, df = table
    p_full = str(tmp_path / "full")
    p_part = str(tmp_path / "part")
    build_index(df, p_full, res=3, batches=4)
    # simulated kill: only 2 of 4 batches commit
    build_index(df, p_part, res=3, batches=4, stop_after=2)
    assert len(completed_batches(spark, p_part)) == 2
    # resume: completes the remaining cell ranges only
    build_index(df, p_part, res=3, batches=4)
    assert completed_batches(spark, p_part) == {0, 1, 2, 3}
    a = load_nodes(spark, p_full).toPandas().sort_values(
        ["cell", "node_id"]).reset_index(drop=True)
    b = load_nodes(spark, p_part).toPandas().sort_values(
        ["cell", "node_id"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_probe_checkpointed_index_matches_bruteforce(spark, table, tmp_path):
    pdf, df = table
    path = str(tmp_path / "idx")
    build_index(df, path, res=3, batches=2)
    probes = spark.createDataFrame(pdf.iloc[:50])
    out = knn_probe_index(probes, path, k=5).toPandas()
    P = pdf[["x", "y"]].to_numpy()
    for qid in range(50):
        d = np.sqrt(((P - P[qid]) ** 2).sum(axis=1))
        want = sorted(range(len(P)), key=lambda j: (d[j], j))[:5]
        got = list(
            out[out["query_id"] == qid].sort_values("rank")["neighbor_id"]
        )
        assert got == want, qid
    shutil.rmtree(path, ignore_errors=True)
