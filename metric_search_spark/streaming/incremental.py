"""Incremental index maintenance: the reference's mutable insert/erase under a
global lock (details/tree.cpp:391-411, 526-582; shared_timed_mutex
tree.hpp:77) re-designed as an **LSM-style delta log over the checkpointed
per-cell tree index** (sources/index.py):

- ``append_delta``   — insert: new rows land in ``path/delta/`` (op='I')
- ``delete_ids``     — erase: tombstone rows (op='D'); like the reference,
                       deleting re-exposes nothing until refresh — probes
                       filter tombstones exactly
- ``knn_probe_live`` — probes see base ⊕ delta in one stored-index pass
                       (sources/index.knn_probe_index) over the visible
                       record set (sources/index._visible: stored rows minus
                       suppressed ids, plus live inserts in their cells),
                       through knn_join's ring-1 halo kernel and escalation;
                       the ring guarantee stays exact unchanged
- ``compact_index``  — applies the delta: ONLY cells touched by delta rows
                       are rebuilt from that same visible record set
                       (cell-scoped refresh, no global lock
                       analog needed), written with the untouched cells as
                       one new generation, and ONE snapshot publish both
                       swaps it in and marks the delta files it read as
                       applied — rows appended meanwhile stay in the log

- ``stream_into_index`` — Structured Streaming entry: readStream source →
  ``writeStream.foreachBatch(append_delta)`` with checkpointLocation, so a
  killed stream resumes from its last committed micro-batch (engine-level
  exactly-once into the delta log).

At 100 TB scale this is the standard write path: high-rate appends hit an
append-only log (no index rewrite per row), reads merge log+base, and
compaction amortizes tree rebuilds per cell range.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from metric_search_spark.operators.joins import KnnJoinStats
from metric_search_spark.sources.index import (
    _VERSION,
    NODE_SCHEMA,
    _build_kernel,
    _data_files,
    _inserts,
    _knn_probe,
    _load_nodes,
    _pinned,
    _publish,
    _snapshot,
    _visible,
)

__all__ = [
    "append_delta",
    "delete_ids",
    "read_delta",
    "knn_probe_live",
    "compact_index",
    "stream_into_index",
]

_DELTA_SCHEMA = "id long, x double, y double, op string, seq long"


def append_delta(
    df: DataFrame,
    path: str,
    *,
    id_col: str = "id",
    x_col: str = "x",
    y_col: str = "y",
) -> None:
    """Insert rows into the index's delta log (append-only parquet). Each
    call stamps one ``seq`` — within a single call, at most one op per id
    is meaningful (duplicates tie-break deterministically but arbitrarily)."""
    df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(x_col).cast("double").alias("x"),
        F.col(y_col).cast("double").alias("y"),
        F.lit("I").alias("op"),
        F.lit(time.time_ns()).alias("seq"),
    ).write.mode("append").parquet(f"{path}/delta")


def delete_ids(df: DataFrame, path: str, *, id_col: str = "id") -> None:
    """Erase records by id: tombstones in the delta log (reference erase,
    tree.cpp:526-582, as a table-level MERGE-delete)."""
    df.select(
        F.col(id_col).cast("long").alias("id"),
        F.lit(None).cast("double").alias("x"),
        F.lit(None).cast("double").alias("y"),
        F.lit("D").alias("op"),
        F.lit(time.time_ns()).alias("seq"),
    ).write.mode("append").parquet(f"{path}/delta")


def _delta_files(path: str, snap: dict | None) -> list[str]:
    """Names of the delta files not yet folded into ``snap``'s nodes."""
    applied = set(snap["delta_applied"]) if snap else set()
    try:
        names = _data_files(f"{path}/delta")
    except FileNotFoundError:
        return []
    return [n for n in names if n not in applied]


def _delta_frame(spark: SparkSession, path: str, files: list[str]) -> DataFrame:
    return spark.read.schema(_DELTA_SCHEMA).parquet(
        *(f"{path}/delta/{n}" for n in files)
    )


def read_delta(spark: SparkSession, path: str) -> DataFrame | None:
    """The delta rows the newest snapshot has not applied, or None."""
    files = _delta_files(path, _snapshot(path))
    return _delta_frame(spark, path, files) if files else None


def _effective_delta(delta: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(live inserts, suppressed ids) under LATEST-OP-WINS semantics: the
    delta log is ordered by ``seq``, so delete→reinsert reinstates the id
    (the reference supports erase-then-insert, tree.cpp:526/391) and a
    reinsert of a base id is an UPDATE. Ties at equal seq (same call, or
    legacy pre-seq rows reading as NULL) resolve to the tombstone.

    Every id the log touches suppresses its base copy: a tombstone removes
    it, and a live row REPLACES it, so the stale copy never competes with
    the fresh one. The suppressed ids may repeat: their consumers (the
    probe's anti-join, compaction's semi-join) are set operations."""
    w = Window.partitionBy("id").orderBy(
        F.col("seq").desc_nulls_last(), F.col("op").asc()
    )
    latest = (
        delta.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    live = latest.where(F.col("op") == "I").select("id", "x", "y")
    return live, delta.select("id")


def knn_probe_live(
    probes: DataFrame,
    path: str,
    k: int = 10,
    *,
    id_col: str = "id",
    x_col: str = "x",
    y_col: str = "y",
    stats: KnnJoinStats | None = None,
) -> DataFrame:
    """kNN over base-index ⊕ delta in ONE stored-index pass over the
    visible record set (sources.index.knn_probe_index documents the
    exactness and ``stats``).
    Pins one snapshot, then lists the delta files it has not applied."""
    spark = probes.sparkSession
    snap = _pinned(path, "knn_probe_live")
    files = _delta_files(path, snap)
    return _knn_probe(
        probes,
        path,
        snap,
        k,
        id_col=id_col,
        x_col=x_col,
        y_col=y_col,
        delta=_effective_delta(_delta_frame(spark, path, files)) if files else None,
        stats=stats,
    )


def compact_index(spark: SparkSession, path: str) -> int:
    """Apply the delta log: rebuild ONLY the cells it touches (cell-scoped
    refresh — the partition-parallel analog of the reference's lock-guarded
    in-place mutation). Returns the number of rebuilt cells."""
    snap = _pinned(path, "compact_index")
    files = _delta_files(path, snap)
    if not files:
        return 0
    res = snap["res"]
    live, suppress = _effective_delta(_delta_frame(spark, path, files))
    nodes = _load_nodes(spark, path, snap)

    # touched cells = destinations of live rows ∪ CURRENT base cell of every
    # suppressed id: an update that moves a record across cells must rebuild
    # both its old cell (drop the stale copy) and its new one (add the fresh)
    stale_cells = nodes.join(suppress, "id", "left_semi").select("cell")
    touched = (
        _inserts(live, res).select(F.col("_cell").alias("cell"))
        .unionByName(stale_cells)
        .distinct()
        .persist()
    )
    # crash-ordering — the snapshot publish is the ONE commit point:
    #   1. write the new generation: every visible node row, touched cells
    #      rebuilt (invisible — no snapshot names it yet)
    #   2. publish snapshot N+1 naming only that generation and marking the
    #      delta files read above as applied ← THE commit point: readers
    #      switch to the rebuilt cells and stop reading those files at once
    #   3. GC what neither N nor N+1 reads, so a reader pinned to N survives
    #      this compaction. A crash before 2 leaves an orphan generation and
    #      a crash in 3 leaves garbage; the next compaction's GC reclaims
    #      both, and answers never change
    try:
        n_touched = touched.count()
        new_nodes = snap["nodes"]
        if n_touched:
            # records of touched cells = the visible set the probe ranks
            # (stored − suppressed ids ∪ live rows; every live destination
            # cell is in `touched` by construction) — an UPSERT. Applying
            # the same delta twice (say it is appended again after a
            # commit) is idempotent: the rebuilt content is a pure function
            # of (visible base state, delta), so live ids are suppressed
            # from their OWN committed copies and re-added with identical
            # coordinates instead of duplicated
            rebuilt = (
                _visible(
                    nodes.join(touched, "cell", "left_semi"), res, (live, suppress)
                )
                .withColumnRenamed("_id", "id")
                .groupBy("_cell")
                .applyInPandas(_build_kernel(snap["metric"]), schema=NODE_SCHEMA)
            )
            gen = f"nodes/gen={snap['version'] + 1}-{uuid.uuid4().hex[:8]}"
            nodes.join(touched, "cell", "left_anti").unionByName(
                rebuilt
            ).write.parquet(f"{path}/{gen}")
            new_nodes = [gen]
    finally:
        touched.unpersist()
    new = {
        **snap,
        "version": snap["version"] + 1,
        "nodes": new_nodes,
        # files applied earlier stay listed until the GC below deletes them
        "delta_applied": files
        + [n for n in snap["delta_applied"] if os.path.exists(f"{path}/delta/{n}")],
    }
    _publish(path, new)
    _gc(path, snap, new)
    return n_touched


def _gc(path: str, prev: dict, new: dict) -> None:
    """Delete what neither snapshot ``prev`` nor ``new`` reads: other node
    dirs, the delta files ``prev`` had already applied, and older
    snapshots."""
    keep = set(prev["nodes"]) | set(new["nodes"])
    for d in os.listdir(f"{path}/nodes"):
        if f"nodes/{d}" not in keep:
            shutil.rmtree(f"{path}/nodes/{d}")
    for n in prev["delta_applied"]:
        for f in (n, f".{n}.crc"):
            with contextlib.suppress(FileNotFoundError):
                os.remove(f"{path}/delta/{f}")
    for f in os.listdir(f"{path}/snapshot"):
        m = _VERSION.fullmatch(f)
        if m and int(m[1]) < prev["version"]:
            os.remove(f"{path}/snapshot/{f}")


def stream_into_index(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    *,
    id_col: str = "id",
    x_col: str = "x",
    y_col: str = "y",
    trigger_available_now: bool = True,
):
    """Structured Streaming writer: micro-batches append to the delta log;
    the stream checkpoint makes ingestion resumable (killed stream restarts
    from the last committed batch)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        append_delta(batch_df, path, id_col=id_col, x_col=x_col, y_col=y_col)

    writer = stream_df.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
