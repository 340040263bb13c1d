"""Incremental index maintenance: the reference's mutable insert/erase under a
global lock (details/tree.cpp:391-411, 526-582; shared_timed_mutex
tree.hpp:77) re-designed as an **LSM-style delta log over the checkpointed
per-cell tree index** (sources/index.py):

- ``append_delta``   — insert: new rows land in ``path/delta/`` (op='I')
- ``delete_ids``     — erase: tombstone rows (op='D'); like the reference,
                       deleting re-exposes nothing until refresh — probes
                       filter tombstones exactly
- ``knn_probe_live`` — probes see base trees ⊕ delta in one stored-index
                       pass (sources/index.knn_probe_index): the delta rides
                       the per-cell cogroup as an overlay — each cell's tree
                       answers k + (suppressed ids in that cell) and drops
                       them, then a brute pass over the cell's live inserts
                       merges in; the ring guarantee stays exact unchanged
- ``compact_index``  — applies the delta: ONLY cells touched by delta rows
                       are rebuilt (cell-scoped refresh, no global lock
                       analog needed) and the delta is cleared

- ``stream_into_index`` — Structured Streaming entry: readStream source →
  ``writeStream.foreachBatch(append_delta)`` with checkpointLocation, so a
  killed stream resumes from its last committed micro-batch (engine-level
  exactly-once into the delta log).

At 100 TB scale this is the standard write path: high-rate appends hit an
append-only log (no index rewrite per row), reads merge log+base, and
compaction amortizes tree rebuilds per cell range.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from metric_search_spark.functions.spatial import cell_from_xy_col
from metric_search_spark.operators.joins import _clamp01
from metric_search_spark.sources.index import (
    NODE_SCHEMA,
    _build_kernel,
    _knn_probe,
    completed_batches,
    index_meta,
    load_nodes,
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


def _require_local(path: str) -> None:
    """Compaction's delta-clear and GC directory swap are driver-local file
    ops (shutil/os.rename); on an object-store path they would silently
    no-op or corrupt mid-swap — refuse loudly instead. The append/probe
    path is pure Spark IO and works anywhere; only maintenance is local."""
    if "://" in path:
        raise NotImplementedError(
            f"compact_index/_clear_delta require a driver-local filesystem "
            f"path, got {path!r}; object-store deployments need a "
            f"Hadoop-FS-based maintenance variant"
        )


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


def read_delta(spark: SparkSession, path: str) -> DataFrame | None:
    from pyspark.errors import AnalysisException

    try:
        df = spark.read.schema(_DELTA_SCHEMA).parquet(f"{path}/delta")
        df.schema  # force path resolution now, inside the try
        return df
    except AnalysisException as e:
        # ONLY path-missing means "no delta"; a permissions error or a
        # corrupt footer must not silently resurrect deleted records
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            return None
        raise


def _effective_delta(delta: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(live inserts, suppressed ids) under LATEST-OP-WINS semantics: the
    delta log is ordered by ``seq``, so delete→reinsert reinstates the id
    (the reference supports erase-then-insert, tree.cpp:526/391) and a
    reinsert of a base id is an UPDATE. Ties at equal seq (same call, or
    legacy pre-seq rows reading as NULL) resolve to the tombstone.

    Every id the log touches suppresses its base copy: a tombstone removes
    it, and a live row REPLACES it, so the stale copy never competes with
    the fresh one."""
    w = Window.partitionBy("id").orderBy(
        F.col("seq").desc_nulls_last(), F.col("op").asc()
    )
    latest = (
        delta.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    live = latest.where(F.col("op") == "I").select("id", "x", "y")
    return live, delta.select("id").distinct()


def knn_probe_live(
    probes: DataFrame,
    path: str,
    k: int = 10,
    *,
    id_col: str = "id",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """kNN over base-index ⊕ delta in ONE stored-index pass: the delta's
    live inserts and suppressed ids ride the per-cell cover-tree cogroup as
    an overlay (sources.index.knn_probe_index documents the exactness)."""
    delta = read_delta(probes.sparkSession, path)
    return _knn_probe(
        probes,
        path,
        k,
        id_col=id_col,
        x_col=x_col,
        y_col=y_col,
        delta=None if delta is None else _effective_delta(delta),
    )


def compact_index(spark: SparkSession, path: str) -> int:
    """Apply the delta log: rebuild ONLY the cells it touches (cell-scoped
    refresh — the partition-parallel analog of the reference's lock-guarded
    in-place mutation). Returns the number of rebuilt cells."""
    _require_local(path)
    delta = read_delta(spark, path)
    if delta is None:
        return 0
    res, batches, metric_name = index_meta(spark, path)
    # the same suppression knn_probe_live applies, so compaction lands the
    # identical record set
    live, suppress = _effective_delta(delta)
    nodes = load_nodes(spark, path)

    live_c = live.withColumn(
        "cell", cell_from_xy_col(_clamp01(F.col("x")), _clamp01(F.col("y")), res)
    )
    # touched cells = destinations of live rows ∪ CURRENT base cell of every
    # suppressed id: an update that moves a record across cells must rebuild
    # both its old cell (drop the stale copy) and its new one (add the fresh)
    stale_cells = nodes.join(suppress, "id", "left_semi").select("cell")
    touched = (
        live_c.select("cell").unionByName(stale_cells).distinct().persist()
    )
    n_touched = touched.count()
    if n_touched == 0:
        _clear_delta(spark, path)
        touched.unpersist()
        return 0

    # records of touched cells = (base payload − suppressed ids) ∪ live rows
    # — an UPSERT. Re-application is idempotent because the rebuilt content
    # is a pure function of (visible base state, delta): if a crash lands
    # between the manifest commit and the delta clear, the next compaction
    # re-derives the same record set against the already-shadowed cells
    # (live ids are then suppressed from their OWN committed copies and
    # re-added with identical coordinates) instead of duplicating rows
    # (ADVICE r1, medium).
    base_records = (
        nodes.join(touched, "cell", "left_semi")
        .join(suppress, "id", "left_anti")
        .select("id", F.col("vx").alias("_x"), F.col("vy").alias("_y"), "cell")
    )
    # every live destination cell is in `touched` by construction
    new_records = live_c.select(
        "id", F.col("x").alias("_x"), F.col("y").alias("_y"), "cell"
    )
    all_records = base_records.unionByName(new_records)

    kernel = _build_kernel(metric_name)
    rebuilt = all_records.groupBy("cell").applyInPandas(kernel, schema=NODE_SCHEMA)

    # crash-ordering (ADVICE r1, medium):
    #   1. write the new generation's node rows (invisible — nothing lists it)
    #   2. append the manifest_compact row  ← THE commit point: readers now
    #      resolve touched cells to this generation (load_nodes shadows any
    #      older copy per cell, sources/index.py)
    #   3. clear the delta (re-application before this is idempotent, above)
    #   4. GC: strip touched cells from older generations — pure space
    #      reclamation; a crash mid-GC leaves shadowed rows, never data loss
    # MONOTONIC generation id derived from the manifest itself (max existing
    # numeric id + 1) — a wall-clock id could collide within one tick or
    # regress under clock skew, silently inverting per-cell shadowing
    from metric_search_spark.sources.index import compaction_batches

    prev_gens = compaction_batches(spark, path)
    gen = 1 + max(
        (
            int(x.removeprefix("compact"))
            for x in prev_gens
            if x.removeprefix("compact").isdigit()
        ),
        default=0,
    )
    b = f"compact{gen}"
    rebuilt.write.mode("overwrite").parquet(f"{path}/nodes/batch={b}")
    n_new = spark.read.parquet(f"{path}/nodes/batch={b}").count()
    row = spark.createDataFrame(
        [(b, batches, res, metric_name, n_new, 0.0, 0.0)],
        "batch string, batches int, res int, metric string, n_nodes long, "
        "wall_s double, rows_per_sec double",
    )
    # manifest batch ids are ints for build batches; compactions use a string
    # id in a sibling manifest so completed_batches stays int-typed
    row.write.mode("append").parquet(f"{path}/manifest_compact")
    _clear_delta(spark, path)

    # GC pass: rewrite every OLDER generation without the touched cells
    olds = [str(x) for x in sorted(completed_batches(spark, path))]
    olds += [x for x in compaction_batches(spark, path) if x != b]
    for old in olds:
        part = spark.read.parquet(f"{path}/nodes/batch={old}")
        kept = part.join(touched, "cell", "left_anti")
        kept.write.mode("overwrite").parquet(f"{path}/nodes/batch={old}__tmp")
    for old in olds:
        _replace_dir(f"{path}/nodes/batch={old}__tmp", f"{path}/nodes/batch={old}")
    # drop any cached file listings for the replaced directories
    spark.catalog.refreshByPath(f"{path}/nodes")
    for old in olds:
        spark.catalog.refreshByPath(f"{path}/nodes/batch={old}")
    touched.unpersist()
    return n_touched


def _replace_dir(src: str, dst: str) -> None:
    """Two-rename swap matching sources.index.recover_node_dirs: dst→__old,
    src→dst, drop __old. A crash at ANY intermediate point leaves a state
    recover_node_dirs heals on the next load: __old + dst present → drop
    __old; __old alone + __tmp → promote __tmp; __tmp + dst → drop __tmp
    (stale shadowed rows stay shadowed until a later GC reclaims them).
    The previous rmtree(dst)+move had a window where the ONLY live copy of
    a generation was gone."""
    import os
    import shutil

    old = f"{dst}__old"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(dst):
        os.rename(dst, old)
    os.rename(src, dst)
    shutil.rmtree(old, ignore_errors=True)


def _clear_delta(spark: SparkSession, path: str) -> None:
    import shutil

    _require_local(path)
    shutil.rmtree(f"{path}/delta", ignore_errors=True)


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
