"""Checkpointed per-cell cover-tree index: build / resume / probe / verify.

The reference keeps ONE mutable in-memory cover tree (details/tree.hpp:53-236)
and serializes it as a pre-order node stream (details/tree.cpp:1014-1080).
This engine's index is **partition-parallel**: one immutable cover tree per
Morton cell, built inside ``applyInPandas`` and flattened to a node table
(the same field set the reference serializes — base/level/parent_dist/ID/data,
tree.cpp:143-147 — plus parent/child-position links replacing pointers).

Layout under ``path/``:

    nodes/batch=<i>/...parquet   per-cell node rows for one cell-range batch
    nodes/gen=<v>-<hex>/...      one compaction generation: every visible
                                 node row as of snapshot v
                                 (streaming.incremental.compact_index)
    snapshot/v<N>.json           index metadata, one file per version: res,
                                 batches, metric, the completed build batches
                                 (wall_s, n_nodes), the node dirs that make up
                                 the visible index and the delta files already
                                 folded into them

**Snapshots**: readers pin the newest version (versions order numerically)
with a plain driver-side file read — no Spark job — and never rename or
delete anything. Writers publish version N+1 by exclusive create, so a
reader never sees a half-written file and two writers cannot both commit
the same version. An unreadable snapshot raises; read as "empty" it would
silently bring deleted rows back.

**Resumability (north rule)**: the cell space is split into ``batches``
contiguous Morton prefix ranges; each batch commits atomically (Spark job
commit) and then publishes a snapshot that adds it — the publish is the
batch's commit point. A killed job resumes by skipping the batches the
newest snapshot lists — only incomplete cell ranges are rebuilt.
Per-cell lineage (``load_lineage``) is derived from the visible node rows
and each batch's build wall time in the snapshot, so it stays true after
every compaction.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metric_search_spark.core.covertree import CoverTree
from metric_search_spark.core.metrics import get_metric
from metric_search_spark.functions.spatial import with_xy_cell
from metric_search_spark.operators.joins import (
    _MAX_ROUNDS,
    KnnJoinStats,
    _clamp01,
    _knn_rounds,
)

NODE_SCHEMA = (
    "cell long, node_id int, parent_id int, child_pos int, level int, "
    "parent_dist double, sub_radius double, rec_id long, id long, "
    "vx double, vy double"
)

_VERSION = re.compile(r"v(\d+)\.json")


@dataclass
class IndexInfo:
    path: str
    res: int
    batches: int
    metric: str


def _batch_col(cell: F.Column, res: int, batches: int) -> F.Column:
    """Contiguous Morton-prefix range id in [0, batches): the 'cell range'
    unit of resumability.

    Pure integer arithmetic — floor(prefix·batches / 2^(2res)) via shift
    (ADVICE r1: the double form loses precision past 2^53 at res≥27 and
    could round the top prefixes to an out-of-range batch id, silently
    dropping rows from the index); clamped defensively to batches−1."""
    prefix = cell.bitwiseAND(F.lit((1 << 56) - 1))
    if batches > (1 << 62 - 2 * res):
        raise ValueError(f"batches={batches} overflows prefix math at res={res}")
    b = F.shiftright(prefix * F.lit(batches), 2 * res).cast("int")
    return F.least(b, F.lit(batches - 1))


def _build_kernel(metric_name: str):
    metric = get_metric(metric_name)

    def fn(key, pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("id", kind="mergesort")  # deterministic insert order
        pts = np.column_stack(
            (pdf["_x"].to_numpy(np.float64), pdf["_y"].to_numpy(np.float64))
        )
        tree = CoverTree(metric)
        tree.insert_batch(list(pts))
        rows = tree.to_rows()
        ids = pdf["id"].to_numpy()
        out = pd.DataFrame(
            {
                "cell": np.int64(key[0]),
                "node_id": np.asarray([r["node_id"] for r in rows], dtype=np.int32),
                "parent_id": np.asarray(
                    [r["parent_id"] for r in rows], dtype=np.int32
                ),
                "child_pos": np.asarray(
                    [r["child_pos"] for r in rows], dtype=np.int32
                ),
                "level": np.asarray([r["level"] for r in rows], dtype=np.int32),
                "parent_dist": [r["parent_dist"] for r in rows],
                "sub_radius": [r["sub_radius"] for r in rows],
                "rec_id": np.asarray([r["rec_id"] for r in rows], dtype=np.int64),
                # rec_id == insertion position == position in the id-sorted pdf
                "id": ids[[r["rec_id"] for r in rows]],
                "vx": [float(r["data"][0]) for r in rows],
                "vy": [float(r["data"][1]) for r in rows],
            }
        )
        return out

    return fn


def _lineage_from_nodes(nodes: DataFrame) -> DataFrame:
    return nodes.groupBy("cell").agg(
        F.count("*").alias("n_nodes"),
        F.count("*").alias("n_rows"),
        F.max("level").alias("max_level"),
        F.min("level").alias("min_level"),
    )


def build_index(
    df: DataFrame,
    path: str,
    *,
    res: int,
    batches: int = 8,
    id_col: str = "id",
    x_col: str = "x",
    y_col: str = "y",
    metric: str = "euclidean",
    stop_after: int | None = None,
) -> IndexInfo:
    """Build (or RESUME building) the per-cell tree index at ``path``.

    ``stop_after`` limits how many incomplete batches this invocation builds
    (used by the kill/resume tests to simulate a job dying mid-run; a real
    kill between batch commits leaves the same state).
    """
    spark = df.sparkSession
    prepared = with_xy_cell(
        df.select(
            F.col(id_col).cast("long").alias("id"),
            F.col(x_col).cast("double").alias("_x"),
            F.col(y_col).cast("double").alias("_y"),
        ),
        _clamp01(F.col("_x")),
        _clamp01(F.col("_y")),
        res,
    ).withColumn("batch", _batch_col(F.col("cell"), res, batches))

    snap = _snapshot(path) or {
        "version": 0, "built": [], "nodes": [], "delta_applied": []
    }
    done = {e["batch"] for e in snap["built"]}
    todo = [b for b in range(batches) if b not in done]
    if stop_after is not None:
        todo = todo[:stop_after]

    # Stage the prepared projection ONCE, partitioned by batch. Three wins:
    # (1) one source scan for all N batch builds instead of N (at 10⁹ rows
    # the per-batch re-scan was the dominant build cost); (2) the per-batch
    # filter becomes partition PRUNING on a directory column — without the
    # stage, predicate pushdown re-inlined the full quantize+interleave cell
    # tree into the scan Filter and pushed the fused stage past Janino's
    # 64 KB method limit ('Code grows beyond 64 KB'), silently dropping the
    # whole build stage to interpreted execution; (3) resume after a kill
    # reuses the staged table (job-commit _SUCCESS marker) — no rescan.
    staged_path = f"{path}/staged"
    if todo:
        if not os.path.exists(f"{staged_path}/_SUCCESS"):
            prepared.write.mode("overwrite").partitionBy("batch").parquet(
                staged_path
            )
        # the known schema skips an inference job, and reads an empty stage
        staged = spark.read.schema(prepared.schema).parquet(staged_path)

    kernel = _build_kernel(metric)
    for b in todo:
        t0 = time.time()
        part = staged.where(F.col("batch") == b)
        nodes = part.groupBy("cell").applyInPandas(kernel, schema=NODE_SCHEMA)
        nodes.write.mode("overwrite").parquet(f"{path}/nodes/batch={b}")
        wall = time.time() - t0
        n_nodes = _parquet_rows(f"{path}/nodes/batch={b}")
        snap = {
            **snap,
            "version": snap["version"] + 1,
            "res": int(res),
            "batches": int(batches),
            "metric": metric,
            "built": snap["built"]
            + [{"batch": int(b), "wall_s": round(wall, 3), "n_nodes": n_nodes}],
            "nodes": snap["nodes"] + [f"nodes/batch={b}"],
        }
        _publish(path, snap)  # the commit point for the batch
    return IndexInfo(path=path, res=res, batches=batches, metric=metric)


def _data_files(d: str) -> list[str]:
    """Names of the data files Spark wrote into dir ``d`` (Spark's hidden
    files — _SUCCESS, _temporary/, .crc — are not data)."""
    return sorted(n for n in os.listdir(d) if n[0] not in "._")


def _parquet_rows(d: str) -> int:
    """Row count of a parquet dir, summed from its file footers on the
    driver — no Spark job."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f"{d}/{n}").num_rows for n in _data_files(d))


def _require_local(path: str) -> None:
    """Snapshots are published and read with driver-local file ops
    (exclusive create, listdir); an object-store path would need a
    Hadoop-FS-based variant — refuse loudly instead of misreading it."""
    if "://" in path:
        raise NotImplementedError(
            f"index metadata requires a driver-local filesystem path, got "
            f"{path!r}; object-store deployments need a Hadoop-FS-based "
            f"snapshot store"
        )


def _snapshot(path: str) -> dict | None:
    """The newest published snapshot, or None if none was ever published."""
    _require_local(path)
    try:
        names = os.listdir(f"{path}/snapshot")
    except FileNotFoundError:
        return None
    versions = [int(m[1]) for n in names if (m := _VERSION.fullmatch(n))]
    if not versions:
        return None
    f = f"{path}/snapshot/v{max(versions)}.json"
    try:
        with open(f) as fh:
            return json.load(fh)
    except ValueError as e:  # a corrupt file is never "no index"
        raise RuntimeError(f"unreadable index snapshot {f!r}") from e


def _pinned(path: str, caller: str) -> dict:
    snap = _snapshot(path)
    if snap is None:
        raise ValueError(
            f"{caller}: no completed batches at {path!r} — index never built"
        )
    return snap


def _publish(path: str, snap: dict) -> None:
    """Commit ``snap`` as version ``snap['version']``: write a temp file,
    fsync it, then hard-link it to its final name. The link is the
    exclusive create — it fails if a concurrent writer already published
    that version — and readers only ever see complete files."""
    d = f"{path}/snapshot"
    os.makedirs(d, exist_ok=True)
    final = f"{d}/v{snap['version']}.json"
    tmp = f"{d}/.{uuid.uuid4().hex}.tmp"
    try:
        with open(tmp, "w") as fh:
            json.dump(snap, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.link(tmp, final)
    except FileExistsError as e:
        raise RuntimeError(
            f"snapshot {final!r} was published by a concurrent writer"
        ) from e
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.remove(tmp)
    fd = os.open(d, os.O_RDONLY)
    try:
        os.fsync(fd)  # make the new directory entry durable
    finally:
        os.close(fd)


def completed_batches(spark: SparkSession, path: str) -> set[int]:
    snap = _snapshot(path)
    return set() if snap is None else {e["batch"] for e in snap["built"]}


def index_meta(spark: SparkSession, path: str) -> tuple[int, int, str]:
    snap = _pinned(path, "index_meta")
    return snap["res"], snap["batches"], snap["metric"]


def _load_nodes(spark: SparkSession, path: str, snap: dict) -> DataFrame:
    return spark.read.schema(NODE_SCHEMA).parquet(
        *(f"{path}/{d}" for d in snap["nodes"])
    )


def load_nodes(spark: SparkSession, path: str) -> DataFrame:
    """Node rows of the visible index: the node dirs the newest snapshot
    names (build batches, or the one generation the last compaction
    wrote). Each cell lives in exactly one of them."""
    return _load_nodes(spark, path, _pinned(path, "load_nodes"))


def load_lineage(spark: SparkSession, path: str) -> DataFrame:
    """Per-cell metrics of the visible index (cell, n_nodes, n_rows,
    max_level, min_level, build_ms), derived from its node rows; build_ms
    is the wall time of the build batch that holds the cell (the
    snapshot's ``built[].wall_s``, looked up by ``_batch_col(cell)``)."""
    snap = _pinned(path, "load_lineage")
    build_ms = F.create_map(
        *(F.lit(v) for e in snap["built"] for v in (e["batch"], e["wall_s"] * 1e3))
    )
    batch = _batch_col(F.col("cell"), snap["res"], snap["batches"])
    return _lineage_from_nodes(_load_nodes(spark, path, snap)).withColumn(
        "build_ms", build_ms[batch]
    )


def verify_index(spark: SparkSession, path: str) -> DataFrame:
    """Per-cell invariant check on the checkpointed trees (reference
    check_covering, tree.cpp:842-870, plus nesting): returns one row per cell
    with boolean flags; all-true == healthy index."""
    snap = _pinned(path, "verify_index")
    nodes = _load_nodes(spark, path, snap)
    metric = get_metric(snap["metric"])

    def fn(key, pdf):
        import pandas as pd

        tree = _tree_from_pdf(pdf, metric)
        return pd.DataFrame(
            {
                "cell": [int(key[0])],
                "covering_ok": [tree.check_covering()],
                "nesting_ok": [tree.check_nesting()],
                "n_nodes": [len(pdf)],
            }
        )

    return nodes.groupBy("cell").applyInPandas(
        fn, schema="cell long, covering_ok boolean, nesting_ok boolean, n_nodes long"
    )


def _tree_from_pdf(pdf, metric) -> CoverTree:
    import numpy as np

    rows = [
        {
            "node_id": int(r.node_id),
            "parent_id": int(r.parent_id),
            "child_pos": int(r.child_pos),
            "level": int(r.level),
            "parent_dist": float(r.parent_dist),
            "sub_radius": float(r.sub_radius),
            "rec_id": int(r.rec_id),
            "data": np.array([r.vx, r.vy]),
        }
        for r in pdf.itertuples()
    ]
    return CoverTree.from_rows(rows, metric)


def _inserts(live: DataFrame, res: int) -> DataFrame:
    """Live delta inserts (id, x, y) as (_cell, _id, _x, _y), keyed by their
    clamped cell — the cell build_index would give them."""
    return with_xy_cell(
        live.select(
            F.col("id").alias("_id"), F.col("x").alias("_x"), F.col("y").alias("_y")
        ),
        _clamp01(F.col("_x")),
        _clamp01(F.col("_y")),
        res,
        out="_cell",
    )


def _visible(
    nodes: DataFrame, res: int, delta: tuple[DataFrame, DataFrame] | None
) -> DataFrame:
    """The visible record set as (_cell, _id, _x, _y): stored node rows ⋉̸
    the delta's suppressed ids, ∪ its live inserts keyed by their clamped
    cell. ``delta`` = (live inserts with id/x/y, suppressed ids), or None
    for the stored rows alone. The probe ranks this set and compaction
    rebuilds its touched cells from it, so both see the same records."""
    stored = nodes.select(
        F.col("cell").alias("_cell"),
        F.col("id").alias("_id"),
        F.col("vx").alias("_x"),
        F.col("vy").alias("_y"),
    )
    if delta is None:
        return stored
    live, suppress = delta
    return stored.join(
        F.broadcast(suppress.select(F.col("id").alias("_id"))), "_id", "left_anti"
    ).unionByName(_inserts(live, res))


def knn_probe_index(
    probes: DataFrame,
    path: str,
    k: int = 10,
    *,
    id_col: str = "id",
    x_col: str = "x",
    y_col: str = "y",
    stats: KnnJoinStats | None = None,
) -> DataFrame:
    """kNN against the CHECKPOINTED index, through knn_join's rounds
    (operators.joins._knn_rounds). Round 1 is knn_join's packed ring-1
    halo kernel: each probe meets the stored cells of the 3×3 window
    around its own, ranked with the flat kernel (distances
    ``sqrt(dx*dx + dy*dy)``), and the kernel flags the probes whose answer
    the ring guarantee proves exact. Returns (query_id, neighbor_id, dist,
    rank), materialised, so it stays readable after a compaction deletes
    the files it read.

    Exactness: the verdict and escalation are knn_join's, so unresolved
    probes re-run with the ring doubled from ring 2 against the same stored
    cells, and the round whose ring covers the grid (or the last of
    knn_join's ``max_rounds``) ranks every occupied cell. A stored cell is
    one kernel group (no salting).

    ``streaming.incremental.knn_probe_live`` runs this same pass over the
    visible record set (``_visible``): the stored rows minus the delta's
    suppressed ids, plus its live inserts in their cells. Every cell then
    returns the exact top-k of its live records, so the ring guarantee and
    escalation stay exact unchanged.

    ``stats``, if given, gets the index resolution and one record per
    round; ``n_build`` stays 0, since counting the visible set would cost
    a Spark job.
    """
    snap = _pinned(path, "knn_probe_index")
    return _knn_probe(
        probes, path, snap, k, id_col=id_col, x_col=x_col, y_col=y_col, stats=stats
    )


def _knn_probe(
    probes: DataFrame,
    path: str,
    snap: dict,
    k: int,
    *,
    id_col: str,
    x_col: str,
    y_col: str,
    delta: tuple[DataFrame, DataFrame] | None = None,
    stats: KnnJoinStats | None = None,
) -> DataFrame:
    """knn_probe_index over the visible record set of the pinned snapshot
    ``snap`` ⊕ ``delta`` = (live inserts with id/x/y, suppressed ids);
    ``None`` probes the stored rows alone."""
    spark = probes.sparkSession
    res, metric_name = snap["res"], snap["metric"]
    # the ring-guarantee verdict compares the kth distance against a raw L2
    # edge distance on the 2-D coords (_guarantee_col): only metrics that
    # dominate L2 one-to-one make that sound. Reject anything else instead
    # of returning silently inexact results (ADVICE r1, low) — notably
    # cosine, which is a SIMILARITY under the preserved reference quirk.
    if metric_name not in ("euclidean",):
        raise ValueError(
            f"knn_probe_index ring guarantee requires an L2-dominating "
            f"metric on the stored coords; index at {path!r} was built with "
            f"{metric_name!r} — rebuild with 'euclidean' or probe via "
            f"operators.joins.knn_join with an explicit coord_scale"
        )
    if stats is None:
        stats = KnnJoinStats()
    stats.resolution = res
    cells = _visible(_load_nodes(spark, path, snap), res, delta).persist()
    probes_c = with_xy_cell(
        probes.select(
            F.col(id_col).cast("long").alias("_id"),
            F.col(x_col).cast("double").alias("_x"),
            F.col(y_col).cast("double").alias("_y"),
        ),
        _clamp01(F.col("_x")),
        _clamp01(F.col("_y")),
        res,
        out="_cell",
    ).persist()
    try:
        return _knn_rounds(
            probes_c,
            cells,
            salt_threshold=None,
            res=res,
            metric=get_metric(metric_name),
            k=k,
            need=k,
            coord_scale=1.0,
            max_rounds=_MAX_ROUNDS,
            qid_type="long",
            bid_type="long",
            rounds=stats.rounds,
        )
    finally:
        cells.unpersist()
        probes_c.unpersist()
