"""Exact metric joins: set-oriented kNN join and range (rnn) join.

The reference answers nn/knn/rnn one probe at a time against a single global
cover tree (/root/reference/details/tree.cpp:591-735). This module lifts those
searches to **set-oriented two-stage joins** (SURVEY.md §2.3/§3.2):

stage 1 (coarse prune, relational): both sides are encoded to Morton quadkey
    cells over their normalized 2-D coordinates (pure Column expressions —
    whole-stage codegen); **build rows replicate to the k-ring halo of their
    cell** while probes stay uniquely in their own cell group, so the two
    sides meet in one cell-keyed cogroup shuffle and every probe's full
    candidate set is in a single group. Hot probe cells are **explicitly
    salted** (north rule): their probes split across ⌈n/threshold⌉ salt
    buckets and the halo fans out to each bucket; AQE is the safety net.
    Each side's hot-cell table is aggregated once per call (``_hot_cells``)
    and is absent when no cell is hot — then there is no salt fan-out and
    no broadcast join at all.

stage 2 (fine refinement, Arrow kernel): per (cell, salt) group an
    ``applyInPandas`` kernel computes each probe's exact top-k with one
    vectorized all-pairs numpy kernel (``_flat_topk``; 2-D distances are
    ``sqrt(dx*dx + dy*dy)``). The stored-index probe
    (sources.index.knn_probe_index) ranks its cells with the same kernel.
    Because a probe lives in exactly one group, the kernel's ranked output
    IS the final answer — no global window shuffle on this path (the
    reference's bounded sorted kNN list, tree.cpp:664-677, lives inside the
    kernel).

Exactness across cell boundaries (the correctness crux the single-tree
reference never faced): a probe's result is provably exact when its kth
distance is < the distance from the probe to the edge of the explored ring
square (``ring_guarantee_radius``). Round 1 (``_knn_rounds``, shared by this
join and the stored-index probe, sources.index.knn_probe_index) is the
packed ring-1 halo kernel: it computes that verdict itself and returns it
as a per-probe flag, so the round's verdict is one count of the unresolved
flags on the checkpointed result. Probes that fail the guarantee escalate
(``_escalate``, from ring 2):
for those (typically <1%) the join flips to a probe-expansion scheme — the
unresolved probes explode to the grid-clipped window of a doubled ring (two
``sequence()`` explodes over the probe cell's (cx, cy), so the plan does not
grow with the ring), meet the build side (salted by build-cell counts), and
merge through a window top-k — doubling the ring until it covers the grid,
where the last round cross-joins the occupied cells. The probes a round
leaves unresolved are materialised before the next round, so every round
plans over a leaf and its plan is constant in size. Work in escalation
rounds is proportional to the unresolved probes, not the build table. For
full-dimensional metrics indexed by a contractive 2-D projection (e.g. 64-d
L2 indexed by two coordinates), the same guarantee holds scaled by
``coord_scale`` = the minimum axis scale, since d_full ≥ coord_scale · d_2d.

Scale notes (100 TB framing): the fast path is COLUMNAR end-to-end — both
cogroup sides are packed to one array-row per cell before the shuffle, so
the cogroup's sort handles |cells|·ring² + |cells| rows (thousands), not
|build|·ring² + |probes| records (tens of millions); byte volume is
unchanged but row-handling, sort comparisons, and Arrow per-row overhead
shrink by the ~rows-per-cell factor (~256×). The kernel returns per-probe
ranked arrays and verdict flags; the row-per-rank form is a JVM-side
posexplode. Shuffle bytes are
|build|·ring² + |probes| + k·|probes| — never |build|×|probes|; per-group
memory is bounded by the resolution's rows-per-cell target (and probe
salting); no driver-side collect of data rows. The flagship plan at ring 1
resolves ~all probes when resolution targets ~256 rows/cell.

res=0 tier (high-dim metrics the projection can't prune, or tiny builds):
exact brute force as a bounded P×B block grid (``_grid_knn``) — per-task
memory capped at ``grid_chunk_rows`` rows per side, hash-uniform
parallelism, partial top-k + one window merge. Distance work is inherently
quadratic there; the approximate tier for that regime is
operators.ann.cosine_topk_lsh (or normalize-then-L2 back onto the cell
path).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from metric_search_spark.cells import cell_size, ring_guarantee_radius
from metric_search_spark.core.metrics import Metric, get_metric
from metric_search_spark.functions.spatial import (
    cell_from_cxy_col,
    cell_from_xy_col,
    cell_xy_cols,
    kring_cells_col,
)

__all__ = ["knn_join", "range_join", "asof_join", "KnnJoinStats"]


@dataclass
class KnnJoinStats:
    """Per-call execution metrics (the engine's observability surface)."""

    n_build: int = 0
    resolution: int = 0
    rounds: list[dict] = field(default_factory=list)


def _require_distance(metric: Metric) -> None:
    """The reference's Cosine returns SIMILARITY (Standards.cpp:84-96 quirk);
    ranking it ascending would return the k LEAST similar rows and the L2
    ring guarantee would be meaningless — reject instead of silently lying.
    Cosine callers: operators.ann.cosine_topk / cosine_topk_lsh, or
    normalize-then-L2 through this join (ann.py module docstring)."""
    if getattr(metric, "name", "") == "cosine":
        raise ValueError(
            "cosine is a similarity, not a distance; use operators.ann."
            "cosine_topk / cosine_topk_lsh, or normalize vectors and join "
            "with the euclidean metric (top-k by cosine == top-k by L2 on "
            "the unit sphere)"
        )


def _pick_resolution(n_build: int, target_per_cell: int) -> int:
    """Resolution so that E[rows/cell] ≈ target under uniform spread."""
    if n_build <= target_per_cell:
        return 0
    return max(0, min(20, round(math.log(n_build / target_per_cell, 4.0))))


def _as_matrix_col(series) -> np.ndarray:
    vals = series.to_numpy()
    if len(vals) and isinstance(vals[0], np.ndarray):
        return np.vstack(vals).astype(np.float64, copy=False)
    return np.asarray(
        [np.asarray(v, dtype=np.float64) for v in vals], dtype=np.float64
    )


def _group_matrix(pdf) -> np.ndarray:
    """Record matrix for one cogroup side: _vec if shipped, else (x, y)."""
    if "_vec" in pdf.columns:
        return _as_matrix_col(pdf["_vec"])
    return np.column_stack(
        (pdf["_x"].to_numpy(np.float64), pdf["_y"].to_numpy(np.float64))
    )


def _flat_topk(
    metric: Metric, P: np.ndarray, B: np.ndarray, k: int, chunk: int | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized per-group top-k: returns (idx (n,k'), dist (n,k')) with
    k' = min(k, |B|), ties broken by build position (callers pre-sort build
    rows by id so position order == id order).

    The probe chunk is sized so the distance block (chunk × |B| doubles)
    stays ~2 MB — cache-resident — because the kernel is memory-bound on the
    D matrix, and cache-resident blocks are what lets many concurrent
    workers scale instead of fighting for DRAM bandwidth."""
    kk = min(k, B.shape[0])
    if chunk is None:
        chunk = max(16, min(4096, (1 << 15) // max(1, B.shape[0] // 8)))
    all_idx = np.empty((P.shape[0], kk), dtype=np.int64)
    all_d = np.empty((P.shape[0], kk), dtype=np.float64)
    for s in range(0, P.shape[0], chunk):
        D = metric.cross(P[s : s + chunk], B)
        if kk < B.shape[0]:
            part = np.argpartition(D, kk - 1, axis=1)[:, :kk]
            # argpartition breaks VALUE ties arbitrarily: when the kth
            # boundary falls inside a tie group, re-select those rows with
            # the (dist, position) order the join contract promises
            kth = np.take_along_axis(D, part, axis=1).max(axis=1)
            bad = np.nonzero((D <= kth[:, None]).sum(axis=1) > kk)[0]
            for r in bad:
                cand = np.nonzero(D[r] <= kth[r])[0]  # position-ascending
                o = np.lexsort((cand, D[r, cand]))[:kk]
                part[r] = cand[o]
        else:
            part = np.broadcast_to(np.arange(kk), (D.shape[0], kk))
        pd_ = np.take_along_axis(D, part, axis=1)
        order = np.lexsort((part, pd_), axis=1)
        all_idx[s : s + chunk] = np.take_along_axis(part, order, axis=1)
        all_d[s : s + chunk] = np.take_along_axis(pd_, order, axis=1)
    return all_idx, all_d


_CLAMP_HI = 1.0 - 2.0**-31  # the largest coordinate _clamp01 keeps


def _clamp01(c: Column) -> Column:
    """Clamp into [0, 1): cell assignment quantize-clips the same way, and the
    ring guarantee treats grid borders as fully covered — both must use the
    same clamped coordinate."""
    return F.least(F.greatest(c.cast("double"), F.lit(0.0)), F.lit(_CLAMP_HI))


def _prepare(
    df: DataFrame, id_col: str, vec_col: str | None, x_col: str, y_col: str, res: int
) -> DataFrame:
    """Normalized projection. ``vec_col=None`` is the 2-D fast path: the
    metric runs on (x, y) directly, so no Arrow list column is shuffled —
    two plain double columns are ~3× lighter on the wire."""
    cols = [F.col(id_col).alias("_id")]
    if vec_col is not None:
        cols.append(F.col(vec_col).cast("array<double>").alias("_vec"))
    cols += [
        F.col(x_col).cast("double").alias("_x"),
        F.col(y_col).cast("double").alias("_y"),
        cell_from_xy_col(_clamp01(F.col(x_col)), _clamp01(F.col(y_col))
                         , res).alias("_cell"),
    ]
    return df.select(*cols)


def _hot_cells(side_c: DataFrame, salt_threshold: int) -> DataFrame | None:
    """Hot-cell table (cell, n_salt) of one prepared side, aggregated once
    per call. Only the cells above ``salt_threshold`` rows reach the driver
    (at most |side| / salt_threshold rows); they come back as a local
    relation, so every join that reads the table reuses it without running
    the aggregate again. None when no cell is hot: the side then sits at
    salt 0, with no fan-out and no broadcast join."""
    rows = (
        side_c.groupBy("_cell")
        .count()
        .where(F.col("count") > salt_threshold)
        .select(
            "_cell",
            F.ceil(F.col("count") / salt_threshold).cast("int").alias("n_salt"),
        )
        .collect()
    )
    if not rows:
        return None
    schema = f"_cell {side_c.schema['_cell'].dataType.simpleString()}, n_salt int"
    return side_c.sparkSession.createDataFrame(rows, schema)


def _payload_cols(side_c: DataFrame) -> list[str]:
    return [c for c in ("_id", "_vec", "_x", "_y") if c in side_c.columns]


def _with_salt(side_c: DataFrame, salts: DataFrame | None) -> DataFrame:
    """Deterministically scatter a hot cell's rows across its salt buckets
    (``salts`` None: no hot cell, every row in bucket 0)."""
    if salts is None:
        return side_c.withColumn("_salt", F.lit(0))
    return side_c.join(F.broadcast(salts), "_cell", "left").select(
        *_payload_cols(side_c),
        "_cell",
        F.when(
            F.col("n_salt").isNotNull(),
            F.pmod(F.xxhash64(F.col("_id").cast("string")), F.col("n_salt")).cast(
                "int"
            ),
        )
        .otherwise(F.lit(0))
        .alias("_salt"),
    )


def _pack_cells(side_c: DataFrame) -> DataFrame:
    """Collapse a prepared side to ONE row per cell with columnar arrays of
    its records (ids, coords, optional vectors) — all JVM-side expression
    work (collect_list + transform).

    Why: the halo replicates the build side to its ring (×9 at ring 1, more
    for range joins). Replicating *packed cells* instead of raw rows cuts the
    cogroup's shuffled/sorted row count from |build|·ring² to |cells|·ring²
    (~500× at the default 256 rows/cell) — the cogroup sort of tens of
    millions of tiny rows, not the numpy kernel, was the dominant cost of the
    fast path (r2 event-log profile). Byte volume is unchanged; row-handling
    and sort comparisons shrink by the pack factor."""
    has_vec = "_vec" in side_c.columns
    rec = F.struct(
        *(["_id", "_vec", "_x", "_y"] if has_vec else ["_id", "_x", "_y"])
    )
    packed = side_c.groupBy("_cell").agg(F.collect_list(rec).alias("_recs"))
    cols = [
        "_cell",
        F.transform("_recs", lambda r: r["_id"]).alias("_ids"),
        F.transform("_recs", lambda r: r["_x"]).alias("_xs"),
        F.transform("_recs", lambda r: r["_y"]).alias("_ys"),
    ]
    if has_vec:
        # FLATTENED (list<double>), not list<list<double>>: pyarrow 16
        # segfaults converting nested list-of-list cogroup batches to pandas
        # (worker crash in arrow_to_pandas); the kernel reshapes by |ids|
        cols.append(
            F.flatten(F.transform("_recs", lambda r: r["_vec"])).alias("_vecs")
        )
    return packed.select(*cols)


def _halo_build_packed(
    build_c: DataFrame, salts: DataFrame | None, res: int, ring_k: int
) -> DataFrame:
    """Packed-cell halo: pack first, then replicate each cell row to its
    k-ring and fan out across the target cell's probe salt buckets
    (``salts`` None: no probe cell is hot, every copy goes to bucket 0)."""
    packed = _pack_cells(build_c)
    payload = [c for c in ("_ids", "_xs", "_ys", "_vecs") if c in packed.columns]
    exploded = packed.select(
        *payload,
        F.explode(kring_cells_col(F.col("_cell"), res, ring_k)).alias("_cell"),
    )
    if salts is None:
        return exploded.withColumn("_salt", F.lit(0))
    return exploded.join(F.broadcast(salts), "_cell", "left").select(
        *payload,
        "_cell",
        F.explode(
            F.sequence(F.lit(0), F.coalesce(F.col("n_salt"), F.lit(1)) - 1)
        ).alias("_salt"),
    )


def _pack_probes(probes_s: DataFrame) -> DataFrame:
    """Collapse the salted probe side to one row per (cell, salt) group with
    columnar record arrays — same rationale as _pack_cells: the cogroup then
    sorts thousands of packed rows, not millions of probe rows."""
    has_vec = "_vec" in probes_s.columns
    rec = F.struct(
        *(["_id", "_vec", "_x", "_y"] if has_vec else ["_id", "_x", "_y"])
    )
    packed = probes_s.groupBy("_cell", "_salt").agg(F.collect_list(rec).alias("_recs"))
    cols = [
        "_cell",
        "_salt",
        F.transform("_recs", lambda r: r["_id"]).alias("_pids"),
        F.transform("_recs", lambda r: r["_x"]).alias("_pxs"),
        F.transform("_recs", lambda r: r["_y"]).alias("_pys"),
    ]
    if has_vec:
        # flattened for the same pyarrow nested-list reason as _pack_cells
        cols.append(
            F.flatten(F.transform("_recs", lambda r: r["_vec"])).alias("_pvecs")
        )
    return packed.select(*cols)


def _unpack_probes(probe_pdf) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(ids, record matrix, (x, y) matrix) for a kernel group's packed probe
    side (_pids/_pxs/_pys[/_pvecs]); without _pvecs the record matrix IS
    the (x, y) matrix."""
    ids = np.concatenate([np.asarray(a) for a in probe_pdf["_pids"]])
    xs = np.concatenate([np.asarray(a, np.float64) for a in probe_pdf["_pxs"]])
    ys = np.concatenate([np.asarray(a, np.float64) for a in probe_pdf["_pys"]])
    xy = np.column_stack((xs, ys))
    if "_pvecs" not in probe_pdf.columns:
        return ids, xy, xy
    P = np.vstack(
        [
            np.asarray(flat, np.float64).reshape(len(cell_ids), -1)
            for cell_ids, flat in zip(probe_pdf["_pids"], probe_pdf["_pvecs"])
        ]
    )
    return ids, P, xy


def _ranked_group_topk_arrays(
    probes_packed: DataFrame,
    build_halo: DataFrame,
    metric: Metric,
    k: int,
    qid_type: str,
    bid_type: str,
    *,
    res: int,
    need: int,
    coord_scale: float,
) -> DataFrame:
    """Fast-path kernel, fully columnar: packed probes × packed ring-1 halo
    cells cogrouped by (cell, salt); output is ONE ROW PER PROBE carrying
    its ranked neighbor/distance ARRAYS and its ring-1 verdict ``_ok``:
    ``need`` rows ranked and the kth distance STRICTLY below
    ``cells.ring_guarantee_radius`` of the probe's clamped (x, y) at ring 1
    times ``coord_scale`` — the numpy twin of ``_guarantee_col``, bit for
    bit. A probe whose halo holds no build row comes back with empty arrays
    and ``_ok`` false, so every probe has exactly one output row and the
    verdict needs no join. The row-per-rank form is a JVM-side posexplode —
    Arrow moves |probes| rows, not k·|probes|."""
    import pandas as pd

    out_schema = (
        f"query_id {qid_type}, _nids array<{bid_type}>, _dists array<double>,"
        " _ok boolean"
    )
    # object dtype: an empty float64 ndarray routes pyarrow into the
    # NumPyConverter, which cannot target list<> types
    empty = pd.DataFrame(
        {
            "query_id": pd.Series([], dtype=object),
            "_nids": pd.Series([], dtype=object),
            "_dists": pd.Series([], dtype=object),
            "_ok": pd.Series([], dtype=bool),
        }
    )

    def fn(key, probe_pdf, build_pdf):
        if len(probe_pdf) == 0:
            return empty
        pids, P, xy = _unpack_probes(probe_pdf)
        if len(build_pdf) == 0:
            return pd.DataFrame(
                {
                    "query_id": pids,
                    "_nids": [[] for _ in pids],
                    "_dists": [[] for _ in pids],
                    "_ok": np.zeros(len(pids), dtype=bool),
                }
            )
        raw_ids, raw_B = _unpack_build(build_pdf)
        order = raw_ids.argsort(kind="stable")
        bids = raw_ids[order]
        B = raw_B[order]
        idx, d = _flat_topk(metric, P, B, k)
        kk = d.shape[1]
        if kk >= need:
            c = np.clip(xy, 0.0, _CLAMP_HI)
            guar = ring_guarantee_radius(c[:, 0], c[:, 1], res, 1) * coord_scale
            ok = d[:, kk - 1] < guar
        else:
            ok = np.zeros(len(pids), dtype=bool)
        nid_rows = bids[idx]
        # .tolist(): plain python scalars — Arrow's NumPyConverter refuses
        # numpy string scalars inside list values
        return pd.DataFrame(
            {
                "query_id": pids,
                "_nids": [r.tolist() for r in nid_rows],
                "_dists": [r.tolist() for r in d],
                "_ok": ok,
            }
        )

    return (
        probes_packed.groupBy("_cell", "_salt")
        .cogroup(build_halo.groupBy("_cell", "_salt"))
        .applyInPandas(fn, schema=out_schema)
    )


def _explode_ranked(packed: DataFrame) -> DataFrame:
    """Packed per-probe arrays → (query_id, neighbor_id, dist, rank) rows —
    a narrow JVM-side posexplode, no shuffle."""
    z = F.arrays_zip("_nids", "_dists")
    return packed.select("query_id", F.posexplode(z).alias("_pos", "_z")).select(
        "query_id",
        F.col("_z._nids").alias("neighbor_id"),
        F.col("_z._dists").alias("dist"),
        (F.col("_pos") + 1).cast("int").alias("rank"),
    )


def _unpack_build(build_pdf) -> tuple[np.ndarray, np.ndarray]:
    """(ids, record matrix) for a kernel group's build side — packed
    (_ids/_xs/_ys[/_vecs] array rows, one per halo cell) or plain rows."""
    if "_ids" in build_pdf.columns:
        # ids keep their native dtype (long or string) — tie-break argsort
        # and the output column both preserve it
        ids = np.concatenate([np.asarray(a) for a in build_pdf["_ids"]])
        if "_vecs" in build_pdf.columns:
            B = np.vstack(
                [
                    np.asarray(flat, np.float64).reshape(len(cell_ids), -1)
                    for cell_ids, flat in zip(build_pdf["_ids"], build_pdf["_vecs"])
                ]
            )
        else:
            xs = np.concatenate([np.asarray(a, np.float64) for a in build_pdf["_xs"]])
            ys = np.concatenate([np.asarray(a, np.float64) for a in build_pdf["_ys"]])
            B = np.column_stack((xs, ys))
        return ids, B
    return build_pdf["_id"].to_numpy(), _group_matrix(build_pdf)


def _guarantee_col(res: int, ring_k: Column | int) -> Column:
    """Column twin of cells.ring_guarantee_radius: distance from the probe to
    the nearest edge of its explored ring square (grid borders = covered).
    The round-1 kernel computes the same radius in numpy; the two must stay
    bit-equal, or ring 1 and the escalation rounds judge probes apart."""
    s = F.lit(cell_size(res))
    k = ring_k if isinstance(ring_k, Column) else F.lit(float(ring_k))
    x = _clamp01(F.col("_x"))
    y = _clamp01(F.col("_y"))
    cx = F.floor(x / s)
    cy = F.floor(y / s)
    lo_x = (cx - k) * s
    hi_x = (cx + k + 1.0) * s
    lo_y = (cy - k) * s
    hi_y = (cy + k + 1.0) * s
    inf = F.lit(float("inf"))
    mx_lo = F.when(lo_x <= 0.0, inf).otherwise(x - lo_x)
    mx_hi = F.when(hi_x >= 1.0, inf).otherwise(hi_x - x)
    my_lo = F.when(lo_y <= 0.0, inf).otherwise(y - lo_y)
    my_hi = F.when(hi_y >= 1.0, inf).otherwise(hi_y - y)
    return F.least(mx_lo, mx_hi, my_lo, my_hi)


def _ranked_group_topk(
    probes_s: DataFrame,
    build_halo: DataFrame,
    metric: Metric,
    k: int,
    qid_type: str,
    bid_type: str,
) -> DataFrame:
    """Fast-path kernel: cogroup by (cell, salt); each probe's candidates are
    complete within its group, so the kernel emits final ranked rows."""
    import pandas as pd

    out_schema = f"query_id {qid_type}, neighbor_id {bid_type}, dist double, rank int"
    empty = pd.DataFrame({"query_id": [], "neighbor_id": [], "dist": [], "rank": []})

    def fn(key, probe_pdf, build_pdf):
        if len(probe_pdf) == 0 or len(build_pdf) == 0:
            return empty
        raw_ids, raw_B = _unpack_build(build_pdf)
        order = raw_ids.argsort(kind="stable")
        bids = raw_ids[order]
        B = raw_B[order]
        P = _group_matrix(probe_pdf)
        idx, d = _flat_topk(metric, P, B, k)
        kk = idx.shape[1]
        return pd.DataFrame(
            {
                "query_id": probe_pdf["_id"].to_numpy().repeat(kk),
                "neighbor_id": bids[idx.ravel()],
                "dist": d.ravel(),
                "rank": np.tile(np.arange(1, kk + 1, dtype=np.int32), len(P)),
            }
        )

    return (
        probes_s.groupBy("_cell", "_salt")
        .cogroup(build_halo.groupBy("_cell", "_salt"))
        .applyInPandas(fn, schema=out_schema)
    )


def _expand_probes(
    probes: DataFrame,
    salts: DataFrame | None,
    res: int,
    ring_k: int,
    build_cells: DataFrame,
) -> DataFrame:
    """Escalation-path probe side: each probe explodes to the grid-clipped
    window of cells within Chebyshev distance ``ring_k`` of its own — two
    ``sequence()`` explodes over the cell's (cx, cy), so the plan is the
    same size at any ring — and then to the build side's salt buckets
    (``salts`` None: the build side is unsalted, every row in bucket 0).
    When the ring covers the whole grid, cross-join against the build
    side's distinct occupied cells instead of enumerating the grid."""
    # payload = whatever _prepare shipped (_vec for full-dim metrics, _x/_y
    # for the 2-D fast path) — the kernel's _group_matrix falls back to
    # (_x, _y) when _vec is absent, so the escalation path must keep them
    payload = _payload_cols(probes)
    if ring_k >= (1 << res):
        cand = probes.select(*payload).crossJoin(F.broadcast(build_cells))
    else:
        cx, cy = cell_xy_cols(F.col("_cell"))

        def window(c: str) -> Column:
            lo = F.greatest(F.col(c) - ring_k, F.lit(0))
            hi = F.least(F.col(c) + ring_k, F.lit((1 << res) - 1))
            return F.explode(F.sequence(lo, hi))

        cand = (
            probes.select(*payload, cx.alias("_cx"), cy.alias("_cy"))
            .withColumn("_cx", window("_cx"))
            .withColumn("_cy", window("_cy"))
            .select(
                *payload,
                cell_from_cxy_col(F.col("_cx"), F.col("_cy"), res).alias("_cell"),
            )
        )
    if salts is None:
        return cand.withColumn("_salt", F.lit(0))
    cand = cand.join(F.broadcast(salts), "_cell", "left")
    return cand.select(
        *payload,
        "_cell",
        F.explode(
            F.sequence(F.lit(0), F.coalesce(F.col("n_salt"), F.lit(1)) - 1)
        ).alias("_salt"),
    )


def _partial_topk(
    probe_cand: DataFrame,
    build_salted: DataFrame,
    metric: Metric,
    k: int,
    qid_type: str,
    bid_type: str,
) -> DataFrame:
    """Escalation-path kernel: per-(cell, salt) partial top-k rows
    (≤ k per probe per group), merged by ``_escalate``'s window."""
    import pandas as pd

    out_schema = f"query_id {qid_type}, neighbor_id {bid_type}, dist double"
    empty = pd.DataFrame({"query_id": [], "neighbor_id": [], "dist": []})

    def fn(key, probe_pdf, build_pdf):
        if len(probe_pdf) == 0 or len(build_pdf) == 0:
            return empty
        raw_ids, raw_B = _unpack_build(build_pdf)
        order = raw_ids.argsort(kind="stable")
        bids = raw_ids[order]
        B = raw_B[order]
        P = _group_matrix(probe_pdf)
        idx, d = _flat_topk(metric, P, B, k)
        kk = idx.shape[1]
        return pd.DataFrame(
            {
                "query_id": probe_pdf["_id"].to_numpy().repeat(kk),
                "neighbor_id": bids[idx.ravel()],
                "dist": d.ravel(),
            }
        )

    return (
        probe_cand.groupBy("_cell", "_salt")
        .cogroup(build_salted.groupBy("_cell", "_salt"))
        .applyInPandas(fn, schema=out_schema)
    )


def _grid_knn(
    probes_c: DataFrame,
    build_c: DataFrame,
    n_build: int,
    metric: Metric,
    k: int,
    qid_type: str,
    bid_type: str,
    chunk_rows: int,
    stats: KnnJoinStats,
) -> DataFrame:
    """Exact brute-force kNN as a bounded-memory block grid (the res=0 tier:
    high-dim metrics the 2-D projection cannot prune, or tiny builds).

    Probes hash into P row-chunks, build into B; each side replicates to the
    other's chunk axis so every (probe-chunk, build-chunk) pair meets in one
    cogroup of ≤ chunk_rows rows per side — per-task memory is bounded and
    parallelism is P×B regardless of data skew (hash chunking is uniform by
    construction, no salting needed). Partial per-chunk top-k rows then merge
    through one window. Shuffle volume is |probes|·B + |build|·P ≈
    2·|probes|·|build|/chunk_rows: exact kNN is inherently quadratic in
    distance evaluations — this bounds memory and spreads the work evenly; at
    real scale route to the cell-partitioned path (res>0 with a contractive
    projection) or operators.ann.cosine_topk_lsh for the approximate tier.
    Never |build| rows in one task, unlike a replicated single-cell plan."""
    n_probes = probes_c.count()
    bparts = max(1, math.ceil(n_build / chunk_rows))
    pparts = max(1, math.ceil(n_probes / chunk_rows))
    # independent cogroup key space (int, not Morton cells): reuse the
    # (_cell, _salt) kernel plumbing with _cell := build-chunk, _salt :=
    # probe-chunk
    build_g = build_c.select(
        *_payload_cols(build_c),
        F.pmod(F.xxhash64(F.col("_id").cast("string")), F.lit(bparts))
        .cast("int")
        .alias("_cell"),
        F.explode(F.sequence(F.lit(0), F.lit(pparts - 1))).alias("_salt"),
    )
    probes_g = probes_c.select(
        *_payload_cols(probes_c),
        F.explode(F.sequence(F.lit(0), F.lit(bparts - 1))).alias("_cell"),
        F.pmod(F.xxhash64(F.col("_id").cast("string")), F.lit(pparts))
        .cast("int")
        .alias("_salt"),
    )
    stats.rounds.append(
        {"plan": "grid", "bparts": bparts, "pparts": pparts, "exhaustive": True}
    )
    if bparts == 1:
        # every probe sees the whole build side in its single group — the
        # kernel's ranked output is final, no window
        return _ranked_group_topk(
            probes_g, build_g, metric, k, qid_type, bid_type
        )
    partial = _partial_topk(
        probes_g, build_g, metric, k, qid_type, bid_type
    )
    w = Window.partitionBy("query_id").orderBy("dist", "neighbor_id")
    return partial.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


_MAX_ROUNDS = 12  # escalation rounds per call; the last is exhaustive


def _verdict(
    ranked: DataFrame,
    probes: DataFrame,
    res: int,
    ring_k: int,
    need: int,
    coord_scale: float,
) -> tuple[DataFrame, DataFrame | None, int]:
    """The ring-guarantee verdict on one escalation round (ring ≥ 2; ring 1
    reads the round-1 kernel's own ``_ok`` flag, ``_knn_rounds``): a probe
    is resolved when its ``ranked`` rows (query_id, neighbor_id, dist) number
    ``need`` and its kth distance is STRICTLY inside the explored ring
    square — a kth exactly on the guarantee radius can tie with an
    unexplored outside point that wins the id tie-break. Returns (``ranked``
    rows of the resolved probes, the unresolved ``probes`` materialised for
    the next round or None when there are none, their count). The
    materialisation is what keeps each round's plan constant: the next
    round plans over a leaf, not over this round's kernel, verdict and
    probe set."""
    geo = probes.select(F.col("_id").alias("query_id"), "_x", "_y").withColumn(
        "guar", _guarantee_col(res, ring_k) * F.lit(coord_scale)
    )
    per_probe = ranked.groupBy("query_id").agg(
        F.count("*").alias("cnt"), F.max("dist").alias("kth")
    )
    ok = (F.coalesce(F.col("cnt"), F.lit(0)) >= F.lit(need)) & (
        F.col("kth") < F.col("guar")
    )
    unres_ids = (
        geo.join(per_probe, "query_id", "left")
        .where(~F.coalesce(ok, F.lit(False)))
        .select("query_id")
    )
    n_unres = unres_ids.count()
    if n_unres == 0:
        return ranked, None, 0
    unresolved = probes.join(
        unres_ids.select(F.col("query_id").alias("_id")), "_id", "left_semi"
    ).localCheckpoint(eager=True)
    return ranked.join(unres_ids, "query_id", "left_anti"), unresolved, n_unres


def _escalate(
    ring1: DataFrame,
    probes: DataFrame,
    build: DataFrame,
    salts: DataFrame | None,
    *,
    res: int,
    metric: Metric,
    k: int,
    need: int,
    coord_scale: float,
    max_rounds: int,
    qid_type: str,
    bid_type: str,
    rounds: list[dict],
) -> DataFrame:
    """The escalation rounds after ring 1 (``_knn_rounds``), for the probes
    it left unresolved. Each round ranks ``probes`` (prepared: _id,
    payload, _cell) against the salted build side ``build`` (_cell, _salt,
    payload; ``salts`` its hot-cell table, None when unsalted) over the
    window of ring 2, 4, 8, …, keeps what ``_verdict`` resolves and doubles
    the ring for the rest. The round whose ring covers the grid, or the
    ``max_rounds``-th, cross-joins the occupied cells and is final. Appends
    one record per round to ``rounds`` and returns ``ring1`` (round 1's
    resolved rows) ∪ the rounds' answers, materialised; its round caches
    are released."""
    grid_n = 1 << res
    ring_k = 2
    done = [ring1]
    # re-aliased: a fresh attribute id, so the exhaustive round's cogroup
    # with ``build`` is not an ambiguous self-join
    build_cells = build.select(F.col("_cell").alias("_cell")).distinct()
    w = Window.partitionBy("query_id").orderBy("dist", "neighbor_id")
    caches: list[DataFrame] = []
    try:
        for rnd in range(max_rounds):
            exhaustive = ring_k >= grid_n or rnd == max_rounds - 1
            cand = _expand_probes(
                probes, salts, res, grid_n if exhaustive else ring_k, build_cells
            )
            topk = (
                _partial_topk(cand, build, metric, k, qid_type, bid_type)
                .withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= k)
                .persist()
            )
            caches.append(topk)
            if exhaustive:
                done.append(topk)
                rounds.append({"ring_k": ring_k, "exhaustive": True})
                break
            resolved, probes, n_unres = _verdict(
                topk, probes, res, ring_k, need, coord_scale
            )
            rounds.append({"ring_k": ring_k, "unresolved": n_unres})
            done.append(resolved)
            if probes is None:
                break
            ring_k *= 2
        out = done[0]
        for p in done[1:]:
            out = out.unionByName(p)
        return out.localCheckpoint(eager=True)
    finally:
        for c in caches:
            c.unpersist()


def _knn_rounds(
    probes_c: DataFrame,
    build_c: DataFrame,
    *,
    salt_threshold: int | None,
    res: int,
    metric: Metric,
    k: int,
    need: int,
    coord_scale: float,
    max_rounds: int,
    qid_type: str,
    bid_type: str,
    rounds: list[dict],
) -> DataFrame:
    """Every ring round of knn_join and of the stored-index probe
    (sources.index.knn_probe_index), over prepared, persisted sides (_id,
    payload, _cell). Round 1 runs the packed ring-1 halo kernel over every
    probe (``_ranked_group_topk_arrays``), materialises it once and counts
    its unresolved ``_ok`` flags; only when some probe is unresolved do
    those probes go on to ``_escalate`` from ring 2. ``salt_threshold``
    None puts every row at salt 0 on both sides, so a cell is one kernel
    group; otherwise hot probe cells are salted in round 1 and hot build
    cells in the escalation. Appends one record per round to ``rounds``.

    The result is materialised and carries the pre-checkpoint round-1
    kernel frame as ``_msk_plan`` for plan inspection."""
    salts_p = None if salt_threshold is None else _hot_cells(probes_c, salt_threshold)
    # fully columnar: both cogroup sides are packed per cell (thousands of
    # array rows through the shuffle sort, not millions of records), the
    # kernel returns per-probe ranked ARRAYS with their verdict, and
    # rows-per-rank appear only via a JVM-side posexplode
    kernel = _ranked_group_topk_arrays(
        _pack_probes(_with_salt(probes_c, salts_p)),
        _halo_build_packed(build_c, salts_p, res, 1),
        metric,
        k,
        qid_type,
        bid_type,
        res=res,
        need=need,
        coord_scale=coord_scale,
    )
    # a checkpoint rather than a cache: AQE then coalesces the kernel's
    # shuffle to the partitions the probes fill (one Python task for a
    # small batch, not one per shuffle partition), and the result's lineage
    # ends here, not at input files a later compaction deletes
    packed = kernel.localCheckpoint(eager=True)
    n_unres = packed.where(~F.col("_ok")).count()
    rounds.append({"ring_k": 1, "unresolved": n_unres})
    if n_unres == 0:
        out = _explode_ranked(packed)
    else:
        # escalation rounds: probe-expansion scheme, work ∝ unresolved
        unresolved = probes_c.join(
            packed.where(~F.col("_ok")).select(F.col("query_id").alias("_id")),
            "_id",
            "left_semi",
        ).localCheckpoint(eager=True)
        salts_b = (
            None if salt_threshold is None else _hot_cells(build_c, salt_threshold)
        )
        build_salted = _with_salt(build_c, salts_b).persist()
        try:
            out = _escalate(
                _explode_ranked(packed.where(F.col("_ok"))),
                unresolved,
                build_salted,
                salts_b,
                res=res,
                metric=metric,
                k=k,
                need=need,
                coord_scale=coord_scale,
                max_rounds=max_rounds,
                qid_type=qid_type,
                bid_type=bid_type,
                rounds=rounds,
            )
        finally:
            build_salted.unpersist()
    out._msk_plan = kernel  # type: ignore[attr-defined]
    return out


def knn_join(
    probes: DataFrame,
    build: DataFrame,
    k: int = 10,
    *,
    id_col: str = "id",
    vec_col: str | None = "vec",
    x_col: str = "x",
    y_col: str = "y",
    probe_id_col: str | None = None,
    metric: str | Metric = "euclidean",
    res: int | None = None,
    target_per_cell: int = 256,
    salt_threshold: int | None = None,
    coord_scale: float = 1.0,
    max_rounds: int = _MAX_ROUNDS,
    grid_chunk_rows: int = 8192,
    stats: KnnJoinStats | None = None,
) -> DataFrame:
    """Exact k-nearest-neighbor join (reference knn, tree.cpp:635-690, lifted
    to a set-oriented join per SURVEY.md §2.3).

    Returns (query_id, neighbor_id, dist, rank) with rank 1..k ascending by
    (dist, neighbor_id). Both inputs need ``id_col``, ``vec_col``
    (array<numeric>, the metric's input) and normalized ``x_col``/``y_col``
    in [0,1)² (the 2-D index projection). Exact for any metric satisfying
    d(a,b) ≥ coord_scale · L2((ax,ay),(bx,by)).

    This call is eager: it runs ring 1 and the escalation rounds
    (``_knn_rounds``; at most ``max_rounds`` after ring 1, which must be
    ≥ 1) and returns their materialized result, which holds no cache: its
    checkpoint blocks are freed by Spark's ContextCleaner on GC. The
    pre-checkpoint round-1 kernel frame rides along as ``._msk_plan`` for
    plan inspection.
    """
    if max_rounds < 1:
        raise ValueError("knn_join: max_rounds must be >= 1")
    if isinstance(metric, str):
        metric = get_metric(metric)
    _require_distance(metric)
    n_build = build.count()
    if res is None:
        res = _pick_resolution(n_build, target_per_cell)
    if salt_threshold is None:
        salt_threshold = max(4 * target_per_cell, 64)
    if stats is None:
        stats = KnnJoinStats()
    stats.n_build = n_build
    stats.resolution = res

    qid_type = probes.schema[probe_id_col or id_col].dataType.simpleString()
    bid_type = build.schema[id_col].dataType.simpleString()

    build_c = _prepare(build, id_col, vec_col, x_col, y_col, res).persist()
    probes_c = _prepare(
        probes, probe_id_col or id_col, vec_col, x_col, y_col, res
    ).persist()
    try:
        if res == 0:
            # res 0: the 2-D index cannot prune — bounded block-grid brute
            # force (see _grid_knn), one shot, provably exhaustive
            out = _grid_knn(
                probes_c,
                build_c,
                n_build,
                metric,
                k,
                qid_type,
                bid_type,
                grid_chunk_rows,
                stats,
            )
            return out.localCheckpoint(eager=True)

        return _knn_rounds(
            probes_c,
            build_c,
            salt_threshold=salt_threshold,
            res=res,
            metric=metric,
            k=k,
            need=min(k, max(n_build, 1)),
            coord_scale=coord_scale,
            max_rounds=max_rounds,
            qid_type=qid_type,
            bid_type=bid_type,
            rounds=stats.rounds,
        )
    finally:
        build_c.unpersist()
        probes_c.unpersist()


def range_join(
    probes: DataFrame,
    build: DataFrame,
    radius: float,
    *,
    id_col: str = "id",
    vec_col: str | None = "vec",
    x_col: str = "x",
    y_col: str = "y",
    probe_id_col: str | None = None,
    metric: str | Metric = "euclidean",
    res: int | None = None,
    target_per_cell: int = 256,
    salt_threshold: int | None = None,
    coord_scale: float = 1.0,
    inclusive: bool = False,
) -> DataFrame:
    """Range (radius) join — the reference's rnn (tree.cpp:698-735) as a
    distance join. Membership is STRICT d < radius by default (the
    reference's quirk, tree.cpp:718); pass inclusive=True for d ≤ radius.

    Single round of the halo scheme: the build-side ring radius that provably
    covers every probe ball is ⌈(radius / coord_scale) / cell_size⌉. Probes
    stay in their own cell group (salted when hot); no window needed.
    Returns (query_id, neighbor_id, dist).
    """
    if isinstance(metric, str):
        metric = get_metric(metric)
    _require_distance(metric)
    n_build = build.count()
    if res is None:
        res = _pick_resolution(n_build, target_per_cell)
    if salt_threshold is None:
        salt_threshold = max(4 * target_per_cell, 64)
    norm_r = radius / coord_scale
    ring_k = min(1 << res, int(math.ceil(norm_r / cell_size(res))))

    qid_type = probes.schema[probe_id_col or id_col].dataType.simpleString()
    bid_type = build.schema[id_col].dataType.simpleString()

    build_c = _prepare(build, id_col, vec_col, x_col, y_col, res)
    probes_c = _prepare(
        probes, probe_id_col or id_col, vec_col, x_col, y_col, res
    ).persist()
    salts_p = _hot_cells(probes_c, salt_threshold)
    probes_s = _with_salt(probes_c, salts_p)
    # packed halo matters even more here: the ring is ⌈r/cell⌉ wide, so raw
    # replication would shuffle |build|·(2k+1)² rows
    halo = _halo_build_packed(build_c, salts_p, res, ring_k)

    import pandas as pd

    out_schema = f"query_id {qid_type}, neighbor_id {bid_type}, dist double"
    empty = pd.DataFrame({"query_id": [], "neighbor_id": [], "dist": []})

    def fn(key, probe_pdf, build_pdf):
        if len(probe_pdf) == 0 or len(build_pdf) == 0:
            return empty
        bids, B = _unpack_build(build_pdf)
        P = _group_matrix(probe_pdf)
        D = metric.cross(P, B)
        mask = (D <= radius) if inclusive else (D < radius)
        pi, bi = np.nonzero(mask)
        return pd.DataFrame(
            {
                "query_id": probe_pdf["_id"].to_numpy()[pi],
                "neighbor_id": bids[bi],
                "dist": D[pi, bi],
            }
        )

    out = (
        probes_s.groupBy("_cell", "_salt")
        .cogroup(halo.groupBy("_cell", "_salt"))
        .applyInPandas(fn, schema=out_schema)
    )
    # release handle for the internal probes cache: callers run
    # getattr(out, "_msk_backing", out).unpersist() when done
    out._msk_backing = probes_c  # type: ignore[attr-defined]
    return out


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str = "ts",
    by: str | list[str] | None = None,
    right_order: str | None = None,
    suffix: str = "_r",
) -> DataFrame:
    """Backward AS-OF join (task brief's named custom operator): every left
    row picks the single LATEST right row with ``right.on <= left.on``
    (inclusive), per ``by`` key — left rows with no prior right row keep
    NULLs. Matches DuckDB's native ``ASOF LEFT JOIN ... ON l.on >= r.on``
    semantics (pinned in tests/test_asof.py).

    Spark-first plan — the union-and-carry trick, NOT a range join: tag the
    two inputs, union, and per key carry the last non-null right payload
    through one ordered window (right rows sort BEFORE left rows at equal
    ``on``, making the match inclusive; ``right_order`` breaks duplicate
    right timestamps deterministically — last in (on, right_order) wins).
    ONE hash-partitioned sort per key column set, no point-interval
    explosion, no UDF, whole-stage codegen throughout: at 10⁹×10⁹ rows this
    is a single shuffle of |left| + |right| rows, versus the |left|·window
    blowup of the naive theta-join formulation.

    Skew caveat (disclosed, not mitigated here): ordered per-key semantics
    put each key's full timeline in one window partition, so a single hot
    key with 10⁸ rows is one task's sort — inherent to any as-of contract.
    The standard mitigations (pre-bucket the key's timeline by coarse time
    range and carry boundary state between buckets) compose on top of this
    operator; the fixture keys are uniform so none is wired in.

    Returns every left column plus each right payload column renamed
    ``<col><suffix>``."""
    keys = [by] if isinstance(by, str) else list(by or [])
    payload = [c for c in right.columns if c not in keys and c != on]
    if right_order is not None:
        # order by the column's OWN type: a cast to long would silently
        # null out string/timestamp tie-breakers and reintroduce the
        # nondeterminism the parameter exists to remove
        rord_type = right.schema[right_order].dataType
        ro: Column = F.col(right_order)
    else:
        from pyspark.sql.types import LongType

        rord_type = LongType()
        ro = F.lit(0).cast("long")

    lcols = [F.col(c) for c in left.columns]
    l_tag = left.select(
        *lcols,
        F.lit(1).alias("_side"),
        F.lit(None).cast(rord_type).alias("_rord"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"{c}{suffix}") for c in payload],
    )
    r_tag = right.select(
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left.columns if c not in keys and c != on],
        *[F.col(k) for k in keys],
        F.col(on),
        F.lit(0).alias("_side"),
        ro.alias("_rord"),
        *[F.col(c).alias(f"{c}{suffix}") for c in payload],
    ).select(*[f"{c}" for c in l_tag.columns])  # align column order
    merged = l_tag.unionByName(r_tag)
    w = (
        Window.partitionBy(*[F.col(k) for k in keys])
        .orderBy(F.col(on).asc(), F.col("_side").asc(), F.col("_rord").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # carry the matched right row as ONE struct, null on left rows: per-
    # column last(ignorenulls) would backfill a NULL payload field from an
    # OLDER right row, emitting a row that never existed (DuckDB ASOF
    # returns the matched row's fields verbatim, NULLs included); all
    # carries still share one window -> one sort
    rrow = F.when(
        F.col("_side") == 0,
        F.struct(*[F.col(f"{c}{suffix}").alias(c) for c in payload]),
    ).otherwise(F.lit(None))
    carried = merged.select(
        *[c for c in merged.columns if c not in ("_side", "_rord")],
        F.col("_side"),
        F.last(rrow, ignorenulls=True).over(w).alias("_c"),
    )
    out = carried.where(F.col("_side") == 1).select(
        *[c for c in left.columns],
        *[F.col(f"_c.{c}").alias(f"{c}{suffix}") for c in payload],
    )
    return out
