"""Tiling operators: raster↔vector tile assignment + quota clustering.

Tile assignment: the engine's coarse tile key IS the Morton cell id
(SURVEY.md §2.7) — a pure Column expression, no shuffle, no UDF. Quota
clustering re-expresses the reference's ``clustering(distribution, …)``
(/root/reference/details/tree.cpp:1341-1430): bucket sizes are differenced
``floor(N·dᵢ)`` quotas, records are assigned in ascending
distance-from-center order. Two modes:

- ``cluster_quota`` (rank mode, default): a global distance rank computed as
  range-partition → per-partition sort + local rank → offset add (no
  single-partition window sort; same output as ``row_number() OVER (ORDER BY
  dist, id)``), exactly expressible in SQL for the DuckDB oracle.
- ``cluster_quota_dfs`` (parity mode): replays the reference's
  proximity-ordered tree DFS per partition via the CoverTree kernel
  (core/covertree.py:clustering) for row-for-row golden parity; driver-side
  only for small fixtures (the golden tests pin both modes to the same
  outputs on the reference's own data).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from metric_search_spark.core.covertree import check_distribution
from metric_search_spark.functions.spatial import cell_from_xy_col, kring_cells_col
from metric_search_spark.functions.vector import l2_dist_col

__all__ = [
    "tile_assign",
    "tile_rollup",
    "tile_focal_sum",
    "tile_kernel_density",
    "buffer_tiles",
    "compact_tiles",
    "uncompact_tiles",
    "cluster_quota",
    "quota_sizes",
    "quota_boundaries",
]


def tile_assign(
    df: DataFrame,
    res: int,
    x_col: str = "x",
    y_col: str = "y",
    out_col: str = "tile",
) -> DataFrame:
    """Assign every record to its Morton tile at ``res`` — the engine's
    raster↔vector tile key (north rule). Pure narrow projection: no shuffle,
    no UDF, survives any scale."""
    return df.withColumn(
        out_col,
        cell_from_xy_col(F.col(x_col).cast("double"), F.col(y_col).cast("double"), res),
    )


def quota_sizes(n: int, distribution: Sequence[float]) -> list[int]:
    """Marginal bucket sizes = differenced floor(N·dᵢ) (tree.cpp:1392-1405)."""
    check_distribution(distribution)
    sizes = [int(float(n) * d) for d in distribution]
    out = []
    prev = 0
    for s in sizes:
        out.append(s - prev)
        prev = s
    return out


def quota_boundaries(n: int, distribution: Sequence[float]) -> list[int]:
    """Cumulative quota boundaries: bucket i gets ranks (b[i-1], b[i]]."""
    check_distribution(distribution)
    return [int(float(n) * d) for d in distribution]


def cluster_quota(
    df: DataFrame,
    distribution: Sequence[float],
    center: Sequence[float],
    *,
    id_col: str = "id",
    vec_col: str = "vec",
    dist_col: Column | None = None,
    bucket_col: str = "bucket",
) -> DataFrame:
    """Window-mode quota clustering: rank all records by (distance-to-center,
    id) and cut at the cumulative quota boundaries. Records beyond the last
    boundary are unassigned and dropped, matching the reference's behavior of
    returning only quota'd IDs (tree.cpp:1383-1430).

    Returns (id, dist, bucket) with bucket ∈ [0, len(distribution)).

    Scale path: the global rank is computed WITHOUT a single-partition window
    sort. Rows range-partition on (dist, id) — disjoint ordered key ranges
    across ascending partition ids — then each partition sorts locally and
    emits a partition-local rank (one mapInPandas, no further exchange); the
    global rank is local rank + the partition's offset (prefix sum of the
    per-partition counts, a numPartitions-row driver aggregate). Output is
    identical to ``row_number() OVER (ORDER BY dist, id)`` because the range
    partitioner preserves the total order across partitions, but the sort
    runs fully parallel — the plan this operator needs at 10⁹ rows.
    """
    n = df.count()
    bounds = quota_boundaries(n, distribution)
    if dist_col is None:
        dist_col = l2_dist_col(
            F.col(vec_col).cast("array<double>"),
            F.array(*[F.lit(float(c)) for c in center]),
        )
    spark = df.sparkSession
    n_parts = max(
        1, min(int(spark.conf.get("spark.sql.shuffle.partitions", "32")), max(1, n))
    )
    scored = df.select(F.col(id_col).alias("id"), dist_col.alias("dist"))
    parted = (
        scored.repartitionByRange(n_parts, "dist", "id")
        .sortWithinPartitions("dist", "id")
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    try:
        # per-partition counts → rank offsets (numPartitions rows on driver)
        counts = {
            r["_pid"]: r["cnt"]
            for r in parted.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
        }
        offsets, acc = {}, 0
        for pid in sorted(counts):
            offsets[pid] = acc
            acc += counts[pid]
        off_df = spark.createDataFrame(
            [(int(p), int(o)) for p, o in offsets.items()] or [(0, 0)],
            "_pid int, _off long",
        )

        def local_rank(batches):
            import pandas as pd  # noqa: F401

            seen = 0  # rows are already sorted within the partition
            for pdf in batches:
                pdf = pdf.copy()
                pdf["_lrn"] = range(seen + 1, seen + 1 + len(pdf))
                seen += len(pdf)
                yield pdf

        id_type = parted.schema["id"].dataType.simpleString()
        pre = (
            parted.mapInPandas(
                local_rank, schema=f"id {id_type}, dist double, _pid int, _lrn long"
            )
            .join(F.broadcast(off_df), "_pid")
            .select("id", "dist", (F.col("_off") + F.col("_lrn")).alias("rn"))
            .where(F.col("rn") <= (bounds[-1] if bounds else 0))
        )
        # localCheckpoint materializes the ranked rows NOW, so parted can be
        # released in the finally below instead of leaking a cached DataFrame
        # per call — which Spark's CacheManager would silently substitute into
        # any later identical plan, the exact bench-honesty hazard bench.py
        # guards against (ADVICE r2, medium).
        ranked = pre.localCheckpoint(eager=True)
    finally:
        parted.unpersist()
    bucket = F.lit(None).cast("long")
    # boundaries are cumulative so the (prev, b] ranges are disjoint; the
    # WHEN order is immaterial
    expr = None
    prev = 0
    for i, b in enumerate(bounds):
        cond = (F.col("rn") > prev) & (F.col("rn") <= b)
        expr = F.when(cond, F.lit(i)) if expr is None else expr.when(cond, F.lit(i))
        prev = b
    bucket = expr.cast("long") if expr is not None else bucket
    out = ranked.select("id", "dist", bucket.alias(bucket_col))
    # plan-pin handle: the checkpointed result's plan is just an RDD scan, so
    # tests inspect the pre-checkpoint ranking plan through this attribute
    # (joins.knn_join's checkpointed result carries its kernel the same way)
    out._msk_plan = pre  # type: ignore[attr-defined]
    return out


def cluster_quota_sql(
    table: str,
    distribution: Sequence[float],
    n: int,
    dist_expr: str,
    id_expr: str,
) -> str:
    """DuckDB oracle twin of cluster_quota (same ranks, same boundaries)."""
    bounds = quota_boundaries(n, distribution)
    if not bounds or bounds[-1] == 0:
        return f"SELECT {id_expr} AS id, 0.0 AS dist, 0 AS bucket FROM {table} WHERE FALSE"
    cases = []
    prev = 0
    for i, b in enumerate(bounds):
        cases.append(f"WHEN rn > {prev} AND rn <= {b} THEN {i}")
        prev = b
    case_sql = "CASE " + " ".join(cases) + " END"
    return (
        f"SELECT id, dist, CAST({case_sql} AS BIGINT) AS bucket FROM ("
        f"SELECT {id_expr} AS id, {dist_expr} AS dist, "
        f"row_number() OVER (ORDER BY {dist_expr}, {id_expr}) AS rn FROM {table}"
        f") WHERE rn <= {bounds[-1]}"
    )


__all__.append("cluster_quota_sql")


_PREFIX_MASK = (1 << 56) - 1


def _tile_parent_col(tile: Column, parent_lvl: int | Column) -> Column:
    """Morton parent: child cell (lvl<<56 | prefix) → (parent_lvl<<56 |
    prefix >> 2) — the ONE parent-shift expression behind the rollup
    pyramid and quadtree compaction."""
    lvl_part = (
        F.lit(parent_lvl << 56)
        if isinstance(parent_lvl, int)
        else parent_lvl * F.lit(1 << 56)
    )
    return (
        lvl_part + F.shiftright(tile.bitwiseAND(F.lit(_PREFIX_MASK)), 2)
    ).cast("long")


def tile_rollup(
    df: DataFrame,
    res: int,
    x_col: str = "x",
    y_col: str = "y",
    value_col: str | None = None,
) -> DataFrame:
    """Hypertable-style tile-PYRAMID rollup (task brief's named custom
    operator): per-tile aggregates at EVERY resolution 0..res in one pass —
    the raster pyramid a tile server / heatmap zoom stack reads.

    100-TB shape: the data is aggregated ONCE, at the finest resolution
    (one map-side-combining shuffle over the input); every coarser level
    re-aggregates the PREVIOUS level's tiny table (≤ 4^l rows) by the
    Morton parent — child cell (l<<56 | prefix) → parent
    ((l−1)<<56 | prefix >> 2), a pure Column shift. Total shuffle volume is
    |input| + Σ 4^l rows, versus (res+1)·|input| for the explode-per-level
    formulation. All partials are re-aggregable (count → sum; integer value
    sums stay exact).

    Each level is an EAGER localCheckpoint before the union: without it the
    union's branches each re-plan the whole chain below them — the finest
    aggregation (the only full-data pass) would execute res+1 times and the
    static plan carries Σ(l+1) exchanges (measured: 15 for res=4, AQE's
    runtime exchange-reuse only recovered 4). Materializing per level makes
    the plan literally res+1 exchanges, each computed once — the pin in
    tests/test_tiling_rollup.py. (A 100-TB pyramid materializes its levels
    anyway — they are the serving artifact.)

    Returns (res, tile, cnt[, val]) for every non-empty tile at every
    resolution; ``value_col`` (optional) must be integral — it is summed
    exactly through the pyramid."""
    aggs = [F.count("*").alias("cnt")]
    if value_col is not None:
        aggs.append(F.sum(F.col(value_col).cast("long")).alias("val"))
    cur = (
        tile_assign(df, res, x_col=x_col, y_col=y_col)
        .groupBy("tile")
        .agg(*aggs)
        .localCheckpoint(eager=True)
    )
    out = cur.select(F.lit(res).cast("int").alias("res"), "*")
    re_aggs = [F.sum("cnt").alias("cnt")]
    if value_col is not None:
        re_aggs.append(F.sum("val").alias("val"))
    for lvl in range(res - 1, -1, -1):
        parent = _tile_parent_col(F.col("tile"), lvl)
        cur = (
            cur.select(
                parent.alias("tile"),
                *[c for c in cur.columns if c != "tile"],
            )
            .groupBy("tile")
            .agg(*re_aggs)
            .localCheckpoint(eager=True)
        )
        out = out.unionByName(
            cur.select(F.lit(lvl).cast("int").alias("res"), "*")
        )
    return out


def tile_focal_sum(
    df: DataFrame,
    res: int,
    *,
    k: int = 1,
    x_col: str = "x",
    y_col: str = "y",
    value_col: str | None = None,
) -> DataFrame:
    """Raster focal (moving-window) aggregation: for every tile at ``res``,
    the count (and optional exact integer value sum) over its Chebyshev-``k``
    neighborhood — the map-algebra focal-sum a heatmap smoother or density
    estimator reads. Output covers every in-grid tile within ``k`` of a
    non-empty tile (empty neighborhoods never appear).

    100-TB shape: the input is aggregated ONCE per tile (one
    map-side-combining shuffle over the data); only then does each
    aggregated tile SCATTER its partials to its k-ring via the Morton
    mask-ripple enumeration (``kring_cells_col`` — grid-clipped, no UDF),
    and a second aggregation gathers by receiving tile. The scatter shuffle
    is |tiles|·(2k+1)² rows of the tiny raster table, never the raw data —
    the same partial-reaggregation trick as :func:`tile_rollup`. Scatter ≡
    gather here because the Chebyshev ring is symmetric and grid clipping
    removes only out-of-grid cells on both views."""
    aggs = [F.count("*").alias("cnt")]
    if value_col is not None:
        aggs.append(F.sum(F.col(value_col).cast("long")).alias("val"))
    per_tile = (
        tile_assign(df, res, x_col=x_col, y_col=y_col).groupBy("tile").agg(*aggs)
    )
    scattered = per_tile.select(
        F.explode(kring_cells_col(F.col("tile"), res, k)).alias("tile"),
        *[c for c in per_tile.columns if c != "tile"],
    )
    re_aggs = [F.sum("cnt").alias("focal_cnt")]
    if value_col is not None:
        re_aggs.append(F.sum("val").alias("focal_val"))
    return scattered.groupBy("tile").agg(*re_aggs)


def tile_kernel_density(
    df: DataFrame,
    res: int,
    *,
    k: int = 2,
    x_col: str = "x",
    y_col: str = "y",
    value_col: str | None = None,
) -> DataFrame:
    """Epanechnikov-weighted kernel density over the tile grid: each tile's
    density is Σ over its Chebyshev-k neighborhood of
    w(dx,dy) · count, with w = ((k+1)² − (dx²+dy²)) / (k+1)² — the
    grid-offset Epanechnikov kernel over its POSITIVE support
    dx²+dy² < (k+1)² — for k ≥ 3 the Chebyshev ring's corners fall outside
    it and are dropped, never scattered with a negative weight. Same
    two-shuffle scatter plan as :func:`tile_focal_sum`.

    EXACTNESS over distributed float summation: the kernel's numerator is
    an INTEGER, so partial aggregation sums exact longs (order-independent)
    and the single division by (k+1)² happens once per output row — the
    result is bit-identical regardless of partitioning, and a DuckDB twin
    computing the same rational reproduces it exactly.

    Returns (tile, density[, wval]) — density from counts, wval the
    weighted integral ``value_col`` sum."""
    denom = float((k + 1) ** 2)
    aggs = [F.count("*").alias("cnt")]
    if value_col is not None:
        aggs.append(F.sum(F.col(value_col).cast("long")).alias("val"))
    per_tile = (
        tile_assign(df, res, x_col=x_col, y_col=y_col).groupBy("tile").agg(*aggs)
    )
    scattered = per_tile.select(
        F.explode(
            kring_cells_col(F.col("tile"), res, k, with_offsets=True)
        ).alias("_o"),
        *[c for c in per_tile.columns if c != "tile"],
    )
    wnum = (
        F.lit((k + 1) ** 2)
        - (F.col("_o.dx") * F.col("_o.dx") + F.col("_o.dy") * F.col("_o.dy"))
    ).cast("long")
    # kernel support is dx²+dy² < (k+1)²: for k ≥ 3 the Chebyshev ring's
    # corners fall OUTSIDE it (e.g. k=3, offset (3,3): 16 − 18 < 0) — drop
    # them rather than scatter negative weights
    scattered = scattered.where(wnum > 0)
    re_aggs = [(F.sum(wnum * F.col("cnt")) / F.lit(denom)).alias("density")]
    if value_col is not None:
        re_aggs.append((F.sum(wnum * F.col("val")) / F.lit(denom)).alias("wval"))
    return scattered.groupBy(F.col("_o.cell").alias("tile")).agg(*re_aggs)


def buffer_tiles(
    df: DataFrame,
    res: int,
    *,
    k: int = 1,
    tile_col: str = "tile",
    by: Sequence[str] = (),
) -> DataFrame:
    """Raster BUFFER (morphological dilation): the input tile set grown by
    Chebyshev distance ``k`` — the H3 gridDisk-of-a-set / GIS buffer verb.
    Composes the k-ring mask-ripple with one distinct; grid-clipped like
    every ring op. Applied to a polyfill it buffers a polygon; applied to
    a polyline supercover it buffers a route corridor. ``by`` columns
    (e.g. poly_id) scope the dilation per feature. All input cells must be
    at resolution ``res``."""
    by = list(by)
    return (
        df.select(
            *by,
            F.explode(kring_cells_col(F.col(tile_col), res, k)).alias(tile_col),
        )
        .distinct()
    )


def compact_tiles(
    df: DataFrame,
    *,
    tile_col: str = "tile",
    by: Sequence[str] = (),
) -> DataFrame:
    """H3-``compactCells`` semantics over the Morton quadtree: repeatedly
    replace every complete quartet of sibling cells with their parent,
    yielding the minimal mixed-resolution set covering exactly the input
    cells. Input cells may themselves be at mixed resolutions (each encodes
    its own level in the high byte) but must be non-overlapping — no cell an
    ancestor of another — and are de-duplicated up front. ``by`` columns
    (e.g. a polygon id) scope the compaction per group.

    Equivalent closed form on uniform-res input: a node is emitted iff ALL
    its finest-res descendants are present and its parent's are not — the
    formulation the DuckDB oracle checks independently.

    100-TB shape: one equi-shuffle per level on the PARENT key of a set that
    shrinks ≥4× per merge; each group holds ≤4 children so the per-group
    collect is bounded. Levels run finest→coarsest so merged parents cascade.
    Each level is an eager localCheckpoint: the pool would otherwise re-plan
    the whole union chain below it level after level (the
    :func:`tile_rollup` lesson)."""
    by = list(by)
    res_col = F.shiftright(F.col("tile"), 56)
    cells = df.select(*by, F.col(tile_col).alias("tile")).distinct()
    max_res = cells.agg(F.max(res_col).alias("m")).first()["m"]
    if max_res is None or max_res == 0:
        return cells
    finished = [cells.where(res_col == 0)]  # level 0 has no siblings to merge
    pool = cells.where(res_col > 0).localCheckpoint(eager=True)
    for lvl in range(int(max_res), 0, -1):
        cand = pool.where(res_col == lvl)
        rest = pool.where(res_col != lvl)
        parent = _tile_parent_col(F.col("tile"), lvl - 1)
        grp = (
            cand.groupBy(*by, parent.alias("_parent"))
            .agg(F.count("*").alias("_n"), F.collect_list("tile").alias("_kids"))
            .localCheckpoint(eager=True)
        )
        finished.append(
            grp.where(F.col("_n") < 4).select(
                *by, F.explode("_kids").alias("tile")
            )
        )
        merged = grp.where(F.col("_n") == 4).select(
            *by, F.col("_parent").alias("tile")
        )
        pool = rest.unionByName(merged)
    out = pool  # after lvl=1, only merged level-0 cells remain
    for part in finished:
        out = out.unionByName(part)
    return out.select(*by, F.col("tile").alias(tile_col))


def uncompact_tiles(
    df: DataFrame,
    res: int,
    *,
    tile_col: str = "tile",
) -> DataFrame:
    """H3-``uncompactCells`` semantics: expand every cell to ALL its
    descendants at resolution ``res`` (a cell already at ``res`` maps to
    itself; a cell FINER than ``res`` raises at execution time). Pure
    narrow Column math — per-row ``sequence`` explode of the 4^Δ child
    offsets appended below the shifted prefix; no shuffle, no UDF, so
    ``uncompact_tiles(compact_tiles(S), res) ≡ S`` costs one projection."""
    lvl = F.shiftright(F.col(tile_col), 56)
    prefix = F.col(tile_col).bitwiseAND(F.lit(_PREFIX_MASK))
    # 4^Δ as exact long arithmetic (shiftleft needs a literal shift count;
    # powers of two are exact in double well past 2^54 = 4^27, the max here)
    n_children = F.pow(F.lit(4.0), (F.lit(res) - lvl).cast("double")).cast("long")
    hi = F.when(lvl <= F.lit(res), n_children - 1).otherwise(
        F.raise_error(
            F.lit(f"uncompact_tiles: input cell finer than target res={res}")
        ).cast("long")
    )
    child = (F.lit(res << 56) + prefix * n_children + F.col("_i")).cast("long")
    others = [c for c in df.columns if c != tile_col]
    return (
        df.select(*others, F.col(tile_col))
        .withColumn("_i", F.explode(F.sequence(F.lit(0).cast("long"), hi)))
        .select(*others, child.alias(tile_col))
    )


__all__.append("adaptive_quadtree")


def adaptive_quadtree(
    df: DataFrame,
    max_res: int,
    quota: int,
    *,
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Data-adaptive quadtree tiling: split every cell holding more than
    ``quota`` points until ``max_res`` — the mixed-resolution leaf
    partition a tile server / spatial shuffle balancer builds over skewed
    point data (dense downtown → res-``max_res`` leaves, empty desert →
    one coarse leaf).

    No top-down recursion is executed: per-level counts are MONOTONE up
    the tree (cnt(parent) ≥ cnt(child)), so the leaf set has a closed
    form over the :func:`tile_rollup` pyramid —

      leaf ⇔ (cnt ≤ quota AND cnt(parent) > quota)       [settled leaf]
           ∨ (lvl = max_res AND cnt > quota)             [forced leaf]
           ∨ (lvl = 0 AND cnt ≤ quota)                   [root leaf]

    — one self-equi-join of the pyramid on the parent key (the pyramid is
    ≤ Σ4^l rows regardless of input size; the only full-data pass is the
    rollup's finest aggregate). Leaves PARTITION the data: every point
    lies under exactly one leaf (pinned in tests/test_quadtree.py).

    Returns (tile, lvl, cnt) — tile ids carry their level in the high
    byte (cell_from_cxy_col convention), so leaves compose directly with
    compact_tiles / uncompact_tiles / tile k-ring."""
    if max_res < 1:
        raise ValueError(f"max_res {max_res} must be >= 1")
    pyr = tile_rollup(df, max_res, x_col=x_col, y_col=y_col).select(
        F.col("res").alias("lvl"), "tile", "cnt"
    )
    child = pyr.where(F.col("lvl") > 0).withColumn(
        "_p", _tile_parent_col(F.col("tile"), F.col("lvl") - 1)
    )
    parents = pyr.select(F.col("tile").alias("_p"), F.col("cnt").alias("_pcnt"))
    settled = (
        child.join(parents, "_p")
        .where((F.col("cnt") <= quota) & (F.col("_pcnt") > quota))
        .select("tile", "lvl", "cnt")
    )
    forced = pyr.where(
        (F.col("lvl") == max_res) & (F.col("cnt") > quota)
    ).select("tile", "lvl", "cnt")
    root = pyr.where((F.col("lvl") == 0) & (F.col("cnt") <= quota)).select(
        "tile", "lvl", "cnt"
    )
    return settled.unionByName(forced).unionByName(root)


__all__.append("label_regions")


def label_regions(
    df: DataFrame,
    res: int,
    *,
    x_col: str = "x",
    y_col: str = "y",
    connectivity: int = 4,
) -> DataFrame:
    """Raster region labeling: connected components over the OCCUPIED tile
    lattice at ``res`` — the tile-scale analog of an image segmentation
    label pass (scikit-image ``label`` / GDAL ``sieve`` input), and the
    standard way to turn a point cloud into contiguous zones (hot-spot
    blobs, land-mass detection) without any polygon geometry.

    100-TB shape: the ONLY full-data pass is the occupancy aggregate (one
    map-side-combining groupBy); everything after runs on the occupied-cell
    table, ≤ 4^res rows regardless of input size. Adjacency is built with
    plain EQUI-joins — each occupied cell derives its right/down (and, for
    ``connectivity=8``, down-right/down-left) neighbor *tile ids* as pure
    Column Morton expressions and joins them against the occupied set — no
    theta-join, no cross product, no UDF. Region resolution reuses
    :func:`~metric_search_spark.operators.graph.connected_components`
    (large-star/small-star, O(log n) rounds).

    Returns (tile, region, cnt): region = min tile id in the 4-(or 8-)
    connected region, cnt = points in that tile."""
    from metric_search_spark.functions.spatial import (
        cell_from_cxy_col,
        quantize_col,
    )
    from metric_search_spark.operators.graph import connected_components

    if connectivity not in (4, 8):
        raise ValueError(f"connectivity {connectivity} must be 4 or 8")
    if not 1 <= res <= 27:
        raise ValueError(f"resolution {res} out of [1, 27]")
    shift = 31 - res
    occ = (
        df.select(
            F.shiftright(quantize_col(F.col(x_col).cast("double")), shift).alias("cx"),
            F.shiftright(quantize_col(F.col(y_col).cast("double")), shift).alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count("*").alias("cnt"))
        .withColumn("tile", cell_from_cxy_col(F.col("cx"), F.col("cy"), res))
        # occ feeds the edge build (both join sides), the node set and the
        # final count join — materialize once so the full-data aggregate
        # does not recompute per consumer
        .localCheckpoint(eager=True)
    )
    offsets = [(1, 0), (0, 1)]
    if connectivity == 8:
        offsets += [(1, 1), (1, -1)]
    lim = 1 << res
    cand = None
    for dx, dy in offsets:
        nx, ny = F.col("cx") + dx, F.col("cy") + dy
        leg = occ.where(
            (nx >= 0) & (nx < lim) & (ny >= 0) & (ny < lim)
        ).select(
            F.col("tile").alias("src"),
            cell_from_cxy_col(nx, ny, res).alias("dst"),
        )
        cand = leg if cand is None else cand.unionByName(leg)
    edges = cand.join(occ.select(F.col("tile").alias("dst")), "dst")
    cc = connected_components(
        edges, nodes=occ.select(F.col("tile").alias("node"))
    )
    return (
        occ.join(cc, occ["tile"] == cc["node"])
        .select("tile", F.col("component").alias("region"), "cnt")
    )


__all__.append("idw_fill")


def idw_fill(
    df: DataFrame,
    res: int,
    *,
    k: int = 2,
    x_col: str = "x",
    y_col: str = "y",
    value_col: str | None = None,
) -> DataFrame:
    """Inverse-distance-weighted (IDW, Shepard p=2) interpolation of EMPTY
    tiles from their occupied Chebyshev-``k`` neighbors — the raster
    gap-fill a coverage map / sensor-surface product runs after gridding
    sparse observations. Every in-grid empty tile within ``k`` of an
    occupied tile gets the estimate Σ wᵢ·vᵢ / Σ wᵢ with wᵢ = 1/dᵢ²
    (dᵢ² = dx²+dy², grid offsets); vᵢ is the neighbor's point count
    (and optionally its exact integral ``value_col`` sum).

    EXACTNESS over distributed float summation (the tile_kernel_density
    trick, inverted): weights are scaled by L = lcm{dx²+dy²} over the ring
    so every scaled weight L/d² is an INTEGER — numerator and denominator
    aggregate as exact longs (order-independent), and the ONE double
    division per output row makes the estimate bit-identical under any
    partitioning; a DuckDB twin computing the same rational matches with
    zero tolerance.

    100-TB shape: identical to :func:`tile_focal_sum` — the raw data is
    aggregated ONCE per tile, then only the tiny raster table scatters to
    its k-ring (grid-clipped Morton mask-ripple, no UDF); the empty-only
    restriction is a broadcast-size anti-join against the occupied set."""
    from math import lcm

    if k < 1:
        raise ValueError(f"k {k} must be >= 1")
    L = lcm(*{
        dx * dx + dy * dy
        for dx in range(-k, k + 1)
        for dy in range(-k, k + 1)
        if (dx, dy) != (0, 0)
    })
    aggs = [F.count("*").alias("cnt")]
    if value_col is not None:
        aggs.append(F.sum(F.col(value_col).cast("long")).alias("val"))
    per_tile = (
        tile_assign(df, res, x_col=x_col, y_col=y_col).groupBy("tile").agg(*aggs)
    )
    scattered = per_tile.select(
        F.explode(
            kring_cells_col(F.col("tile"), res, k, with_offsets=True)
        ).alias("_o"),
        *[c for c in per_tile.columns if c != "tile"],
    ).where((F.col("_o.dx") != 0) | (F.col("_o.dy") != 0))
    d2 = F.col("_o.dx") * F.col("_o.dx") + F.col("_o.dy") * F.col("_o.dy")
    # L is divisible by every d² in the ring, so floor(L/d²) is the exact
    # integer scaled weight (the division itself is exact small-int fp)
    w = F.floor(F.lit(L) / d2).cast("long")
    re_aggs = [
        F.sum(w * F.col("cnt")).alias("_num"),
        F.sum(w).alias("_den"),
    ]
    if value_col is not None:
        re_aggs.append(F.sum(w * F.col("val")).alias("_vnum"))
    gathered = (
        scattered.groupBy(F.col("_o.cell").alias("tile")).agg(*re_aggs)
        # empty tiles only: occupied targets keep their own observed value
        .join(per_tile.select("tile"), "tile", "left_anti")
    )
    out = [
        F.col("tile"),
        (F.col("_num") / F.col("_den")).alias("est"),
    ]
    if value_col is not None:
        out.append((F.col("_vnum") / F.col("_den")).alias("vest"))
    return gathered.select(*out)


__all__.append("region_boundaries")


def region_boundaries(
    df: DataFrame,
    res: int,
    *,
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Raster→vector region bookkeeping: label 4-connected regions over the
    occupied tile lattice (label_regions), then vectorize each region to
    its scalar outline stats — area (occupied cells), perimeter (exposed
    unit edges: Σ per cell of 4 − occupied 4-neighbors, lattice border
    counts as exposure), boundary cell count (cells with ≥ 1 exposed
    edge), and the axis-aligned bounding box in cell coordinates. This is
    the zonal half of GDAL ``polygonize`` — enough to rank/filter blobs by
    shape (compactness = 4·area vs perimeter²) without emitting ring
    geometry.

    Scale shape: after the one full-data occupancy aggregate inside
    label_regions, everything here is equi-joins and aggregates over the
    occupied-cell table (≤ 4^res rows): neighbor counting is 4 directed
    Morton equi-joins against the occupied set (no theta-join), and the
    per-region rollup is one groupBy on the region label."""
    from metric_search_spark.functions.spatial import (
        cell_from_cxy_col,
        cell_xy_cols,
    )

    lab = label_regions(df, res, x_col=x_col, y_col=y_col).localCheckpoint(
        eager=True
    )
    cx, cy = cell_xy_cols(F.col("tile"))
    cells = lab.select("tile", "region", cx.alias("cx"), cy.alias("cy"))
    lim = 1 << res
    nb = None
    for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1)):
        nx, ny = F.col("cx") + dx, F.col("cy") + dy
        leg = cells.where(
            (nx >= 0) & (nx < lim) & (ny >= 0) & (ny < lim)
        ).select(
            "tile", cell_from_cxy_col(nx, ny, res).alias("nb_tile")
        )
        nb = leg if nb is None else nb.unionByName(leg)
    occ_nb = (
        nb.join(cells.select(F.col("tile").alias("nb_tile")), "nb_tile")
        .groupBy("tile")
        .agg(F.count(F.lit(1)).cast("long").alias("nbc"))
    )
    per_cell = cells.join(occ_nb, "tile", "left").na.fill({"nbc": 0}).select(
        "region",
        "cx",
        "cy",
        (F.lit(4) - F.col("nbc")).alias("exposed"),
    )
    return per_cell.groupBy("region").agg(
        F.count(F.lit(1)).cast("long").alias("area"),
        F.sum("exposed").cast("long").alias("perimeter"),
        F.sum((F.col("exposed") > 0).cast("long")).alias("boundary_cells"),
        F.min("cx").cast("long").alias("min_cx"),
        F.min("cy").cast("long").alias("min_cy"),
        F.max("cx").cast("long").alias("max_cx"),
        F.max("cy").cast("long").alias("max_cy"),
    )


__all__.append("getis_ord")


def getis_ord(
    df: DataFrame,
    res: int,
    *,
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Getis-Ord Gi* hot-spot z-score over the occupied tile lattice —
    the inferential companion to local Moran's I (same support, binary
    queen weights over OCCUPIED cells, star form: the focal cell joins
    its own neighborhood). With N occupied tiles, S = Σz, Q = Σz²,
    W_i = occupied queen neighbors + 1 and zn*_i = z_i + Σ neighbor z:

        Gi* = (N·zn*_i − S·W_i) / sqrt((N·Q − S²)·(N·W_i − W_i²)/(N−1))

    Numerator and both radicand factors are exact int64, so any two
    engines that evaluate the final multiply/divide/sqrt chain in the
    same order produce bit-equal doubles (the entry_queries DuckDB twin
    relies on this). Plan: one full-data tile-count aggregate, then a
    self-excluded k-ring explode (pure Column math, no shuffle), one
    equi-join back to occupied tiles, a per-tile aggregate, and a 1-row
    broadcast cross join for the global scalars — the Moran plan shape.
    Returns (tile, z, w_star, gi_star)."""
    from metric_search_spark.functions.spatial import kring_cells_col

    t = (
        tile_assign(df, res=res, x_col=x_col, y_col=y_col)
        .groupBy("tile")
        .agg(F.count("*").cast("long").alias("z"))
    )
    nb = t.select(
        "tile",
        F.explode(kring_cells_col(F.col("tile"), res, 1)).alias("nb"),
    ).where(F.col("nb") != F.col("tile"))
    pairs = nb.join(
        t.select(F.col("tile").alias("nb"), F.col("z").alias("zj")), "nb"
    )
    per = pairs.groupBy("tile").agg(
        F.count(F.lit(1)).cast("long").alias("wn"),
        F.sum("zj").cast("long").alias("zn"),
    )
    stats = t.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("z").cast("long").alias("s"),
        F.sum(F.col("z") * F.col("z")).cast("long").alias("q"),
    )
    joined = (
        t.join(per, "tile", "left")
        .na.fill({"wn": 0, "zn": 0})
        .crossJoin(F.broadcast(stats))
        .select(
            "tile",
            "z",
            (F.col("wn") + 1).alias("w_star"),
            (F.col("zn") + F.col("z")).alias("zn_star"),
            "n",
            "s",
            "q",
        )
    )
    num = F.col("n") * F.col("zn_star") - F.col("s") * F.col("w_star")
    d1 = F.col("n") * F.col("q") - F.col("s") * F.col("s")
    d2 = F.col("n") * F.col("w_star") - F.col("w_star") * F.col("w_star")
    gi = num.cast("double") / F.sqrt(
        d1.cast("double") * d2.cast("double") / (F.col("n") - 1).cast("double")
    )
    return joined.select(
        "tile", "z", "w_star", F.round(gi, 12).alias("gi_star")
    )


__all__.append("moran_global")


def moran_global(
    df: DataFrame,
    res: int,
    *,
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Global Moran's I spatial-autocorrelation index over the occupied
    tile lattice — the one-number companion to the per-tile LISA
    (q_moran_local) and Getis-Ord Gi*: same support, same binary queen
    weights over OCCUPIED cells. With N tiles, S = Σz and directed
    neighbor pairs (i,j),

        I = N·Σ_{ij}(N·z_i − S)(N·z_j − S) / (W·Σ_i(N·z_i − S)²)

    (the 1/N² deviation scale cancels between numerator and denominator,
    so both Σ terms are EXACT int64 in any engine; one double division at
    the end, round 12). Plan: one tile-count aggregate, a self-excluded
    k-ring explode + equi-join for the pair terms, and three scalar
    aggregates meeting via 1-row broadcast cross joins — never a driver
    round-trip. Envelope: |N·z − S| < 2³¹ keeps every product in int64
    (holds to ~10⁹ points on this lattice; beyond that promote the two
    Σ columns to decimal(38)). Returns ONE row (n_tiles, w_pairs,
    moran_i)."""
    from metric_search_spark.functions.spatial import kring_cells_col

    t = (
        tile_assign(df, res=res, x_col=x_col, y_col=y_col)
        .groupBy("tile")
        .agg(F.count("*").cast("long").alias("z"))
    )
    stats = t.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("z").cast("long").alias("s"),
    )
    nb = t.select(
        "tile",
        F.col("z").alias("zi"),
        F.explode(kring_cells_col(F.col("tile"), res, 1)).alias("nb"),
    ).where(F.col("nb") != F.col("tile"))
    pairs = nb.join(
        t.select(F.col("tile").alias("nb"), F.col("z").alias("zj")), "nb"
    )
    cross = (
        pairs.crossJoin(F.broadcast(stats))
        .agg(
            F.count("*").cast("long").alias("w_pairs"),
            F.sum(
                (F.col("n") * F.col("zi") - F.col("s"))
                * (F.col("n") * F.col("zj") - F.col("s"))
            )
            .cast("long")
            .alias("cross_sum"),
        )
    )
    dev = (
        t.crossJoin(F.broadcast(stats))
        .agg(
            F.first("n").alias("n_tiles"),
            F.sum(
                (F.col("n") * F.col("z") - F.col("s"))
                * (F.col("n") * F.col("z") - F.col("s"))
            )
            .cast("long")
            .alias("dev2"),
        )
    )
    return dev.crossJoin(cross).select(
        "n_tiles",
        "w_pairs",
        F.when(
            (F.col("w_pairs") > 0) & (F.col("dev2") > 0),
            F.round(
                (F.col("n_tiles") * F.col("cross_sum")).cast("double")
                / (F.col("w_pairs") * F.col("dev2")).cast("double"),
                12,
            ),
        ).alias("moran_i"),  # NULL when z is constant or no tile touches
        # another (dev2 = 0 or W = 0): the index is undefined there, and
        # ANSI mode would otherwise raise DIVIDE_BY_ZERO
    )


__all__.append("morton_ranges")
__all__.append("range_lookup")


def morton_ranges(
    x0: float, y0: float, x1: float, y1: float, res: int, *, max_cells: int = 1 << 20
) -> list[tuple[int, int]]:
    """Decompose a bbox query into the minimal sorted list of CONTIGUOUS
    Morton cell-id intervals at ``res`` — the S2/geohash "range planning"
    step that turns a spatial predicate into key-range scans: on a
    z-ordered layout (sources/layout) each interval maps to a contiguous
    run of row groups, so a 100 TB table answers the bbox from parquet
    min/max pruning instead of a full scan. Driver-side numpy over the
    bounded cover (≤ (span·2ʳ+1)² cells; guarded by ``max_cells``) — the
    ranges are query constants, never data.

    Merging is exact: cell ids at one res order like their 2r-bit Morton
    prefixes, so ids are consecutive iff prefixes are. Z-curve locality is
    what makes len(ranges) ≪ n_cells (a bbox decomposes into O(perimeter)
    runs, not O(area) singletons)."""
    import numpy as np

    from metric_search_spark.cells import _pack, interleave_bits

    if not (x0 <= x1 and y0 <= y1):
        raise ValueError("bbox must satisfy x0 <= x1 and y0 <= y1")
    n = 1 << res
    cx0, cx1 = max(0, int(x0 * n)), min(n - 1, int(x1 * n))
    cy0, cy1 = max(0, int(y0 * n)), min(n - 1, int(y1 * n))
    n_cells = (cx1 - cx0 + 1) * (cy1 - cy0 + 1)
    if n_cells > max_cells:
        raise ValueError(
            f"bbox covers {n_cells} cells at res {res} > max_cells="
            f"{max_cells}: lower res (ranges stay exact — the refine "
            "filter handles the coarser boundary) or raise max_cells"
        )
    cx, cy = np.meshgrid(
        np.arange(cx0, cx1 + 1, dtype=np.uint64),
        np.arange(cy0, cy1 + 1, dtype=np.uint64),
    )
    keys = np.sort(
        np.asarray(
            _pack(res, interleave_bits(cx.ravel(), cy.ravel()).astype(np.int64))
        )
    )
    cuts = np.nonzero(np.diff(keys) != 1)[0]
    starts = np.concatenate(([0], cuts + 1))
    ends = np.concatenate((cuts, [len(keys) - 1]))
    return [(int(keys[s]), int(keys[e])) for s, e in zip(starts, ends)]


def range_lookup(
    df: DataFrame,
    x0: float,
    y0: float,
    x1: float,
    y1: float,
    res: int,
    *,
    x_col: str = "x",
    y_col: str = "y",
    out_col: str = "tile",
) -> DataFrame:
    """Bbox lookup as Morton-range scan + exact refine — the two-phase
    spatial filter of every SFC-indexed store: phase 1 keeps rows whose
    res-cell falls in one of the ``morton_ranges`` intervals (on a
    z-ordered layout this is what the parquet reader prunes row groups
    with), phase 2 re-checks the exact coordinate bbox (closed on all
    sides) for rows in boundary cells.

    The interval test is a BROADCAST LEFT-SEMI range join against the
    tiny (lo, hi) list: in whole-stage codegen the Morton key
    materializes ONCE per row in the child Project and the nested-loop
    probe compares a scalar long against ≤ len(ranges) broadcast rows.
    The tempting alternatives are pathological — an OR-chain of BETWEENs
    re-inlines the ~30-node encode into every term at plan time, and an
    exists() higher-order lambda re-evaluates the encode INTERPRETED per
    array element (the nested bit-spread tree explodes exponentially
    without codegen CSE); both measured at minutes vs this plan's ~1 s.
    No shuffle on the data side; returns the input plus the res-cell
    key."""
    ranges = morton_ranges(x0, y0, x1, y1, res)
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    cell = cell_from_xy_col(x, y, res)
    rdf = df.sparkSession.createDataFrame(ranges, "lo long, hi long")
    refine = (x >= x0) & (x <= x1) & (y >= y0) & (y <= y1)
    return (
        df.withColumn(out_col, cell)
        .join(
            F.broadcast(rdf),
            (F.col(out_col) >= F.col("lo")) & (F.col(out_col) <= F.col("hi")),
            "leftsemi",
        )
        .where(refine)
    )


def downsample_mode(
    tiles: DataFrame,
    levels: int = 1,
    *,
    tile_col: str = "tile",
    label_col: str = "label",
    cnt_col: str | None = None,
) -> DataFrame:
    """Majority (mode) downsampling of a CATEGORICAL raster — GDAL's
    ``mode`` resampler: each parent tile takes the most frequent label
    among the ORIGINAL base-resolution contributions under it, weighted
    by ``cnt_col`` (1 per input row when None); ties break to the
    smallest label. The right pyramid for label rasters (land cover,
    region ids, segmentation), where tile_rollup's sums would average
    categories into nonsense.

    The carried state per level is the per-tile LABEL DISTRIBUTION
    ((tile, label) → weight), re-aggregated by the Morton parent shift —
    so every level's mode is the true base-data mode, not a
    majority-of-majorities. One shrinking (parent, label) aggregate per
    level (≤ 4·|labels-per-tile| rows per group); the winner per tile is
    a max-struct pick (weight, −label) — highest weight, then smallest
    label — with cnt = the tile's total weight.

    Input rows carry (tile, label[, cnt]) at one resolution; output is
    (res, tile, label, cnt) for the input level and every coarser level
    down ``levels`` steps."""
    if levels < 1:
        raise ValueError(f"levels {levels} must be >= 1")

    def mode_pick(dist: DataFrame) -> DataFrame:
        return (
            dist.groupBy("res", "tile")
            .agg(
                F.max(
                    F.struct(F.col("cnt"), (-F.col("label")).alias("_nl"))
                ).alias("m"),
                F.sum("cnt").alias("_tot"),
            )
            .select(
                "res",
                "tile",
                (-F.col("m._nl")).alias("label"),
                F.col("_tot").alias("cnt"),
            )
        )

    dist = tiles.select(
        F.shiftright(F.col(tile_col), 56).alias("res"),
        F.col(tile_col).alias("tile"),
        F.col(label_col).cast("long").alias("label"),
        (
            F.col(cnt_col).cast("long") if cnt_col else F.lit(1).cast("long")
        ).alias("cnt"),
    ).groupBy("res", "tile", "label").agg(F.sum("cnt").alias("cnt"))
    out = mode_pick(dist)
    for _ in range(levels):
        res = F.col("res") - 1
        parent = (
            F.shiftleft(res, 56)
            + F.shiftright(F.col("tile").bitwiseAND(F.lit((1 << 56) - 1)), 2)
        ).cast("long")
        dist = (
            dist.groupBy(res.alias("res"), parent.alias("tile"), "label")
            .agg(F.sum("cnt").alias("cnt"))
        )
        out = out.unionByName(mode_pick(dist))
    return out


__all__ += ["downsample_mode"]
