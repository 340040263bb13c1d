"""The benchmark workloads. Each drives the engine only through its
public functions, as one closed-loop client: a call is issued only after the
previous one returned. See README.md for why each workload exists.

A workload has these parts, called by run.py:

- ``setup(spark)``: generate inputs from the seed, from scratch; called
  once per set-up repetition;
- ``prepare_checks()``: collect what the numpy twins need (untimed);
- ``step()``: one cycle of timed calls, checked outside the timed region.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import oracle
from harness import Harness

from metric_search_spark.cells import cell_encode
from metric_search_spark.functions.spatial import coord_cols
from metric_search_spark.operators.geo import haversine_knn_join, synth_places
from metric_search_spark.operators.joins import KnnJoinStats, knn_join, range_join
from metric_search_spark.operators.tiling import tile_assign
from metric_search_spark.sources.index import build_index, load_lineage
from metric_search_spark.sources.synth import spark_images
from metric_search_spark.streaming.incremental import (
    append_delta,
    compact_index,
    delete_ids,
    knn_probe_live,
)

K = 10  # flagship kNN
GEO_K = 5
TILE_RES = 6
SAMPLE = 40  # probes per correctness twin


def _release(df) -> None:
    """Drop a join result's backing cache so Spark's CacheManager cannot
    serve the next timed call from it."""
    getattr(df, "_msk_backing", df).unpersist()


def _xy_frame(spark, ids: np.ndarray, xy: np.ndarray):
    return spark.createDataFrame(
        pd.DataFrame({"id": ids.astype(np.int64), "x": xy[:, 0], "y": xy[:, 1]})
    )


class Uniform:
    """spark_images lite table with phash-derived x,y: ring 1 resolves every
    kNN probe and nothing is salted, so the flagship kNN(k=10) + tile_assign
    + join + count isolates the halo cogroup shuffle and the flat Arrow
    kernel. Then range_join (~4 pairs per probe), a standalone tile_assign
    scan, and haversine_knn_join(k=5) over the synth_places fixture."""

    N = 40_000
    GEO_N = 5_000

    def __init__(self, h: Harness):
        self.h = h
        self.tbl = None
        # ~4 pairs per probe: E[pairs] = n * pi * r^2 on the unit square
        self.radius = math.sqrt(4.0 / (math.pi * self.N))

    def _table(self, spark, n: int, seed: int):
        imgs = spark_images(spark, n, seed=seed)
        xc, yc = coord_cols(F.col("phash"))
        return imgs.select(
            F.substring("image_id", 4, 12).cast("long").alias("id"),
            xc.alias("x"),
            yc.alias("y"),
        )

    def setup(self, spark) -> None:
        h = self.h
        self.spark = spark
        if self.tbl is not None:
            # else the CacheManager would serve the regenerated plan
            self.tbl.unpersist()
        with h.tracer.span("sources.synth.spark_images"):
            self.tbl = self._table(spark, self.N, h.seed).persist()
            self.tbl.count()
        with h.tracer.span("operators.geo.synth_places"):
            self.places = synth_places(spark, self.GEO_N, seed=h.seed).localCheckpoint(
                eager=True
            )

    def prepare_checks(self) -> None:
        pdf = self.tbl.toPandas()
        self.ids = pdf["id"].to_numpy(np.int64)
        self.xy = pdf[["x", "y"]].to_numpy(np.float64)
        pick = self.h.rng.choice(len(self.ids), SAMPLE, replace=False)
        self.sample_ids = self.ids[pick]
        self.want_ids, self.want_d = oracle.knn_brute(self.xy, self.ids, self.xy[pick], K)
        self.want_tiles = cell_encode(self.xy[pick, 0], self.xy[pick, 1], TILE_RES)
        self.want_pairs = oracle.range_pair_count(self.xy, self.radius)
        self.want_sets = oracle.range_sets(self.xy, self.ids, self.xy[pick], self.radius)

        places = self.places.toPandas()
        self.place_ids = places["place_id"].to_numpy(np.int64)
        lat = places["lat_udeg"].to_numpy(np.float64)
        lon = places["lon_udeg"].to_numpy(np.float64)
        kth = oracle.geo_kth_m(lat, lon, np.arange(len(lat)), GEO_K)
        pick = self.h.rng.choice(len(self.place_ids), SAMPLE, replace=False)
        self.geo_sample = self.place_ids[pick]
        self.want_kth = kth[pick]
        # The doubling loop ends in the first round whose radius exceeds
        # every place's 5-NN distance, so a fixed r0 makes the round count
        # (and the job count) hinge on the seed's sparsest place. Round 0 at
        # 2/3 of that distance resolves most places and round 1 the rest:
        # two rounds on every seed.
        self.r0 = kth.max() / 1.5

    def step(self) -> None:
        self.knn_tile()
        self.range()
        self.tile_scan()
        self.geo()

    def knn_tile(self) -> None:
        h = self.h
        stats = KnnJoinStats()
        holder = {}

        def call():
            with h.tracer.span("operators.joins.knn_join"):
                holder["knn"] = knn_join(self.tbl, self.tbl, k=K, vec_col=None, stats=stats)
            with h.tracer.span("operators.joins.knn_result"):
                tiles = tile_assign(self.tbl, res=TILE_RES).select(
                    F.col("id").alias("query_id"), "tile"
                )
                holder["flag"] = holder["knn"].join(tiles, "query_id")
                return holder["flag"].count()

        n_rows = h.call("knn", self.N, call)
        try:
            if n_rows is not None:
                h.counts["knn_join.resolution"] = stats.resolution
                h.counts["knn_join.rounds"] = len(stats.rounds)
                h.counts["knn_join.ring1_unresolved"] = stats.rounds[0].get("unresolved", 0)
                h.counts["knn_join.probes"] = self.N
                h.check("knn", lambda: self._check_knn(n_rows, holder["flag"]))
        finally:
            if "knn" in holder:
                _release(holder["knn"])

    def _check_knn(self, n_rows: int, flag) -> list[str]:
        bad = []
        if n_rows != self.N * K:
            bad.append(f"knn rows {n_rows} != {self.N}*{K}")
        rows = (
            flag.where(F.col("query_id").isin(self.sample_ids.tolist()))
            .orderBy("query_id", "rank")
            .collect()
        )
        got: dict[int, list] = {}
        tiles: dict[int, int] = {}
        for r in rows:
            got.setdefault(r["query_id"], []).append((r["neighbor_id"], r["dist"]))
            tiles[r["query_id"]] = r["tile"]
        bad += oracle.compare_knn(got, self.sample_ids, self.want_ids, self.want_d)
        got_tiles = np.array([tiles.get(int(q), -1) for q in self.sample_ids])
        bad += oracle.compare_tiles(got_tiles, self.want_tiles, self.sample_ids)
        return bad

    def range(self) -> None:
        h = self.h
        holder = {}

        def call():
            with h.tracer.span("operators.joins.range_join"):
                holder["rj"] = range_join(self.tbl, self.tbl, radius=self.radius, vec_col=None)
                return holder["rj"].count()

        pairs = h.call("range", self.N, call)
        if "rj" in holder:
            _release(holder["rj"])
        if pairs is not None:
            h.counts["range_join.pairs"] = pairs
            h.check(
                "range",
                lambda: [] if pairs == self.want_pairs else [f"range pairs {pairs} != {self.want_pairs}"],
            )

    def tile_scan(self) -> None:
        def call():
            with self.h.tracer.span("operators.tiling.tile_assign"):
                return tile_assign(self.tbl, res=TILE_RES).count()

        n = self.h.call("tile", self.N, call)
        if n is not None:
            self.h.check("tile", lambda: [] if n == self.N else [f"tile rows {n}"])

    def geo(self) -> None:
        h = self.h
        holder = {}

        def call():
            with h.tracer.span("operators.geo.haversine_knn_join"):
                holder["gk"] = haversine_knn_join(self.places, GEO_K, r0_m=self.r0)
                return holder["gk"].count()

        n = h.call("geo", self.GEO_N, call)
        if n is not None:
            h.check("geo", lambda: self._check_geo(n, holder["gk"]))

    def _check_geo(self, n: int, gk) -> list[str]:
        bad = [] if n == self.GEO_N * GEO_K else [f"geo rows {n} != {self.GEO_N}*{GEO_K}"]
        rows = gk.where(
            F.col("a_id").isin(self.geo_sample.tolist()) & (F.col("rnk") == GEO_K)
        ).collect()
        kth = {r["a_id"]: r["dist_mm"] / 1000.0 for r in rows}
        got = np.array([kth.get(int(q), np.nan) for q in self.geo_sample])
        self.h.counts["geo.kth_max_err_m"] = float(np.nanmax(np.abs(got - self.want_kth)))
        return bad + oracle.compare_geo_kth(got, self.want_kth, self.geo_sample)

    def final_checks(self) -> None:
        """Strict d < r sets for the sampled probes, through a probe-subset
        range join (each timed call is checked by its exact pair count)."""

        def check():
            probes = self.tbl.where(F.col("id").isin(self.sample_ids.tolist()))
            rj = range_join(probes, self.tbl, radius=self.radius, vec_col=None)
            got: dict[int, set] = {}
            for r in rj.collect():
                got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
            _release(rj)
            return oracle.compare_range(got, self.sample_ids, self.want_sets)

        self.h.check("range_sample", check, counted=True)


class IndexLive:
    """build_index over uniform points, then cycles of: append_delta,
    delete_ids, knn_probe_live with the delta present, compact_index, and
    knn_probe_live on the freshly compacted (clean) index. Writes beside
    reads on sources.index, core.covertree and streaming.incremental."""

    N = 5_000
    RES = 3
    BATCHES = 1
    PROBES = 20
    INSERTS = 200
    PROBE_ID0 = 10**12

    def __init__(self, h: Harness):
        self.h = h
        self.path = os.path.join(h.workdir, f"index-{h.tracer.run_id}")
        self.built = False
        self.next_id = self.N
        self.next_probe = self.PROBE_ID0
        self.delta_rows = 0
        self.base = None

    def setup(self, spark) -> None:
        self.spark = spark
        if self.base is not None:
            self.base.unpersist()
        self.rng = np.random.default_rng(self.h.seed)
        self.base_xy = self.rng.uniform(0.0, 1.0, (self.N, 2))
        self.base = _xy_frame(spark, np.arange(self.N), self.base_xy).persist()
        self.base.count()

    def prepare_checks(self) -> None:
        self.mirror = oracle.Mirror(np.arange(self.N), self.base_xy)

    def step(self) -> None:
        if not self.built:
            if self.h.call("build", self.N, self._build) is None:
                raise RuntimeError("build_index failed; the cycle has no index")
            self.built = True
            self.lineage_counts()
            return
        probes = self._probe_batch()
        self.ingest(probes[1][0])
        self.probe(*probes, delta=True)
        self.compact()
        self.probe(*self._probe_batch(), delta=False)

    def _build(self):
        with self.h.tracer.span("sources.index.build_index"):
            return build_index(self.base, self.path, res=self.RES, batches=self.BATCHES)

    def lineage_counts(self) -> None:
        row = load_lineage(self.spark, self.path).agg(
            F.sum("n_nodes").alias("nodes"),
            F.max("max_level").alias("max_level"),
            F.min("min_level").alias("min_level"),
        ).first()
        for k in ("nodes", "max_level", "min_level"):
            self.h.counts[f"index.{k}"] = row[k]

    def _points(self, n: int, id0: int) -> tuple[np.ndarray, np.ndarray]:
        return np.arange(id0, id0 + n, dtype=np.int64), self.rng.uniform(0.0, 1.0, (n, 2))

    def _probe_batch(self) -> tuple[np.ndarray, np.ndarray]:
        self.next_probe += self.PROBES
        return self._points(self.PROBES, self.next_probe - self.PROBES)

    def ingest(self, near: np.ndarray) -> None:
        h = self.h
        ins_ids, ins_xy = self._points(self.INSERTS, self.next_id)
        self.next_id += self.INSERTS
        # tombstones: the live base row nearest ``near`` (a probe of the next
        # batch, so the over-fetch path of knn_probe_live always runs) and a
        # row inserted by this very cycle (the delta merge only)
        ids, xy = self.mirror.arrays()
        base = ids < self.N
        victim = ids[base][np.argmin(oracle.l2_cross(near[None, :], xy[base])[0])]
        dels = np.array([victim, ins_ids[0]], dtype=np.int64)
        ins_df = _xy_frame(self.spark, ins_ids, ins_xy)
        del_df = self.spark.createDataFrame(pd.DataFrame({"id": dels}))

        def do_append():
            with h.tracer.span("streaming.incremental.append_delta"):
                append_delta(ins_df, self.path)
            return True

        def do_delete():
            with h.tracer.span("streaming.incremental.delete_ids"):
                delete_ids(del_df, self.path)
            return True

        if h.call("append", self.INSERTS, do_append):
            self.mirror.insert(ins_ids, ins_xy)
            self.delta_rows = self.INSERTS
        if h.call("delete", len(dels), do_delete):
            self.mirror.delete(dels)
            self.delta_rows += len(dels)

    def probe(self, ids: np.ndarray, xy: np.ndarray, delta: bool) -> None:
        h = self.h
        probes = _xy_frame(self.spark, ids, xy)
        name = "knn_probe_live_delta" if delta else "knn_probe_live_clean"

        def call():
            with h.tracer.span(f"streaming.incremental.{name}"):
                return knn_probe_live(probes, self.path, k=K).collect()

        rows = h.call("probe_delta" if delta else "probe_clean", self.PROBES, call)
        if delta:
            h.counts["delta_rows_at_probe"] = self.delta_rows
        if rows is not None:
            h.check("probe", lambda: self._check_probe(ids, xy, rows))

    def _check_probe(self, ids, xy, rows) -> list[str]:
        m_ids, m_xy = self.mirror.arrays()
        want_ids, want_d = oracle.knn_brute(m_xy, m_ids, xy, K)
        got: dict[int, list] = {}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            got.setdefault(r["query_id"], []).append((r["neighbor_id"], r["dist"]))
        return oracle.compare_knn(got, ids, want_ids, want_d)

    def compact(self) -> None:
        h = self.h

        def call():
            with h.tracer.span("streaming.incremental.compact_index"):
                return compact_index(self.spark, self.path)

        rebuilt = h.call("compact", self.delta_rows, call)
        if rebuilt is not None:
            h.counts["cells_rebuilt"] = rebuilt
            h.counts["cells_total"] = 4**self.RES
            h.counts["delta_rows_compacted"] = self.delta_rows
            self.delta_rows = 0


WORKLOADS = {"uniform": Uniform, "index_live": IndexLive}
