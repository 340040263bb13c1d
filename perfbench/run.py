"""Benchmark entry point. From the repository root:

    python3 perfbench/run.py --workload uniform --seed 1 --seconds 10 --trace 0

Runs one workload (uniform or index_live; see README.md) on
``local[nproc]`` with a driver heap sized to this machine. Set-up is one
session start and SETUP_REPS input generations, each from scratch;
``setup_s`` is the session start plus the median generation. Then a closed
loop of timed calls runs for ``--seconds``, never cutting a cycle short.
Every call's output is checked against a numpy twin outside the timed
region.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. The line before it lists the
workload's own metrics by name (range, geo, build, probe latency, ingest,
error rate). A traced run turns on the Spark event log and spans around
every public call, writes the spans to ``.perfbench_out/``, and reports its
own end-to-end numbers beside the per-layer ones: against the untraced
runs they give the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

from tracing import process_tree

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUP_REPS = 3
# calls whose probe rows answer kNN queries
KNN_OPS = {
    "uniform": ("knn",),
    "index_live": ("probe_clean", "probe_delta"),
}
# steps the timed loop runs even when --seconds is already spent: one
# uniform cycle; the index_live build plus one ingest/probe/compact cycle
MIN_STEPS = {"uniform": 1, "index_live": 2}


def machine_sizing() -> tuple[int, int]:
    """(cpus, driver heap MiB): every core this process may use, and a
    quarter of physical RAM capped at 2 GiB (local mode runs the executors
    inside the driver JVM; the inputs here need far less)."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return cpus, max(1024, min(2048, total_kb // 1024 // 4))


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(KNN_OPS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def latency(xs: list[float]) -> dict:
    """Median, and the highest percentile with at least ten samples above
    it (none below 11 samples), with the sample count."""
    out = {"n": len(xs), "p50_s": statistics.median(xs) if xs else None}
    if len(xs) >= 11:
        pct = math.floor(100.0 * (len(xs) - 10) / len(xs))
        out["tail_pct"] = pct
        out["tail_s"] = sorted(xs)[max(0, math.ceil(pct / 100.0 * len(xs)) - 1)]
    return out


class Session:
    """The run's SparkSession and the JVM behind it."""

    def __init__(self, cpus: int, heap_mb: int, workdir: str):
        self.cpus = cpus
        self.heap_mb = heap_mb
        self.workdir = workdir
        self.spark = None

    def start(self, h, extra_conf: dict[str, str]):
        from metric_search_spark.session import build_session

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.workdir, "warehouse"),
            # a fixed-size, pre-touched heap: no run-to-run variation from
            # heap resizing, in timings or in resident memory
            "spark.driver.extraJavaOptions": (
                f"-Xms{self.heap_mb}m -XX:+AlwaysPreTouch -XX:-UsePerfData"
                f" -Djava.io.tmpdir={os.path.join(self.workdir, 'tmp')}"
            ),
            **extra_conf,
        }
        with h.tracer.span("session.build_session"):
            self.spark = build_session(
                cpus=self.cpus, app_name=f"perfbench-{h.workload}", extra_conf=conf
            )
        h.tracer.spark_context = self.spark.sparkContext

    def shutdown(self) -> None:
        """Stop Spark (which flushes the event log), end the gateway JVM and
        wait until every child process has ended."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
        # the JVM's Python workers end with it; kill any that linger
        if not _children_gone(30):
            for pid in process_tree(os.getpid())[1:]:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            _children_gone(30)


def _children_gone(timeout_s: float) -> bool:
    deadline = time.time() + timeout_s
    while len(process_tree(os.getpid())) > 1:
        if time.time() > deadline:
            return False
        time.sleep(0.2)
    return True


def run_workload(h, cls, session: Session, seconds: float, conf: dict) -> dict:
    """Start the session, generate the inputs SETUP_REPS times, then run the
    timed closed loop. Returns the set-up timings."""
    wl = cls(h)
    t0 = time.perf_counter()
    session.start(h, conf)
    setup = {"session_s": time.perf_counter() - t0, "generate_s": []}
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        wl.setup(session.spark)
        setup["generate_s"].append(time.perf_counter() - t0)
    wl.prepare_checks()
    h.timed_start = len(h.tracer.spans)
    t_end = time.perf_counter() + seconds
    steps = 0
    while steps < MIN_STEPS[h.workload] or time.perf_counter() < t_end:
        wl.step()
        steps += 1
    h.timed_steps = steps
    final = getattr(wl, "final_checks", None)
    if final is not None:
        final()
    return setup


def setup_seconds(setup: dict) -> float:
    """Session start + median input generation."""
    return setup["session_s"] + statistics.median(setup["generate_s"])


def workload_metrics(h, setup: dict) -> dict:
    """The workload's own metrics, named as the layers that produce them."""
    name = h.workload
    out = {
        "setup_s": setup_seconds(setup),
        **setup,
        "knn_rows_per_s": h.rate(KNN_OPS[name]),
        "error_rate": h.failed / max(1, h.attempted),
        "failures": h.failures,
        "timed_steps": h.timed_steps,
    }
    if name == "uniform":
        out["range_rows_per_s"] = h.rate(("range",))
        out["geo_rows_per_s"] = h.rate(("geo",))
    if name == "index_live":
        out["build_rows_per_s"] = h.rate(("build",))
        out["ingest_rows_per_s"] = h.rate(("append", "delete", "compact"))
        out["probe"] = latency(h.samples.get("probe_clean", []) + h.samples.get("probe_delta", []))
    out["calls"] = {op: latency(xs) for op, xs in h.samples.items()}
    out["counts"] = h.counts
    return out


def per_layer(h, log_dir: str, e2e: dict) -> tuple[dict, dict]:
    """Per-layer metrics of a traced run: span medians, layer counts, Spark
    event-log counters summed over the timed region's spans, and the traced
    run's own end-to-end numbers (tracing overhead = these against the
    untraced runs' medians). Also returns the counters by job group."""
    from tracing import SPARK_COUNTERS, spark_counters_by_group, task_skew

    spans = h.tracer.spans

    def med(name: str) -> float:
        xs = [s.duration for s in spans if s.name == name]
        return statistics.median(xs) if xs else 0.0

    c = h.counts
    probes = c.get("knn_join.probes", 0)
    m = {
        "session.build_session_s": med("session.build_session"),
        "sources.synth.spark_images_s": med("sources.synth.spark_images"),
        "operators.joins.knn_join_s": med("operators.joins.knn_join"),
        "operators.joins.knn_result_s": med("operators.joins.knn_result"),
        "operators.joins.knn_join.resolution": c.get("knn_join.resolution", 0),
        "operators.joins.knn_join.rounds": c.get("knn_join.rounds", 0),
        "operators.joins.knn_join.ring1_resolved_ratio": (
            (probes - c.get("knn_join.ring1_unresolved", 0)) / probes if probes else 0.0
        ),
        "operators.joins.range_join_s": med("operators.joins.range_join"),
        "operators.joins.range_join.pairs": c.get("range_join.pairs", 0),
        "operators.tiling.tile_assign_s": med("operators.tiling.tile_assign"),
        "operators.geo.synth_places_s": med("operators.geo.synth_places"),
        "operators.geo.haversine_knn_join_s": med("operators.geo.haversine_knn_join"),
        "sources.index.build_index_s": med("sources.index.build_index"),
        "sources.index.nodes": c.get("index.nodes", 0),
        "sources.index.max_level": c.get("index.max_level", 0),
        "sources.index.min_level": c.get("index.min_level", 0),
        "streaming.incremental.knn_probe_live_clean_s": med(
            "streaming.incremental.knn_probe_live_clean"
        ),
        "streaming.incremental.knn_probe_live_delta_s": med(
            "streaming.incremental.knn_probe_live_delta"
        ),
        "streaming.incremental.delta_rows_at_probe": c.get("delta_rows_at_probe", 0),
        "streaming.incremental.append_delta_s": med("streaming.incremental.append_delta"),
        "streaming.incremental.delete_ids_s": med("streaming.incremental.delete_ids"),
        "streaming.incremental.compact_index_s": med("streaming.incremental.compact_index"),
        "streaming.incremental.cells_rebuilt_ratio": (
            c["cells_rebuilt"] / c["cells_total"] if c.get("cells_total") else 0.0
        ),
        "streaming.incremental.delta_rows_compacted": c.get("delta_rows_compacted", 0),
    }
    by_group = spark_counters_by_group(log_dir)
    totals = {k: 0.0 for k in SPARK_COUNTERS}
    stages: dict = {}
    for s in spans[h.timed_start :]:
        g = by_group.get(s.span_id)
        if g is None:
            continue
        for k in SPARK_COUNTERS:
            totals[k] += g[k]
        stages.update(g["task_times"])
    for k in SPARK_COUNTERS:
        m[f"spark.{k}"] = totals[k]
    m["spark.task_skew"] = task_skew(stages)
    for k in ("setup_s", "knn_rows_per_s", "rows_per_s"):
        m[f"trace.{k}"] = e2e[k][0]
    return m, by_group


def run(args, workdir: str) -> dict:
    from harness import Harness
    from tracing import RssSampler, Tracer, event_log_conf
    from workloads import WORKLOADS  # imports the engine and pyspark

    cpus, heap_mb = machine_sizing()
    os.environ["SPARK_DRIVER_MEMORY"] = f"{heap_mb}m"
    run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
    h = Harness(args.workload, args.seed, workdir, Tracer(run_id, args.workload, bool(args.trace)))
    log_dir = os.path.join(workdir, "eventlog")
    conf = event_log_conf(log_dir) if args.trace else {}
    session = Session(cpus, heap_mb, workdir)
    try:
        with RssSampler() as rss:
            setup = run_workload(h, WORKLOADS[args.workload], session, args.seconds, conf)
            peak_mb = rss.peak_mb
    finally:
        session.shutdown()
    e2e = {
        "setup_s": (setup_seconds(setup), "s"),
        "knn_rows_per_s": (h.rate(KNN_OPS[args.workload]), "1/s"),
        "rows_per_s": (h.rate(tuple(h.samples)), "1/s"),
        "success_rate": ((h.attempted - h.failed) / max(1, h.attempted), "ratio"),
        "peak_rss_mb": (peak_mb, "MB"),
    }
    print(json.dumps({"workload": args.workload, **workload_metrics(h, setup)}))
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    if args.trace:
        layer, by_group = per_layer(h, log_dir, e2e)
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        spans_path = os.path.join(out_dir, f"{run_id}-spans.jsonl")
        h.tracer.write_jsonl(
            spans_path,
            {g: {k: v for k, v in c.items() if k != "task_times"} for g, c in by_group.items()},
        )
        print(f"perfbench: spans written to {spans_path}", file=sys.stderr)
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in layer.items()}
    return {
        "correct": h.failed == 0,
        "attempted": h.attempted,
        "failed": h.failed,
        "metrics": metrics,
    }


def layer_unit(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_ratio") or name.endswith("task_skew"):
        return "ratio"
    return "count"


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "metric_search_spark")):
        print(
            f"perfbench: engine package metric_search_spark not found under {ROOT}",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    # Spark's Python workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    workdir = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(workdir, "tmp"))
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    try:
        result = run(args, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
