#!/usr/bin/env python3
"""Seeded end-to-end benchmark of osm_chordify_spark.

    python3 perfbench/run.py --workload tracts --seed 1 --seconds 10 --trace 0

Workloads (see BENCHMARK.json and perfbench/BASELINE.md):

* ``tracts``   — lines: ``intersect_lines_with_zones`` over thousands of
  jittered-grid tracts (auto-dispatch takes the cell-join path);
  points: ``nearest_zone_dist``;
* ``counties`` — lines: the same facade call on 48 counties (broadcast
  ``ZoneIndex`` path); pages: the flagship extract → anchors → cells →
  ``pip_assign_arrow`` → zone-rollup chain;
* ``network``  — chordify: ``graph.chordify`` over degree-2 chains with
  attribute breaks, rings and parallel edges; knn: ``knn_match`` (k=2)
  against the edges' midpoints.

One Python process, one SparkSession at ``local[<cpus>]`` with the
package's own defaults, closed loop: the operations run one after the
other in a fixed order.  Set-up starts the session and runs every
operation once (warm-up); then whole passes over the operations repeat
until ``--seconds`` of measuring are used (at least one pass).  Each
operation writes its result with ``sources.io.save_table``; the result
is checked after the timed region, and a failed check or an exception
counts as a failed operation.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` starts the
session with the local event log on and, after set-up, runs one
untraced pass, one traced pass with one span (and Spark job group) per
operation, and the per-layer probes; it prints the per-layer metrics
folded from the event log and /proc.  Exact counts must repeat from one
traced run of the same code on a fixture to the next.  The last line of
stdout is one JSON object.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".bench_cache")

LAYERS = ("intersect", "intersect_dist", "pages", "graph", "knn")
LAYER_FIELDS = (
    "wall_s", "driver_s", "jobs", "stages", "tasks", "tasks_failed", "exec_cpu_s", "gc_s",
    "python_run_s", "python_mb", "shuffle_write_mb", "spill_mb", "rows_out",
    "proc_jvm_cpu_s", "proc_py_cpu_s", "proc_driver_cpu_s",
)
PROBES = (
    "pages.extract_s", "pages.tile_s", "pages.pip_s", "sources.io.scan_s", "session.start_s",
    "zoneindex.build_s", "zoneindex.index_mb", "zoneindex.assign_points_s",
    "geom_batch.cover_s", "geom_batch.cover_cells", "geom_batch.clip_s",
    "geom_batch.clip_pairs", "geom_batch.clip_kept_ratio", "geom.wkb_parse_s",
    "skew.fan_out_s", "trace.job_s", "trace.untraced_job_s", "trace.overhead_s", "fail_ratio",
    "peak_rss_mb",
)
# per-layer names whose values are exact counts; every other one is a timing or size
COUNTS = {f"{layer}.{f}" for layer in LAYERS for f in ("jobs", "stages", "tasks", "tasks_failed", "rows_out")} | {
    "geom_batch.cover_cells", "geom_batch.clip_pairs"}
# counts that must repeat exactly from one traced run of the same code on a
# fixture to the next
EXACT = {f"{layer}.{f}" for layer in LAYERS for f in ("jobs", "tasks", "rows_out")} | {
    "geom_batch.cover_cells", "geom_batch.clip_pairs"}
UNITS = {"edges_per_s": "edges/s", "points_per_s": "points/s",
         "_s": "s", "_mb": "MB", "_ratio": "ratio"}

# names the issue uses for each workload's throughput metrics
ALIASES = {
    "tracts": {"edges_per_s": ("lines_per_s", "edges/s"), "points_per_s": ("points_per_s", "points/s")},
    "counties": {"edges_per_s": ("lines_per_s", "edges/s"), "points_per_s": ("pages_per_s", "pages/s")},
    "network": {"edges_per_s": ("chordify_edges_per_s", "edges/s"),
                "points_per_s": ("knn_points_per_s", "points/s")},
}


def unit_of(name: str) -> str:
    if name in COUNTS:
        return "count"
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    raise KeyError(name)


def steal_s() -> float:
    """CPU seconds the hypervisor has stolen from this host since boot."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def seconds_since_process_start() -> float:
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def prepare_env() -> None:
    """Spark's Python workers import the package from this checkout, and
    scratch files (shuffle, temp, JVM temp) stay inside it."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


class Bench:
    def __init__(self, workload: str, seed: int):
        import check
        import gen

        self.workload, self.seed = workload, seed
        self.fx, self.truth, self.manifest = gen.fixture(CACHE, workload, seed)
        self.rows = self.manifest["tables"]
        self.check = check.Checks(self.fx, self.truth, seed)
        self.out_root = os.path.join(CACHE, "out", f"{workload}-{os.getpid()}")
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.n_out = 0

    def run_op(self, op, tracer=None) -> float:
        """One timed call, then its check outside the timed region;
        returns the call's wall time.  A call that raised or whose output
        failed the check is counted as failed."""
        from contextlib import nullcontext

        self.attempted += 1
        self.n_out += 1
        out = os.path.join(self.out_root, str(self.n_out))
        t0 = time.perf_counter()
        try:
            with tracer.span(op.layer, op=op.name) if tracer else nullcontext():
                paths = op.run(out)
            wall = time.perf_counter() - t0
            errs = self.check(op.name, paths)
        except Exception:  # a failing operation is a result, not a crash
            wall = time.perf_counter() - t0
            errs = [f"{op.name}: " + traceback.format_exc(limit=3)]
        finally:
            shutil.rmtree(out, ignore_errors=True)
        if errs:
            self.failed += 1
            self.errors.extend(errs)
        return wall

    def run_pass(self, ops, tracer=None) -> dict:
        """One closed-loop pass: op name → wall time, and the pass total.
        A failed operation keeps its time; the failure itself is counted."""
        times = {op.name: self.run_op(op, tracer) for op in ops}
        times["job"] = sum(times.values())
        return times


def start_spark(extra_conf=None):
    from osm_chordify_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=extra_conf)
    return spark, time.perf_counter() - t0


def stop_spark() -> None:
    """Stop the session, end the JVM it runs in and wait until it and
    every process it started (the Python workers) have exited: left to
    itself the JVM outlives this process by seconds."""
    import subprocess

    import tracing
    from pyspark import SparkContext

    started = set(tracing.process_tree()) - {os.getpid()}
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        started |= set(tracing.process_tree()) - {os.getpid()}
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        tracing.wait_ended(started)


def measure(bench, ops, seconds: float, tracer=None) -> list:
    """Whole passes until ``seconds`` are used, at least one."""
    passes, t0 = [], time.perf_counter()
    while not passes or time.perf_counter() - t0 < seconds:
        passes.append(bench.run_pass(ops, tracer))
        print("pass", " ".join(f"{k}={v:.3f}" for k, v in passes[-1].items()), file=sys.stderr)
    return passes


def medians(passes) -> dict:
    return {key: statistics.median(p[key] for p in passes) for key in passes[0]}


def end_to_end(ops, setup_s, passes) -> dict:
    med = medians(passes)
    return {"setup_s": setup_s, "job_s": med["job"],
            **{op.metric: op.items / med[op.name] for op in ops}}


def probe_layers(bench, spark, tracer) -> dict:
    """Per-layer probes outside the operations: noop-sink scans of every
    input, the pages chain's materialized prefixes, and direct
    driver-side calls into the kernels on the workload's own inputs."""
    import pickle

    import numpy as np
    import pyarrow.parquet as pq

    import workloads
    from osm_chordify_spark import geom as G
    from osm_chordify_spark import geom_batch as GB
    from osm_chordify_spark.cellindex import WORLD
    from osm_chordify_spark.operators.zoneindex import ZoneIndex

    m = {k: 0.0 for k in PROBES}

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    with tracer.span("sources.io.scan") as sp:
        for path in bench.fx.values():
            noop(spark.read.parquet(path))
    m["sources.io.scan_s"] = sp["t1"] - sp["t0"]

    # the plan-to-RDD conversion skew.fan_out runs before every kernel
    first = spark.read.parquet(next(iter(bench.fx.values())))
    t0 = time.perf_counter()
    first.rdd.getNumPartitions()
    m["skew.fan_out_s"] = time.perf_counter() - t0

    geoms = [(name, pq.read_table(bench.fx[name], columns=["geometry"]).column("geometry").to_pylist())
             for name in ("zones", "edges") if name in bench.fx]
    t0 = time.perf_counter()
    parsed = {name: [G.geometry_polygons(g) if name == "zones" else G.geometry_lines(g) for g in gs]
              for name, gs in geoms}
    m["geom.wkb_parse_s"] = time.perf_counter() - t0

    if "zones" in parsed:
        zpolys, elines = parsed["zones"], parsed["edges"]
        t0 = time.perf_counter()
        _z, cells, _f = GB.zone_cover_cells_batch(zpolys, 9, WORLD, 4096)
        m["geom_batch.cover_s"] = time.perf_counter() - t0
        m["geom_batch.cover_cells"] = len(cells)
        zones = bench.check.zones
        bb = zones.bbox
        eb = np.array([[*np.concatenate(ls).min(axis=0), *np.concatenate(ls).max(axis=0)]
                       for ls in elines])
        ec, zc = [], []
        for i, (x0, y0, x1, y1) in enumerate(eb):
            hit = np.nonzero((bb[:, 0] <= x1) & (bb[:, 2] >= x0) & (bb[:, 1] <= y1) & (bb[:, 3] >= y0))[0]
            ec.append(np.full(len(hit), i))
            zc.append(hit)
        ec, zc = np.concatenate(ec), np.concatenate(zc)
        t0 = time.perf_counter()
        GB.clip_pairs_totals(elines, ec, zpolys, zc)
        m["geom_batch.clip_s"] = time.perf_counter() - t0

    if bench.workload == "counties":
        zl = list(zip(zones.ids, zpolys))
        t0 = time.perf_counter()
        idx = ZoneIndex.build(zl, res=9)
        m["zoneindex.build_s"] = time.perf_counter() - t0
        m["zoneindex.index_mb"] = len(pickle.dumps(idx, protocol=pickle.HIGHEST_PROTOCOL)) / 1e6
        idx7 = ZoneIndex.build(zl, res=7)
        t0 = time.perf_counter()
        idx7.assign_points(bench.truth["lon"], bench.truth["lat"])
        m["zoneindex.assign_points_s"] = time.perf_counter() - t0
        county_list = workloads.county_list(spark, bench.fx)
        prefix = {}
        for upto in ("read", "extract", "tile", "pip"):
            with tracer.span(f"pages.{upto}") as sp:
                noop(workloads.pages_chain(spark, bench.fx, county_list, upto))
            prefix[upto] = sp["t1"] - sp["t0"]
        m["pages.extract_s"] = prefix["extract"] - prefix["read"]
        m["pages.tile_s"] = prefix["tile"] - prefix["extract"]
        m["pages.pip_s"] = prefix["pip"] - prefix["tile"]
    return m


def fold_layers(tracer, groups, workload: str) -> dict:
    """Each operator span's event-log and /proc row as ``<layer>.<field>``;
    layers the workload does not run read 0.  Where the lines call takes
    the cell-join path, the rows into and out of its written clip kernel
    are the program's candidate pairs and kept pairs."""
    import tracing

    m = {f"{layer}.{f}": 0 for layer in LAYERS for f in LAYER_FIELDS}
    for sp in tracer.spans:
        if sp["name"] in LAYERS:
            m.update({f"{sp['name']}.{f}": v for f, v in tracing.fold_span(sp, groups).items()})
        # tracts' lines call takes the cell-join path, whose clip kernel
        # receives (edge, zone) candidate pairs
        if sp["name"] == "intersect" and workload == "tracts":
            rec = groups.get(sp["group"]) or tracing.group_totals()
            pairs = rec["kernel_rows_in"]
            m["geom_batch.clip_pairs"] = pairs
            m["geom_batch.clip_kept_ratio"] = rec["kernel_rows_out"] / pairs if pairs else 0.0
    return m


def code_hash() -> str:
    """Hash of the package's and the benchmark's Python source."""
    h = hashlib.sha256()
    for sub in ("osm_chordify_spark", "perfbench"):
        for path in sorted(glob.glob(os.path.join(ROOT, sub, "**", "*.py"), recursive=True)):
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def check_counts_repeat(bench, metrics: dict) -> list:
    """Exact counts must repeat across traced runs of the same code on one
    fixture; changed code starts a fresh record."""
    key = hashlib.sha256(json.dumps(bench.manifest["sha256"], sort_keys=True).encode()
                         + code_hash().encode()).hexdigest()[:16]
    path = os.path.join(CACHE, "counts", f"{bench.workload}-{key}.json")
    now = {k: metrics[k] for k in sorted(EXACT)}
    if os.path.exists(path):
        with open(path) as f:
            before = json.load(f)
        diff = [k for k in now if before.get(k) != now[k]]
        return [f"counts differ from the previous traced run of this code and fixture: {diff}"] if diff else []
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(now, f, indent=1)
    return []


def event_log_conf(log_dir: str) -> dict:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def traced_passes(bench, spark, ops) -> tuple[dict, object]:
    """After set-up: one untraced pass, one traced pass (a span and job
    group per operation) and the layer probes, all in the one
    event-logged session."""
    import tracing

    untraced = measure(bench, ops, 0)
    tracer = tracing.Tracer(spark)
    traced = measure(bench, ops, 0, tracer)
    metrics = probe_layers(bench, spark, tracer)
    metrics["trace.job_s"] = medians(traced)["job"]
    metrics["trace.untraced_job_s"] = medians(untraced)["job"]
    metrics["trace.overhead_s"] = metrics["trace.job_s"] - metrics["trace.untraced_job_s"]
    return metrics, tracer


def fold_trace(bench, metrics, tracer, log_dir) -> dict:
    """Fold the finished event log into the per-layer metrics."""
    import tracing

    groups = tracing.read_event_log(tracing.event_log_file(log_dir))
    shutil.rmtree(log_dir, ignore_errors=True)
    metrics.update(fold_layers(tracer, groups, bench.workload))
    bench.errors.extend(check_counts_repeat(bench, metrics))
    return metrics


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(ALIASES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    prepare_env()
    sys.path[:0] = [ROOT, HERE]
    import tracing
    import workloads  # imports the package: fails here outside a checkout

    boot_s = seconds_since_process_start()
    steal0 = steal_s()
    bench = Bench(args.workload, args.seed)
    print(f"boot {boot_s:.2f}s, inputs ready at {seconds_since_process_start():.2f}s", file=sys.stderr)

    log_dir = os.path.join(CACHE, "eventlog", str(os.getpid()))
    if args.trace:
        os.makedirs(log_dir, exist_ok=True)
    with tracing.RssSampler() as rss:
        try:
            spark, start_s = start_spark(event_log_conf(log_dir) if args.trace else None)
            ops = workloads.operations(args.workload, spark, bench.fx, bench.rows)
            warm = sum(bench.run_op(op) for op in ops)
            setup_s = boot_s + start_s + warm
            print(f"session {start_s:.2f}s, warm-up {warm:.2f}s, at {seconds_since_process_start():.2f}s",
                  file=sys.stderr)
            if args.trace:
                metrics, tracer = traced_passes(bench, spark, ops)
            else:
                metrics = end_to_end(ops, setup_s, measure(bench, ops, args.seconds))
        finally:
            stop_spark()
    # peak RSS swings by a third between runs (JVM heap sizing), too much
    # for a bounded end-to-end metric: it is reported on the
    # human-readable lines and as a per-layer metric
    extra = {"peak_rss_mb": rss.peak / 1e6, "fail_ratio": bench.failed / bench.attempted}
    if args.trace:
        metrics = fold_trace(bench, metrics, tracer, log_dir)
        metrics.update(extra, **{"session.start_s": start_s})
    # human-readable lines, with the issue's names for the throughput metrics
    alias = {} if args.trace else ALIASES[args.workload]
    shown = dict(metrics) if args.trace else {**metrics, **extra}
    for name in sorted(shown) if args.trace else shown:
        label, unit = alias.get(name, (name, unit_of(name)))
        print(f"{args.workload} {label} = {shown[name]:.6g} {unit}")
    shutil.rmtree(bench.out_root, ignore_errors=True)
    for e in bench.errors:
        print(f"FAILED {e}", file=sys.stderr)
    # a noisy host shows here; it explains a slow run, it is not a metric
    print(f"cpu stolen by the hypervisor during the run: {steal_s() - steal0:.2f}s", file=sys.stderr)
    result = {
        "correct": not bench.errors,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
