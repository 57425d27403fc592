"""Benchmark of the laji_pygeoapi_spark engine: OGC API serving between
staged appends and compactions of a bulk-loaded store (``serve_append``),
and the curation job (``curate``).

Usage (from the repository root)::

    python3 perfbench/run.py --workload serve_append --seed 1 --seconds 8 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
workload with spans around every call into a layer and prints the
per-layer metrics instead (plus, before the result line, which end-to-end
metric and workload each one should move, and the spans file).  The last
line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
Standard error gets the wall and CPU time of every request shape, the set-up
time and the host probe's samples.

The ``*_cost_ms`` and ``rows_per_cost_s`` metrics are CPU costs scaled to a
reference host speed, not wall latencies (see ``END_TO_END`` below);
wall-clock medians are the per-layer ``wall.*`` metrics.

Spark runs as ``local[4]`` with a 2 GiB driver; every file the run writes
stays under ``perfbench/.work/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4

# (name, unit) of every end-to-end metric, printed by ``--trace 0``.
#
# The request, append and job metrics are costs: CPU time of the whole
# process tree (cpu.py), as the mean over request shapes of each shape's
# median (workloads.cpu_cost), scaled to a reference host speed.  This shared host's speed drifts by
# tens of percent between runs and moves wall and CPU time alike, so every
# run also times a fixed Spark job that calls nothing in the package after
# each operation (workloads.Ctx.host_probe), and a cost is reported as
#     CPU s x PROBE_REF_S / (the run's median probe CPU s).
# A change to the Spark session itself (settings every query shares) moves
# the probe too and is partly scaled away; the per-layer wall.* metrics and
# host.probe_cpu_ms show it.
END_TO_END = [
    ("setup_s", "s"), ("peak_rss_mb", "MB"), ("rows_per_cost_s", "rows/s"),
    ("bytes_per_row", "B"), ("page_cost_ms", "ms"), ("filter_cost_ms", "ms"),
    ("count_cost_ms", "ms"), ("lookup_cost_ms", "ms"), ("read_cost_ms", "ms"),
    ("append_cost_ms", "ms"),
]
PROBE_REF_S = 0.1  # about the probe's CPU time on the 4-vCPU VM it was sized on

# (name, unit, end-to-end metrics it should move and on which workload,
#  what it should not move).  SA = serve_append, CU = curate.
PER_LAYER = [
    ("kernels.cells.hex_cell.ns_per_pt", "ns/pt", "SA append_cost_ms, rows_per_cost_s", "SA reads; CU"),
    ("kernels.cells.mercator_tile.ns_per_pt", "ns/pt", "SA append_cost_ms, rows_per_cost_s", "SA reads; CU"),
    ("kernels.cells.s2_cell.ns_per_pt", "ns/pt", "SA append_cost_ms, rows_per_cost_s", "SA reads; CU"),
    ("kernels.geom.grid_index_assign.ns_per_pt", "ns/pt", "SA append_cost_ms, rows_per_cost_s", "SA reads; CU"),
    ("kernels.geom.points_in_polygon.ns_per_pt", "ns/pt", "SA filter_cost_ms", "SA append_cost_ms; CU"),
    ("kernels.crs.wgs84_to_tm35fin.ns_per_pt", "ns/pt", "SA filter_cost_ms", "SA append_cost_ms; CU"),
    ("plans.ingest.ingest_fused.s", "s", "SA append_cost_ms, rows_per_cost_s", "SA reads; CU"),
    ("sources.table.write_partitioned.s", "s", "SA append_cost_ms; CU append_cost_ms", "SA reads"),
    ("sources.table.write_partitioned.jobs", "count", "SA append_cost_ms; CU append_cost_ms", "SA reads"),
    ("sources.table.write_partitioned.tasks", "count", "SA append_cost_ms; CU append_cost_ms", "SA reads"),
    ("sources.table.write_partitioned.files", "count", "SA bytes_per_row; CU bytes_per_row", "SA reads"),
    ("sources.table.write_partitioned.bytes", "B", "SA bytes_per_row; CU bytes_per_row", "SA reads"),
    ("sources.table.compact_store.s", "s", "SA rows_per_cost_s", "SA append_cost_ms; CU"),
    ("sources.table.compact_store.jobs", "count", "SA rows_per_cost_s", "SA append_cost_ms; CU"),
    ("sources.table.compact_store.bytes_rewritten", "B", "SA rows_per_cost_s", "SA append_cost_ms; CU"),
    ("sources.table.live_manifests", "count", "SA count_cost_ms, lookup_cost_ms", "CU"),
    ("sources.table.files_per_partition", "count", "SA read_cost_ms, bytes_per_row", "CU"),
    ("sources.table.bbox_count.s", "s", "SA count_cost_ms", "SA append_cost_ms; CU"),
    ("sources.table.lookup_partitions.s", "s", "SA lookup_cost_ms", "SA append_cost_ms; CU"),
    ("sources.table.lookup_partitions.candidates", "count", "SA lookup_cost_ms", "SA append_cost_ms; CU"),
    ("sources.table.lookup_partitions.hit_ratio", "ratio", "SA lookup_cost_ms", "SA append_cost_ms; CU"),
    ("api.features.items.s", "s", "SA page_cost_ms, count_cost_ms; CU page_cost_ms", "SA append_cost_ms; CU rows_per_cost_s"),
    ("api.features.items.jobs", "count", "SA count_cost_ms; CU count_cost_ms", "SA append_cost_ms; CU rows_per_cost_s"),
    ("api.features.feature_collection.s", "s", "SA page_cost_ms, filter_cost_ms, read_cost_ms", "SA append_cost_ms; CU"),
    ("api.features.feature_collection.jobs", "count", "SA page_cost_ms, filter_cost_ms", "SA append_cost_ms; CU"),
    ("api.features.feature_collection.tasks", "count", "SA page_cost_ms, filter_cost_ms", "SA append_cost_ms; CU"),
    ("api.features.feature_collection.bytes", "B", "SA page_cost_ms", "SA append_cost_ms; CU"),
    ("api.features.feature_collection.rows", "count", "SA page_cost_ms", "SA append_cost_ms; CU"),
    ("api.features.get_feature.s", "s", "SA lookup_cost_ms; CU lookup_cost_ms", "SA append_cost_ms; CU rows_per_cost_s"),
    ("api.features.get_feature.jobs", "count", "SA lookup_cost_ms; CU lookup_cost_ms", "SA append_cost_ms; CU rows_per_cost_s"),
    ("plans.curation.curate.s", "s", "CU rows_per_cost_s", "SA"),
    ("plans.curation.curate.jobs", "count", "CU rows_per_cost_s", "SA"),
    ("plans.curation.curate.kept_frac", "ratio", "CU rows_per_cost_s, bytes_per_row", "SA"),
    ("plans.curation.curate.input_rows", "count", "(base of kept_frac)", "-"),
    ("operators.sketch.update_quantile_store.s", "s", "CU rows_per_cost_s", "SA"),
    ("session.get_spark.s", "s", "SA setup_s; CU setup_s", "all other metrics"),
    ("warmup.s", "s", "SA setup_s; CU setup_s", "all other metrics"),
    ("wall.page_p50_ms", "ms", "(wall-clock median, page)", "-"),
    ("wall.filter_p50_ms", "ms", "(wall-clock median, filter)", "-"),
    ("wall.count_p50_ms", "ms", "(wall-clock median, count)", "-"),
    ("wall.lookup_p50_ms", "ms", "(wall-clock median, lookup)", "-"),
    ("wall.append_p50_ms", "ms", "(wall-clock median, append)", "-"),
    ("trace.overhead_frac", "ratio", "(tracing overhead, traced/untraced - 1)", "-"),
    ("trace.spans", "count", "(spans recorded)", "-"),
    ("host.alu_ceiling", "1/s", "(in-window host CPU probe: bench.alu_ceiling)", "-"),
    ("host.probe_cpu_ms", "ms", "(median CPU of the fixed Spark probe job the costs are scaled by)", "-"),
]


def _vm_hwm_mb(pid) -> float:
    """Peak resident memory of a process (``VmHWM``), in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _median(xs) -> float:
    """Median, or 0 for a layer that never ran."""
    return float(statistics.median(xs)) if xs else 0.0


def _layer_values(tracer, ctx) -> dict[str, float]:
    """Per-layer metrics from the spans: medians per call, over the timed
    and checked operations (set-up spans only where a layer ran nowhere
    else)."""
    def in_setup(sp):
        while sp.parent is not None:
            sp = tracer.spans[sp.parent]
            if sp.name in ("warmup", "setup.store"):
                return True
        return False

    def spans(name):
        all_ = tracer.named(name)
        hot = [s for s in all_ if not in_setup(s)]
        return hot or all_

    out: dict[str, float] = {}
    for name, _unit, *_ in PER_LAYER:
        base, _, field = name.rpartition(".")
        if name in ctx.values:
            out[name] = float(ctx.values[name])
            continue
        ss = spans(base)
        if field == "s":
            out[name] = _median([s.dur for s in ss])
        elif field in ("jobs", "tasks"):
            out[name] = float(_median([s.total(field) for s in ss]))
        elif field == "hit_ratio":
            cands = sum(s.attrs.get("candidates", 0) for s in ss)
            out[name] = sum(s.attrs.get("holding", 0) for s in ss) / cands if cands else 0.0
        elif field in ("files", "bytes", "rows", "bytes_rewritten", "candidates"):
            out[name] = float(_median([s.attrs.get(field, 0) for s in ss]))
        else:
            out[name] = 0.0  # a value the workload never produced: layer idle
    out["warmup.s"] = sum(s.dur for s in tracer.named("warmup"))
    out["trace.spans"] = float(len(tracer.spans))
    # tracing overhead: per read shape, median traced against median
    # untraced latency of alternating requests in this same run (writes
    # are too few per run, and their first, traced call is the coldest)
    traced = untraced = 0.0
    for shape in ctx.traced_lat:
        xs, ys = ctx.traced_lat[shape], ctx.untraced_lat.get(shape)
        if xs and ys and shape.split("+")[0] in ("page", "filter", "count", "lookup"):
            traced += _median(xs)
            untraced += _median(ys)
    out["trace.overhead_frac"] = traced / untraced - 1 if untraced else 0.0
    return out


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it forked)
    to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    import cpu
    import workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "laji_pygeoapi_spark")):
        print(f"no laji_pygeoapi_spark package next to {HERE}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # executors' Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sys.path.insert(0, ROOT)

    from spans import Tracer
    tracer = Tracer(bool(args.trace))
    try:
        with tracer.span("session.get_spark"):
            from laji_pygeoapi_spark.session import get_spark
            spark = get_spark(
                master=f"local[{CPUS}]", shuffle_partitions=CPUS,
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                    # a fixed-size heap keeps the JVM's resident peak from
                    # depending on when the collector chose to grow it; no
                    # perf-data file, which the JVM would put in /tmp
                    "spark.driver.extraJavaOptions":
                        f"-Xms2g -XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                })
        spark.sparkContext.setLogLevel("ERROR")
        if args.trace:
            tracer.attach(spark)
        ctx = workloads.Ctx(spark, tracer, work, args.seed, args.seconds)
        from pyspark import SparkContext
        jvm_pid = SparkContext._gateway.proc.pid
        ctx.peak_rss = lambda: _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(jvm_pid)
        setup_end: list[float] = []
        setup_cpu: list[float] = []

        def mark_setup():
            setup_end.append(time.perf_counter() - ctx.check_s)
            setup_cpu.append(cpu.used_s({}, cpu.snapshot()))
        try:
            workloads.WORKLOADS[args.workload](ctx, mark_setup)
        finally:
            _stop(spark)
        # in-window host probe: this VM's CPU supply drifts, so a reader can
        # tell a slow host from a slow engine (once Spark is down, so the
        # probe's processes compete with nothing)
        from bench import alu_ceiling
        alu = alu_ceiling(CPUS, rounds=1)
        print(f"host: alu_ceiling {alu:.4g} iterations/s over {CPUS} processes")

        if args.trace:
            import kernels_micro
            values = _layer_values(tracer, ctx)
            values.update(kernels_micro.run(args.seed))
            values["session.get_spark.s"] = tracer.named("session.get_spark")[0].dur
            values["host.alu_ceiling"] = alu
            values["host.probe_cpu_ms"] = _median(ctx.probe_cpu) * 1e3
            traces = os.path.join(HERE, ".work", "traces")
            os.makedirs(traces, exist_ok=True)
            path = os.path.join(traces, f"{args.workload}-seed{args.seed}.json")
            tracer.dump(path)
            print(f"spans: {os.path.relpath(path, ROOT)}")
            print(f"{'per-layer metric':45s} {'value':>14s}        should move | should not move"
                  "   (SA = serve_append, CU = curate)")
            for name, unit, moves, not_moves in PER_LAYER:
                print(f"{name:45s} {values[name]:14.6g} {unit:6s} {moves} | {not_moves}")
            metrics = {n: {"value": values[n], "unit": u} for n, u, *_ in PER_LAYER}
        else:
            values = dict(ctx.values)
            values["setup_s"] = setup_end[0] - T_START
            scale = PROBE_REF_S / _median(ctx.probe_cpu)
            for name, _unit in END_TO_END:
                if name.endswith("_cost_ms"):
                    values[name] = values[name.replace("_cost_", "_cpu_")] * scale
            values["rows_per_cost_s"] = values["rows_per_cpu_s"] / scale
            metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if setup_end:
        print(f"setup: {setup_end[0] - T_START:.1f} s wall, {setup_cpu[0]:.1f} s CPU",
              file=sys.stderr)
    if ctx.probe_cpu:
        print(f"host probe: median {_median(ctx.probe_cpu) * 1e3:.1f} ms CPU of "
              f"{[round(x * 1e3) for x in ctx.probe_cpu]}", file=sys.stderr)
    for e in ctx.errors:
        print(f"FAILED {e}", file=sys.stderr)
    for shape, xs in sorted(ctx.shape_lat.items()):
        cs = ctx.shape_cpu.get(shape, [])
        print(f"latency {shape}: wall median={_median(xs) * 1e3:.1f} ms of "
              f"{[round(x * 1e3) for x in xs]}; cpu median={_median(cs) * 1e3:.1f} ms of "
              f"{[round(x * 1e3) for x in cs]}", file=sys.stderr)
    print(json.dumps({"correct": ctx.failed == 0, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
