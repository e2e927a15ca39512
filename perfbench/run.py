#!/usr/bin/env python3
"""Seeded benchmark of the engine's public APIs.

    python3 perfbench/run.py --workload publish_serve --seed 1 --seconds 20 --trace 0

Run from the repository root. One run starts a local Spark session, builds
the workload's inputs from ``--seed`` (set-up), runs the workload's fixed
number of untimed warm-up iterations (``warmup_iters``), then closed-loop
iterations for at most ``--seconds`` seconds (always at least one), then
times ``SETUP_REPS`` more set-ups, and checks every timed operation's
output against an independent computation.

With ``--trace 0`` it reports the end-to-end metrics. With ``--trace 1`` it
alternates untraced and traced iterations and reports per-layer metrics
from the traced ones (see ``trace.py``), plus the tracing overhead.

Human-readable lines go first; the last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. The exit code is 0 only
when every operation succeeded and matched its check.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3
# two task threads on a four-vCPU host: the JIT compiler, GC and driver
# threads get CPUs of their own, and a stage does not wait on a task whose
# vCPU the host has taken away. At local[4] the publish_serve iterations
# after the cold one fell from 8.4 s to 5.9 s over six; at local[2] the
# first five all took 7.3-7.8 s.
SPARK_CORES = 2
END_TO_END = ("setup_s", "iter_s", "peak_rss_mb", "ok_ratio")


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


# ----------------------------------------------------------------- spark


def start_spark(work: str):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # the JVMs and the Python workers they fork inherit these; HotSpot's
    # perf-data file would go to /tmp whatever java.io.tmpdir says
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from pyspark.sql import SparkSession

    cores = min(SPARK_CORES, os.cpu_count() or 1)
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        # a pinned heap (-Xms = -Xmx): a growable one makes VmHWM depend on
        # when G1 decides to expand, which differed by 30% between runs. A
        # fixed young generation (-Xmn): with an adaptive one, how much of
        # the heap G1 had touched by the VmHWM read varied by 25% (1.66 vs
        # 2.09 GB); with it, VmHWM is eden plus what the old generation holds
        .config("spark.driver.memory", "1536m")
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -Xms1536m -Xmn512m -XX:-UsePerfData")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM (the gateway process)."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM (and with it every Python
    worker it started) has exited."""
    from py4j.protocol import Py4JError

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    try:
        spark.stop()
    finally:
        try:
            gateway.shutdown()
        except Py4JError:
            pass  # the JVM side is already gone
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ------------------------------------------------------------------- run


def run_iteration(w, traced: bool, tracer=None):
    from perfbench import trace as T
    from perfbench.workloads import Iteration

    it = Iteration()
    first_span = len(tracer.spans) if tracer else 0
    try:
        if traced:
            with T.instrument(tracer):
                w.iteration(it)
        else:
            w.iteration(it)
    except Exception as e:  # the failed op is recorded in it.ops
        print(f"iteration stopped: {e!r}", file=sys.stderr)
    # the client's closed-loop time: its public calls, without the glue
    # that keeps outputs for the checks
    it.wall_s = sum(op.wall_s for op in it.ops)
    if traced:
        it.spans = tracer.spans[first_span:]
    return it


def layer_metrics(tracer, it) -> dict[str, float]:
    """Per-layer values of one traced iteration."""
    from perfbench import trace as T

    tracer.resolve(it.spans)
    agg = T.aggregate(it.spans)
    out = {}
    for name in T.SPANS:
        for f in T.FIELDS:
            out[f"{name}.{f}"] = agg[name][f]
    out["table_io.run_stage.calls"] = agg["table_io.run_stage"]["calls"]
    out["table_io.run_stage.bytes_mb"] = agg["table_io.run_stage"]["bytes_mb"]
    keys = next((op.result for op in it.ops if op.kind == "build"), set())
    out["pyramid.tiles"] = len(keys)
    for z in index_zooms():
        out[f"pyramid.tiles_z{z}"] = sum(1 for k in keys if k[0] == z)
    out["pip.hit_ratio"] = pip_hit_ratio(tracer, it)
    out["trace.coverage"] = (
        sum(s.self_s for s in it.spans) / it.wall_s if it.wall_s else 0.0
    )
    return out


def pip_hit_ratio(tracer, it) -> float:
    """PIP rows / (point, polygon) pairs sharing an index cell, from the
    traced iteration's materialized cover and point-cell layers."""
    pip = next((op for op in it.ops if op.kind == "pip" and op.result is not None), None)
    cover = tracer.outputs.get("spatial_join.cover")
    cells = tracer.outputs.get("spatial_join.point_cells")
    if pip is None or cover is None or cells is None:
        return 0.0
    pairs = cells.join(cover, ["res", "cell"]).count()
    return len(pip.result) / pairs if pairs else 0.0


def run(spark, args, work: str) -> dict:
    from perfbench import stats
    from perfbench import trace as T
    from perfbench.workloads import WORKLOADS

    phases = {}
    t_phase = time.perf_counter()

    def phase(name):
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = now - t_phase
        t_phase = now

    w = WORKLOADS[args.workload](spark, args.seed, work)
    w.setup()  # cold: pays the JVM's and the Python workers' start-up
    phase("setup")
    w.prepare_checks()
    phase("reference")
    for _ in range(w.sizes["warmup_iters"]):
        warm = run_iteration(w, traced=False)
        errors = [op.error for op in warm.ops if op.error]
        if errors:
            raise RuntimeError(f"warm-up failed: {errors}")
    phase("warm-up")

    tracer = T.Tracer(spark) if args.trace else None
    plain, traced, layers = [], [], []
    rss = None
    t_start = time.perf_counter()
    while True:
        step = time.perf_counter()
        plain.append(run_iteration(w, traced=False))
        if rss is None:
            # after one set-up, the fixed warm-up and one timed iteration
            rss = jvm_peak_rss_mb(spark)
        if args.trace:
            traced.append(run_iteration(w, traced=True, tracer=tracer))
            layers.append(layer_metrics(tracer, traced[-1]))
        step = time.perf_counter() - step
        if time.perf_counter() - t_start + step > args.seconds:
            break

    phase("timed")
    # set-up timed in the warmed-up JVM, so that it measures the set-up's
    # work rather than how far JIT compilation has got
    setup_walls = []
    for _ in range(0 if args.trace else SETUP_REPS):
        t0 = time.perf_counter()
        w.setup()
        setup_walls.append(time.perf_counter() - t0)
    phase("set-ups")
    ops = [op for it in plain + traced for op in it.ops]
    failed = 0
    for op in ops:
        errs = [op.error] if op.error else w.check(op)
        for e in errs[:5]:
            print(f"CHECK FAILED: {e}", file=sys.stderr)
        failed += bool(errs)
    w.teardown()
    attempted = len(ops)
    correct = failed == 0 and attempted > 0
    phase("checks")

    print(f"workload {args.workload} seed {args.seed}: "
          f"{len(plain)} timed iterations, {len(traced)} traced; iteration walls "
          + ", ".join(f"{it.wall_s:.2f}" for it in plain + traced) + " s")
    by_kind: dict[str, list[float]] = {}
    for it in plain:
        for op in it.ops:
            by_kind.setdefault(op.kind, []).append(op.wall_s)
    for kind, walls in by_kind.items():
        s = stats.summarize(walls)
        line = f"  {kind}: p50 {s['p50'] * 1e3:.1f} ms"
        if "tail" in s:
            line += f", p{s['tail_p']:g} {s['tail'] * 1e3:.1f} ms"
        print(line + f" (n={s['n']})")
    print(f"  checks: {attempted - failed}/{attempted} operations correct")
    line = "  phases: " + ", ".join(f"{k} {v:.1f} s" for k, v in phases.items())
    if setup_walls:
        line += " (timed set-ups " + ", ".join(f"{v:.2f}" for v in setup_walls) + " s)"
    print(line)

    metrics = {}
    if args.trace:
        overhead = (stats.median([it.wall_s for it in traced])
                    - stats.median([it.wall_s for it in plain]))
        for lm in layers:
            lm["trace.overhead_s"] = overhead
        for name in per_layer_names():
            value = stats.median([lm[name] for lm in layers])
            metrics[name] = {"value": value, "unit": per_layer_unit(name)}
        cov = metrics["trace.coverage"]["value"]
        print(f"  traced iteration {stats.median([it.wall_s for it in traced]):.3f} s, "
              f"untraced {stats.median([it.wall_s for it in plain]):.3f} s, "
              f"overhead {overhead:.3f} s; span walls cover {cov:.1%}")
    else:
        metrics = {
            "setup_s": {"value": stats.median(setup_walls), "unit": "s"},
            "iter_s": {"value": stats.median([it.wall_s for it in plain]), "unit": "s"},
            "peak_rss_mb": {"value": rss, "unit": "MB"},
            "ok_ratio": {"value": stats.ok_ratio(attempted, failed), "unit": "ratio"},
        }
    for name, m in metrics.items():
        print(f"  {name} = {m['value']:.6g} {m['unit']}")
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def per_layer_names() -> list[str]:
    from perfbench import trace as T

    return (
        [f"{s}.{f}" for s in T.SPANS for f in T.FIELDS]
        + ["table_io.run_stage.calls", "table_io.run_stage.bytes_mb",
           "pyramid.tiles"]
        + [f"pyramid.tiles_z{z}" for z in index_zooms()]
        + ["pip.hit_ratio", "trace.coverage", "trace.overhead_s"]
    )


def index_zooms() -> range:
    """The zooms of the only index built: publish_serve's, z0 to its
    index_max_zoom."""
    from perfbench.workloads import SIZES

    return range(SIZES["publish_serve"]["index_max_zoom"] + 1)


def per_layer_unit(name: str) -> str:
    from perfbench import trace as T

    field = name.rsplit(".", 1)[1]
    if field in T.FIELD_UNITS:
        return T.FIELD_UNITS[field]
    return {"calls": "count", "bytes_mb": "MB", "hit_ratio": "ratio",
            "coverage": "ratio", "overhead_s": "s"}.get(field, "count")


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    # fail before starting Spark when the engine, the mirror or the
    # fixture is missing
    import geojson_vt_cpp_spark  # noqa: F401
    import tests.local_pyramid  # noqa: F401
    from perfbench import inputs

    inputs.load_fixture()

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        spark = start_spark(work)
        try:
            result = run(spark, args, work)
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
