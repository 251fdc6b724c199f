#!/usr/bin/env python3
"""Benchmark of the prclz_spark engine at local[nproc].

    python3 perfbench/run.py --workload assign_tiles --seed 1 --seconds 10 --trace 0

Workloads: assign_tiles, pipeline (see README.md). The run
starts a session, sets the workload up (fixtures, covers, warm-up passes),
then calls the workload's layer functions in a loop for ``--seconds`` and
checks every output. Each timed end-to-end figure is the fastest call of
its op in the run. It prints one ``name = value unit`` line per metric,
a ``host`` line, and, last, one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``).

``--trace 1`` alternates untraced and traced calls of the same ops: traced
ones record a span (Spark job group, per-stage counters, Python
time, plan counts) around each layer call, and the tracing overhead is the
traced wall minus the untraced wall. A traced ``assign_tiles`` run also
calls the nearest-neighbour layers. Spans are written at exit to
``.perfbench_work/spans/``. ``--smoke`` runs tiny sizes (see smoke.py).

The script works from any directory: it finds the engine next to its own
directory and puts it on the Spark Python workers' path. Everything it
writes stays under ``.perfbench_work/`` beside the engine.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("assign_tiles", "pipeline")
SETUP_ROUNDS = 3

# end-to-end metrics, reported by every workload (README.md says what op1
# and op2 are per workload)
E2E = {
    "setup_s": "s",
    "op1_pts_per_s": "points/s",
    "op2_pts_per_s": "points/s",
}
SPANS = (
    "assign.join", "tiles.membership", "knn.parcel_assign", "rangejoin.seg_nn",
    *(f"pipeline.{t}" for t in (
        "assign", "complexity", "parcels", "reblock_all", "reblock_summary",
        "reblock_edges", "reblock_terminals", "manifest",
    )),
    "pipeline.resume",
)
# spans whose plans run no Python operator report no python_s
NO_PYTHON = {
    "tiles.membership", "knn.parcel_assign", "rangejoin.seg_nn",
    "pipeline.reblock_summary", "pipeline.reblock_edges",
    "pipeline.reblock_terminals", "pipeline.manifest", "pipeline.resume",
}
SPAN_UNITS = {
    "wall_s": "s", "jobs": "count", "exec_run_s": "s", "exec_cpu_s": "s",
    "shuffle_write_mb": "MB", "spill_mb": "MB", "python_s": "s",
}
LAYER_EXTRA = {
    "session.start_s": "s",
    "assign.cover_rows": "count",
    "assign.broadcast_mb": "MB",
    "assign.interior_rows": "count",
    "assign.boundary_candidates": "count",
    "assign.boundary_accepted": "count",
    "assign.refine_accept_ratio": "ratio",
    "tiles.tiles_in": "count",
    "tiles.rows_out": "count",
    "pipeline.driver_gap_s": "s",
    "jvm_peak_rss_mb": "MB",
    "failed_ops_frac": "ratio",
    "trace.overhead_s": "s",
    "trace.overhead_frac": "ratio",
}


def per_layer_units() -> dict:
    units = {}
    for span in SPANS:
        for field, unit in SPAN_UNITS.items():
            if field == "python_s" and span in NO_PYTHON:
                continue
            units[f"{span}.{field}"] = unit
    units.update(LAYER_EXTRA)
    return units


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny sizes, for smoke.py")
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep Spark's scratch space inside ``work`` and let the Python
    workers import the engine whatever the launch directory."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("PRCLZ_DRIVER_MEM", "2g")
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)


def start_session(nproc: int, work: str):
    from prclz_spark.session import get_spark

    keep = "1000000"
    return get_spark(
        "perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=str(nproc),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": keep,
            "spark.ui.retainedStages": keep,
            "spark.sql.ui.retainedExecutions": keep,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and so its Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal, ... in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_ticks()`` readings."""
    delta = [a - b for a, b in zip(after, before)]
    return delta[7] / sum(delta[:8]) if sum(delta[:8]) else 0.0


def jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    pid = SparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def measure(wl, tracer, seconds: float, tracing: bool) -> dict:
    """Call the workload's ops in rounds (``wl.ops(round)``) for
    ``seconds``, and for at least ``wl.min_rounds`` rounds. With tracing,
    the calls of each op alternate untraced and traced over at least three
    rounds, so traced calls sit between untraced ones on the JIT ramp; a
    workload with ``trace_first`` starts traced, to trace an op it calls
    once. Returns the walls per op (traced and untraced apart),
    attempt/failure counts and the spans."""
    walls = {False: {}, True: {}}
    spans: dict[str, list] = {}
    calls: dict[str, int] = {}
    attempted = failed = rounds = 0
    deadline = time.perf_counter() + seconds
    while True:
        for name, call in wl.ops(rounds):
            traced = tracing and (calls.get(name, 0) % 2 == 0) == wl.trace_first
            calls[name] = calls.get(name, 0) + 1
            attempted += 1
            t0 = time.perf_counter()
            ok = False
            try:
                with tracer.span(name) if traced else nullcontext() as rec:
                    check = call(rec)
                wall = time.perf_counter() - t0
                ok = bool(check())
            except Exception:
                wall = time.perf_counter() - t0
                traceback.print_exc()
            if not ok:
                failed += 1
                print(f"check failed: {name}", file=sys.stderr)
            walls[traced].setdefault(name, []).append(wall)
            if traced:
                spans.setdefault(name, []).append(rec)
        rounds += 1
        if time.perf_counter() >= deadline and rounds >= max(
            wl.min_rounds, 3 if tracing else 1
        ):
            break
    return {"walls": walls[False], "traced_walls": walls[True], "spans": spans,
            "attempted": attempted, "failed": failed}


def layer_metrics(res: dict, extra: dict) -> dict:
    """Median over traced rounds of every span field and plan count;
    spans this workload does not run read 0."""
    out = {name: 0.0 for name in per_layer_units()}
    by_name: dict[str, list] = {}
    for recs in res["spans"].values():
        for r in recs:  # a traced pipeline run nests its stage spans
            for rec in (r, *r["children"]):
                by_name.setdefault(rec["name"], []).append(rec)
    for name, recs in by_name.items():
        values = [{**{f"{name}.{f}": r[f] for f in SPAN_UNITS}, **r} for r in recs]
        for key in out.keys() & values[0].keys():
            out[key] = statistics.median(v[key] for v in values)
        if name == "pipeline.run":
            out["pipeline.driver_gap_s"] = statistics.median(r["driver_gap_s"] for r in recs)
    # ops called both ways: median traced wall minus median untraced wall
    both = [n for n in res["walls"] if n in res["traced_walls"]]
    untraced = sum(statistics.median(res["walls"][n]) for n in both)
    traced = sum(statistics.median(res["traced_walls"][n]) for n in both)
    out["trace.overhead_s"] = traced - untraced
    out["trace.overhead_frac"] = (traced - untraced) / untraced
    out.update(extra)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "prclz_spark", "__init__.py")):
        print(f"perfbench: no prclz_spark package in {ROOT}", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    host = {"nproc": nproc, "cores_used": nproc, "loadavg_before": os.getloadavg()}
    ticks = cpu_ticks()
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    prepare_env(work)

    import pyspark

    import workloads
    from tracing import Tracer

    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(nproc, work)
        start_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(spark)
        wl = workloads.make(
            args.workload, spark, args.seed, args.smoke, work, tracer, args.trace == 1
        )
        builds = []
        for _ in range(SETUP_ROUNDS):
            t0 = time.perf_counter()
            wl.build()
            builds.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t0
        wl.prepare_checks()
        setup_s = start_s + statistics.median(builds) + warm_s

        res = measure(wl, tracer, args.seconds, args.trace == 1)
        rss = jvm_peak_rss_mb()
        host.update(
            spark=pyspark.__version__,
            java=spark.sparkContext._jvm.System.getProperty("java.version"),
            python=platform.python_version(),
        )
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    host["loadavg_after"] = os.getloadavg()
    host["steal_frac"] = steal_frac(ticks, cpu_ticks())

    attempted, failed = res["attempted"], res["failed"]
    failed_frac = failed / attempted
    if args.trace == 0:
        # the fastest call of each op: load from other tenants of the host
        # only ever adds time, and comes in bursts that the median of a
        # run's calls does not outlast (README.md)
        walls = {k: min(v) for k, v in res["walls"].items()}
        named = wl.e2e(walls)
        op1, op2 = (name for name, _ in wl.ops(0)[:2])
        values = {
            "setup_s": setup_s,
            "op1_pts_per_s": wl.points[op1] / walls[op1],
            "op2_pts_per_s": wl.points[op2] / walls[op2],
        }
        printed = {**values, **named, "jvm_peak_rss_mb": rss, "failed_ops_frac": failed_frac}
        units = {**E2E, "jvm_peak_rss_mb": "MB", "failed_ops_frac": "ratio"}
        for k in named:
            units[k] = "points/s" if k.endswith("_per_s") else "s"
        metrics = {k: {"value": v, "unit": E2E[k]} for k, v in values.items()}
    else:
        extra = {
            "session.start_s": start_s,
            "jvm_peak_rss_mb": rss,
            "failed_ops_frac": failed_frac,
        }
        values = layer_metrics(res, extra)
        units = per_layer_units()
        printed = values
        metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
        spans_dir = os.path.join(base, "spans")
        os.makedirs(spans_dir, exist_ok=True)
        path = os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"host": host, "spans": res["spans"], "metrics": values}, f,
                      indent=1, default=str)

    for k, v in printed.items():
        print(f"{k} = {v:.6g} {units[k]}")
    print("host " + json.dumps(host))
    print("setup " + json.dumps({"start_s": start_s, "build_s": builds, "warm_s": warm_s}))
    print("samples " + json.dumps({"untraced": res["walls"], "traced": res["traced_walls"]}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
