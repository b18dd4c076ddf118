#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones (see perfbench/README.md). Human-readable context (seed,
cores, load average, Spark version, per-workload counts) goes to the
lines before it.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
}


# The workloads BENCHMARK.json lists. ``ingest`` runs the same way on
# request; README.md says why it is not listed.
LISTED_WORKLOADS = ("serve", "curate")
WORKLOADS = LISTED_WORKLOADS + ("ingest",)
COUNTS = ("jobs", "stages", "tasks", "edges", "writes", "live_segments")


def _module(name: str):
    return importlib.import_module(f"perfbench.{name}")


def layer_names(workload: str) -> list[str]:
    """The per-layer metrics of a traced run, in a fixed order: those of
    every listed workload (0 where this workload never reaches a layer),
    then this workload's own, then the tracing overhead."""
    names: list[str] = []
    for w in dict.fromkeys(LISTED_WORKLOADS + (workload,)):
        names += [n for n in _module(w).layer_names() if n not in names]
    return names + ["trace.overhead_frac"]


def layer_unit(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_per_s"):
        return "1/s"
    if last == "s" or last.endswith("_s"):
        return "s"
    if last == "us":
        return "us"
    if last.endswith("_mb"):
        return "MB"
    return "count" if last in COUNTS else "ratio"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "backend_fastapi_spark")):
        print("perfbench: the engine package backend_fastapi_spark is not next to perfbench/", file=sys.stderr)
        return 2

    from perfbench.common import Tracer, cpu_ticks, loadavg, peak_rss_mb, start_spark, stop_spark

    mod = _module(args.workload)
    cpus = os.cpu_count() or 1
    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    load_before = loadavg()
    spark = None
    try:
        t0 = time.perf_counter()
        wl = mod.Workload(work, args.seed)
        spark = start_spark(work, cpus)
        wl.setup(spark)
        setup_s = time.perf_counter() - t0

        tracer = Tracer(spark, bool(args.trace))
        wl.wrap(tracer)
        # whole rounds (a session, a pass, a batch) until --seconds have passed
        start = time.perf_counter()
        ticks = cpu_ticks()
        while True:
            wl.step(tracer)
            measured = time.perf_counter() - start
            if measured >= args.seconds:
                break
        steal = [b - a for a, b in zip(ticks, cpu_ticks())]
        tracer.unwrap()
        rss = peak_rss_mb(spark)
        wl.check()
        attempted = len(wl.ops)
        failed = sum(not op["ok"] for op in wl.ops)

        info = {
            "workload": args.workload,
            "seed": args.seed,
            "nproc": cpus,
            "spark": spark.version,
            "loadavg_before": load_before,
            "loadavg_after": loadavg(),
            "measured_s": round(measured, 3),
            "steal_frac": round(steal[0] / max(steal[1], 1), 4),
            "error_frac": failed / max(attempted, 1),
            **wl.describe(measured),
        }
        print("info " + json.dumps(info))
        for op in wl.ops:
            if not op["ok"]:
                print(f"failed {op['kind']}: {op.get('error')}")
        if args.trace:
            names = layer_names(args.workload)
            values = tracer.summary(names, measured)
            values.update(wl.layer_summary(measured))
            metrics = {n: {"value": values.get(n, 0.0), "unit": layer_unit(n)} for n in names}
        else:
            values = {"setup_s": setup_s, "peak_rss_mb": rss, **wl.summary(measured)}
            metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END.items()}
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
