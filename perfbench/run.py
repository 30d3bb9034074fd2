"""Benchmark entry point: one workload, one seed, one measured run.

    python3 perfbench/run.py --workload cdc_medallion --seed 1 --seconds 12 --trace 0

Set-up is the session start plus a warm-up on small inputs derived from
the seed that takes every code path the measured phase takes. The
measured phase then runs a fixed amount of the workload sized to take about
``--seconds``, checks every result against DuckDB,
prints a metric table, writes a sidecar JSON under ``perfbench/out`` and
ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics with tracing off. ``--trace 1``
records spans around every call into a layer, reads Spark counters for
each span's jobs, and reports the per-layer metrics instead. The exit code
is non-zero when a result is wrong or the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import importlib
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import harness  # noqa: E402

MODULES = {"cdc_medallion": "cdc", "llm_curation": "curation", "stream_cdc": "stream"}


def set_up(mod, work: Path, seed: int):
    """Start the session (launching the JVM) and warm it up once.

    One set-up per run: a second one (session restart plus warm-up) would
    add 15-25 s to every run of 35-45 s."""
    t0 = time.perf_counter()
    spark = harness.start_session(work)
    t1 = time.perf_counter()
    mod.warmup(spark, work, seed, harness.Tracer(spark, False))
    t2 = time.perf_counter()
    harness.reset_session_state(spark)
    return spark, {"setup_s": t2 - t0, "start_s": t1 - t0, "warmup_s": t2 - t1}


def main() -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(MODULES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = harness.prepare_process(args.workload)
    try:
        import incremental_data_pipeline_spark  # noqa: F401
    except ImportError as exc:
        print(f"engine package not importable from {harness.ROOT}: {exc}", file=sys.stderr)
        harness.cleanup(work)
        return 2
    mod = importlib.import_module(MODULES[args.workload])

    steal0 = harness.cpu_stat()
    t_run = time.perf_counter()
    try:
        spark, setup = set_up(mod, work, args.seed)
        tracer = harness.Tracer(spark, bool(args.trace))
        res = mod.measure(spark, work, args.seed, args.seconds, tracer, bool(args.trace))
        rss = harness.peak_rss_mb(spark)
        counters = tracer.layer_counters()
    finally:
        try:
            harness.stop_processes()
        finally:
            harness.cleanup(work)
    steal = harness.steal_pct(steal0, harness.cpu_stat())
    report = mod.report(res, setup, rss, counters, tracer)
    report["setup"] = setup
    report["spans"] = tracer.spans
    report["host"] = {"steal_pct": steal, "cpus": harness.cpu_count(), "heap": harness.driver_heap()}
    report["run_wall_s"] = time.perf_counter() - t_run

    metrics = report["per_layer" if args.trace else "end_to_end"]
    if args.trace:
        metrics["host.steal_pct"] = {"value": steal, "unit": "%"}
    harness.OUT.mkdir(parents=True, exist_ok=True)
    sidecar = harness.OUT / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    sidecar.write_text(json.dumps({**report, "args": vars(args)}, indent=1, default=str))

    for name, m in metrics.items():
        print(f"{name:40s} {m['value']:>16.6g} {m['unit']}")
    for name, m in report.get("outcomes", {}).items():
        print(f"{name:40s} {m['value']:>16.6g} {m['unit']}  (outcome)")
    correct = res["failed"] == 0
    print(json.dumps({
        "correct": correct,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
