"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve_calcavg --seed 1 --seconds 6 --trace 0

Workloads: serve_calcavg and batch_persist (README.md in this directory
says why each exists). With ``--trace 0`` the last line
of stdout is a JSON object with the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics, and the run also writes
its spans and reports tracing overhead against the untraced run of the
same workload and seed, when one exists. Exits 1 when an output is
wrong, 2 when the engine cannot be imported, 3 when a heavy tool of the
repository owns the box.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.harness import RESULTS, ROOT, Run, log  # noqa: E402
from perfbench.stats import median  # noqa: E402

WORKLOADS = ("serve_calcavg", "batch_persist")
#: End-to-end metrics, reported by every workload from untraced runs.
END_TO_END = {
    "setup_s": "s", "peak_rss_mb": "MB", "first_s": "s", "warm_s": "s",
    "cold_p50_ms": "ms", "warm_p50_ms": "ms", "tail_ms": "ms",
    "ops_per_s": "1/s",
}
#: Per-layer metrics, reported by every workload from traced runs
#: (plus one plans.<module>.* triple per plan module of a batch query).
PER_LAYER = {
    "session.get_spark_s": "s",
    "catalog.store_build_s": "s", "catalog.store_builds": "count",
    "catalog.persisted_plans": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_ms": "ms", "spark.executor_cpu_ms": "ms",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.gc_ms": "ms", "spark.task_skew_max": "ratio",
    "partition_cache.create_ms": "ms", "partition_cache.reuse_ms": "ms",
    "partition_cache.recreate_ms": "ms",
    "partition_cache.creates": "count", "partition_cache.reuses": "count",
    "partition_cache.recreates": "count", "partition_cache.errors": "count",
    "partition_cache.hit_ratio": "ratio", "partition_cache.duplicate_creates": "count",
    "partition_cache.jobs_per_reuse": "count", "partition_cache.bytes_on_disk": "bytes",
    "api.main_bytes_on_disk": "bytes", "api.calc_avg_overhead_ms": "ms",
    "api.db_to_store_s": "s", "api.block_report_s": "s", "service.transport_ms": "ms",
}
PLAN_SUFFIXES = (("fn_s", "s"), ("first_exec_s", "s"), ("warm_exec_s", "s"))


def unit_of(name: str) -> str:
    """Unit of a figure printed beside the metrics, from its suffix;
    names starting with ``_`` are counts and percentiles, printed bare."""
    if name.startswith("_"):
        return ""
    return "ms" if name.endswith("_ms") else "s" if name.endswith("_s") else "ratio"


def plan_modules() -> list[str]:
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    from perfbench.batch import PERSIST, plan_module

    specs = all_queries()
    return sorted({plan_module(specs[n]) for n in PERSIST})


def per_layer_units() -> dict[str, str]:
    units = dict(PER_LAYER)
    for mod in plan_modules():
        for suffix, unit in PLAN_SUFFIXES:
            units[f"plans.{mod}.{suffix}"] = unit
    return units


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        import data_pipeline_with_hdfs_sql_integration_spark  # noqa: F401

        from perfbench.box import Box
    except ImportError as exc:
        log(f"cannot import the engine from {ROOT}: {exc}")
        return 2
    box = Box(ROOT)
    if box.busy:
        log(f"refusing to run: live pidfile(s) own the box: {box.busy}")
        return 3

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), T_START)
    from perfbench.batch import PERSIST, BatchWorkload
    from perfbench.serve import ServeWorkload

    wl = ServeWorkload(run) if args.workload == "serve_calcavg" else BatchWorkload(run, PERSIST)
    try:
        t = time.monotonic()
        wl.make_inputs()
        inputs_s = time.monotonic() - t
        run.setup(wl, pre_s=inputs_s)
        stats = undo = None
        if run.trace:
            from perfbench import instrument

            stats = instrument.SparkStats(run.spark)
            undo = instrument.install(run.tracer, run.spark)
        t = time.monotonic()
        wl.measure(stats)
        measure_s = time.monotonic() - t
        e2e = {"setup_s": median(run.setup_times), "peak_rss_mb": run.peak_rss_mb(), **wl.end_to_end()}
        attempted, failed = wl.counts()
        layers = {}
        if run.trace:
            # Layers a workload does not reach read 0.
            layers = dict.fromkeys(per_layer_units(), 0.0)
            layers["session.get_spark_s"] = median(run.get_spark_times)
            layers.update(wl.layer_metrics(stats))
            instrument.uninstall(undo)
    finally:
        t = time.monotonic()
        wl.close()
        run.close()
        close_s = time.monotonic() - t

    tag = f"{args.workload}-s{args.seed}"
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "attempted": attempted, "failed": failed,
        "wrong": wl.wrong, "failures": wl.failures, "inputs_s": inputs_s,
        "setups_s": run.setup_times, "measure_s": measure_s, "close_s": close_s,
        "wall_s": time.monotonic() - T_START, "end_to_end": e2e, "per_layer": layers,
        "box": box.snapshot(), "detail": wl.detail,
    }
    for k, v in e2e.items():
        print(f"{k:>22} {v:14.4f} {END_TO_END.get(k) or unit_of(k)}")
    print(f"{'attempted':>22} {attempted:14d}\n{'failed':>22} {failed:14d}"
          f"\n{'error_rate':>22} {failed / max(1, attempted):14.4f}")
    for f in wl.failures[:5]:
        print(f"  failure: {f}")
    print(f"  box: {record['box']}")
    if run.trace:
        from perfbench.report import overhead, print_layers

        run.tracer.dump(str(RESULTS / f"{tag}.spans.jsonl"))
        untraced = RESULTS / f"{tag}-t0.json"
        if untraced.exists():
            record["tracing_overhead"] = overhead(json.loads(untraced.read_text())["end_to_end"], e2e)
        print_layers(run.tracer.spans, layers, record.get("tracing_overhead"))
        units = per_layer_units()
        metrics = {k: {"value": float(layers[k]), "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    (RESULTS / f"{tag}-t{args.trace}.json").write_text(json.dumps(record, indent=1, default=str) + "\n")
    correct = wl.wrong == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
