"""Benchmark of the dedup engine on ``local[4]``.

Usage (from the repository root):

    python3 perfbench/run.py --workload dedup_large_files --seed 1 --seconds 10 --trace 0

Workloads: dedup_large_files and sketch_queries (see
perfbench/NOTES.md). ``--trace 0`` measures the end-to-end metrics with
tracing off; ``--trace 1`` turns on Spark's event log, job-group spans and
the layer probes and reports the per-layer metrics instead.

Standard output: a JSON report line (every metric, the output checks and an
environment stamp), then, as the last line, the result object
``{"correct", "attempted", "failed", "metrics"}``. Scratch files go under
``.perfbench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("dedup_large_files", "sketch_queries")

END_TO_END_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "items_per_s": "1/s",
    "peak_rss_mb": "MB",
    "dup_recall": "ratio",
}


def per_layer_units() -> dict[str, str]:
    from bench import HEADLINE
    from workloads import STAGES

    units: dict[str, str] = {}
    stage_fields = {
        "wall_s": "s", "rows_out": "count", "tasks": "count", "task_time_s": "s",
        "task_skew": "ratio", "shuffle_read_bytes": "bytes", "shuffle_write_bytes": "bytes",
        "spill_bytes": "bytes",
    }
    for s in STAGES:
        units.update({f"pipeline.{s}.{f}": u for f, u in stage_fields.items()})
    units.update(
        {
            "pipeline.wall_s": "s",
            "pipeline.unattributed_s": "s",
            "pipeline.jobs": "count",
            "pipeline.checkpoint_bytes": "bytes",
            "pipeline.checkpoint_run_s": "s",
            "pipeline.checkpoint_dir_bytes": "bytes",
            "signatures.scan_s": "s",
            "signatures.noop_s": "s",
            "signatures.boundary_s": "s",
            "signatures.arrow_in_bytes": "bytes",
            "signatures.arrow_out_bytes": "bytes",
        }
    )
    for k in ("tokenize", "kmv", "simhash", "oph", "bands", "signature_batch",
              "jaccard_batch", "rolling_hash"):
        units[f"kernel.{k}_ms"] = "ms"
    units["kernel.batch_bytes"] = "bytes"
    units.update(
        {
            "lsh.rep_keys": "count",
            "lsh.candidate_pairs": "count",
            "verify.accepted_pairs": "count",
            "verify.accept_ratio": "ratio",
            "cc.components": "count",
        }
    )
    for q in HEADLINE:
        units.update(
            {f"query.{q}.wall_s": "s", f"query.{q}.jobs": "count",
             f"query.{q}.shuffle_bytes": "bytes"}
        )
    units["sentinel.xxh64_gbps"] = "GB/s"
    units["trace.overhead_s"] = "s"
    return units


def environment(seed: int) -> dict:
    import numpy
    import pyarrow
    import pyspark

    with open("/proc/cpuinfo") as f:
        model = next(
            (ln.split(":", 1)[1].strip() for ln in f if ln.startswith("model name")),
            platform.processor(),
        )
    return {
        "nproc": os.cpu_count(),
        "cpus_allowed": sorted(os.sched_getaffinity(0)),
        "cpu_model": model,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "python": platform.python_version(),
        "seed": seed,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument(
        "--seconds", type=float, required=True,
        help="measuring time; sets a fixed count of timed ops, seconds over the op's "
        "nominal wall on a 4-core box (at least 3 pipeline runs or 1 query pass)",
    )
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    trace = bool(args.trace)

    sys.path[:0] = [HERE, ROOT]
    try:
        import datasketches_rust_spark  # noqa: F401
        import __spark_entry__  # noqa: F401
        import bench  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    # Python workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )

    from harness import PeakRss, read_event_log, start_session, stop_session
    from layers import Sentinel, kernel_metrics
    from workloads import Context, DigestBook, run_dedup, run_queries

    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    digests = DigestBook(WORK)

    kernel, sentinel = {}, None
    if trace:
        sentinel = Sentinel()
        sentinel.read()
        kernel = kernel_metrics()

    t_start = time.perf_counter()
    with PeakRss() as rss:
        t0 = time.perf_counter()
        spark = start_session(work, trace)
        session_s = time.perf_counter() - t0
        ctx = Context(spark, work, args.seed, args.seconds, trace, rss, digests,
                      args.workload, kernel)
        try:
            workload = run_queries if args.workload == "sketch_queries" else run_dedup
            run = workload(ctx, session_s)
        finally:
            stop_session(spark)
    digests.save()

    wall = run.wall_s
    report = {
        "workload": args.workload,
        "trace": args.trace,
        "environment": environment(args.seed),
        "ops": len(run.walls),
        "walls_s": run.walls,
        "failed_ops": run.failed / max(1, run.attempted),
        "failures": run.failures,
        "quality": run.quality,
        "notes": run.notes,
        "session_s": session_s,
        "run_s": time.perf_counter() - t_start,
    }
    if trace:
        layers = dict(kernel)
        layers.update(run.layers)
        if run.from_event_log is not None:
            layers.update(run.from_event_log(read_event_log(work, run.windows)))
        sentinel.read()
        layers["sentinel.xxh64_gbps"] = min(sentinel.readings)
        report["sentinel_gbps"] = sentinel.readings
        units = per_layer_units()
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in units.items()}
    else:
        values = {
            "setup_s": run.setup_s,
            "wall_s": wall,
            "items_per_s": run.items_per_op / wall if wall else 0.0,
            "peak_rss_mb": rss.peak_mb,
            "dup_recall": run.quality.get("dup_recall", 0.0),
        }
        metrics = {n: {"value": float(values[n]), "unit": u} for n, u in END_TO_END_UNITS.items()}
    report["metrics"] = {n: m["value"] for n, m in metrics.items()}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report))
    print(
        json.dumps(
            {
                "correct": run.failed == 0 and wall > 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
