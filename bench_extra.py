"""Extra measurement harness for the optimization rounds (bench.py is
FROZEN — this file carries the builder's own diagnostics).

Modes:
  python bench_extra.py                 # per-query best-of-N wall (same
                                        # methodology as bench.py headline)
  python bench_extra.py --explain DIR   # also write explain("formatted")
                                        # per query into DIR/<q>.txt
  python bench_extra.py --queries a,b   # restrict to a subset
  python bench_extra.py --passes 3      # number of passes (default 2)

Besides the per-query walls, each pass reports its summed wall, the Spark
jobs it ran (each pass is its own job group), and the classes Janino
compiled during it with their compile milliseconds (Spark's CodegenMetrics /
CodeGenerator.compileTime), so a warm pass that still recompiles generated
code, or a change in how many jobs a query plans, shows up.

Respects $SPARK_GRAFT_SF_DIR and $SPARK_GRAFT_CPUS exactly like bench.py.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--explain", default=None)
    ap.add_argument("--queries", default=None)
    ap.add_argument("--passes", type=int, default=2)
    args = ap.parse_args()

    from datasketches_rust_spark.plans.session import get_spark
    import __spark_entry__ as entrymod
    import bench

    qs = entrymod.queries()
    names = args.queries.split(",") if args.queries else bench.HEADLINE
    spark = get_spark(
        master=f"local[{CPUS}]", shuffle_partitions=CPUS, app_name="bench_extra"
    )

    if args.explain:
        os.makedirs(args.explain, exist_ok=True)
        for name in names:
            df = qs[name](spark, SF_DIR)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(args.explain, f"{name}.txt"), "w") as f:
                f.write(txt)
            print(f"explained {name}", file=sys.stderr)

    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    times: dict[str, float] = {}
    samples: dict[str, list] = {n: [] for n in names}
    passes = []
    sc = spark.sparkContext
    for i in range(args.passes):
        group = f"bench_extra.pass{i}"
        sc.setJobGroup(group, group)
        n0, ns0, w0 = compiles.getCount(), codegen.compileTime(), time.monotonic()
        for name in names:
            sc.setJobDescription(f"bench_extra: {name}")
            t0 = time.monotonic()
            df = qs[name](spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            wall = round(time.monotonic() - t0, 3)
            samples[name].append(wall)
            times[name] = min(times.get(name, wall), wall)
            sc.setJobDescription(None)
        passes.append(
            {
                "wall_s": round(time.monotonic() - w0, 3),
                "jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
                "compiles": compiles.getCount() - n0,
                "compile_ms": round((codegen.compileTime() - ns0) / 1e6, 1),
            }
        )
    print(
        json.dumps(
            {
                "value": round(sum(times.values()), 3),
                "queries": times,
                "samples": samples,
                "passes": passes,
                "sf": SF_DIR,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
