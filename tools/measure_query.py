#!/usr/bin/env python3
"""Isolated per-query measurement: noop-sink wall time, job count,
and optional formatted-plan capture for a NAMED subset of catalog
queries — the guide-§1 measure-first loop without paying for the
whole catalog.

Usage:
  python tools/measure_query.py q217 q212 ...            # timing only
  python tools/measure_query.py --explain plans/r15 q217 # + save plan
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 overrides the data dir;
  SPARK_GRAFT_BENCH_REPS / _WARMUP as in bench.py.

Query names may be prefixes (q217 matches q217_suffix_doubling_spans).
Every selected query gets its warm-up passes before any timed rep,
and reps run round-robin, so list order does not bias the walls.
Each timed rep runs in its own job group, so job counts are per rep.
Codegen compiles (count, and summed janino ms) are read from the JVM
around each timed rep, outside the timed region; a warm rep that still
compiles is paying for classes the codegen cache evicted.
Prints one line per query: median / per-rep walls / per-rep job
counts / per-rep compiles and compile ms, and a final JSON line for
scripting.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from product_etl_spark import plans  # noqa: E402
from product_etl_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    explain_dir = None
    suffix = "_before"
    while args and args[0].startswith("--"):
        if args[0] == "--explain":
            explain_dir = args[1]
            args = args[2:]
        elif args[0] == "--suffix":
            suffix = args[1]
            args = args[2:]
        else:
            sys.exit(f"unknown flag {args[0]}")
    if not args:
        sys.exit(__doc__)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    warmup = max(0, int(os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1")))

    selected = {}
    for pat in args:
        hits = [n for n in plans.CATALOG if n == pat or n.startswith(pat)]
        if not hits:
            sys.exit(f"no catalog entry matches {pat!r}")
        for h in hits:
            selected[h] = plans.CATALOG[h]

    spark = get_spark("measure-query")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    if explain_dir:
        os.makedirs(explain_dir, exist_ok=True)
        for name, spec in selected.items():
            df = spec["fn"](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            short = name.split("_")[0]
            with open(
                os.path.join(explain_dir, f"{short}{suffix}.txt"), "w"
            ) as f:
                f.write(plan)

    def run(spec) -> None:
        spec["fn"](spark, sf_dir).write.format("noop").mode("overwrite").save()

    # Untimed passes over EVERY selected query before any timed rep,
    # then reps round-robin: the first-listed query would otherwise
    # time a JVM still warming up on the plan shapes of the others.
    for _ in range(warmup):
        for spec in selected.values():
            run(spec)
    sc = spark.sparkContext
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    codegen = spark._jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

    def compiled() -> tuple[int, int]:
        # JVM-wide totals: compile count, summed compile time in ns
        return metrics.METRIC_COMPILATION_TIME().getCount(), codegen.compileTime()

    runs: dict[str, list[float]] = {name: [] for name in selected}
    compiles: dict[str, list[int]] = {name: [] for name in selected}
    compile_ms: dict[str, list[int]] = {name: [] for name in selected}
    for rep in range(reps):
        for name, spec in selected.items():
            sc.setJobGroup(f"measure:{name}:{rep}", name)
            n0, ns0 = compiled()
            try:
                t0 = time.monotonic()
                run(spec)
                runs[name].append(round(time.monotonic() - t0, 3))
            finally:
                sc.setJobGroup("", "")
            n1, ns1 = compiled()
            compiles[name].append(n1 - n0)
            compile_ms[name].append(round((ns1 - ns0) / 1e6))

    def jobs_in(group: str) -> int:
        try:
            return len(sc.statusTracker().getJobIdsForGroup(group))
        except Exception:
            return -1

    out = {}
    for name, reps_s in runs.items():
        jobs = [jobs_in(f"measure:{name}:{rep}") for rep in range(reps)]
        med = sorted(reps_s)[len(reps_s) // 2]
        out[name] = {
            "median": med,
            "reps": reps_s,
            "jobs": jobs,
            "compiles": compiles[name],
            "compile_ms": compile_ms[name],
        }
        print(
            f"{name}: median={med}s reps={reps_s} jobs={jobs}"
            f" compiles={compiles[name]} compile_ms={compile_ms[name]}",
            flush=True,
        )
    print(json.dumps(out, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
