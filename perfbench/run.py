#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload warehouse_sql --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Each run pins its environment (local
master at the CPU count, BLAS/Arrow pools capped, fresh Spark local,
warehouse and working directories under ``.perfbench/tmp``), sets up,
measures, verifies every operation's output, and prints one line per
metric followed by a JSON object as the last line of stdout. With
``--trace 0`` that object holds the end-to-end metrics, with
``--trace 1`` the per-layer metrics. The full record of the run,
every timed operation included, goes to
``.perfbench/runs/<workload>-seed<seed>-trace<t>.json``; two traced
records feed ``perfbench/trace_diff.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import metrics, procinfo  # noqa: E402
from perfbench.workloads import SF_DIR, WORKLOADS, Bench  # noqa: E402


def _pin_environment(run_dir: Path, nproc: int) -> None:
    """Everything the program, the JVM and the Python workers read from
    the environment, set before pyspark or numpy is imported."""
    for name in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[name]  # program knobs: run at the program's defaults
    for sub in ("tmp", "spark-local"):
        (run_dir / sub).mkdir()
    threads = str(nproc)
    os.environ.update({
        "SPARK_LOCAL_DIRS": str(run_dir / "spark-local"),
        "TMPDIR": str(run_dir / "tmp"),
        "OMP_NUM_THREADS": threads,  # also sizes Arrow's CPU pool
        "OPENBLAS_NUM_THREADS": threads,
        "MKL_NUM_THREADS": threads,
        "NUMEXPR_NUM_THREADS": threads,
        # every JVM, the launcher's too: temp files in the run directory,
        # no hsperfdata files under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # Python workers import the program and the journey's kernels
        # by module path.
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
        ),
    })
    tempfile.tempdir = None
    os.chdir(run_dir)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "product_etl_spark" / "__init__.py").is_file():
        print(f"perfbench: no program source under {ROOT}", file=sys.stderr)
        return 2
    sf_dir = SF_DIR.get(args.workload)
    if sf_dir is not None and not sf_dir.is_dir():
        print(f"perfbench: test tables not found at {sf_dir}", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    tmp_root = ROOT / ".perfbench" / "tmp"
    tmp_root.mkdir(parents=True, exist_ok=True)
    run_dir = Path(tempfile.mkdtemp(prefix=f"{args.workload}-", dir=tmp_root))
    cwd = os.getcwd()
    steal0 = procinfo.cpu_times()
    t_start = time.perf_counter()
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), run_dir, nproc)
    try:
        _pin_environment(run_dir, nproc)
        WORKLOADS[args.workload](bench)
        peak_rss_mb, rss_by_process = procinfo.tree_peak_rss_mb(os.getpid())
        env = procinfo.versions(bench.spark, nproc)
    finally:
        procinfo.shutdown(bench)
        os.chdir(cwd)
        shutil.rmtree(run_dir, ignore_errors=True)
    env["cpu_steal_pct"] = procinfo.steal_pct(steal0, procinfo.cpu_times())
    env["wall_s"] = time.perf_counter() - t_start

    out = bench.out
    for f in out.failures:
        print(f"FAILED {f}", file=sys.stderr)
    if args.trace:
        e2e, figures, layers = {}, {}, metrics.per_layer(out, env["cpu_steal_pct"])
    else:
        (e2e, figures), layers = metrics.end_to_end(out, peak_rss_mb), {}
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "env": env, "end_to_end": e2e, "per_layer": layers,
        "figures": figures,
        "attempted": out.attempted, "failed": out.failed, "failures": out.failures,
        "extra": out.extra, "rss_by_process_mb": rss_by_process,
        "samples": [vars(s) for s in out.samples],
    }
    runs = ROOT / ".perfbench" / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    (runs / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(record, indent=1, sort_keys=True))

    print(" ".join(f"{k}={v}" for k, v in env.items()))
    for name, m in {**e2e, **figures, **layers}.items():
        note = f"  ({m['note']})" if "note" in m else ""
        print(f"{name} {m['value']:.6g} {m['unit']}{note}")
    print(f"failed_ops {out.failed / max(out.attempted, 1):.6g} ratio"
          f"  ({out.failed} of {out.attempted})")
    shown = layers if args.trace else e2e
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": m["value"], "unit": m["unit"]} for k, m in shown.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
