#!/usr/bin/env python3
"""Steadiness report: run one workload under several seeds and show how
far each metric moves.

    python3 perfbench/steady.py --workload corpus_dedup --seeds 1-10
    python3 perfbench/steady.py --workload product_journey --seeds 1-5 --counts

For every end-to-end metric it prints the median, the quartiles as
``statistics.quantiles(values, n=4)`` gives them, max/min, and the
interquartile spread as a share of the median, flagged ``OVER`` when
the spread exceeds the metric's bound in BENCHMARK.json (and ``noisy``
above a third of it). ``--counts`` also runs the traced mode twice on
the first seed and lists every engine count (jobs, stages, tasks,
shuffle bytes) that did not repeat exactly, per operation.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import stats  # noqa: E402

EXACT_COUNTS = ("jobs", "stages", "tasks", "shuffle_read_mb", "shuffle_write_mb")


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    """(last-line result, full run record) of one benchmark run."""
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        raise RuntimeError(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    record = json.loads(
        (ROOT / ".perfbench" / "runs" / f"{workload}-seed{seed}-trace{trace}.json").read_text())
    return result, record


def spread_table(runs: list[dict], bounds: dict[str, float]) -> list[str]:
    lines = [f"{'metric':<16}{'median':>12}{'q1':>12}{'q3':>12}{'max/min':>9}"
             f"{'spread':>9}{'bound':>7}"]
    for name in runs[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in runs]
        q1, q2, q3 = stats.quartiles(values)
        spread = (q3 - q1) / q2 if q2 else float("inf")
        bound = bounds.get(name)
        flag = ""
        if bound is not None:
            flag = "OVER" if spread > bound else "noisy" if spread > bound / 3 else "ok"
        ratio = max(values) / min(values) if min(values) > 0 else float("inf")
        lines.append(f"{name:<16}{q2:>12.4f}{q1:>12.4f}{q3:>12.4f}{ratio:>9.3f}"
                     f"{spread:>9.3f}{bound if bound is not None else '':>7}  {flag}")
    return lines


def _op_counts(record: dict) -> dict[str, dict[str, list[float]]]:
    out: dict[str, dict[str, list[float]]] = {}
    for s in record["samples"]:
        if s["engine"] is not None:
            per = out.setdefault(f"{s['phase']}:{s['name']}", {})
            for c in EXACT_COUNTS:
                per.setdefault(c, []).append(s["engine"][c])
    return out


def count_mismatches(a: dict, b: dict) -> list[str]:
    """Engine counts of two traced runs of one seed that differ."""
    ca, cb = _op_counts(a), _op_counts(b)
    lines = []
    for op in sorted(set(ca) | set(cb)):
        for c in EXACT_COUNTS:
            va, vb = ca.get(op, {}).get(c), cb.get(op, {}).get(c)
            if va != vb:
                lines.append(f"  {op} {c}: {va} vs {vb}")
    return lines


def main(argv: list[str] | None = None) -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--counts", action="store_true")
    args = ap.parse_args(argv)

    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    runs = []
    for seed in _seeds(args.seeds):
        result, _ = run_once(args.workload, seed, args.seconds, 0)
        if not result["correct"]:
            print(f"seed {seed}: {result['failed']} of {result['attempted']} operations failed")
        runs.append(result)
        print(f"seed {seed}: " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
    print(f"\n{args.workload}, {len(runs)} runs")
    print("\n".join(spread_table(runs, bounds)))

    if args.counts:
        seed = _seeds(args.seeds)[0]
        _, a = run_once(args.workload, seed, args.seconds, 1)
        _, b = run_once(args.workload, seed, args.seconds, 1)
        diff = count_mismatches(a, b)
        print(f"\nengine counts, two traced runs of seed {seed}: "
              + ("all repeat exactly" if not diff else f"{len(diff)} differ"))
        print("\n".join(diff))
    return 0


if __name__ == "__main__":
    sys.exit(main())
