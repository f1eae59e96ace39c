#!/usr/bin/env python3
"""Diff two traced-run records by operation.

    python3 perfbench/trace_diff.py BEFORE.json AFTER.json [--all]

The records are the ``.perfbench/runs/<workload>-seed<n>-trace1.json``
files that ``run.py --trace 1`` writes. For each operation (a catalog
query, or a journey step) it lists the change in Spark jobs, executed
stages, tasks, shuffle read and write, and driver gap (operation wall
minus the time any stage ran), each the median over the operation's
traced executions. Operations whose counts did not move are left out
unless ``--all`` is given, so the output reads "these stages moved".
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
from collections import defaultdict

FIELDS = ("jobs", "stages", "tasks", "shuffle_read_mb", "shuffle_write_mb", "driver_gap_s")
#: fields that count work: a change in any of them marks the operation as moved
COUNTS = FIELDS[:5]


def per_op(record: dict) -> dict[str, dict[str, float]]:
    """Operation -> field -> median over its traced executions."""
    values: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
    for s in record["samples"]:
        if s["engine"] is None:
            continue
        for f in FIELDS:
            values[s["name"]][f].append(s["engine"][f])
    return {op: {f: statistics.median(v) for f, v in fs.items()} for op, fs in values.items()}


def diff(before: dict, after: dict, show_all: bool = False) -> list[str]:
    a, b = per_op(before), per_op(after)
    head = f"{'operation':<36}" + "".join(f"{f:>22}" for f in FIELDS)
    lines = [head]
    totals = {f: [0.0, 0.0] for f in FIELDS}
    for op in sorted(set(a) | set(b)):
        ra, rb = a.get(op), b.get(op)
        if ra is None or rb is None:
            lines.append(f"{op:<36}  only in {'after' if ra is None else 'before'}")
            continue
        for f in FIELDS:
            totals[f][0] += ra[f]
            totals[f][1] += rb[f]
        if not show_all and all(abs(ra[f] - rb[f]) < 1e-9 for f in COUNTS):
            continue
        lines.append(f"{op:<36}" + "".join(
            f"{ra[f]:>10.4g} ->{rb[f]:>9.4g}" for f in FIELDS))
    lines.append(f"{'total':<36}" + "".join(
        f"{totals[f][0]:>10.4g} ->{totals[f][1]:>9.4g}" for f in FIELDS))
    return lines


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--all", action="store_true", help="list unchanged operations too")
    args = ap.parse_args(argv)
    with open(args.before) as fa, open(args.after) as fb:
        before, after = json.load(fa), json.load(fb)
    for rec, path in ((before, args.before), (after, args.after)):
        if not rec.get("trace"):
            print(f"{path}: not a traced run (use run.py --trace 1)", file=sys.stderr)
            return 2
    print("\n".join(diff(before, after, args.all)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
