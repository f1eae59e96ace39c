"""Turn a run's samples into the end-to-end and per-layer metrics.

Every workload reports every metric named here, so these are the full
lists of ``BENCHMARK.json``. A per-layer metric of a layer the
workload does not reach reads 0: that is the prediction, e.g. no
``operators.*`` work on product_journey and no ``pipelines.*`` work on
the query workloads.
"""

from __future__ import annotations

from collections import defaultdict

from perfbench import stats
from perfbench.sparkstats import COUNTERS

#: (name, unit): what a user of the system sees, on every workload
END_TO_END = [
    ("setup_s", "s"),
    ("cold_s", "s"),
    ("total_s", "s"),
]

_COUNTER_UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count", "driver_gap_s": "s",
    "shuffle_read_mb": "MB", "shuffle_write_mb": "MB", "spill_mb": "MB",
    "executor_cpu_s": "s", "gc_s": "s", "stage_skew": "ratio",
}
#: per operator module, the counters an operator change moves most
_MODULE_COUNTERS = ("jobs", "stages", "tasks", "driver_gap_s", "shuffle_read_mb",
                    "shuffle_write_mb", "executor_cpu_s")
OPERATOR_MODULES = ("suffixes", "dedup", "graph", "similarity", "pq")
PASSES = ("load", "refresh")
_STEPS = ("ingest", "translate", "enrich", "verify")

PER_LAYER = (
    [("session.start_s", "s"), ("session.load_tables_s", "s"),
     ("plans.build_s", "s"), ("plans.execute_s", "s")]
    + [(f"spark.{c}", _COUNTER_UNITS[c]) for c in COUNTERS]
    + [(f"operators.{m}.{c}", _COUNTER_UNITS[c])
       for m in OPERATOR_MODULES for c in _MODULE_COUNTERS]
    + [m for p in PASSES for m in (
        (f"sources.{p}.read_s", "s"), (f"sources.{p}.read_tasks", "count"),
        *((f"pipelines.{p}.{step}_s", "s") for step in _STEPS),
        (f"plans.{p}.flagship_s", "s"),
        (f"operators.upsert.{p}.bytes_written_mb", "MB"),
        (f"operators.upsert.{p}.files_written", "count"),
        (f"translation.{p}.cache_hit_ratio", "ratio"),
        (f"kernels.{p}.calls", "count"),
    )]
    + [("operators.upsert.changed_ratio", "ratio"), ("operators.upsert.storage_amp", "ratio"),
       ("proc.cpu_steal_pct", "%"), ("trace.overhead_pct", "%")]
)


def _metric(value: float, unit: str, note: str | None = None) -> dict:
    m = {"value": float(value), "unit": unit}
    if note:
        m["note"] = note
    return m


def _per_op(samples, value) -> dict[str, float]:
    """Operation name -> median of ``value(sample)`` over its samples."""
    by_op = defaultdict(list)
    for s in samples:
        by_op[s.name].append(value(s))
    return {name: stats.median(v) for name, v in by_op.items()}


def _is_journey(out) -> bool:
    return any(s.phase in PASSES for s in out.samples)


def _warm(out, traced: bool):
    return [s for s in out.samples if s.phase == "warm" and (s.engine is not None) == traced]


def _pass_s(out, pass_name: str) -> float:
    return sum(s.seconds for s in out.samples if s.phase == pass_name)


def end_to_end(out, peak_rss_mb: float) -> tuple[dict[str, dict], dict[str, dict]]:
    """(metrics of BENCHMARK.json, the workload's own figures) of an
    untraced run. Query workloads: cold_s sums each query's first
    execution, total_s each query's median warm execution. Journey:
    cold_s is the load pass (every step's first execution), total_s
    the load and refresh passes."""
    if _is_journey(out):
        cold, total = _pass_s(out, "load"), _pass_s(out, "load") + _pass_s(out, "refresh")
        own = {
            "load_s": _metric(_pass_s(out, "load"), "s"),
            "refresh_s": _metric(_pass_s(out, "refresh"), "s"),
        }
        if "storage_amp" in out.extra:  # absent when a load step raised
            own["storage_amp"] = _metric(out.extra["storage_amp"], "ratio")
    else:
        warm = _warm(out, traced=False)
        times = [s.seconds for s in warm]
        tail, pct, n = stats.tail(times)
        cold = sum(s.seconds for s in out.samples if s.phase == "cold")
        total = sum(_per_op(warm, lambda s: s.seconds).values())
        own = {
            "query_p50_s": _metric(stats.median(times), "s", f"{n} samples"),
            "query_tail_s": _metric(tail, "s", f"p{pct} of {n} samples"),
        }
    # Peak memory follows the JVM's adaptive heap sizing and moves by
    # 10-25% between runs of the same code: printed, not bounded.
    own["peak_rss_mb"] = _metric(peak_rss_mb, "MB")
    values = {
        "setup_s": _metric(out.extra["setup_s"], "s"),
        "cold_s": _metric(cold, "s"),
        "total_s": _metric(total, "s"),
    }
    return {name: values[name] for name, _ in END_TO_END}, own


def per_layer(out, cpu_steal_pct: float) -> dict[str, dict]:
    """Per-layer metrics of a traced run. Query workloads: medians over
    the traced warm passes, summed over the queries of a pass. Journey:
    the one traced cycle."""
    values: dict[str, float] = dict.fromkeys((n for n, _ in PER_LAYER), 0.0)
    values["session.start_s"] = out.extra["session.start_s"]
    values["session.load_tables_s"] = out.extra["session.load_tables_s"]
    journey = _is_journey(out)
    traced = [s for s in out.samples if s.engine is not None and (journey or s.phase == "warm")]
    for part in ("build_s", "execute_s"):
        values[f"plans.{part}"] = sum(
            _per_op([s for s in traced if part in s.parts], lambda s: s.parts[part]).values())

    modules = {s.name: s.module for s in traced}
    for c in COUNTERS:
        per_op = _per_op(traced, lambda s: s.engine[c])
        if c == "stage_skew":
            values["spark.stage_skew"] = max(per_op.values(), default=0.0)
        else:
            values[f"spark.{c}"] = sum(per_op.values())
        if c in _MODULE_COUNTERS:
            for name, v in per_op.items():
                if modules[name] in OPERATOR_MODULES:
                    values[f"operators.{modules[name]}.{c}"] += v

    op_s = _per_op(traced, lambda s: s.seconds)
    for p in PASSES:
        if f"{p}.flagship" not in op_s:
            continue
        values[f"sources.{p}.read_s"] = op_s[f"{p}.read"]
        for step in _STEPS:
            values[f"pipelines.{p}.{step}_s"] = op_s[f"{p}.{step}"]
        values[f"plans.{p}.flagship_s"] = op_s[f"{p}.flagship"]
        extra = {k.split(".", 2)[2]: v for k, v in out.extra.items()
                 if k.startswith(f"journey.{p}.")}
        values[f"sources.{p}.read_tasks"] = extra["read_tasks"]
        values[f"operators.upsert.{p}.bytes_written_mb"] = extra["bytes_written_mb"]
        values[f"operators.upsert.{p}.files_written"] = extra["files_written"]
        values[f"translation.{p}.cache_hit_ratio"] = extra["cache_hit_ratio"]
        values[f"kernels.{p}.calls"] = extra["kernel_calls"]
    if journey and "refresh.flagship" in op_s:
        values["operators.upsert.changed_ratio"] = out.extra["journey.refresh.changed_ratio"]
        values["operators.upsert.storage_amp"] = out.extra["storage_amp"]

    values["proc.cpu_steal_pct"] = cpu_steal_pct
    if journey:
        # one cycle has no untraced twin: report the tracing's own wall
        # time as a share of the traced steps
        values["trace.overhead_pct"] = 100.0 * out.extra["trace_wall_s"] / sum(op_s.values())
    else:
        t_untraced = sum(_per_op(_warm(out, traced=False), lambda s: s.seconds).values())
        values["trace.overhead_pct"] = 100.0 * (sum(op_s.values()) / t_untraced - 1.0)
    return {name: _metric(values[name], unit) for name, unit in PER_LAYER}
