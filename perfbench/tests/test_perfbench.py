"""Tests of the benchmark's own pieces: the export generator, the order
statistics, the status-store reader, the record diffs, and the agreement
of BENCHMARK.json with the metrics the benchmark prints.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import csv
import io
import json
import re
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import export, metrics, stats  # noqa: E402
from perfbench.sparkstats import StatusStoreReader, _covered_s  # noqa: E402
from perfbench.steady import count_mismatches  # noqa: E402
from perfbench.trace_diff import diff  # noqa: E402

COL = {name: i for i, name in enumerate(export.HEADER)}


def _rows(data: bytes) -> list[list[str]]:
    reader = csv.reader(io.StringIO(data.decode("utf-8")), delimiter=";", quotechar='"')
    header = next(reader)
    assert header == export.HEADER
    return list(reader)


# -- export generator ------------------------------------------------------


def test_same_seed_same_bytes_other_seed_other_bytes():
    a, b, c = export.generate(7, 60), export.generate(7, 60), export.generate(8, 60)
    assert a.load_csv == b.load_csv and a.refresh_csv == b.refresh_csv
    assert a.load_csv != c.load_csv and a.refresh_csv != c.refresh_csv


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_f1_edge_cases_present(seed):
    rows = _rows(export.generate(seed, 60).load_csv)
    assert all(len(r) == len(export.HEADER) for r in rows)
    masters = [r[COL["Master Code"]] for r in rows]
    skus = [r[COL["SKU Code"]] for r in rows]

    assert "" in masters  # (c) blank master code
    assert any(s.endswith(".0") for s in skus)  # (b) float-corrupted SKU
    keyed = [(m, s) for m, s in zip(masters, skus) if m]
    assert len(keyed) > len(set(keyed))  # (e) duplicate SKU row
    img = [r[COL["Img Array"]] for r in rows if r[COL["Img Array"]]]
    entries = [e.strip() for a in img for e in a.strip("[]").split(",") if e.strip()]
    assert any(not e.startswith("https://") for e in entries)  # junk entries
    assert any(not any(e.strip().startswith("https://") for e in a.strip("[]").split(","))
               for a in img)  # (f) no valid URL at all
    # (a) a master whose rows interleave with another's
    last_seen = {}
    interleaved = False
    for i, m in enumerate(masters):
        if m and m in last_seen and last_seen[m] != i - 1 and masters[i - 1] not in ("", m):
            interleaved = True
        last_seen[m] = i
    assert interleaved
    # (d) attribute values holding ':' and '-'
    attrs = [r[COL["Custom Attributes"]] for r in rows if r[COL["Custom Attributes"]]]
    assert any(re.search(r":[^:-]*-", a) and re.search(r":\d\d:\d\d", a) for a in attrs)
    assert "NaN" in [r[COL["Video"]] for r in rows]  # literal NaN leakage


def test_refresh_reprices_and_adds_masters():
    e = export.generate(5, 200)
    assert e.refresh.n_collections == e.load.n_collections + 10
    assert e.refresh.n_products >= e.load.n_products
    old = {(r[COL["SKU Code"]], r[COL["Price"]]) for r in _rows(e.load_csv) if r[COL["Price"]]}
    new = {(r[COL["SKU Code"]], r[COL["Price"]]) for r in _rows(e.refresh_csv) if r[COL["Price"]]}
    changed = {s for s, _ in new - old} & {s for s, _ in old}
    variants = {r[COL["SKU Code"]] for r in _rows(e.load_csv) if r[COL["Sku Attribute"]]}
    assert 0.04 < len(changed) / len(variants) < 0.2
    # most new masters reuse a known name, so the MT cache serves them
    new_names = [e.refresh.names[m] for m in e.refresh.names if m not in e.load.names]
    assert sum(n in set(e.load.names.values()) for n in new_names) >= len(new_names) // 2


def test_expected_counts_follow_the_rows():
    e = export.generate(3, 40)
    rows = _rows(e.load_csv)
    by_master: dict[str, list[str]] = {}
    for r in rows:
        if r[COL["Master Code"]]:
            by_master.setdefault(r[COL["Master Code"]], []).append(r[COL["SKU Code"]])
    # first row per master is the template; the rest are variants
    assert e.load.products_per_master == {m: len(set(s[1:])) for m, s in by_master.items()}


# -- order statistics --------------------------------------------------------


def test_tail_refuses_fewer_than_ten_beyond():
    with pytest.raises(ValueError):
        stats.tail([float(i) for i in range(10)])
    value, pct, n = stats.tail([float(i) for i in range(1, 12)])
    assert (value, pct, n) == (1.0, 9, 11)


def test_tail_leaves_exactly_ten_beyond_at_36_samples():
    values = [float(i) for i in range(1, 37)]
    value, pct, n = stats.tail(values)
    assert (pct, n) == (72, 36)
    assert sum(v > value for v in values) == 10


def test_quartiles_match_statistics_module():
    assert stats.quartiles([1.0, 2.0, 3.0, 4.0, 5.0]) == (1.5, 3.0, 4.5)


def test_covered_seconds_merges_overlaps():
    assert _covered_s([(0, 1000), (500, 1500), (3000, 3500)]) == 2.0
    assert _covered_s([]) == 0.0


# -- status-store reader ---------------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from product_etl_spark.session import get_spark

    s = get_spark(
        "perfbench-tests",
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={"spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("wh"))},
    )
    yield s
    s.stop()


def test_status_store_counts_one_job_exactly(spark):
    reader = StatusStoreReader(spark)
    spark.range(0, 1000, 1, 3).selectExpr("sum(id)").collect()  # not this op's
    reader.mark()
    spark.range(0, 1000, 1, 4).write.format("noop").mode("overwrite").save()
    got = reader.collect(wall_s=10.0)
    assert (got["jobs"], got["stages"], got["tasks"]) == (1, 1, 4)
    assert got["shuffle_read_mb"] == got["shuffle_write_mb"] == got["spill_mb"] == 0
    assert 0 < got["driver_gap_s"] < 10.0
    assert got["stage_skew"] >= 1.0
    # nothing ran since: the next reading is empty
    assert reader.collect(wall_s=0.0)["jobs"] == 0


def test_status_store_counts_shuffle_bytes(spark):
    reader = StatusStoreReader(spark)
    spark.range(0, 20000, 1, 4).repartition(3).write.format("noop").mode("overwrite").save()
    got = reader.collect(wall_s=10.0)
    assert got["stages"] == 2 and got["tasks"] >= 4 + 1
    assert got["shuffle_write_mb"] > 0 and got["shuffle_read_mb"] > 0


# -- records and BENCHMARK.json ------------------------------------------------


def _record(counts: dict[str, dict[str, float]]) -> dict:
    samples = []
    for name, c in counts.items():
        engine = dict.fromkeys(("jobs", "stages", "tasks", "shuffle_read_mb",
                                "shuffle_write_mb", "driver_gap_s"), 0.0) | c
        samples.append({"name": name, "phase": "warm", "engine": engine})
    return {"trace": 1, "samples": samples}


def test_trace_diff_lists_only_moved_operations():
    before = _record({"q1": {"jobs": 10, "stages": 12}, "q2": {"jobs": 3}})
    after = _record({"q1": {"jobs": 7, "stages": 9}, "q2": {"jobs": 3, "driver_gap_s": 0.4}})
    lines = diff(before, after)
    assert any(line.startswith("q1") for line in lines)
    assert not any(line.startswith("q2") for line in lines)
    assert lines[-1].startswith("total")
    assert any(line.startswith("q2") for line in diff(before, after, show_all=True))


def test_count_mismatches_names_the_counter():
    a = _record({"q1": {"jobs": 10, "tasks": 40}})
    b = _record({"q1": {"jobs": 10, "tasks": 41}})
    assert count_mismatches(a, a) == []
    (line,) = count_mismatches(a, b)
    assert "warm:q1 tasks" in line


def test_benchmark_json_lists_the_printed_metrics():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == metrics.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == metrics.PER_LAYER
    from perfbench.workloads import WORKLOADS

    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in spec["end_to_end"]) <= 0.25
