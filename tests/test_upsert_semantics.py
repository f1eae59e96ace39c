"""MERGE semantics of ``upsert_parquet`` against a pure-Python model.

The model states the contract row by row: updates are deduplicated
on the key; a NULL key never matches; in ``upsert`` mode an update
replaces every current row of its key, in ``insert_only`` mode the
current rows win; a column the winning side lacks is NULL; columns
come in the updates' order, audit columns next, then columns only
the current table has. Audit: an update row keeps the matched
current row's created_on, and keeps its modified_on exactly when the
payload is equal (NULL equal to NULL); every other written row gets
the merge's one timestamp, shown here as NOW. In ``upsert`` mode a
key the current table repeats gives one written row per current copy.
"""

from __future__ import annotations

import datetime as dt
import itertools

import pytest

from product_etl_spark.operators.upsert import upsert_parquet

NOW = "NOW"
AUDIT = ("created_on", "modified_on")
T0 = dt.datetime(2020, 1, 1)


def _key(row, keys):
    return tuple(row.get(k) for k in keys)


def _matches(u, c, keys):
    return all(u.get(k) is not None and u.get(k) == c.get(k) for k in keys)


def _model(current, cur_cols, updates, upd_cols, keys, mode, audit):
    """Every admissible new state (one per choice of the row kept among
    duplicate update keys), each a sorted list of row tuples."""
    groups: dict = {}
    for u in updates:
        groups.setdefault(_key(u, keys), []).append(u)
    col_order = list(upd_cols)
    if audit:
        col_order += [c for c in AUDIT if c not in col_order]
    order = col_order + [c for c in cur_cols if c not in col_order]
    payload = [c for c in upd_cols if c not in AUDIT]
    detect = audit and {*AUDIT, *payload} <= set(cur_cols)

    def written(u, c=None):
        row = dict(u)
        if audit:
            created = row.get("created_on", NOW)
            if c is not None and c.get("created_on") is not None:
                created = c["created_on"]
            same = c is not None and all(u.get(p) == c.get(p) for p in payload)
            row["created_on"] = created
            row["modified_on"] = c["modified_on"] if detect and same else NOW
        return row

    states = []
    for upd in itertools.product(*groups.values()):
        rows = []
        for c in current:
            hit = [u for u in upd if _matches(u, c, keys)]
            if not hit or mode == "insert_only":
                rows.append(c)
            else:
                rows.append(written(hit[0], c))
        for u in upd:
            if not any(_matches(u, c, keys) for c in current):
                rows.append(written(u))
        states.append(_rows(rows, order))
    return order, states


def _rows(rows, order):
    """Rows (dicts) as a sorted list of tuples in ``order``; a column a
    row lacks reads NULL."""
    return sorted(tuple(repr(r.get(n)) for n in order) for r in rows)


def _cols(schema):
    return [f.split()[0] for f in schema.split(", ")]


def _stamps(rows):
    """Map the merge's own timestamp to NOW; it must be one value,
    later than every timestamp the test wrote."""
    fresh = {r[c] for r in rows for c in AUDIT if r.get(c) is not None and r[c] >= _ts(365)}
    assert len(fresh) <= 1, fresh
    return [{k: (NOW if v in fresh else v) for k, v in r.items()} for r in rows]


def _write(spark, rows, schema, path, partition_cols=None):
    writer = spark.createDataFrame(rows, schema).write
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)


def _merged(out, order):
    return _rows(_stamps([r.asDict() for r in out.collect()]), order)


def _check(spark, tmp_path, current, cur_schema, updates, upd_schema, keys, mode, audit=True):
    path = str(tmp_path / "t")
    _write(spark, current, cur_schema, path)
    upd = spark.createDataFrame(updates, upd_schema)
    out = upsert_parquet(spark, upd, path, keys, mode=mode, audit=audit)
    cur_cols = _cols(cur_schema)
    order, states = _model(
        [dict(zip(cur_cols, r)) for r in current], cur_cols,
        [r.asDict() for r in upd.collect()], upd.columns, keys, mode, audit,
    )
    assert out.columns == order
    assert _merged(out, order) in states
    return out


def _ts(day):
    return T0 + dt.timedelta(days=day)


CUR_SCHEMA = "k long, v long, z string, created_on timestamp, modified_on timestamp"
CURRENT = [
    (1, 10, "z1", _ts(1), _ts(2)),  # updated, payload changes
    (2, 20, None, _ts(3), _ts(4)),  # updated, payload equal (z not in updates)
    (3, 30, "z3", _ts(5), _ts(6)),  # untouched
    (None, 40, "zn", _ts(7), _ts(8)),  # NULL key: never matches
]


@pytest.mark.parametrize("mode", ["upsert", "insert_only"])
def test_merge_matches_model(spark, tmp_path, mode):
    """NULL keys on both sides, a duplicated update key, an extra
    update column (y), a current-only column (z) and int updates into
    a long column."""
    updates = [
        (1, 11, "y1"),
        (2, 20, None),
        (4, 44, "y4"),
        (4, 45, "y4'"),  # duplicate update key: one of the two survives
        (None, 40, None),  # NULL key: appended, never matched
    ]
    # z is absent from the updates, so payload (k, v, y) decides
    # modified_on only where the current table has y: it does not, so
    # no update row keeps its modified_on here (see the next test)
    out = _check(
        spark, tmp_path, CURRENT, CUR_SCHEMA, updates, "k int, v int, y string", ["k"], mode
    )
    assert dict(out.dtypes)["k"] == "bigint" and dict(out.dtypes)["v"] == "bigint"


@pytest.mark.parametrize("mode", ["upsert", "insert_only"])
def test_modified_on_kept_iff_payload_equal(spark, tmp_path, mode):
    updates = [
        (1, 11, "z1"),  # changed v
        (2, 20, None),  # equal, NULL == NULL
        (3, 30, "z3"),  # equal
        (5, 50, "z5"),  # new key
        (None, None, None),  # all-NULL payload, but it matches nothing
    ]
    out = _check(
        spark, tmp_path, CURRENT, CUR_SCHEMA, updates, "k long, v int, z string", ["k"], mode
    )
    rows = {r["k"]: r for r in out.collect()}
    if mode == "upsert":
        assert rows[1]["created_on"] == _ts(1) and rows[1]["modified_on"] > _ts(365)
        assert rows[2]["modified_on"] == _ts(4) and rows[3]["modified_on"] == _ts(6)
    assert rows[5]["created_on"] == rows[5]["modified_on"] > _ts(365)


@pytest.mark.parametrize("mode", ["upsert", "insert_only"])
def test_duplicate_current_keys(spark, tmp_path, mode):
    """A key the current table repeats: in ``upsert`` mode every
    current copy yields a row from the update, with or without audit."""
    current = CURRENT + [(1, 12, "z1b", _ts(9), _ts(10))]
    updates = [(1, 11, "z1"), (6, 60, None)]
    _check(spark, tmp_path, current, CUR_SCHEMA, updates, "k long, v long, z string", ["k"], mode)
    _check(
        spark, tmp_path / "noaudit", current, CUR_SCHEMA, updates,
        "k long, v long, z string", ["k"], mode, audit=False,
    )


@pytest.mark.parametrize("mode", ["upsert", "insert_only"])
def test_current_without_audit_columns(spark, tmp_path, mode):
    current = [(1, "a", "q"), (1, "b", "r"), (2, "c", None), (None, "n", "s")]
    updates = [(1, "A"), (3, "C"), (None, "N")]
    _check(
        spark, tmp_path, current, "k long, v string, w string", updates, "k long, v string",
        ["k"], mode,
    )


@pytest.mark.parametrize("mode", ["upsert", "insert_only"])
def test_composite_key_with_null_component(spark, tmp_path, mode):
    schema = "a string, b long, v string, created_on timestamp, modified_on timestamp"
    current = [
        ("x", 1, "x1", _ts(1), _ts(1)),
        ("x", None, "xn", _ts(2), _ts(2)),
        ("y", 1, "y1", _ts(3), _ts(3)),
    ]
    updates = [("x", 1, "X1"), ("x", None, "XN"), ("y", 1, "y1"), ("y", 2, "y2")]
    _check(
        spark, tmp_path, current, schema, updates, "a string, b long, v string", ["a", "b"], mode
    )


@pytest.mark.parametrize("mode", ["upsert", "insert_only"])
def test_partition_pruned_merge_matches_model(spark, tmp_path, mode):
    """``partition_cols``: the merge sees only the touched partitions;
    the rest stay as they were."""
    path = str(tmp_path / "t")
    schema = "k long, part string, v string, created_on timestamp, modified_on timestamp"
    current = [
        (1, "p0", "a", _ts(1), _ts(1)),
        (2, "p0", "b", _ts(2), _ts(2)),
        (3, "p1", "c", _ts(3), _ts(3)),
        (None, "p0", "n", _ts(4), _ts(4)),
    ]
    _write(spark, current, schema, path, partition_cols=["part"])
    upd = spark.createDataFrame(
        [(1, "p0", "A"), (2, "p0", "b"), (5, "p0", "e")], "k long, part string, v string"
    )
    out = upsert_parquet(spark, upd, path, ["k"], mode=mode, partition_cols=["part"])
    cur = [dict(zip(_cols(schema), r)) for r in current]
    touched = [c for c in cur if c["part"] == "p0"]
    order, states = _model(
        touched, _cols(schema), [r.asDict() for r in upd.collect()], upd.columns, ["k"], mode, True
    )
    untouched = _rows([c for c in cur if c["part"] != "p0"], order)
    assert _merged(out, order) in [sorted(s + untouched) for s in states]
