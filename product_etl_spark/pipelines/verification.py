"""Verification suite — the reference's post-hoc audit queries
(SURVEY.md §5.4: verify_collections.py / verify_etl_results.py /
diagnosis_and_fix.sql) as a library of Spark SQL assertions run
against the warehouse after every pipeline.

A check is a ``UniqueKey``, ``NoOrphans`` or ``Inheritance`` spec;
``run_checks`` answers a list of them from one plan in one action, and
``run_warehouse_checks`` runs the full audit. These are invariant
checks, not golden outputs — exactly the reference's testing
philosophy.

One plan: every key check becomes a branch of one tagged union of
``(_t check id, _s side, _k key tuple as array<string>)``, fed to one
two-level aggregate. Level 1 groups by ``(_t, _k)`` and counts rows per
side; level 2 groups by ``_t`` into ``total``, ``distinct`` and
``orphans`` (side-1 rows in groups with no side-0 row). A unique-key
check puts its table's rows on side 0; an FK check puts the parent's
keys on side 0 and the child's non-NULL FKs on side 1. The inheritance
join is aggregated to one row and joins the same collect.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType, StringType


@dataclass
class CheckResult:
    name: str
    ok: bool
    details: str


@dataclass(frozen=True)
class UniqueKey:
    """Natural-key uniqueness (the reference's UNIQUE constraints,
    backup_before_fix.sql:28806,28830,28854): rows against distinct
    key tuples. NULL keys group together, as under ``distinct()``."""

    table: str
    df: DataFrame
    keys: tuple[str, ...]

    @property
    def name(self) -> str:
        return f"unique:{self.table}({','.join(self.keys)})"


@dataclass(frozen=True)
class NoOrphans:
    """Referential integrity (verify_etl_results.py:114-124): child
    rows whose non-NULL ``fk`` matches no parent ``pk``."""

    name: str
    child: DataFrame
    parent: DataFrame
    fk: str
    pk: str


@dataclass(frozen=True)
class Inheritance:
    """Inheritance correctness via equality join
    (migrate_product_inheritance.py:117-140): every product's url
    matches its collection's url when the collection has one."""

    product: DataFrame
    collection: DataFrame
    name: str = "product_url_inheritance"


Check = UniqueKey | NoOrphans | Inheritance


def _key_arrays(*sides: tuple[DataFrame, tuple[str, ...]]) -> list[Column]:
    """Each side's key tuple as array<string>, for keys compared across
    the sides. The string cast is injective only on string and integral
    columns, and only between columns of one type (a double's string
    form is not, and int 1 and string "1" would meet), so anything else
    raises: the audit would otherwise merge distinct keys."""
    types = [tuple(df.schema[c].dataType for c in cols) for df, cols in sides]
    for (_, cols), ts in zip(sides, types):
        for c, t in zip(cols, ts):
            if not isinstance(t, (StringType, IntegralType)):
                raise TypeError(
                    f"key column {c!r} is {t.simpleString()}; need string or integral"
                )
    if any(ts != types[0] for ts in types):
        shown = [[t.simpleString() for t in ts] for ts in types]
        raise TypeError(f"key types differ: {shown}")
    return [F.array(*[F.col(c).cast("string") for c in cols]) for _, cols in sides]


def _key_rows(i: int, check: UniqueKey | NoOrphans) -> list[DataFrame]:
    """The union branches of key check ``i``."""
    def side(df: DataFrame, s: int, key: Column) -> DataFrame:
        return df.select(F.lit(i).alias("_t"), F.lit(s).alias("_s"), key.alias("_k"))

    if isinstance(check, UniqueKey):
        (key,) = _key_arrays((check.df, check.keys))
        return [side(check.df, 0, key)]
    child = check.child.filter(F.col(check.fk).isNotNull())
    pk, fk = _key_arrays((check.parent, (check.pk,)), (child, (check.fk,)))
    return [side(check.parent, 0, pk), side(child, 1, fk)]


def _key_counts(branches: list[DataFrame]) -> DataFrame:
    """(_t, total, distinct, orphans) per key check, one row per check
    that has at least one row."""
    per_key = reduce(DataFrame.unionAll, branches).groupBy("_t", "_k").agg(
        F.sum(1 - F.col("_s")).alias("n0"), F.sum("_s").alias("n1")
    )
    return per_key.groupBy("_t").agg(
        F.sum("n0").alias("total"),
        F.count(F.when(F.col("n0") > 0, 1)).alias("distinct"),
        F.coalesce(F.sum(F.when(F.col("n0") == 0, F.col("n1"))), F.lit(0))
        .alias("orphans"),
    )


def _mismatched(i: int, check: Inheritance) -> DataFrame:
    """Inheritance check ``i`` as one ``_key_counts``-shaped row; its
    ``orphans`` column holds the mismatched products."""
    joined = check.product.alias("p").join(
        check.collection.alias("c"), F.col("p.collection_id") == F.col("c.id"), "inner"
    )
    bad = joined.filter(F.col("c.url").isNotNull() & (F.col("p.url") != F.col("c.url")))
    none = F.lit(None).cast("long")
    return bad.agg(
        F.lit(i).alias("_t"),
        none.alias("total"),
        none.alias("distinct"),
        F.count(F.lit(1)).alias("orphans"),
    )


def run_checks(checks: list[Check]) -> list[CheckResult]:
    """Evaluate ``checks`` from one plan in one action, in the order
    given."""
    keyed, frames = [], []
    for i, check in enumerate(checks):
        if isinstance(check, Inheritance):
            frames.append(_mismatched(i, check))
        else:
            keyed += _key_rows(i, check)
    if keyed:
        frames.append(_key_counts(keyed))
    if not frames:
        return []
    rows = {r["_t"]: r for r in reduce(DataFrame.unionByName, frames).collect()}
    out = []
    for i, check in enumerate(checks):
        r = rows.get(i)  # absent: a key check over no rows
        total, distinct, bad = (r["total"], r["distinct"], r["orphans"]) if r else (0, 0, 0)
        if isinstance(check, UniqueKey):
            details = f"{total} rows / {distinct} distinct"
            out.append(CheckResult(check.name, total == distinct, details))
        else:
            what = "orphans" if isinstance(check, NoOrphans) else "mismatched"
            out.append(CheckResult(check.name, bad == 0, f"{bad} {what}"))
    return out


def warehouse_checks(tables: dict[str, DataFrame]) -> list[Check]:
    """The full audit over an ingest warehouse: keys per
    schemas.NATURAL_KEYS, FKs per the entity map SURVEY.md §1.4."""
    from product_etl_spark.schemas import NATURAL_KEYS

    checks: list[Check] = [
        UniqueKey(name, tables[name], tuple(keys))
        for name, keys in NATURAL_KEYS.items()
        if name in tables
    ]
    pc = tables.get("product_collection")
    p = tables.get("product")
    if pc is not None and p is not None:
        checks.append(NoOrphans("no_orphans:product->collection", p, pc, "collection_id", "id"))
        checks.append(Inheritance(p, pc))
    if p is not None and "product_attribute_product" in tables:
        checks.append(
            NoOrphans(
                "no_orphans:attr_link->product",
                tables["product_attribute_product"], p, "product_id", "id",
            )
        )
    if "product_attribute_values" in tables and "product_attribute_keys" in tables:
        checks.append(
            NoOrphans(
                "no_orphans:attr_value->key",
                tables["product_attribute_values"],
                tables["product_attribute_keys"],
                "key_id",
                "id",
            )
        )
    return checks


def run_warehouse_checks(tables: dict[str, DataFrame]) -> list[CheckResult]:
    """The full audit (``warehouse_checks``) in one plan and one
    action."""
    return run_checks(warehouse_checks(tables))


def assert_all(results: list[CheckResult]) -> None:
    failed = [r for r in results if not r.ok]
    if failed:
        lines = "\n".join(f"  {r.name}: {r.details}" for r in failed)
        raise AssertionError(f"verification failed:\n{lines}")
