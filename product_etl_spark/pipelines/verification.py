"""Verification suite — the reference's post-hoc audit queries
(SURVEY.md §5.4: verify_collections.py / verify_etl_results.py /
diagnosis_and_fix.sql) as a library of Spark SQL assertions run
against the warehouse after every pipeline.

Each check is a one-row (name, ok, details) frame; ``collect_checks``
evaluates a list of them in one action, and ``run_warehouse_checks``
builds and collects the full audit. These are invariant checks, not
golden outputs — exactly the reference's testing philosophy.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class CheckResult:
    name: str
    ok: bool
    details: str


def _verdict(name: str, counts: DataFrame, ok: F.Column, details: F.Column) -> DataFrame:
    """A check as a one-row (name, ok, details) frame over the one-row
    aggregate ``counts``, so that many checks collect in one action."""
    return counts.select(
        F.lit(name).alias("name"), ok.alias("ok"), details.alias("details")
    )


def _bad_rows(name: str, bad: DataFrame, what: str) -> DataFrame:
    """Passes iff ``bad`` is empty; details count its rows."""
    n = F.col("n")
    counts = bad.agg(F.count(F.lit(1)).alias("n"))
    return _verdict(name, counts, n == 0, F.format_string(f"%d {what}", n))


def collect_checks(checks: list[DataFrame]) -> list[CheckResult]:
    """Evaluate check frames in one action, in the order given."""
    if not checks:
        return []
    tagged = [c.select(F.lit(i).alias("_i"), "*") for i, c in enumerate(checks)]
    union = reduce(DataFrame.unionByName, tagged)
    rows = sorted(union.collect(), key=lambda r: r["_i"])
    return [CheckResult(r["name"], r["ok"], r["details"]) for r in rows]


def check_unique_keys(df: DataFrame, keys: list[str], name: str) -> DataFrame:
    """Natural-key uniqueness (the reference's UNIQUE constraints,
    backup_before_fix.sql:28806,28830,28854): rows per key group summed
    against the number of groups. NULL keys group together, as under
    ``distinct()``."""
    counts = (
        df.groupBy(*keys)
        .count()
        .agg(
            F.coalesce(F.sum("count"), F.lit(0)).alias("total"),
            F.count(F.lit(1)).alias("distinct"),
        )
    )
    total, distinct = F.col("total"), F.col("distinct")
    return _verdict(
        f"unique:{name}({','.join(keys)})",
        counts,
        total == distinct,
        F.format_string("%d rows / %d distinct", total, distinct),
    )


def check_no_orphans(
    child: DataFrame, parent: DataFrame, fk: str, pk: str, name: str
) -> DataFrame:
    """Referential integrity (verify_etl_results.py:114-124)."""
    orphans = child.filter(F.col(fk).isNotNull()).join(
        parent.select(F.col(pk).alias(fk)).distinct(), fk, "left_anti"
    )
    return _bad_rows(f"no_orphans:{name}", orphans, "orphans")


def check_inheritance(
    product: DataFrame, collection: DataFrame, name: str = "product_url_inheritance"
) -> DataFrame:
    """Inheritance correctness via equality join
    (migrate_product_inheritance.py:117-140): every product's url
    matches its collection's url when the collection has one."""
    joined = product.alias("p").join(
        collection.alias("c"),
        F.col("p.collection_id") == F.col("c.id"),
        "inner",
    )
    bad = joined.filter(
        F.col("c.url").isNotNull() & (F.col("p.url") != F.col("c.url"))
    )
    return _bad_rows(name, bad, "mismatched")


def run_warehouse_checks(tables: dict[str, DataFrame]) -> list[CheckResult]:
    """The full audit over an ingest warehouse (keys per
    schemas.NATURAL_KEYS, FKs per the entity map SURVEY.md §1.4),
    collected in one action."""
    from product_etl_spark.schemas import NATURAL_KEYS

    checks = [
        check_unique_keys(tables[name], keys, name)
        for name, keys in NATURAL_KEYS.items()
        if name in tables
    ]
    pc = tables.get("product_collection")
    p = tables.get("product")
    if pc is not None and p is not None:
        checks.append(check_no_orphans(p, pc, "collection_id", "id", "product->collection"))
        checks.append(check_inheritance(p, pc))
    if p is not None and "product_attribute_product" in tables:
        checks.append(
            check_no_orphans(
                tables["product_attribute_product"], p, "product_id", "id",
                "attr_link->product",
            )
        )
    if "product_attribute_values" in tables and "product_attribute_keys" in tables:
        checks.append(
            check_no_orphans(
                tables["product_attribute_values"],
                tables["product_attribute_keys"],
                "key_id",
                "id",
                "attr_value->key",
            )
        )
    return collect_checks(checks)


def assert_all(results: list[CheckResult]) -> None:
    failed = [r for r in results if not r.ok]
    if failed:
        lines = "\n".join(f"  {r.name}: {r.details}" for r in failed)
        raise AssertionError(f"verification failed:\n{lines}")


def apply_expectations(
    df: DataFrame, rules: dict[str, "F.Column"]
) -> tuple[DataFrame, DataFrame]:
    """Row-level expectations with quarantine: split ``df`` into
    (valid, quarantined) where each rule maps name -> boolean Column
    that must hold. Quarantined rows carry a ``violations``
    array<string> naming every failed rule (NULL rule results count
    as failures — an expectation that can't be evaluated didn't pass).

    The table-level checks above audit aggregates after the fact;
    this is the inline gate that keeps bad rows out of the warehouse
    while preserving them for triage (the reference instead dropped
    or silently coerced bad rows inside the import loop). Map-only:
    one pass, no UDF, no shuffle.
    """
    viol = F.array_compact(
        F.array(
            *[
                F.when(~F.coalesce(rule, F.lit(False)), F.lit(name))
                for name, rule in rules.items()
            ]
        )
    )
    tagged = df.withColumn("violations", viol)
    valid = tagged.filter(F.size("violations") == 0).drop("violations")
    quarantined = tagged.filter(F.size("violations") > 0)
    return valid, quarantined
