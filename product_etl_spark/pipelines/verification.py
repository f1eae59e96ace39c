"""Verification suite — the reference's post-hoc audit queries
(SURVEY.md §5.4: verify_collections.py / verify_etl_results.py /
diagnosis_and_fix.sql) as a library of Spark SQL assertions run
against the warehouse after every pipeline.

Each check returns (name, ok, details); ``run_all`` aggregates. These
are invariant checks, not golden outputs — exactly the reference's
testing philosophy.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class CheckResult:
    name: str
    ok: bool
    details: str


def check_unique_keys(df: DataFrame, keys: list[str], name: str) -> CheckResult:
    """Natural-key uniqueness (the reference's UNIQUE constraints,
    backup_before_fix.sql:28806,28830,28854), in one action: rows per
    key group summed against the number of groups. NULL keys group
    together, as under ``distinct()``."""
    row = (
        df.groupBy(*keys)
        .count()
        .agg(F.sum("count").alias("total"), F.count(F.lit(1)).alias("distinct"))
        .first()
    )
    total, distinct = row["total"] or 0, row["distinct"]
    return CheckResult(
        f"unique:{name}({','.join(keys)})",
        total == distinct,
        f"{total} rows / {distinct} distinct",
    )


def check_no_orphans(
    child: DataFrame, parent: DataFrame, fk: str, pk: str, name: str
) -> CheckResult:
    """Referential integrity (verify_etl_results.py:114-124)."""
    n = child.filter(F.col(fk).isNotNull()).join(
        parent.select(F.col(pk).alias(fk)).distinct(), fk, "left_anti"
    ).count()
    return CheckResult(f"no_orphans:{name}", n == 0, f"{n} orphans")


def check_inheritance(
    product: DataFrame, collection: DataFrame, name: str = "product_url_inheritance"
) -> CheckResult:
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
    ).count()
    return CheckResult(name, bad == 0, f"{bad} mismatched")


def run_warehouse_checks(tables: dict[str, DataFrame]) -> list[CheckResult]:
    """The full audit over an ingest warehouse (keys per
    schemas.NATURAL_KEYS, FKs per the entity map SURVEY.md §1.4)."""
    from product_etl_spark.schemas import NATURAL_KEYS

    results = []
    for name, keys in NATURAL_KEYS.items():
        if name in tables:
            results.append(check_unique_keys(tables[name], keys, name))
    pc = tables.get("product_collection")
    p = tables.get("product")
    if pc is not None and p is not None:
        results.append(check_no_orphans(p, pc, "collection_id", "id", "product->collection"))
        results.append(check_inheritance(p, pc))
    if p is not None and "product_attribute_product" in tables:
        results.append(
            check_no_orphans(
                tables["product_attribute_product"], p, "product_id", "id",
                "attr_link->product",
            )
        )
    if "product_attribute_values" in tables and "product_attribute_keys" in tables:
        results.append(
            check_no_orphans(
                tables["product_attribute_values"],
                tables["product_attribute_keys"],
                "key_id",
                "id",
                "attr_value->key",
            )
        )
    return results


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
