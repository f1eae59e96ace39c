"""Dead-code gate: every top-level ``def`` or ``class`` under
product_etl_spark/ must be used by production code, i.e. by a ``.py``
file outside ``tests/`` and ``tools/`` (the package itself,
``perfbench/``, ``bench.py``, ``__spark_entry__.py``).

A use is an identifier, an attribute or an imported name. A word in a
string literal that is not a docstring counts only in the files that
register or select entries by name: ``plans/``, ``perfbench/``,
``bench.py`` and ``__spark_entry__.py``. Anywhere else a literal is a
message or a label (a lock name, an error text) and calls nothing.
Docstrings and comments do not count, and neither does the
definition's own body. Package ``__init__`` re-exports are imports, so
the documented library surface counts as used.

The scan follows reach: a use inside the body of a ``TEST_ONLY`` entry,
or of a definition the scan has already flagged, is not a production
use. It repeats until nothing new is flagged, so a helper that only
test-only code calls is flagged too. ``ALLOWED`` bodies stay
production code."""

from __future__ import annotations

import ast
import pathlib
import re
from collections import Counter

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "product_etl_spark"

#: Definitions that nothing in the repo calls on purpose, with why.
ALLOWED = {
    "tesseract_ocr_kernel": "OCR provider a deployment injects into enrich's ocr stage",
    "openai_translate_kernel": "MT provider a deployment injects into translate/enrich",
    "openai_logistics_kernel": "LLM provider a deployment injects into enrich's logistics stage",
    "google_translate_kernel": "alternative MT provider for the translation sweep",
    "compare_exact": "the exact comparator tools/verify_subset.py and tools/sweep_exact.py run",
}

#: Surface that only tests reach today, per module: 89 entries. Their
#: tests would go with them; they are retired a few at a time. The list
#: only shrinks: an entry fails the gate once its definition is deleted
#: or gains a production caller. Retire an entry by deleting the
#: definition with its tests, or by wiring it into the CLI, a catalog
#: entry or a pipeline. Never add one.
TEST_ONLY = {
    "functions/cleaners.py": "attributes_map",
    "functions/text.py": "dup_ngram_fraction stopword_ratio word_shingles",
    "functions/udtfs.py": "SentenceSplit register_udtfs",
    "functions/unicode_text.py": "fix_double_encoded_utf8",
    "functions/urls.py": "domain_filter",
    "ids.py": "stable_long",
    "kernels.py": "gpt4o_namer_kernel",
    "operators/bpe.py": (
        "_encode_word encode_bpe encode_maxmunch merges_to_pieces "
        "train_bpe train_wordpiece"
    ),
    "operators/bucketing.py": "bucketed_join write_bucketed",
    "operators/grouped.py": "groupwise_minmax_scale groupwise_zscore",
    "operators/html_text.py": (
        "_TextExtractor _py_collapse_whitespace extract_text_py "
        "html_to_text_tolerant"
    ),
    "operators/importance.py": "select_top_fraction",
    "operators/integrity.py": "table_checksum",
    "operators/linkage.py": "resolve_entities",
    "operators/observed.py": (
        "QualityGateError standard_checks write_with_quality_gate"
    ),
    "operators/privacy.py": "anonymity_summary",
    "operators/profile.py": "kruskal_wallis_h profile_drift",
    "operators/quality_model.py": (
        "_check_column_conflicts filter_by_quality load_model "
        "quality_features save_model score_quality "
        "train_quality_classifier"
    ),
    "operators/quantiles.py": "approx_quantile_buckets quantile_cutpoints",
    "operators/rollup.py": "incremental_rollup",
    "operators/sampling.py": "shuffle_deterministic temperature_weights",
    "operators/scd.py": "scd2_as_of",
    "operators/sinks.py": "append_csv write_partitioned_by_entity",
    "operators/sketches.py": (
        "hll_portable_merge hll_rollup kmv_merge theta_overlap "
        "theta_partials"
    ),
    "operators/skew.py": "salted_self_pairs two_phase_agg",
    "operators/suffixes.py": "suffix_dup_coverage",
    "operators/table_maintenance.py": (
        "PartitionStat _leaf_partition_dirs compact_partitions "
        "expire_partitions partition_file_stats"
    ),
    "operators/unigram.py": (
        "_forward_backward _viterbi_word em_expected_counts "
        "encode_unigram train_unigram"
    ),
    "operators/zorder.py": "write_zordered zorder_key",
    "pipelines/maintenance.py": (
        "add_audit_columns add_audit_columns_warehouse "
        "backfill_missing_children rekey_children rewrite_image_paths "
        "run_sku_repair sku_repair_mapping"
    ),
    "pipelines/namer.py": "generate_names run_namer",
    "plans/warehouse.py": "resolve_names",
    "sources/automapper.py": "mapping_to_csv suggest_mapping",
    "sources/csv_reader.py": "read_raw_products_multi",
    "sources/http_fetch.py": "fetch_urls",
    "sources/introspection.py": (
        "collect_fields collect_keys discover_translatable_fields"
    ),
    "sources/jsonl.py": "read_jsonl split_parsed write_jsonl",
    "sources/mapping.py": "translation_fields",
}


#: Where a string literal names an entry: the catalog registers and the
#: benchmark selects queries by name.
_BY_NAME = ("product_etl_spark/plans/", "perfbench/", "bench.py",
            "__spark_entry__.py")


def _production_files():
    for p in sorted(ROOT.rglob("*.py")):
        parts = p.relative_to(ROOT).parts
        if any(x.startswith(".") for x in parts):
            continue
        if "tests" in parts or parts[0] == "tools":
            continue
        yield p


def _docstrings(tree: ast.AST) -> set[int]:
    scopes = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
    return {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(node, scopes)
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
        and isinstance(node.body[0].value.value, str)
    }


def _uses(nodes, docstrings: set[int], literals: bool) -> Counter:
    out: Counter = Counter()
    for root in nodes:
        for n in ast.walk(root):
            if isinstance(n, ast.Name):
                out[n.id] += 1
            elif isinstance(n, ast.Attribute):
                out[n.attr] += 1
            elif isinstance(n, ast.alias):
                out.update(n.name.split("."))
            elif (
                literals
                and isinstance(n, ast.Constant)
                and isinstance(n.value, str)
                and id(n) not in docstrings
            ):
                out.update(re.findall(r"\w+", n.value))
    return out


def _scan():
    """(Counter of uses across production code, {path relative to the
    package: {top-level name: uses inside its own body}})."""
    used: Counter = Counter()
    defs: dict[str, dict[str, Counter]] = {}
    for p in _production_files():
        tree = ast.parse(p.read_text(encoding="utf-8"))
        docs = _docstrings(tree)
        lit = p.relative_to(ROOT).as_posix().startswith(_BY_NAME)
        used += _uses([tree], docs, lit)
        if PKG not in p.parents:
            continue
        defs[p.relative_to(PKG).as_posix()] = {
            node.name: _uses([node], docs, lit)
            - _uses(node.decorator_list, docs, lit)
            for node in tree.body
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            )
        }
    return used, defs


def _flag(used: Counter, defs: dict[str, dict[str, Counter]]):
    """{module: names with no production use}, iterated to a fixpoint:
    each round drops the uses inside ``TEST_ONLY`` entries and inside
    the names flagged so far."""
    flagged: dict[str, set[str]] = {rel: set() for rel in defs}
    while True:
        dead = {
            rel: (set(TEST_ONLY.get(rel, "").split()) | flagged[rel])
            - set(ALLOWED)
            for rel in defs
        }
        live = used.copy()
        for rel, names in defs.items():
            for n in dead[rel] & names.keys():
                live -= names[n]
        grown = {
            rel: {
                n for n, own in names.items()
                # a dead body's own uses are already out of ``live``
                if live[n] - (0 if n in dead[rel] else own[n]) <= 0
            }
            for rel, names in defs.items()
        }
        if grown == flagged:
            return flagged
        flagged = grown


def test_every_top_level_definition_is_referenced():
    used, defs = _scan()
    flagged = _flag(used, defs)
    assert len(ALLOWED) <= 6
    all_defined = {n for names in defs.values() for n in names}
    problems = [f"ALLOWED entry {n} no longer exists" for n in ALLOWED
                if n not in all_defined]
    for rel, names in sorted(TEST_ONLY.items()):
        for n in sorted(names.split()):
            if n not in defs.get(rel, {}):
                problems.append(f"TEST_ONLY entry {rel}:{n} no longer exists")
            elif n not in flagged[rel]:
                problems.append(
                    f"TEST_ONLY entry {rel}:{n} has a production caller now"
                )
    for rel, names in sorted(flagged.items()):
        known = set(TEST_ONLY.get(rel, "").split()) | set(ALLOWED)
        problems += [f"{rel}: {n}" for n in sorted(names - known)]
    assert not problems, (
        "top-level definitions no production code uses (delete them "
        "with their tests, or wire them):\n" + "\n".join(problems)
    )
