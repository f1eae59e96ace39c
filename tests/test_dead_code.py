"""Dead-code gate: every top-level ``def`` or ``class`` under
product_etl_spark/ must be named in some other .py file of the repo
(a caller, a test, a tool) or a second time in its own file. A
function nothing names is unreachable: delete it rather than keep it
"just in case"."""

from __future__ import annotations

import ast
import pathlib
import re
from collections import Counter

ROOT = pathlib.Path(__file__).resolve().parent.parent


def test_every_top_level_definition_is_referenced():
    files = [
        p
        for p in ROOT.rglob("*.py")
        if not any(part.startswith(".") for part in p.relative_to(ROOT).parts)
    ]
    texts = {p: p.read_text(encoding="utf-8") for p in files}
    words = {p: Counter(re.findall(r"\w+", t)) for p, t in texts.items()}
    files_naming = Counter(w for c in words.values() for w in c)
    unreferenced = []
    for p in sorted((ROOT / "product_etl_spark").rglob("*.py")):
        for node in ast.parse(texts[p]).body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                continue
            if words[p][node.name] > 1 or files_naming[node.name] > 1:
                continue
            unreferenced.append(
                f"{p.relative_to(ROOT)}:{node.lineno} {node.name}"
            )
    assert not unreferenced, "unreferenced definitions:\n" + "\n".join(
        unreferenced
    )
