"""Every module-level ``def``/``class`` of the package is referenced by
name somewhere in the repo's Python files (the package, the entry module,
tools, perfbench and tests).  A name that appears only at its own ``def``
is code nothing calls: delete it rather than keep it.

Pure AST scan — no Spark, no allowlist.  A reference is any ``Name``,
attribute access or imported name with the same identifier; the ``def``
statement itself is not one."""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = "rca_pdf_extraction_pipeline_spark"


def _python_files() -> list[Path]:
    return [p for p in REPO.rglob("*.py")
            if not any(part.startswith(".") or part == "__pycache__"
                       for part in p.relative_to(REPO).parts)]


def _referenced_names(tree: ast.AST) -> list[str]:
    names = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            names.append(node.id)
        elif isinstance(node, ast.Attribute):
            names.append(node.attr)
        elif isinstance(node, ast.alias):
            names.extend(node.name.split("."))
    return names


def test_every_package_def_is_referenced():
    refs: Counter[str] = Counter()
    defs = []
    for path in _python_files():
        tree = ast.parse(path.read_text(), str(path))
        refs.update(_referenced_names(tree))
        rel = path.relative_to(REPO)
        if rel.parts[0] == PACKAGE:
            defs += [(f"{rel}:{node.lineno}", node.name) for node in tree.body
                     if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                          ast.ClassDef))]
    assert len(defs) > 100  # the scan found the package
    dead = [f"{where} {name}" for where, name in defs if refs[name] == 0]
    assert dead == [], "defined but never referenced:\n" + "\n".join(dead)
