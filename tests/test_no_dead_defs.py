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


def _params(tree: ast.AST, where: str, select) -> dict:
    """(where, function, line, param) -> (default node or None, positional
    index or None, is_method) for every parameter whose name ``select``
    accepts."""
    out = {}
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        a = fn.args
        pos = a.posonlyargs + a.args
        method = bool(pos) and pos[0].arg in ("self", "cls")
        defaults = [None] * (len(pos) - len(a.defaults)) + list(a.defaults)
        params = [(p, d, i) for i, (p, d) in enumerate(zip(pos, defaults))]
        params += [(p, d, None) for p, d in zip(a.kwonlyargs, a.kw_defaults)]
        for p, d, i in params:
            if select(p.arg):
                out[(where, fn.name, fn.lineno, p.arg)] = (d, i, method)
    return out


def _single_valued(select, own_default: bool) -> list[tuple]:
    """(where, function, line, param) of every defaulted package parameter
    whose name ``select`` accepts and that takes fewer than two values.
    A call site passes another value with a different literal, any
    expression, or a caller's own parameter that itself takes two
    values: a forwarded parameter takes the values its own call sites
    give it (its default included), to a fixpoint.  With ``own_default``
    a non-constant default is a value of its own; without it, it equals
    any expression a call site passes."""
    trees = {path: ast.parse(path.read_text(), str(path))
             for path in _python_files()}
    params = {}
    for path, tree in trees.items():
        rel = path.relative_to(REPO)
        if rel.parts[0] == PACKAGE:
            params.update(_params(tree, str(rel), select))
    by_name: dict[str, list] = {}
    for key in params:
        by_name.setdefault(key[1], []).append(key)

    passed = []  # (param key, value expression, enclosing parameters)

    def visit(node, scope, where):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            a = node.args
            scope = {**scope, **{p.arg: (where, node.name, node.lineno, p.arg)
                                 for p in a.posonlyargs + a.args + a.kwonlyargs}}
        if isinstance(node, ast.Call):
            f = node.func
            name = getattr(f, "id", getattr(f, "attr", None))
            for key in by_name.get(name, ()):
                _, i, method = params[key]
                passed.extend((key, kw.value, scope) for kw in node.keywords
                              if kw.arg == key[3])
                if i is not None:
                    i -= method and isinstance(f, ast.Attribute)
                    if 0 <= i < len(node.args) and not any(
                            isinstance(x, ast.Starred) for x in node.args[:i + 1]):
                        passed.append((key, node.args[i], scope))
        for child in ast.iter_child_nodes(node):
            visit(child, scope, where)

    for path, tree in trees.items():
        visit(tree, {}, str(path.relative_to(REPO)))

    opaque = object()
    values = {k: set() if d is None else
              {d.value if isinstance(d, ast.Constant)
               else k if own_default else opaque}
              for k, (d, _, _) in params.items()}
    changed = True
    while changed:
        changed = False
        for key, v, scope in passed:
            if isinstance(v, ast.Constant):
                new = {v.value}
            elif isinstance(v, ast.Name) and scope.get(v.id) in params:
                new = values[scope[v.id]]
            else:
                new = {opaque}
            if not new <= values[key]:
                values[key] |= new
                changed = True

    defaulted = [k for k, (d, _, _) in params.items() if d is not None]
    assert defaulted  # the scan found the package's parameters
    return [k for k in defaulted if len(values[k]) < 2]


def test_every_column_parameter_is_set():
    """Operators read the engine's fixed column names: a defaulted
    ``*_col`` parameter of a package function exists only if some call
    site passes another value — a different literal, any expression, or
    a caller's own ``*_col`` parameter that itself takes two values.
    A forwarded parameter takes the values its own call sites give it
    (its default included), to a fixpoint."""
    unset = [f"{where}:{line} {fn}({param}=...)" for where, fn, line, param
             in _single_valued(lambda p: p.endswith("_col"), own_default=False)]
    assert unset == [], ("column parameters no call site sets to another "
                         "value — read the column name instead:\n"
                         + "\n".join(unset))


#: Parameters kept with one value in the repo: a deployment sets them.
EXEMPT_PARAMS = {
    "checkpoint_dir": "a filesystem location: where a cluster keeps "
                      "durable intermediates",
    "lock_timeout": "a time bound on waiting for the table lock",
    "watermark": "a time bound on streaming state",
    "watermark_delay": "a time bound on streaming state",
    "window": "a time bound on streaming state",
}
#: perfbench's kernel replay passes ``key`` to these positionally; the
#: parameters go with the benchmark change that rewrites the replay
#: (ROADMAP direction 2).
EXEMPT_EXTRACTION_KEYS = {
    (f"{PACKAGE}/operators/extraction.py", fn, "key")
    for fn in ("classify_flat", "_table_text", "_decode_table_pages",
               "_table_headers")}


def test_every_defaulted_parameter_is_set():
    """A defaulted parameter of a package function exists only where call
    sites pass two values — the column test's scan and fixpoint over
    every parameter, where a non-constant default is a value of its own.
    A knob that every call leaves at one value is that value: write it
    in the body, or use the module constant it names."""
    unset = [f"{where}:{line} {fn}({param}=...)" for where, fn, line, param
             in _single_valued(lambda p: True, own_default=True)
             if param not in EXEMPT_PARAMS
             and (where, fn, param) not in EXEMPT_EXTRACTION_KEYS]
    assert unset == [], ("defaulted parameters no call site sets to another "
                         "value — use the value instead:\n"
                         + "\n".join(unset))
