"""Every top-level function and class of the package must be reachable
from a path that runs outside the tests: a registered query, the
package's module-level code, ``FeatureStore`` and the ``__init__``
exports, or a name used by ``perfbench/``, ``tools/``, ``examples/``,
``bench.py`` or ``__spark_entry__.py``. From those roots the scan follows
the names used in the reached definitions' bodies.

Pure ``ast``: no Spark, no imports of the package. Names are matched by
identifier, not by module, so a dead function that shares its name with
a live one is missed; the scan errs towards keeping code, never towards
a false failure.

A second scan fails on a module-level import that its module, in the
package or in ``tests/``, never uses. ``__init__.py`` re-exports are
exempt, and so is a line marked ``# noqa: F401``.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "ml_feature_store_pipeline_spark"
TESTS = ROOT / "tests"
OUTSIDE_ROOTS = ["bench.py", "__spark_entry__.py", "perfbench", "tools", "examples"]
IDENT = re.compile(r"[A-Za-z_]\w*\Z")

#: Definitions no path reaches that stay on purpose, each with its reason.
KEEP = {
    "create_advanced_config": "reference capability A10 (advanced config)",
    "load_config": "reference capability A10: reads what create_advanced_config writes",
    "finalize_decayed": "the only reader of the exported decayed_counter_sink's state",
    "quantile_from_histogram": "the only reader of a persisted histogram_state",
}


def _names(node: ast.AST) -> set[str]:
    """Identifiers a node uses: names, attribute names, imported names, and
    identifier-like strings (``__all__`` entries, ``setattr`` targets)."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and IDENT.match(n.value):
            out.add(n.value)
    return out


def _scan() -> tuple[dict[str, list[tuple[str, ast.AST]]], set[str], dict[str, set[str]]]:
    """(top-level definitions by name, root names, import aliases)."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    roots = {"FeatureStore"}
    aliases: dict[str, set[str]] = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        module = path.relative_to(ROOT).as_posix()
        for st in ast.parse(path.read_text()).body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(st.name, []).append((module, st))
                # decorators and defaults run at import time
                for d in st.decorator_list:
                    roots |= _names(d)
                    if "register" in _names(d):
                        roots.add(st.name)
                if not isinstance(st, ast.ClassDef):
                    for d in st.args.defaults + st.args.kw_defaults:
                        if d is not None:
                            roots |= _names(d)
            elif isinstance(st, (ast.Import, ast.ImportFrom)):
                # an import is a use only as a re-export of a package
                if path.name == "__init__.py":
                    roots |= _names(st)
                for a in st.names:
                    if a.asname:
                        aliases.setdefault(a.asname, set()).add(a.name.rsplit(".", 1)[-1])
            else:
                roots |= _names(st)
    for entry in OUTSIDE_ROOTS:
        p = ROOT / entry
        for f in [p] if p.is_file() else sorted(p.rglob("*.py")):
            if "tests" not in f.relative_to(ROOT).parts:
                roots |= _names(ast.parse(f.read_text()))
    return defs, roots, aliases


def unreachable() -> dict[str, str]:
    """Top-level definitions no root reaches: name -> defining module."""
    defs, roots, aliases = _scan()

    def expand(names: set[str]) -> set[str]:
        return names | {o for n in names for o in aliases.get(n, ())}

    seen: set[str] = set()
    todo = [n for n in expand(roots) if n in defs]
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for _, node in defs[name]:
            todo += [n for n in expand(_names(node)) if n in defs and n not in seen]
    return {n: mod for n, lst in defs.items() if n not in seen for mod, _ in lst}


def test_every_package_definition_is_reachable():
    dead = unreachable()
    unexpected = sorted((m, n) for n, m in dead.items() if n not in KEEP)
    assert not unexpected, (
        "unreachable outside the tests (delete, or add to KEEP with a reason):\n"
        + "\n".join(f"  {m}: {n}" for m, n in unexpected)
    )
    stale = sorted(set(KEEP) - set(dead))
    assert not stale, f"KEEP entries that are reachable now or gone; drop them: {stale}"


def unused_imports() -> list[str]:
    """``module:line name`` for each module-level import that its module
    never uses: not as a name, and not as an identifier string."""
    out = []
    for path in sorted(PACKAGE.rglob("*.py")) + sorted(TESTS.rglob("*.py")):
        if path.name == "__init__.py":
            continue
        source = path.read_text()
        lines = source.splitlines()
        tree = ast.parse(source)
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)} | {
            n.value
            for n in ast.walk(tree)
            if isinstance(n, ast.Constant) and isinstance(n.value, str) and IDENT.match(n.value)
        }
        for st in tree.body:
            if not isinstance(st, (ast.Import, ast.ImportFrom)):
                continue
            if getattr(st, "module", None) == "__future__":
                continue
            if any("# noqa: F401" in line for line in lines[st.lineno - 1 : st.end_lineno]):
                continue
            for a in st.names:
                name = a.asname or a.name.split(".")[0]
                if name not in used:
                    out.append(f"{path.relative_to(ROOT).as_posix()}:{st.lineno} {name}")
    return out


def test_no_module_imports_a_name_it_never_uses():
    unused = unused_imports()
    assert not unused, "unused imports (remove them):\n" + "\n".join(f"  {u}" for u in unused)
