"""Every public name in the engine has a caller.

The rule (ROADMAP aim 2): engine code that no registered query, tenant
run, perfbench workload or ``bench.py`` path reaches goes, together
with the tests that only exercise it. This test parses every module of
``mozart_etl_spark/`` and fails naming each public definition that is
referenced nowhere outside its own body in the engine, ``perfbench/``,
``bench.py`` or ``__spark_entry__.py``. A public definition is a
top-level function or class, a method of a top-level class, or a
module-level constant (a name assigned at module level), whose name
does not start with ``_``.

A reference is an ``ast.Name`` or ``ast.Attribute`` that reads the
name. Imports, ``__all__`` strings and assignment targets (a dataclass
field of the same name, say) are not references: re-exporting a
function does not call it. Query functions decorated with
``@register(...)`` are reached through the registry and are exempt.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ENGINE = ROOT / "mozart_etl_spark"

#: Public names (``Class.method`` for a method) kept without an engine
#: caller, each with its reason.
EXCEPTIONS = {
    # the reference connector's probe contract (``base.py:95-103``):
    # a deployment checks a source before it extracts
    "test_connection": "sources.reader connection probe",
    # gates the native MERGE INTO path, which needs a lakehouse jar;
    # its test skips where none is installed
    "lakehouse_available": "writers lakehouse capability check",
    # the reference's per-tenant ``tenant.yaml`` (tenant discovery): a
    # deployment loads one file per tenant; the engine and perfbench
    # build their specs in code
    "TenantSpec.from_yaml": "config tenant.yaml loader",
}


def _caller_files() -> list[Path]:
    files = sorted(ENGINE.rglob("*.py")) + sorted((ROOT / "perfbench").rglob("*.py"))
    return files + [ROOT / "bench.py", ROOT / "__spark_entry__.py"]


def _is_registered(node: ast.AST) -> bool:
    for dec in getattr(node, "decorator_list", []):
        func = dec.func if isinstance(dec, ast.Call) else dec
        if (isinstance(func, ast.Name) and func.id == "register") or (
            isinstance(func, ast.Attribute) and func.attr == "register"
        ):
            return True
    return False


def _public_defs(tree: ast.Module) -> list[tuple[str, str, ast.AST]]:
    """(label, name, defining node) of every public definition."""
    out = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if not node.name.startswith("_") and not _is_registered(node):
                out.append((node.name, node.name, node))
            if isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
                out += [
                    (f"{node.name}.{m.name}", m.name, m)
                    for m in node.body
                    if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef))
                    and not m.name.startswith("_")
                ]
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            out += [
                (t.id, t.id, node)
                for t in targets
                if isinstance(t, ast.Name) and not t.id.startswith("_")
            ]
    return out


def _references(trees: dict[Path, ast.Module]) -> dict[str, list[tuple[Path, int]]]:
    """name -> (file, line) of every Name and Attribute that reads it."""
    refs: dict[str, list[tuple[Path, int]]] = {}
    for path, tree in trees.items():
        for node in ast.walk(tree):
            if not isinstance(getattr(node, "ctx", None), ast.Load):
                continue
            if isinstance(node, ast.Name):
                refs.setdefault(node.id, []).append((path, node.lineno))
            elif isinstance(node, ast.Attribute):
                refs.setdefault(node.attr, []).append((path, node.lineno))
    return refs


def unreferenced() -> list[str]:
    """``module::name`` of every public engine definition with no
    reference outside its own body."""
    trees = {path: ast.parse(path.read_text(), str(path)) for path in _caller_files()}
    refs = _references(trees)
    dead = []
    for path, tree in trees.items():
        if ENGINE not in path.parents:
            continue
        for label, name, node in _public_defs(tree):
            first = min([node.lineno] + [d.lineno for d in getattr(node, "decorator_list", [])])
            if all(
                p == path and first <= line <= node.end_lineno
                for p, line in refs.get(name, [])
            ):
                dead.append(f"{path.relative_to(ROOT)}::{label}")
    return sorted(dead)


def test_every_public_engine_name_has_a_caller():
    dead = unreferenced()
    names = {d.rsplit("::", 1)[1] for d in dead}
    unexpected = [d for d in dead if d.rsplit("::", 1)[1] not in EXCEPTIONS]
    header = "public engine code with no caller outside the tests:\n"
    assert not unexpected, header + "\n".join(unexpected)
    # an exception that gained a caller, or whose code is gone, is stale
    assert set(EXCEPTIONS) <= names, sorted(set(EXCEPTIONS) - names)
