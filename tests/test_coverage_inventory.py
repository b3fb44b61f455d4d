"""Every engine function and test that COVERAGE.md's inventory names
still exists.

The inventory (COVERAGE.md, the operator tables before the first
narrative section) maps each reference operator to the code that
implements it and the test that exercises it. A rename or a removal
that forgets the row leaves it pointing at nothing. This test reads
the inventory and fails naming each reference that no longer resolves:

- ``module.py:name`` names a top-level function, class or constant of
  ``mozart_etl_spark/module.py`` (a path suffix such as ``reader.py``
  is enough when it is unique), or ``Class.member`` a method or field
  of that class. A line range (``file.py:26-33``, a file of the
  reference repository) is not a reference;
- ``test_file.py::test_name`` (with or without ``tests/``) names a test
  function of that file; a bare ``::test_name`` later on the same line
  belongs to the last file named before it.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ENGINE = ROOT / "mozart_etl_spark"
TESTS = ROOT / "tests"

#: the inventory tables end before this line of COVERAGE.md
INVENTORY_LINES = 180

_SOURCE_REF = re.compile(r"(?<![\w/.])((?:\w+/)*\w+\.py):([A-Za-z_][\w.]*)")
_TEST_REF = re.compile(r"(?:(?:tests/)?(test_\w+\.py))?::(test_\w+)")


def _defines(tree: ast.Module, name: str) -> bool:
    """Whether ``tree`` defines ``name`` at top level, or ``Class.member``."""
    head, _, member = name.partition(".")
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if node.name != head:
                continue
            if not member:
                return True
            return isinstance(node, ast.ClassDef) and any(
                getattr(m, "name", None) == member
                or (isinstance(m, ast.AnnAssign) and getattr(m.target, "id", None) == member)
                for m in node.body
            )
        if not member and isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            if any(getattr(t, "id", None) == head for t in targets):
                return True
    return False


def unresolved(lines: list[str], engine: Path, tests: Path) -> tuple[list[str], int]:
    """(``line N: reference`` of every reference in ``lines`` that does
    not resolve, number of references checked)."""
    modules = {p.relative_to(engine).as_posix(): p for p in engine.rglob("*.py")}
    trees: dict[Path, ast.Module] = {}

    def tree(path: Path) -> ast.Module:
        if path not in trees:
            trees[path] = ast.parse(path.read_text(), str(path))
        return trees[path]

    bad, checked = [], 0
    for n, line in enumerate(lines, 1):
        for m in _SOURCE_REF.finditer(line):
            module, name = m.groups()
            if module.startswith(("test_", "tests/")):
                continue
            checked += 1
            paths = [p for rel, p in modules.items() if rel == module or rel.endswith("/" + module)]
            if not any(_defines(tree(p), name) for p in paths):
                bad.append(f"line {n}: {module}:{name}")
        last = None
        for m in _TEST_REF.finditer(line):
            file, test = m.groups()
            file = last = file or last
            checked += 1
            path = tests / file if file else None
            if path is None or not path.exists() or not any(
                isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and node.name == test
                for node in tree(path).body
            ):
                bad.append(f"line {n}: {file}::{test}")
    return bad, checked


def test_coverage_inventory_names_resolve():
    lines = (ROOT / "COVERAGE.md").read_text().splitlines()[:INVENTORY_LINES]
    bad, checked = unresolved(lines, ENGINE, TESTS)
    assert not bad, "COVERAGE.md names code that no longer exists:\n" + "\n".join(bad)
    # the scan reads the inventory, not an empty slice of it
    assert checked >= 50, checked


def test_inventory_scan_on_a_synthetic_tree(tmp_path):
    """Resolved: a function, a method, a constant, a path suffix, a test
    and a bare ``::test`` after its file. Flagged: a removed function, a
    missing method, a missing test and a test of a missing file. A line
    range is not a reference."""
    engine = tmp_path / "pkg"
    (engine / "sub").mkdir(parents=True)
    (engine / "sub" / "mod.py").write_text(
        "LIMIT = 3\n\n\ndef kept():\n    pass\n\n\nclass Runner:\n    def run(self):\n        pass\n"
    )
    tests = tmp_path / "tests"
    tests.mkdir()
    (tests / "test_mod.py").write_text("def test_a():\n    pass\n\n\ndef test_b():\n    pass\n")
    lines = [
        "| `sub/mod.py:kept` | `mod.py:Runner.run`, `mod.py:LIMIT` | `_ref.py:26-33` |",
        "| `tests/test_mod.py::test_a`, `::test_b` |",
        "| `sub/mod.py:gone` | `mod.py:Runner.stop` | `test_mod.py::test_c` | `test_x.py::test_a` |",
    ]
    bad, checked = unresolved(lines, engine, tests)
    assert checked == 9
    assert bad == [
        "line 3: sub/mod.py:gone",
        "line 3: mod.py:Runner.stop",
        "line 3: test_mod.py::test_c",
        "line 3: test_x.py::test_a",
    ]
