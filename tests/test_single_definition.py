"""Each engine decision is written once.

ROADMAP aim 2 puts "things that exist twice" first. This test parses
every module of ``mozart_etl_spark/`` and fails naming each place that
spells out a decision its single definition already owns:

- **A document's words in Spark** are ``operators/text.py``'s
  :func:`split_words`: the whitespace split of the trimmed text with
  empty tokens filtered out. A ``filter(split(trim(x), ...), ...)``
  call anywhere else, or the same expression in SQL text, is a second
  copy.
- **Their DuckDB twin** is ``querybank.WORDS_SQL``. An oracle
  interpolates it; a string literal that spells out
  ``regexp_split_to_array(trim(...))`` is a second copy.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ENGINE = ROOT / "mozart_etl_spark"

#: (file, function) that owns the Spark word rule
WORD_HELPER = ("operators/text.py", "split_words")
#: (file, constant) that owns the DuckDB word rule
WORD_SQL = ("querybank/__init__.py", "WORDS_SQL")

#: the word rule written as Spark SQL text
_SPARK_SQL_WORDS = re.compile(r"filter\(\s*split\(\s*trim\(", re.I)
#: the word rule written as DuckDB SQL text
_DUCKDB_WORDS = re.compile(r"regexp_split_to_array\(\s*trim\(", re.I)


def _callee(node: ast.AST) -> str | None:
    if isinstance(node, ast.Call):
        return getattr(node.func, "attr", None) or getattr(node.func, "id", None)
    return None


def _is_word_call(node: ast.AST) -> bool:
    """``filter(split(trim(x), ...), ...)``, however the functions are
    imported."""
    if _callee(node) != "filter" or not node.args:
        return False
    split = node.args[0]
    return _callee(split) == "split" and bool(split.args) and _callee(split.args[0]) == "trim"


def _owner(tree: ast.Module, line: int) -> str | None:
    """The top-level definition (function, class or assigned name)
    whose body holds ``line``."""
    for node in tree.body:
        if node.lineno <= line <= node.end_lineno:
            if isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                return next((t.id for t in targets if isinstance(t, ast.Name)), None)
            return getattr(node, "name", None)
    return None


def copies(root: Path) -> list[str]:
    """``file:line: what`` of every copy of the word rules under
    ``root`` outside their owners."""
    found = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        tree = ast.parse(path.read_text(), str(path))
        for node in ast.walk(tree):
            owner = (rel, _owner(tree, getattr(node, "lineno", 0)))
            if _is_word_call(node) and owner != WORD_HELPER:
                found.append(f"{rel}:{node.lineno}: Spark word expression")
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                if _SPARK_SQL_WORDS.search(node.value):
                    found.append(f"{rel}:{node.lineno}: Spark word expression in SQL text")
                if _DUCKDB_WORDS.search(node.value) and owner != WORD_SQL:
                    found.append(f"{rel}:{node.lineno}: DuckDB word fragment")
    return sorted(found)


def test_each_word_rule_is_written_once():
    found = copies(ENGINE)
    assert not found, "spelled out instead of referenced:\n" + "\n".join(found)


def test_the_owners_hold_the_rules_and_oracles_use_them():
    """The scan is not vacuous: each owner still holds its rule, and the
    oracles that split words reach the DuckDB twin by reference."""
    from mozart_etl_spark import querybank
    from mozart_etl_spark.operators import text

    tree = ast.parse((ENGINE / WORD_HELPER[0]).read_text())
    helper = next(n for n in tree.body if getattr(n, "name", None) == WORD_HELPER[1])
    assert any(_is_word_call(n) for n in ast.walk(helper))
    assert _DUCKDB_WORDS.search(querybank.WORDS_SQL)
    assert callable(text.split_words)
    querybank._ensure_loaded()
    users = [q for q, s in querybank.REGISTRY.items() if querybank.WORDS_SQL in (s.oracle or "")]
    refs = sum(
        isinstance(n, ast.Name) and n.id == WORD_SQL[1]
        for p in ENGINE.rglob("*.py")
        for n in ast.walk(ast.parse(p.read_text()))
    )
    assert len(users) >= 15 and refs >= len(users)


def test_scan_on_a_synthetic_package(tmp_path):
    """Every kind of copy is caught, and the owners are not."""
    (tmp_path / "operators").mkdir()
    (tmp_path / "querybank").mkdir()
    (tmp_path / "operators" / "text.py").write_text(
        "from pyspark.sql import functions as F\n"
        "def split_words(t):\n"
        "    return F.filter(F.split(F.trim(t), r'\\s+'), lambda w: w != '')\n"
        "def again(t):\n"
        "    return F.filter(F.split(F.trim(t), r'\\s+'), lambda w: w != '')\n"
    )
    (tmp_path / "querybank" / "__init__.py").write_text(
        "WORDS_SQL = \"list_filter(regexp_split_to_array(trim(text), '\\\\s+'), t -> t <> '')\"\n"
    )
    (tmp_path / "querybank" / "q.py").write_text(
        "from pyspark.sql.functions import filter, split, trim, expr\n"
        "from . import WORDS_SQL\n"
        "A = f'SELECT {WORDS_SQL} FROM documents'\n"
        "B = '''SELECT list_filter(regexp_split_to_array(\n  trim(text), ' '), t -> t <> '')'''\n"
        "def q(c):\n"
        "    expr(\"size(filter(split(trim(text), ' '), x -> x != ''))\")\n"
        "    return filter(split(trim(c), ' '), lambda w: w != '')\n"
    )
    assert copies(tmp_path) == [
        "operators/text.py:5: Spark word expression",
        "querybank/q.py:4: DuckDB word fragment",
        "querybank/q.py:7: Spark word expression in SQL text",
        "querybank/q.py:8: Spark word expression",
    ]
