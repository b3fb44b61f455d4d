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
- **A duplicate group's representative** is
  ``operators/similarity.py``'s :func:`label_representatives`: the
  smallest non-NULL id, one row per group. Anywhere else, a window
  partitioned by a fingerprint column (a column whose name holds
  ``fp``) that picks a row with ``row_number``, ``first`` or ``min``
  is a second copy.
- **The bucket candidate join** is ``operators/similarity.py``'s
  :func:`candidate_pairs`. Anywhere else, a ``dropDuplicates`` on an
  id pair (a two-column list, or a list built elsewhere) that follows
  a ``join`` is a second copy.
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

#: (file, function) that owns the representative pick
REP_HELPER = ("operators/similarity.py", "label_representatives")
#: (file, function) that owns the bucket candidate join
PAIR_HELPER = ("operators/similarity.py", "candidate_pairs")

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


#: a fingerprint column, by name
_FINGERPRINT = re.compile(r"fp", re.I)
#: window functions that pick a group's row or id
_PICKS = {"row_number", "first", "min"}


def _top_level(tree: ast.Module):
    """Each top-level definition with its name (see :func:`_owner`)."""
    for node in tree.body:
        name = _owner(tree, node.lineno)
        if name is not None:
            yield name, node


def _assigned(owner: ast.AST) -> dict[str, ast.AST]:
    """name -> the expression last assigned to it inside ``owner``."""
    return {
        t.id: n.value
        for n in ast.walk(owner)
        if isinstance(n, ast.Assign)
        for t in n.targets
        if isinstance(t, ast.Name)
    }


def _resolve(node: ast.AST, names: dict[str, ast.AST]) -> ast.AST:
    return names.get(node.id, node) if isinstance(node, ast.Name) else node


def _chain(node: ast.AST, names: dict[str, ast.AST]) -> list[str]:
    """The method names of a call chain ``x.a(...).b(...)`` below
    ``node``, following a chain that starts at a local name into the
    expression assigned to it."""
    out, seen = [], set()
    while True:
        node = _resolve(node, names)
        if isinstance(node, ast.Call):
            out.append(_callee(node))
            node = node.func
        elif isinstance(node, ast.Attribute):
            node = node.value
        else:
            return out
        if id(node) in seen:
            return out
        seen.add(id(node))


def _is_fp_window(spec: ast.AST) -> bool:
    """``spec`` builds a window partitioned by a fingerprint column."""
    for call in ast.walk(spec):
        if _callee(call) == "partitionBy":
            for a in call.args:
                label = a.value if isinstance(a, ast.Constant) else getattr(a, "id", None)
                if isinstance(label, str) and _FINGERPRINT.search(label):
                    return True
    return False


def _picks_representative(owner: ast.AST) -> bool:
    """``owner`` evaluates ``row_number``, ``first`` or ``min`` over a
    fingerprint-partitioned window."""
    names = _assigned(owner)
    return any(
        _callee(n) == "over"
        and isinstance(n.func, ast.Attribute)
        and _callee(n.func.value) in _PICKS
        and n.args
        and _is_fp_window(_resolve(n.args[0], names))
        for n in ast.walk(owner)
    )


def _dedupes_joined_pairs(owner: ast.AST) -> bool:
    """``owner`` drops duplicate id pairs from the result of a join."""
    names = _assigned(owner)
    for n in ast.walk(owner):
        if _callee(n) != "dropDuplicates" or not n.args:
            continue
        subset = n.args[0]
        pair = isinstance(subset, ast.Name) or (
            isinstance(subset, (ast.List, ast.Tuple)) and len(subset.elts) == 2
        )
        if pair and "join" in _chain(n.func.value, names):
            return True
    return False


def skeleton_copies(root: Path) -> list[str]:
    """``file::function: what`` of every representative pick and every
    bucket candidate join under ``root`` outside their owners."""
    found = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        for name, node in _top_level(ast.parse(path.read_text(), str(path))):
            if _picks_representative(node) and (rel, name) != REP_HELPER:
                found.append(f"{rel}::{name}: representative window")
            if _dedupes_joined_pairs(node) and (rel, name) != PAIR_HELPER:
                found.append(f"{rel}::{name}: candidate join")
    return sorted(found)


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


def test_each_skeleton_step_is_written_once():
    found = skeleton_copies(ENGINE)
    assert not found, "written out instead of calling the helper:\n" + "\n".join(found)


def test_the_skeleton_owners_hold_their_steps():
    """The scan is not vacuous on the engine: each helper is caught by
    its own rule."""
    trees = {f: ast.parse((ENGINE / f).read_text()) for f in {REP_HELPER[0], PAIR_HELPER[0]}}
    defs = {
        (f, name): node for f, tree in trees.items() for name, node in _top_level(tree)
    }
    assert _picks_representative(defs[REP_HELPER])
    assert _dedupes_joined_pairs(defs[PAIR_HELPER])


def test_skeleton_scan_on_a_synthetic_package(tmp_path):
    """Every kind of copy is caught, and the owners and look-alikes
    that are not copies are not."""
    (tmp_path / "operators").mkdir()
    (tmp_path / "operators" / "similarity.py").write_text(
        "from pyspark.sql import Window, functions as F\n"
        "def label_representatives(df, id_col, fp_col):\n"
        "    w = Window.partitionBy(fp_col).orderBy(id_col)\n"
        "    return df.withColumn('_rn', F.row_number().over(w))\n"
        "def candidate_pairs(keys, probe):\n"
        "    ids = ['doc_a', 'doc_b']\n"
        "    pairs = keys.join(probe, 'k')\n"
        "    return pairs.select(*ids).dropDuplicates(ids)\n"
    )
    (tmp_path / "q.py").write_text(
        "from pyspark.sql import Window, functions as F\n"
        "from pyspark.sql.functions import first, row_number\n"
        "def inline_min(s):\n"
        "    return s.withColumn('r', F.min('doc_id').over(Window.partitionBy('_tfp')))\n"
        "def named_first(b):\n"
        "    wv = Window.partitionBy('_vfp').orderBy('_cid')\n"
        "    return b.withColumn('r', first('_cid', ignorenulls=True).over(wv))\n"
        "def named_row_number(g):\n"
        "    w = Window.partitionBy('norm_fp').orderBy('doc_id')\n"
        "    return g.withColumn('rn', row_number().over(w))\n"
        "def not_a_fingerprint(e):\n"
        "    w = Window.partitionBy('user_id').orderBy('ts')\n"
        "    return e.withColumn('rn', F.row_number().over(w))\n"
        "def not_a_pick(g):\n"
        "    return g.withColumn('n', F.count('x').over(Window.partitionBy('_fp')))\n"
        "def chained_join(a, b):\n"
        "    return a.join(b, 'k').filter('x').dropDuplicates(['doc_a', 'doc_b'])\n"
        "def join_through_a_name(a, b):\n"
        "    j = a.join(b, 'k').select('q', 'n')\n"
        "    return j.dropDuplicates(['q', 'n'])\n"
        "def one_column(a, b):\n"
        "    return a.join(b, 'k').dropDuplicates(['doc_id'])\n"
        "def no_join(a):\n"
        "    return a.select('x', 'y').dropDuplicates(['x', 'y'])\n"
    )
    assert skeleton_copies(tmp_path) == [
        "q.py::chained_join: candidate join",
        "q.py::inline_min: representative window",
        "q.py::join_through_a_name: candidate join",
        "q.py::named_first: representative window",
        "q.py::named_row_number: representative window",
    ]
