#!/usr/bin/env python
"""Capture ``explain("formatted")`` for every registered query into
``plans/<tag>/<query>_<suffix>.txt`` (the per-round before/after plan
evidence the optimization rounds commit).

    python tools/capture_plans.py r15 before [query ...]

With no query names, captures the full bank. Streaming queries drain
to memory first (their plan is the drained LocalTableScan — the
drain-time streaming plan lives in the checkpoint, not here), so a
full capture runs the five drains once. A query that fails to build
is reported and skipped, and the tool then exits 1 naming every
failed query, so a scripted before/after diff never silently compares
fewer plans.

What differs between two captures of one tree is normalised
(:data:`_VOLATILE`): expression ids (``#123`` becomes ``#``), exchange
ids, lambda-variable, common-subexpression and RDD numbers, the
process id in the default warehouse path, and the run id that ends a
run-scoped table name. So is the order Spark's multi-distinct rewrite
gives its ``Expand``: it numbers the distinct groups (the ``gid``
column) and orders their columns by expression-id hashes, so how many
expressions a session built before a query decides them
(:func:`_canonical_expand`). Two captures then compare with a plain
``diff -r plans/<a> plans/<b>``.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mozart_etl_spark import querybank  # noqa: E402
from mozart_etl_spark.session import get_spark  # noqa: E402

#: (pattern, replacement) for every part of a plan that changes from
#: one capture of the same tree to the next: ids and names that count
#: up across the session (lambda variables, common subexpressions, the
#: RDD a local checkpoint scans), the process id in the default
#: warehouse path, and the ``uuid4().hex[:8]`` run id of a run-scoped
#: table
_VOLATILE = (
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"\b(lambda [xyz]|_common_expr)_\d+"), r"\1_"),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"_warehouse_\d+"), "_warehouse_<pid>"),
    (re.compile(r"(?<=_)[0-9a-f]{8}\b"), "<run>"),
)


#: the group-id column of a multi-distinct rewrite, once ids are
#: normalised (an int; a user column named ``gid`` that is a bigint
#: reads ``gid#L``)
_GID = "gid#"
_GID_TEST = re.compile(r"\bgid# = (\d+)")
_EXPAND_ARGS = re.compile(r"(?<=\) Expand\n)(Input .*\nArguments: )(.*)$", re.M)
_LIST_LINE = re.compile(r"^(\w[\w ]* \[\d+\]: )\[(.*)\]$", re.M)
_HASH_PART = re.compile(r"hashpartitioning\(([^()]*)\)")


def _column_key(column: str) -> tuple[bool, str]:
    """Columns in name order, the group id last."""
    return column == _GID, column


def _split(items: str) -> list[str]:
    """The top-level ``, ``-separated items of ``items``."""
    out, depth, start = [], 0, 0
    for i, ch in enumerate(items):
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0:
            out.append(items[start:i].strip())
            start = i + 1
    out.append(items[start:].strip())
    return out


def _canonical_expand(plan: str) -> str:
    """``plan`` with each multi-distinct ``Expand`` put in one order:
    its output columns sorted (the group id last), its projections
    sorted, the group ids renumbered in that order (also in every
    ``gid# = k`` test), and every other column list or hash
    partitioning that carries ``gid#`` sorted. The bank has at most one
    such Expand per plan."""
    for m in list(_EXPAND_ARGS.finditer(plan)):
        rows_text, out_text = _split(m.group(2))
        out = _split(out_text[1:-1])
        if _GID not in out:
            continue
        perm = sorted(range(len(out)), key=lambda i: _column_key(out[i]))
        gid = perm.index(out.index(_GID))
        rows = [[row[i] for i in perm]
                for row in (_split(r[1:-1]) for r in _split(rows_text[1:-1]))]
        rows.sort(key=lambda row: row[:gid] + row[gid + 1:])
        renumber = dict(zip((row[gid] for row in rows), sorted(row[gid] for row in rows)))
        for row in rows:
            row[gid] = renumber[row[gid]]
        args = "[" + ", ".join("[" + ", ".join(r) + "]" for r in rows) + "], ["
        args += ", ".join(out[i] for i in perm) + "]"
        plan = plan[: m.start(2)] + args + plan[m.end(2):]
        plan = _GID_TEST.sub(lambda t: f"gid# = {renumber.get(t.group(1), t.group(1))}", plan)
    if _GID_TEST.search(plan) is None:
        return plan

    def sort_list(line: re.Match) -> str:
        items = _split(line.group(2))
        if _GID in items:
            items.sort(key=_column_key)
        return f"{line.group(1)}[{', '.join(items)}]"

    def sort_partitioning(call: re.Match) -> str:
        items = _split(call.group(1))
        if _GID in items:
            items = sorted(items[:-1], key=_column_key) + items[-1:]
        return f"hashpartitioning({', '.join(items)})"

    plan = _LIST_LINE.sub(sort_list, plan)
    return _HASH_PART.sub(sort_partitioning, plan)


def normalise(plan: str) -> str:
    for pattern, replacement in _VOLATILE:
        plan = pattern.sub(replacement, plan)
    return _canonical_expand(plan)


def capture(df) -> str:
    """``df.explain("formatted")``, normalised."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return normalise(buf.getvalue())


def main() -> None:
    tag, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag
    )
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark(app_name="capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = querybank.queries()
    todo = names or sorted(qs)
    failed = []
    for name in todo:
        try:
            plan = capture(qs[name](spark, sf_dir))
            path = os.path.join(out_dir, f"{name}_{suffix}.txt")
            with open(path, "w") as f:
                f.write(plan)
            print(f"# {name}: {len(plan)} chars", file=sys.stderr)
        except Exception as e:
            print(f"# FAIL {name}: {e}", file=sys.stderr)
            failed.append(name)
    spark.stop()
    if failed:
        sys.exit(f"# {len(failed)} of {len(todo)} plans not captured: {' '.join(failed)}")


if __name__ == "__main__":
    main()
