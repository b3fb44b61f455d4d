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
(:data:`_VOLATILE`): expression ids (``#123`` becomes ``#``) and
exchange ids, the process id in the default warehouse path, and the
run id that ends a run-scoped table name. Two captures then compare
with a plain ``diff -r plans/<a> plans/<b>``.
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
#: one capture of the same tree to the next: ids that count up across
#: the session, the process id in the default warehouse path, and the
#: ``uuid4().hex[:8]`` run id of a run-scoped table
_VOLATILE = (
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"_warehouse_\d+"), "_warehouse_<pid>"),
    (re.compile(r"(?<=_)[0-9a-f]{8}\b"), "<run>"),
)


def normalise(plan: str) -> str:
    for pattern, replacement in _VOLATILE:
        plan = pattern.sub(replacement, plan)
    return plan


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
            df = qs[name](spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(out_dir, f"{name}_{suffix}.txt")
            with open(path, "w") as f:
                f.write(normalise(buf.getvalue()))
            print(f"# {name}: {len(buf.getvalue())} chars", file=sys.stderr)
        except Exception as e:
            print(f"# FAIL {name}: {e}", file=sys.stderr)
            failed.append(name)
    spark.stop()
    if failed:
        sys.exit(f"# {len(failed)} of {len(todo)} plans not captured: {' '.join(failed)}")


if __name__ == "__main__":
    main()
