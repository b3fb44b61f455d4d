#!/usr/bin/env python
"""Replay the driver's oracle gate over the full registry at HEAD.

The per-round driver runs every ``queries()`` entry against its
``oracle_sql()`` twin at sf0.01 and records rows/schema/hash matches;
this tool runs the SAME comparison locally so a round never ships a
code change whose first gate run happens on the driver. Rows-only
queries (no oracle by design) must still execute and return >= 1 row
— a rows-only entry that silently returns 0 rows is vacuous.

The runner inherits every session knob from the environment, so the
r7-discipline evidence runs are all this one tool:

    # plain gate simulation (driver twin)
    python tools/gate_sim.py /root/testdata/sf0.01

    # partitioning invariance: results must not depend on layout
    SPARK_GRAFT_MASTER=local[4] SPARK_GRAFT_SHUFFLE=3 \
        python tools/gate_sim.py /root/testdata/sf0.01
    SPARK_GRAFT_AQE=false SPARK_GRAFT_SHUFFLE=64 \
        python tools/gate_sim.py /root/testdata/sf0.01

Exit code = number of divergences (0 = green, matches the driver's
``bad = []``).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402
from tests.oracle_harness import compare  # noqa: E402

from mozart_etl_spark import querybank  # noqa: E402
from mozart_etl_spark.session import get_spark  # noqa: E402


def gate(spark: SparkSession, sf_dir: str) -> tuple[list[tuple[str, str]], dict[str, int]]:
    """Run every registered query on ``sf_dir``: the (query, message)
    of each oracle divergence or failure, and the row count of each
    rows-only query (one without an oracle)."""
    querybank._ensure_loaded()
    bad: list[tuple[str, str]] = []
    rows_only: dict[str, int] = {}
    for name, spec in querybank.REGISTRY.items():
        try:
            if spec.oracle is None:
                rows_only[name] = len(spec.fn(spark, sf_dir).collect())
            else:
                ok, msg = compare(spark, sf_dir, spec.fn, spec.oracle)
                if not ok:
                    bad.append((name, msg))
        except Exception as e:  # keep gating; report at the end
            bad.append((name, str(e)[:300]))
    return bad, rows_only


def main(sf_dir: str) -> int:
    shuffle = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "8"))
    spark = get_spark(app_name="gate-sim", shuffle_partitions=shuffle)
    if os.environ.get("SPARK_GRAFT_AQE"):
        spark.conf.set("spark.sql.adaptive.enabled", os.environ["SPARK_GRAFT_AQE"])
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.time()
    bad, rows_only = gate(spark, sf_dir)
    bad += [
        (name, "rows-only query returned 0 rows (vacuous)")
        for name, n in rows_only.items()
        if n < 1
    ]
    print(
        f"gated {len(querybank.REGISTRY)} queries in {time.time() - t0:.0f}s; "
        f"bad = {[n for n, _ in bad]}; rows_only = {rows_only}"
    )
    for name, msg in bad:
        print(f"  DIVERGED {name}: {msg}")
    return len(bad)


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"))
