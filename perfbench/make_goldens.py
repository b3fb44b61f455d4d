#!/usr/bin/env python3
"""Write ``goldens.json``: each query workload operation's expected row
count and value hash on the benchmark's own data, plus the registry the
operation lists were pinned against.

    python3 perfbench/make_goldens.py

Run from the root of a checkout. Before a hash is stored, the query is
cross-checked against its DuckDB oracle (``tests/oracle_harness``); a
query that disagrees with its oracle stops the script.
"""

from __future__ import annotations

import json
import os
import sys

import run as R


def main() -> int:
    work = os.path.join(R.ROOT, ".perfbench_run", f"goldens-{os.getpid()}")
    R._prepare_env(work)
    sys.path[:0] = [R.ROOT, R.HERE]
    import datagen
    import workloads as W
    from mozart_etl_spark import querybank
    from tests.oracle_harness import compare

    querybank._ensure_loaded()
    spark = R._start_spark(work)
    out = {"data_seed": W.DATA_SEED, "registry": sorted(querybank.REGISTRY), "workloads": {}}
    try:
        for wl in W.QUERY_WORKLOADS.values():
            data = os.path.join(work, wl.name)
            datagen.generate(data, wl.scale, W.DATA_SEED)
            runner = W.QueryRunner(spark, wl, data, None)
            ops = {}
            for name in wl.ops:
                ok, msg = compare(spark, data, runner.fns[name], querybank.REGISTRY[name].oracle)
                if not ok:
                    raise SystemExit(f"{wl.name}/{name} disagrees with its oracle: {msg}")
                rows = [r.asDict(recursive=True) for r in runner.fns[name](spark, data).collect()]
                ops[name] = {"rows": len(rows), "hash": W.value_hash(rows)}
                print(f"# {wl.name}/{name}: {ops[name]} (oracle {msg})", file=sys.stderr)
            out["workloads"][wl.name] = {"scale": wl.scale, "ops": ops}
    finally:
        R._stop_spark(spark)
        R.remove_work(work)
    with open(W.GOLDENS, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
