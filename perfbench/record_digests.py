"""Record the registry workload's expected results, checked against DuckDB.

    python3 perfbench/record_digests.py

Runs ``scripts/oracle_check.py``'s exact comparison (row count, column
names, dtype kinds and values against each query's ``oracle_sql()`` twin)
for every registry-workload query on the committed tables under
``perfbench/data/registry``.  Only when every query has an oracle and
matches it does it write each query's row count and the rounded,
order-independent digest of :func:`workloads.digest` to
``perfbench/registry_digests.json``.  Re-run it when the query set or the
tables change.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "scripts")]
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    from workloads import DIGESTS, REGISTRY_DATA, digest, registry_queries

    # oracle_check reads its corpus from SF_DIR when imported, and some
    # oracles size their SQL from it
    os.environ["SF_DIR"] = REGISTRY_DATA
    import oracle_check

    import __spark_entry__
    from cassandra_fs_pp_spark.session import get_spark

    names = registry_queries()
    missing = sorted(set(names) - set(__spark_entry__.oracle_sql()))
    if missing:
        print("no oracle for:", ", ".join(missing), file=sys.stderr)
        return 1
    if oracle_check.main(names) != 0:
        print("not recorded: the queries above disagree with their oracle", file=sys.stderr)
        return 1
    spark = get_spark("perfbench-record")
    qs = __spark_entry__.queries()
    out = {}
    for name in names:
        got = qs[name](spark, REGISTRY_DATA).toPandas()
        out[name] = {"rows": len(got), "digest": digest(got)}
    spark.stop()
    with open(DIGESTS, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
