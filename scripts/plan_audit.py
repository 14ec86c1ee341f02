"""Physical-plan audit of the query registry -> PLANS.md.

For every registry query (bench headliners first, then registry order),
capture the plan-health signals the 100 TB stance depends on: every scan's
pushed filters and read schema, scans per table (a lineage that re-plans
a table shows up as a high count), join strategies, and exchange count.
Regenerate after plan-affecting changes: ``python scripts/plan_audit.py``.
"""

from __future__ import annotations

import os
import re
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from bench import HEADLINE
from cassandra_fs_pp_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def audit(spark, name, fn) -> str:
    df = fn(spark, SF_DIR)
    jqe = df._jdf.queryExecution()
    plan = jqe.explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    # count DETAIL headers only — formatted mode prints every node twice
    # (once in the tree, once as "(N) NodeName"), so a bare word count
    # doubles everything
    joins = re.findall(r"\(\d+\) (BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
                       r"BroadcastNestedLoopJoin|CartesianProduct)", plan)
    n_exchange = len(re.findall(r"\(\d+\) Exchange", plan))
    n_bcast = len(re.findall(r"\(\d+\) BroadcastExchange", plan))
    n_scans = len(re.findall(r"\(\d+\) Scan (?:parquet|text|csv)", plan))
    # one Location line per scan; the table is the first path's file name
    tables = Counter(
        os.path.splitext(os.path.basename(paths.split(",")[0].strip().rstrip("/")))[0]
        for paths in re.findall(
            r"Location: InMemoryFileIndex(?:\(\d+ paths\))?\s*\[([^\]]*)\]", plan
        )
    )
    lines = [f"## {name}", ""]
    lines.append(
        f"- scans: {n_scans}, shuffle exchanges: {n_exchange}, "
        f"broadcast exchanges: {n_bcast}"
    )
    if tables:
        lines.append(
            "- scans by table: "
            + ", ".join(f"{k}×{v}" for k, v in sorted(tables.items()))
        )
    if joins:
        c = Counter(joins)
        lines.append("- joins: " + ", ".join(f"{k}×{v}" for k, v in sorted(c.items())))
    for i, (p, rs) in enumerate(zip(pushed, schemas)):
        cols = [c.split(":")[0] for c in rs.split(",") if c]
        pf = p.strip() or "(none)"
        lines.append(f"- scan[{i}]: pushed=[{pf}] columns={len(cols)} ({', '.join(cols[:6])}{'…' if len(cols) > 6 else ''})")
    lines.append("")
    return "\n".join(lines)


def main() -> None:
    spark = get_spark("plan_audit")
    qs = entrymod.queries()
    out = [
        "# PLANS — physical-plan audit of EVERY registry query",
        "",
        f"Generated by `scripts/plan_audit.py` at sf_dir={SF_DIR}. Signals:",
        "filters pushed to every scan, columns pruned at the reader, dim",
        "joins broadcast (AQE re-plans to SMJ past the threshold at scale),",
        "exchange (shuffle) counts per query.  Bench headliners first, then",
        "the full registry in window order — `scripts/doc_check.py` asserts",
        "every `queries()` entry has a section here, so plan audits can't",
        "silently lag new queries.",
        "",
    ]
    seen = set()
    for name in [*HEADLINE, *qs]:
        if name in qs and name not in seen:
            seen.add(name)
            out.append(audit(spark, name, qs[name]))
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
