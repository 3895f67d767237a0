"""Audit physical plans of every registry query at a given SF: join
strategies, pushed filters, exchanges, Python evaluation nodes.

Every query is planned from an empty cache (``clearCache()`` first, and
every persistent RDD an earlier query left is unpersisted), so a row
does not depend on what earlier queries left persisted.  ``rdds=`` is
the number of persistent RDDs the query leaves once it is planned:
cache entries it materialized and the checkpoint blocks of its pins
(operators/graph.pin), which ``clearCache()`` never frees.

Usage: python tools/audit_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from storagetapper_spark.plans.registry import QUERIES
    from storagetapper_spark.session import get_spark

    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    persistent = spark.sparkContext._jsc.getPersistentRDDs
    rows = []
    for name, fn in sorted(QUERIES.items()):
        spark.catalog.clearCache()
        for rdd in list(persistent().values()):
            rdd.unpersist(False)
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            rdds = persistent().size()
        except Exception as e:  # noqa: BLE001
            rows.append((name, f"ERROR {str(e)[:80]}"))
            continue
        stats = {
            "bhj": plan.count("BroadcastHashJoin"),
            "smj": plan.count("SortMergeJoin"),
            "cart": plan.count("CartesianProduct"),
            "bnl": plan.count("BroadcastNestedLoopJoin"),
            "exch": plan.count("Exchange hashpartitioning"),
            "py": plan.count("ArrowEvalPython") + plan.count("MapInPandas")
                  + plan.count("BatchEvalPython"),
            "pushed": len(re.findall(r"PushedFilters: \[[^\]]", plan)),
        }
        flags = []
        if stats["smj"]:
            flags.append(f"SMJ×{stats['smj']}")
        if stats["cart"]:
            flags.append(f"CARTESIAN×{stats['cart']}")
        if stats["bnl"]:
            flags.append(f"BNL×{stats['bnl']}")
        if plan.count("BatchEvalPython"):
            flags.append("ROW-PYTHON")
        summary = (f"bhj={stats['bhj']} bnl={stats['bnl']} "
                   f"exch={stats['exch']} "
                   f"pushed={stats['pushed']} py={stats['py']} rdds={rdds}"
                   + (" ⚠ " + ",".join(flags) if flags else ""))
        rows.append((name, summary))
    for name, s in rows:
        print(f"{name:32s} {s}")
    spark.stop()


if __name__ == "__main__":
    main()
