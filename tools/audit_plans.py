"""Audit physical plans of every registry query at a given SF: join
strategies, pushed filters, exchanges, Python evaluation nodes.

Every persistent RDD an earlier query left is unpersisted before the
next query is planned, so a row does not depend on what earlier queries
left pinned.  ``rdds=`` is the number of persistent RDDs the query
leaves once it is planned: the checkpoint blocks of the pins
(operators/pin) its plan still reads.  ``cache=`` is the number of
cache-manager entries left behind; the package materializes through
operators/pin only, so it reads 0 everywhere, and the cache is never
cleared between queries to hide one.

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
    cache = spark._jsparkSession.sharedState().cacheManager()
    rows = []
    for name, fn in sorted(QUERIES.items()):
        for rdd in list(persistent().values()):
            rdd.unpersist(False)
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            rdds = persistent().size()
            cached = cache.numCachedEntries()
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
                   f"pushed={stats['pushed']} py={stats['py']} rdds={rdds} "
                   f"cache={cached}"
                   + (" ⚠ " + ",".join(flags) if flags else ""))
        rows.append((name, summary))
    for name, s in rows:
        print(f"{name:32s} {s}")
    spark.stop()


if __name__ == "__main__":
    main()
