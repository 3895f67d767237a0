"""Quiet-box profiling harness for single queries (guide §1).

Times the computation with the noop sink (guide §1.4: eagerly computes
every column of every row, discards the result — no sink cost, no
column pruning of the measured plan) after one untimed warm-up run,
best-of-N (default 3), `spark.catalog.clearCache()` between reps so no
rep rides a previous rep's persisted intermediates.  Optionally captures
`.explain("formatted")` to a file for the before/after plan evidence.

Usage:
  python tools/profile_query.py [--sf SF_DIR] [--reps N]
         [--explain-dir DIR] [--suffix before|after] name [name ...]

Prints one line per query: `name  best_sec  (rep times)  compiles [..]
jit_s [..]` and, with --explain-dir, writes DIR/<name>_<suffix>.txt.
The two lists hold one entry per rep, the untimed warm-up first: the
Janino compiles (codegen cache misses) and the JVM's JIT compile seconds
during that rep (session.codegen_counters).  A steady-state rep should
show 0 compiles.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                                   "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--suffix", default="before")
    args = ap.parse_args()

    from storagetapper_spark.plans.registry import QUERIES
    from storagetapper_spark.session import codegen_counters, get_spark

    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    # warm file listing + JVM once (same spirit as bench.py's warm-up)
    spark.read.parquet(os.path.join(args.sf, "lineitem.parquet")).count()

    for name in args.names:
        fn = QUERIES[name]
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            plan = fn(spark, args.sf)._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
            with open(os.path.join(args.explain_dir,
                                   f"{name}_{args.suffix}.txt"), "w") as f:
                f.write(plan)
            spark.catalog.clearCache()
        times, compiles, jit_s = [], [], []
        for rep in range(args.reps + 1):  # rep 0 is the untimed warm-up
            spark.sparkContext.setJobDescription(f"profile:{name}#{rep}")
            c0, j0 = codegen_counters(spark)
            t0 = time.time()
            df = fn(spark, args.sf)
            df.write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            c1, j1 = codegen_counters(spark)
            compiles.append(c1 - c0)
            jit_s.append(round(j1 - j0, 2))
            spark.catalog.clearCache()
            if rep > 0:
                times.append(dt)
        print(f"{name}  {min(times):.3f}  ({', '.join(f'{t:.3f}' for t in times)})"
              f"  compiles {compiles}  jit_s {jit_s}", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
