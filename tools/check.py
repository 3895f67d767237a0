"""Local correctness harness mirroring the driver's DuckDB-oracle check:
run each queries() entry on Spark and its oracle_sql() on DuckDB over the
same parquet tables, compare row count, column names, and an
order-insensitive value hash.  A query that leaves an entry in Spark's
cache manager fails as CACHE_LEFT: the package materializes through
operators/pin only, which never makes one.

Usage: python tools/check.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm_cell(v) -> str:
    import datetime
    import math
    if v is None:
        return "NULL"
    if v != v and not isinstance(v, float):  # pandas NaT (NaT != NaT)
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # strict: full-precision repr — queries must round explicitly
        return repr(v)
    if isinstance(v, datetime.datetime):
        # DuckDB surfaces DATE as midnight datetime64 via pandas while
        # Spark keeps datetime.date — normalize midnight-naive to date
        if v.tzinfo is None and v.time() == datetime.time(0, 0):
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def _pandas_rows(pdf):
    """Materialize a pandas frame as plain-Python row tuples.  BOTH sides
    go through pandas (like the driver): DuckDB HUGEINT → float64,
    NULL-int → NaN-float, datetime64 → Timestamp happen identically to
    Spark's toPandas(), so only genuine value/type differences survive.
    """
    import numpy as np

    def conv(v):
        if isinstance(v, np.ndarray):
            return [conv(x) for x in v.tolist()]
        if hasattr(v, "item") and not isinstance(v, (bytes, bytearray)):
            try:
                return v.item()
            except (ValueError, AttributeError):
                return v
        return v

    return [tuple(conv(v) for v in row)
            for row in pdf.itertuples(index=False, name=None)]


def frame_digest(cols, rows):
    import hashlib
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(_norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from storagetapper_spark.session import get_spark

    spark = get_spark("correctness-check")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    cache = spark._jsparkSession.sharedState().cacheManager()
    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = _pandas_rows(sdf.toPandas())
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            results[name] = ("SPARK_ERROR", str(e).split("\n")[0][:200])
            print(f"✗ {name}: SPARK_ERROR {results[name][1]}")
            continue
        if not cache.isEmpty():
            results[name] = ("CACHE_LEFT", "cache-manager entry left behind")
            print(f"✗ {name}: CACHE_LEFT ({time.time()-t0:.1f}s)")
            spark.catalog.clearCache()  # charge the next query only its own
            continue
        if name not in oracles:
            results[name] = ("ROWS_ONLY", len(srows))
            print(f"~ {name}: rows-only, {len(srows)} rows ({time.time()-t0:.1f}s)")
            continue
        try:
            orel = con.sql(oracles[name])
            ocols = [c.lower() for c in orel.columns]
            # go through pandas like the driver does: DuckDB HUGEINT (e.g.
            # sum(int)) surfaces as float64 here but as int via fetchall(),
            # so fetchall() would hide driver-visible hash mismatches
            orows = _pandas_rows(orel.df())
        except Exception as e:  # noqa: BLE001
            results[name] = ("ORACLE_ERROR", str(e).split("\n")[0][:200])
            print(f"✗ {name}: ORACLE_ERROR {results[name][1]}")
            continue
        scols_l = [c.lower() for c in scols]
        problems = []
        if sorted(scols_l) != sorted(ocols):
            problems.append(f"schema: spark={sorted(scols_l)} oracle={sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rows: spark={len(srows)} oracle={len(orows)}")
        if not problems:
            sh = frame_digest(scols_l, [tuple(r) for r in srows])
            oh = frame_digest(ocols, orows)
            if sh != oh:
                problems.append("value-hash mismatch")
        if problems:
            results[name] = ("MISMATCH", "; ".join(problems))
            print(f"✗ {name}: {results[name][1]} ({time.time()-t0:.1f}s)")
        else:
            results[name] = ("OK", len(srows))
            print(f"✓ {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")

    ok = sum(1 for v in results.values() if v[0] == "OK")
    print(f"\n{ok}/{len(results)} OK; "
          f"{sum(1 for v in results.values() if v[0] == 'ROWS_ONLY')} rows-only; "
          f"{sum(1 for v in results.values() if v[0] not in ('OK', 'ROWS_ONLY'))} failing")
    spark.stop()
    rc = 0 if all(v[0] in ("OK", "ROWS_ONLY") for v in results.values()) else 1
    # Full-registry runs leave a committed gate artifact (VERDICT r4 #9):
    # the zero-regression evidence that EVERY registry query — not just
    # the driver's 50-query window — was oracle-checked before close.
    if not only:
        import json
        import time as _time
        art = {
            "sf_dir": sf_dir,
            "checked": len(results),
            "ok": ok,
            "rows_only": sorted(n for n, v in results.items()
                                if v[0] == "ROWS_ONLY"),
            "failing": {n: v[1] for n, v in results.items()
                        if v[0] not in ("OK", "ROWS_ONLY")},
            "exit_status": rc,
            "utc": _time.strftime("%Y-%m-%dT%H:%M:%SZ", _time.gmtime()),
        }
        with open(os.path.join(os.path.dirname(os.path.dirname(
                os.path.abspath(__file__))), "CHECK_ALL.json"), "w") as f:
            json.dump(art, f, indent=1, sort_keys=True)
        print(f"gate artifact: CHECK_ALL.json (exit {rc})")
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
