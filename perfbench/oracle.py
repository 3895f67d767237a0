"""Check a registry query's Spark result against its DuckDB oracle SQL.

Both sides go through pandas and are compared as an order-free multiset
of normalized rows, with floats at full precision (the registry's
queries round explicitly wherever the engines could differ).
"""

from __future__ import annotations

import datetime
import hashlib
import math
import os

import numpy as np


def _cell(v) -> str:
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if hasattr(v, "item") and not isinstance(v, (bytes, bytearray, list)):
        try:
            v = v.item()
        except (ValueError, AttributeError):
            pass
    if v is None or (v != v and not isinstance(v, float)):
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None and v.time() == datetime.time(0, 0):
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def digest(cols: list[str], pdf) -> str:
    """Order-free hash of a frame's rows, columns taken by sorted name."""
    names = [c.lower() for c in cols]
    order = sorted(range(len(names)), key=lambda i: names[i])
    lines = sorted("\x01".join(_cell(row[i]) for i in order)
                   for row in pdf.itertuples(index=False, name=None))
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def matches(cols: list[str], spark_rows, sql: str, data_dir: str,
            tables: list[str]) -> tuple[bool, str]:
    """(ok, reason) for a Spark result (a pandas frame) against ``sql``."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            p = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        rel = con.sql(sql)
        ocols = list(rel.columns)
        orows = rel.df()
    finally:
        con.close()
    if sorted(c.lower() for c in cols) != sorted(c.lower() for c in ocols):
        return False, f"columns {sorted(cols)} != oracle {sorted(ocols)}"
    if len(spark_rows) != len(orows):
        return False, f"rows {len(spark_rows)} != oracle {len(orows)}"
    if digest(cols, spark_rows) != digest(ocols, orows):
        return False, "value hash differs from oracle"
    return True, ""
