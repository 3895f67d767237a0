"""Avro encoder surface (E2, encoder/avro.go + encoder/avro_schema.go).

Reference semantics implemented Spark-side:
  - three injected metadata columns (encoder/avro.go:35,108-162):
      row_key    BINARY  — length-prefixed PK concat
      ref_key    LONG    — the event seqno
      is_deleted BOOLEAN — delete events carry only key + flag
  - deletes null out all data fields (encoder/avro.go:148-162)
  - DATETIME/TIMESTAMP → epoch-milliseconds long (encoder/avro.go:283)
  - zero-time → NULL (encoder/avro.go:236-238)
  - Avro output schema with [null, T] unions (types/avro.go:45-62) from
    schema.mysql_types.struct_to_avro_schema

Binary encoding: the self-contained Avro binary codec below (written
against the public Avro 1.11 spec: zigzag
varints, little-endian floats, length-prefixed bytes, union index
prefix) exposed as Arrow pandas UDFs — byte-compatible with any Avro
reader given the same schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from storagetapper_spark.functions.keys import row_key_expr


def avro_prepare(df: DataFrame, pk_cols: list[str],
                 op_col: str = "op", seqno_col: str = "seqno") -> DataFrame:
    """Project an event DataFrame into the Avro record shape: data fields
    (nulled for deletes, timestamps → epoch-ms) + row_key/ref_key/
    is_deleted metadata columns."""
    is_del = F.col(op_col) == "delete"
    cols = []
    for f in df.schema.fields:
        if f.name in (op_col, seqno_col, "ts", "row_key"):
            continue
        c = F.col(f.name)
        if isinstance(f.dataType, T.TimestampType):
            c = (c.cast("double") * 1000).cast("long")  # epoch ms
        if f.name not in pk_cols:
            c = F.when(is_del, F.lit(None)).otherwise(c)
        cols.append(c.alias(f.name))
    return df.select(
        *cols,
        row_key_expr(pk_cols).cast("binary").alias("row_key"),
        F.col(seqno_col).cast("long").alias("ref_key"),
        is_del.alias("is_deleted"),
    )


# --- self-contained Avro binary codec (public Avro spec) ----------------

import struct as _struct  # noqa: E402


def _zigzag_encode(n: int) -> bytes:
    u = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag_decode(buf: bytes, i: int) -> tuple[int, int]:
    shift = u = 0
    while True:
        b = buf[i]
        i += 1
        u |= (b & 0x7F) << shift
        if not (b & 0x80):
            break
        shift += 7
    return (u >> 1) ^ -(u & 1), i


def avro_encode_record(rec: dict, fields: list[dict]) -> bytes:
    """Encode one record against a [null, T]-union field list (the shape
    struct_to_avro_schema produces)."""
    out = bytearray()
    for f in fields:
        v = rec.get(f["name"])
        t = f["type"][1] if isinstance(f["type"], list) else f["type"]
        if v is None:
            out += _zigzag_encode(0)  # union branch 0 = null
            continue
        out += _zigzag_encode(1)      # union branch 1 = value
        if t in ("int", "long"):
            out += _zigzag_encode(int(v))
        elif t == "boolean":
            out.append(1 if v else 0)
        elif t == "float":
            out += _struct.pack("<f", float(v))
        elif t == "double":
            out += _struct.pack("<d", float(v))
        elif t == "string":
            b = str(v).encode("utf-8")
            out += _zigzag_encode(len(b)) + b
        elif t == "bytes":
            b = bytes(v)
            out += _zigzag_encode(len(b)) + b
        else:
            raise TypeError(f"avro: unsupported type {t}")
    return bytes(out)


def avro_decode_record(buf: bytes, fields: list[dict]) -> dict:
    rec: dict = {}
    i = 0
    for f in fields:
        t = f["type"][1] if isinstance(f["type"], list) else f["type"]
        branch, i = _zigzag_decode(buf, i)
        if branch == 0:
            rec[f["name"]] = None
            continue
        if t in ("int", "long"):
            rec[f["name"]], i = _zigzag_decode(buf, i)
        elif t == "boolean":
            rec[f["name"]] = buf[i] == 1
            i += 1
        elif t == "float":
            rec[f["name"]] = _struct.unpack_from("<f", buf, i)[0]
            i += 4
        elif t == "double":
            rec[f["name"]] = _struct.unpack_from("<d", buf, i)[0]
            i += 8
        elif t == "string":
            n, i = _zigzag_decode(buf, i)
            rec[f["name"]] = buf[i:i + n].decode("utf-8")
            i += n
        elif t == "bytes":
            n, i = _zigzag_decode(buf, i)
            rec[f["name"]] = bytes(buf[i:i + n])
            i += n
        else:
            raise TypeError(f"avro: unsupported type {t}")
    return rec


def encode_avro_binary(df: DataFrame, avro_schema: dict) -> DataFrame:
    """Arrow-batched fallback for to_avro: one binary ``value`` column.
    Field values are taken from identically-named df columns."""
    fields = avro_schema["fields"]
    names = [f["name"] for f in fields]

    @F.pandas_udf(T.BinaryType())
    def _enc(s):
        import pandas as pd
        recs = s.to_dict("records")
        return pd.Series([avro_encode_record(r, fields) for r in recs])

    return df.select(_enc(F.struct(*names)).alias("value"))


def decode_avro_binary(df: DataFrame, avro_schema: dict,
                       spark_schema: T.StructType,
                       value_col: str = "value") -> DataFrame:
    """Inverse of encode_avro_binary: binary → typed columns."""
    fields = avro_schema["fields"]

    @F.pandas_udf(spark_schema)
    def _dec(s):
        import pandas as pd
        return pd.DataFrame([avro_decode_record(b, fields) for b in s])

    return df.select(_dec(F.col(value_col)).alias("rec")).select("rec.*")
