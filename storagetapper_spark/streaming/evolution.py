"""Streaming schema evolution — S4 in Structured Streaming form.

The reference pushes schema events into the CDC stream
(changelog/mysql.go:155-191) so consumers re-sync their codec mid-
stream (encoder/json.go:110-119).  A Spark streaming query has a FIXED
DataFrame schema, so mid-stream row-shape change is only possible if
the row payload travels semi-structured — which is exactly how the
reference transports rows anyway (CommonFormat JSON).  The evolving
pipeline is therefore:

    fixed stream schema: (pk, op, seqno, ddl, payload-json)
    foreachBatch:
      events sorted by seqno; DDL events split the batch into segments;
      each segment's payloads are decoded with ``from_json`` against the
      schema current for that segment (registry StructType), conformed,
      and merged into the state table under max-seqno-wins; each DDL
      event advances the registry schema (parse_ddl → apply_change) and
      conforms the existing state to the new shape.

Decode happens executor-side per segment (from_json is a Catalyst
expression); only the DDL handling (rare, O(#schema changes)) runs on
the driver — same division of labor as the reference, where schema
events are processed by the single reader thread and row decode is the
hot path.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from storagetapper_spark.operators.merge import latest_state
from storagetapper_spark.schema.evolution import apply_change, conform, parse_ddl
from storagetapper_spark.statefs import (commit_state, committed_batch, exists,
                                        join_uri)
from storagetapper_spark.state import Registry

#: Fixed wire schema of an evolving CDC feed (CommonFormat analog).
EVOLVING_CDC_SCHEMA = T.StructType([
    T.StructField("pk", T.LongType()),
    T.StructField("op", T.StringType()),       # insert | delete | schema
    T.StructField("seqno", T.LongType()),
    T.StructField("ddl", T.StringType()),      # only for op='schema'
    T.StructField("payload", T.StringType()),  # JSON row image
])


def _merge_segment(spark: SparkSession, rows: DataFrame,
                   schema: T.StructType, state_path: str,
                   pk_cols: list[str]) -> None:
    """Decode one same-schema segment and merge into the state table."""
    decoded = (rows.withColumn("_f", F.from_json("payload", schema))
                   .select("pk", "op", "seqno", "_f.*"))
    # PK columns ride outside the payload; don't let a payload field shadow
    decoded = conform(
        decoded, T.StructType(
            [rows.schema["pk"], T.StructField("op", T.StringType()),
             T.StructField("seqno", T.LongType())]
            + [f for f in schema.fields if f.name not in ("pk", "op", "seqno")]))
    cur_path = join_uri(state_path, "current")
    # a batch commits once per segment, so the versions count segments
    # (replays converge through max-seqno-wins, not the marker)
    version = committed_batch(cur_path) + 1
    if exists(cur_path):
        decoded = conform(spark.read.parquet(cur_path),
                          decoded.schema).unionByName(decoded)
    commit_state(latest_state(decoded, pk_cols, drop_deleted=False),
                 cur_path, version)


class SchemaCompatError(ValueError):
    """A mid-stream DDL violates the feed's compatibility policy."""

    def __init__(self, report, ddl: str):
        self.report, self.ddl = report, ddl
        details = "; ".join(f"{f.column} {f.change}: {f.reason}"
                            for f in report.findings)
        super().__init__(
            f"DDL {ddl!r} is {report.level} but the feed policy requires "
            f"more ({details})")


def _check_policy(old_schema, new_schema, policy: str | None,
                  ddl: str) -> None:
    if policy is None:
        return
    from storagetapper_spark.schema.compat import classify

    rep = classify(old_schema, new_schema)
    ok = {"backward": rep.backward or rep.level == "NONE",
          "forward": rep.forward or rep.level == "NONE",
          "full": rep.level in ("FULL", "NONE")}[policy]
    if not ok:
        raise SchemaCompatError(rep, ddl)


def apply_evolving_batch(spark: SparkSession, batch_df: DataFrame,
                         registry: Registry, table_key: str,
                         state_path: str, pk_cols: list[str],
                         compat_policy: str | None = None) -> None:
    """One micro-batch of the evolving pipeline (pure batch function —
    the streaming sink calls this per trigger; tests/fuzzers call it
    directly).

    ``compat_policy`` ('backward' | 'forward' | 'full' | None) gates
    each mid-stream DDL with schema/compat.classify BEFORE it is
    applied or any of its segment's rows merge — the schema-registry
    deployment gate, enforced at the point the evolving feed actually
    changes shape.  A violating DDL raises SchemaCompatError carrying
    the per-change findings; the batch is not partially applied past
    that DDL, so the checkpoint replays cleanly after the feed owner
    intervenes."""
    reg = registry.get(table_key)
    schema = (T.StructType.fromJson(json.loads(reg.schema_json))
              if reg and reg.schema_json else None)
    if schema is None:
        raise ValueError(f"no schema registered for {table_key}")

    ddl_events = sorted(
        batch_df.filter(F.col("op") == "schema")
                .select("seqno", "ddl").collect(),
        key=lambda r: r.seqno)
    rows = batch_df.filter(F.col("op") != "schema")

    lo = None
    for ev in ddl_events:
        change = parse_ddl(ev.ddl)
        new_schema = schema
        if change is not None and change.kind in ("add", "drop"):
            new_schema = apply_change(schema, change)
            _check_policy(schema, new_schema, compat_policy, ev.ddl)
        seg = rows.filter(F.col("seqno") < ev.seqno)
        if lo is not None:
            seg = seg.filter(F.col("seqno") >= lo)
        _merge_segment(spark, seg, schema, state_path, pk_cols)
        if new_schema is not schema:
            schema = new_schema
            registry.update_schema(table_key, schema.json())
        lo = ev.seqno
    tail = rows if lo is None else rows.filter(F.col("seqno") >= lo)
    _merge_segment(spark, tail, schema, state_path, pk_cols)


def evolving_upsert_sink(stream: DataFrame, registry: Registry,
                         table_key: str, state_path: str,
                         checkpoint_dir: str, pk_cols: list[str],
                         trigger_available_now: bool = True,
                         compat_policy: str | None = None):
    """Materialize an evolving CDC stream: rows upsert (max-seqno-wins),
    schema events ALTER the target shape mid-stream.

    Idempotent under batch replay: row merges are seqno-guarded and DDL
    replay is idempotent (add existing column / drop missing column are
    no-ops in ``apply_change``'s replay-on-registry model)."""
    spark = stream.sparkSession

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_evolving_batch(spark, batch_df, registry, table_key,
                             state_path, pk_cols,
                             compat_policy=compat_policy)

    writer = (stream.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("update"))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
