"""Structured Streaming pipelines — the changelog path (S2/O1-O4) as one
Spark lineage.

Reference architecture collapsed (SURVEY.md §3.3): binlog reader →
buffer pipe → streamer re-encode → sink becomes readStream → transform →
foreachBatch sink with checkpointing.  The reference's at-least-once +
seqno-idempotence contract (K2/E5) maps to: checkpointed micro-batches +
an idempotent MERGE keyed on (pk, seqno) — replayed batches re-apply the
same seqno-guarded upsert and converge.

The file source stands in for Kafka (no Kafka connector jar in this
container); the pipeline shape is identical — swap
``readStream.format("kafka")`` in ``read_changelog_stream``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from storagetapper_spark.operators.merge import latest_state
from storagetapper_spark.operators.pin import pin, release
from storagetapper_spark.statefs import (commit_state, committed_batch, exists,
                                        join_uri, read_for_keys)


def read_changelog_stream(spark: SparkSession, path: str,
                          schema: T.StructType,
                          max_files_per_trigger: int | None = None) -> DataFrame:
    """CDC feed as a streaming DataFrame (newline-JSON events in ``path``).

    ``maxFilesPerTrigger`` is the throughput throttle — the analog of the
    reference's IOPS/MBs throttling (O5, throttle/throttle.go) and batch
    sizing (O4, max_batch_size).
    """
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path)


def read_changelog_stream_with_dlq(spark: SparkSession, path: str,
                                   schema: T.StructType,
                                   dead_letter_dir: str,
                                   max_files_per_trigger: int | None = None,
                                   ) -> tuple[DataFrame, "callable"]:
    """Changelog stream with a dead-letter queue: malformed feed lines
    are captured (PERMISSIVE + _corrupt_record) instead of poisoning the
    query.  Returns (clean_stream, route) — call ``route(batch_df)``
    inside foreachBatch: it appends that batch's corrupt raw lines to
    ``dead_letter_dir`` and returns the clean rows.  A poisoned event
    stalls the reference reader until the watchdog kills it
    (changelog/mysql.go:885-908); here bad input is quarantined with
    full fidelity for replay, and the stream keeps moving."""
    full = T.StructType(list(schema.fields)
                        + [T.StructField("_corrupt_record", T.StringType())])
    reader = (spark.readStream.schema(full)
              .option("mode", "PERMISSIVE")
              .option("columnNameOfCorruptRecord", "_corrupt_record"))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.json(path)

    def route(batch_df: DataFrame) -> DataFrame:
        # Spark refuses a query over raw input that reads the
        # corrupt-record column alone (it is populated at parse time,
        # SPARK-21610), so the dead-letter side reads a pin of the batch
        parsed = pin(batch_df)
        try:
            bad = parsed.filter(F.col("_corrupt_record").isNotNull()) \
                        .select("_corrupt_record")
            if bad.limit(1).count():
                bad.write.mode("append").text(dead_letter_dir)
        finally:
            release(parsed)
        return (batch_df.filter(F.col("_corrupt_record").isNull())
                .drop("_corrupt_record"))

    return stream, route


def _upsert(spark: SparkSession, cur_path: str, batch_df: DataFrame,
            pk_cols: list[str], seqno_col: str, op_col: str,
            batch_id: int) -> None:
    """Commit the latest state: one max-seqno window over the stored rows
    ``batch_df`` reaches and the raw batch.  Tombstones stay in state so
    a replayed older insert can never resurrect a deleted key."""
    rows, commit = read_for_keys(spark, cur_path, batch_df, pk_cols)
    if rows is not None:
        batch_df = rows.unionByName(batch_df.select(*rows.columns))
    commit(latest_state(batch_df, pk_cols, seqno_col=seqno_col,
                        op_col=op_col, drop_deleted=False), batch_id)


def incremental_upsert_sink(cdc_stream: DataFrame, state_dir: str,
                            checkpoint_dir: str, pk_cols: list[str],
                            seqno_col: str = "seqno", op_col: str = "op",
                            trigger_available_now: bool = True):
    """foreachBatch materialization of latest-state (O1/E5 streaming form).

    Each micro-batch: one max-seqno window over ``current ∪ batch``
    (max-seqno-wins is associative, so resolving the batch on its own
    first changes nothing, and the window already keeps one row per key
    map-side), committed by ``statefs.commit_state`` — the commit
    protocol is in the statefs module docstring.  Idempotent under batch
    replay twice over: the commit skips a batch the state already
    records, and max-seqno-wins is commutative/idempotent, the
    reference's exact recovery argument (pipe/kafka.go:43-53).

    With Delta/Iceberg this is MERGE INTO.  Here the state is one flat
    file while it fits one ``spark.sql.files.maxPartitionBytes`` split
    and PK-hash-bucketed past that, so a batch reads and rewrites only
    the buckets its keys hash into (``current`` above is then those
    buckets).  The count follows the state's size
    (``statefs.read_for_keys``).  One writer per ``state_dir`` (the
    reference's per-table lease, state/lock.go).
    """
    spark = cdc_stream.sparkSession
    cur_path = join_uri(state_dir, "current")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if committed_batch(cur_path) < batch_id:
            _upsert(spark, cur_path, batch_df, pk_cols, seqno_col, op_col,
                    batch_id)

    writer = (cdc_stream.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("update"))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def gtid_guarded_upsert_sink(cdc_stream: DataFrame, state_dir: str,
                             checkpoint_dir: str, pk_cols: list[str],
                             gtid_col: str = "gtid",
                             seqno_col: str = "seqno", op_col: str = "op",
                             trigger_available_now: bool = True):
    """incremental_upsert_sink with the reference's executed-GTID-set
    guard in front of the merge (changelog/mysql.go:398-420,1019-1043
    via sources/gtid.py).

    Why seqno idempotence alone is not enough: the Spark seqno is
    derived from reader position (with_monotonic_seqno — partition <<
    bits | offset), so a RESTARTED reader that re-emits old
    transactions from new file offsets assigns them HIGHER seqnos, and
    max-seqno-wins would resurrect stale values.  The GTID set is
    position-independent transaction identity: redelivered
    transactions are dropped BEFORE the merge regardless of their
    re-derived seqno.

    Per batch: filter rows whose GTID the saved set contains → apply
    the usual max-seqno merge → commit the new state, THEN the folded
    GTID set, each with ``statefs.commit_state`` (protocol in the
    statefs module docstring).  A crash between the two replays the
    batch: the state commit is skipped, the filter still sees the
    pre-batch set, and the set commit completes — never a skip.  The
    set itself is a 1-row string parquet under
    ``state_dir/gtid_current``: interval-coalesced, so it stays
    bytes-sized however long the stream runs."""
    from storagetapper_spark.sources.gtid import (GTIDSet, filter_unexecuted,
                                                  fold_batch)

    spark = cdc_stream.sparkSession
    cur_path = join_uri(state_dir, "current")
    gtid_path = join_uri(state_dir, "gtid_current")

    def _load_set() -> GTIDSet:
        if exists(gtid_path):
            row = spark.read.parquet(gtid_path).collect()
            if not row:
                # a silent empty set here would re-enable exactly the
                # stale-seqno resurrection this sink exists to prevent
                raise RuntimeError(
                    f"{gtid_path} exists but holds no row (not written "
                    "by this sink's commit) — restore the executed set "
                    "before resuming")
            return GTIDSet.parse(row[0]["executed_gtid_set"])
        return GTIDSet()

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        state_done = committed_batch(cur_path) >= batch_id
        if state_done and committed_batch(gtid_path) >= batch_id:
            return
        state = _load_set()
        # read twice (merge, fold): pin the filtered batch once
        fresh = pin(filter_unexecuted(batch_df, state, gtid_col=gtid_col))
        if not state_done:
            _upsert(spark, cur_path, fresh, pk_cols, seqno_col, op_col,
                    batch_id)
        folded = fold_batch(state, fresh, gtid_col=gtid_col)
        release(fresh)
        commit_state(spark.createDataFrame([(folded.to_string(),)],
                                           "executed_gtid_set string"),
                     gtid_path, batch_id)

    writer = (cdc_stream.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("update"))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_state(spark: SparkSession, state_dir: str,
               op_col: str = "op") -> DataFrame:
    """Consumer view of the state: tombstones and bucket column dropped."""
    return (spark.read.parquet(join_uri(state_dir, "current"))
            .filter(F.col(op_col) != "delete").drop("_bucket"))


def propagate_deletes(spark: SparkSession, state_dir: str,
                      keys: DataFrame, pk_cols: list[str]) -> int:
    """Hard delete (the GDPR path): physically remove the keys' rows from
    the upsert state, rewriting only the buckets they hash into (or the
    flat table); an emptied bucket goes.  The commit keeps the table's
    batch id, so its stream neither skips nor replays a batch.  Returns
    the number of rows removed."""
    keys = F.broadcast(keys.select(*pk_cols).distinct())
    rows, commit = read_for_keys(spark, join_uri(state_dir, "current"),
                                 keys, pk_cols, grow=False)
    removed = (rows.join(keys, pk_cols, "left_semi").count()
               if rows is not None else 0)
    if removed:
        commit(rows.join(keys, pk_cols, "left_anti"), None)
    return removed


def publish_state_bucketed(spark: SparkSession, state_dir: str,
                           table_name: str, pk_col: str,
                           n_buckets: int = 64) -> DataFrame:
    """Publish the materialized state as a bucketed, pk-sorted SQL table
    — the serving layout.  Every downstream equi-join on the PK (dim
    enrichment, next snapshot↔changelog merge, another bucketed fact)
    then reads co-located buckets with ZERO shuffle Exchange on the
    state side; at 100 TB that is the difference between a metadata-only
    scan plan and re-shuffling the whole state per consumer."""
    from storagetapper_spark.operators.skew import write_bucketed

    write_bucketed(read_state(spark, state_dir),
                   table_name, pk_col, n_buckets=n_buckets)
    return spark.table(table_name)


def windowed_event_counts(stream: DataFrame, ts_col: str = "ts",
                          window: str = "1 hour",
                          watermark: str = "2 hours",
                          group_cols: list[str] | None = None) -> DataFrame:
    """Event-time tumbling-window aggregation with a watermark — late
    events past the watermark are dropped (the reference has no
    event-time semantics; this is the §2.6 streaming-windows surface)."""
    gcols = group_cols or []
    return (stream.withWatermark(ts_col, watermark)
                  .groupBy(F.window(ts_col, window).alias("w"), *gcols)
                  .agg(F.count(F.lit(1)).alias("n_events"),
                       F.round(F.sum("value"), 2).alias("sum_value"))
                  .select(F.col("w.start").alias("window_start"),
                          *gcols, "n_events", "sum_value"))


def stream_stream_join(left: DataFrame, right: DataFrame, key: str,
                       left_ts: str = "ts", right_ts: str = "ts",
                       within: str = "1 hour",
                       watermark: str = "2 hours",
                       right_key: str | None = None,
                       how: str = "inner") -> DataFrame:
    """Stream↔stream join (the §2.6 surface the reference cannot
    express at all — it correlates nothing across streams): match events
    on ``key`` when the right event lands within ``within`` after the
    left one.  BOTH watermarks plus the time-range join condition are
    what let Spark evict join state — without them state grows O(stream).
    State per side ≈ events within (watermark + within).

    ``how`` extends to the outer family ('left_outer', 'right_outer',
    'full_outer', 'left_semi'): outer rows for unmatched events are
    emitted only once the watermark passes the end of their join window
    (Spark must prove no future match can arrive before it emits the
    null-padded row) — downstream consumers see them one
    watermark-delay late, which is the correctness-mandated behavior,
    not a bug to tune away."""
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = ((lw[key] == rw[right_key or key])
            & (rw[right_ts] >= lw[left_ts])
            & (rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {within}")))
    return lw.join(rw, cond, how)


def enriched_sink(stream: DataFrame, dim_path: str, key: str,
                  out_dir: str, checkpoint_dir: str,
                  dim_key: str | None = None,
                  trigger_available_now: bool = True):
    """Stream enrichment against a slowly-changing dimension that is
    RE-READ every micro-batch (foreachBatch + fresh ``spark.read``).

    The naive form — joining the stream against a static DataFrame
    built once — freezes the dimension at plan time: Spark's file index
    for the static side is resolved when the query starts, so dimension
    updates landing mid-stream are silently ignored.  Re-reading inside
    foreachBatch gives each batch the current dimension at its trigger
    instant (the per-batch snapshot-consistency the reference gets from
    reading MySQL state per event).  The dimension is broadcast: at
    100 TB the stream side is the big one and never shuffles for this
    join."""
    spark = stream.sparkSession

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        dim = spark.read.parquet(dim_path)
        joined = batch_df.join(
            F.broadcast(dim), batch_df[key] == dim[dim_key or key], "left")
        (joined.drop(dim[dim_key or key])
               .withColumn("_batch_id", F.lit(batch_id))
               .write.mode("append").parquet(out_dir))

    writer = (stream.writeStream.foreachBatch(process_batch)
                    .option("checkpointLocation", checkpoint_dir)
                    .outputMode("append"))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_dedup(stream: DataFrame, key_cols: list[str],
                    ts_col: str = "ts", watermark: str = "1 hour") -> DataFrame:
    """At-least-once retransmit cleanup in-stream:
    dropDuplicatesWithinWatermark keeps state bounded by the watermark
    (vs. the reference's unbounded seqno-idempotence at the sink)."""
    return (stream.withWatermark(ts_col, watermark)
                  .dropDuplicatesWithinWatermark(key_cols))
