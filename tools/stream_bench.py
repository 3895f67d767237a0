"""Streaming-surface throughput lane (VERDICT r10 #6).

Times ONE availableNow drain (or the equivalent explicit micro-batch
loop for the batch-API modules) of every streaming/*.py operator over
the sf0.1 fixtures and writes STREAM_BENCH.json: rows, wall seconds,
rows/s, on-disk state bytes, and the stateful-operator telemetry that
`streaming.monitor.ProgressRecorder` collects (batches, state rows,
state memory) — monitor.py is the measurement instrument here, which
is its one job.  This lane is a SEPARATE tool on purpose: bench.py is
frozen this round (VERDICT r10 #2), and these numbers are throughput
floors for the streaming surface, not part of the driver's curated
query sweep.

Feed preparation (writing source parquet/json into the work dir) is
untimed; the timed region is the drain itself.  Feeds are carved from
the deterministic sf fixtures, split by key into 3 one-file sub-dirs,
and ``_stream`` reads them with ``maxFilesPerTrigger=1`` (a SOURCE
option: on the writeStream Spark ignores it), so a drain runs 3
micro-batches and cross-batch state folding is actually exercised.

Each row's ``batches`` is the length of its query's own
``recentProgress`` after the drain; the listener's snapshot lags the
asynchronous listener bus.

Usage: python tools/stream_bench.py [--sf SF_DIR] [module ...]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

CDC_SCHEMA = T.StructType([
    T.StructField("pk", T.LongType()),
    T.StructField("val", T.StringType()),
    T.StructField("op", T.StringType()),
    T.StructField("seqno", T.LongType()),
])


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _stream(spark, feed: str):
    schema = (spark.read.option("recursiveFileLookup", "true")
              .parquet(feed).schema)
    return (spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .option("maxFilesPerTrigger", 1).parquet(feed))


def _write_batches(df, feed: str, key, n: int = 3) -> int:
    """Untimed feed prep: n one-file parquet sub-dirs, split
    deterministically — one micro-batch each under ``_stream``."""
    cnt = df.count()
    for i in range(n):
        (df.where(key % n == i).coalesce(1)
         .write.mode("overwrite").parquet(os.path.join(feed, f"b{i}")))
    return cnt


def _foreach_drain(stream, ckpt: str, sink_fn):
    q = (stream.writeStream.foreachBatch(sink_fn)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(600)
    return q


# ---------------------------------------------------------------------
# adapters: name -> fn(spark, sf, work) -> (rows, state_dir_for_du)
# Each prepares its feed untimed, then returns a zero-arg `run`
# closure that returns the streaming query it drained (None for the
# batch-API modules); the harness times run() only.
# ---------------------------------------------------------------------

def _events(spark, sf):
    from storagetapper_spark.plans.common import events_t
    return events_t(spark, sf)


def _docs(spark, sf):
    return spark.read.parquet(os.path.join(sf, "documents.parquet"))


def _emb(spark, sf):
    return spark.read.parquet(os.path.join(sf, "embeddings.parquet"))


def _cdc_df(spark, sf):
    o = spark.read.parquet(os.path.join(sf, "orders.parquet"))
    return o.select(F.col("o_orderkey").alias("pk"),
                    F.col("o_totalprice").cast("string").alias("val"),
                    F.lit("insert").alias("op"),
                    F.col("o_orderkey").alias("seqno"))


def ad_pipeline(spark, sf, work):
    from storagetapper_spark.streaming.pipeline import (
        incremental_upsert_sink, read_changelog_stream)
    feed = os.path.join(work, "feed")
    cdc = _cdc_df(spark, sf)
    rows = cdc.count()
    for i in range(3):  # read_changelog_stream is a newline-JSON source
        (cdc.where(F.col("pk") % 3 == i).coalesce(4)
         .write.mode("overwrite").json(os.path.join(feed, f"b{i}")))

    def run():
        stream = (spark.readStream.schema(CDC_SCHEMA)
                  .option("recursiveFileLookup", "true").json(feed))
        q = incremental_upsert_sink(stream, os.path.join(work, "state"),
                                    os.path.join(work, "ckpt"),
                                    pk_cols=["pk"])
        q.awaitTermination(600)
        return q
    return rows, run, os.path.join(work, "state")


def ad_history(spark, sf, work):
    from storagetapper_spark.streaming.history import scd2_sink
    feed = os.path.join(work, "feed")
    rows = _write_batches(_cdc_df(spark, sf), feed, F.col("pk"))

    def run():
        q = scd2_sink(_stream(spark, feed), os.path.join(work, "hist"),
                      os.path.join(work, "ckpt"), pk_cols=["pk"])
        q.awaitTermination(600)
        return q
    return rows, run, os.path.join(work, "hist")


def ad_stateful(spark, sf, work):
    from storagetapper_spark.streaming.stateful import conflate_cdc
    feed = os.path.join(work, "feed")
    rows = _write_batches(_cdc_df(spark, sf), feed, F.col("pk"))
    out = os.path.join(work, "out")

    def run():
        conf = conflate_cdc(_stream(spark, feed), pk_cols=["pk"],
                            value_cols=["val"], ttl_ms=3_600_000)
        q = (conf.writeStream
             .foreachBatch(lambda b, i: b.write.mode("append")
                           .parquet(out))
             .outputMode("update")
             .option("checkpointLocation", os.path.join(work, "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination(600)
        return q
    return rows, run, out


def ad_evolution(spark, sf, work):
    from storagetapper_spark.state import Registry, TableRegistration
    from storagetapper_spark.streaming.evolution import (
        EVOLVING_CDC_SCHEMA, evolving_upsert_sink)
    feed = os.path.join(work, "feed")
    os.makedirs(feed, exist_ok=True)
    cdc = _cdc_df(spark, sf).limit(30000).collect()
    n = 3
    for i in range(n):
        with open(os.path.join(feed, f"b{i}.json"), "w") as f:
            for r in cdc:
                if r.pk % n == i:
                    f.write(json.dumps({
                        "pk": r.pk, "op": "insert", "seqno": r.seqno,
                        "ddl": None,
                        "payload": json.dumps({"f2": r.val, "f3": 1.0}),
                    }) + "\n")
    base_schema = T.StructType([T.StructField("f2", T.StringType()),
                                T.StructField("f3", T.DoubleType())])
    registry = Registry(os.path.join(work, "reg.json"))
    registry.register(TableRegistration("s", "c", "db1", "t1",
                                        pk_cols=["pk"],
                                        schema_json=base_schema.json()))

    def run():
        stream = (spark.readStream.schema(EVOLVING_CDC_SCHEMA)
                  .option("maxFilesPerTrigger", 1).json(feed))
        q = evolving_upsert_sink(stream, registry, "s.c.db1.t1.v0",
                                 os.path.join(work, "state"),
                                 os.path.join(work, "ckpt"),
                                 pk_cols=["pk"])
        q.awaitTermination(600)
        return q
    return len(cdc), run, os.path.join(work, "state")


def ad_buffered(spark, sf, work):
    from storagetapper_spark.streaming.buffered import (
        stream_from_buffer, write_buffer)
    buf = os.path.join(work, "buffer")
    cdc = _cdc_df(spark, sf)
    rows = cdc.count()
    out = os.path.join(work, "out")

    def run():
        # both stages timed: encode+envelope into the buffer, then the
        # route/decode pass back out (batch API — the buffer is the
        # Kafka stand-in, drained synchronously)
        write_buffer(cdc, ["pk"], buf)
        stream_from_buffer(spark, buf).write.mode("overwrite").parquet(out)
    return rows, run, out


def ad_fanout(spark, sf, work):
    from storagetapper_spark.state import Registry, TableRegistration
    from storagetapper_spark.streaming.fanout import fanout_to_files
    registry = Registry(os.path.join(work, "reg.json"))
    for tbl in ("t1", "t2", "t3"):
        registry.register(TableRegistration("s", "c", "db1", tbl,
                                            pk_cols=["pk"]))
    mixed = (_cdc_df(spark, sf)
             .withColumn("db", F.lit("db1"))
             .withColumn("tbl", F.concat(F.lit("t"),
                                         (F.col("pk") % 3 + 1)
                                         .cast("string"))))
    mixed.write.mode("overwrite").parquet(os.path.join(work, "mixed"))
    rows = mixed.count()
    out = os.path.join(work, "out")

    def run():
        batch = spark.read.parquet(os.path.join(work, "mixed"))
        fanout_to_files(batch, registry, out)
    return rows, run, out


def ad_absorption(spark, sf, work):
    from storagetapper_spark.streaming import absorption as M
    feed = os.path.join(work, "feed")
    ev = _events(spark, sf).select("user_id", "event_type", "ts",
                                   "event_id")
    rows = _write_batches(ev, feed, F.col("user_id"))
    state = os.path.join(work, "state")

    def run():
        return _foreach_drain(_stream(spark, feed), os.path.join(work, "ckpt"),
                              lambda b, i: M.ingest_batch(spark, b, i, state))
    return rows, run, state


def ad_agreement(spark, sf, work):
    from storagetapper_spark.streaming import agreement as M
    o = spark.read.parquet(os.path.join(sf, "orders.parquet"))
    feed = os.path.join(work, "feed")
    rows = _write_batches(o, feed, F.col("o_orderkey"))
    state = os.path.join(work, "state")

    def run():
        return _foreach_drain(_stream(spark, feed), os.path.join(work, "ckpt"),
                              lambda b, i: M.ingest_batch(spark, b, i, state))
    return rows, run, state


def ad_lifecycle(spark, sf, work):
    from storagetapper_spark.streaming import lifecycle as M
    feed = os.path.join(work, "feed")
    ev = _events(spark, sf)
    rows = _write_batches(ev, feed, F.col("user_id"))
    state = os.path.join(work, "state")

    def run():
        return _foreach_drain(_stream(spark, feed), os.path.join(work, "ckpt"),
                              lambda b, i: M.ingest_batch(spark, b, i, state))
    return rows, run, state


def ad_bloom(spark, sf, work):
    from storagetapper_spark.streaming.bloom import bloom_sink
    feed = os.path.join(work, "feed")
    rows = _write_batches(_docs(spark, sf), feed, F.col("doc_id"))
    state = os.path.join(work, "state")

    def run():
        return _foreach_drain(_stream(spark, feed), os.path.join(work, "ckpt"),
                              bloom_sink(state))
    return rows, run, state


def ad_cms(spark, sf, work):
    from storagetapper_spark.streaming.cms import cms_sink
    feed = os.path.join(work, "feed")
    rows = _write_batches(_docs(spark, sf), feed, F.col("doc_id"))
    state = os.path.join(work, "state")

    def run():
        return _foreach_drain(_stream(spark, feed), os.path.join(work, "ckpt"),
                              cms_sink(state))
    return rows, run, state


def ad_conformal(spark, sf, work):
    from storagetapper_spark.streaming import conformal as M
    feed = os.path.join(work, "feed")
    calib = _emb(spark, sf).filter(F.col("vec_id") % 2 == 0)
    rows = _write_batches(calib, feed, F.col("vec_id"))
    state = os.path.join(work, "state")

    def run():
        return _foreach_drain(_stream(spark, feed), os.path.join(work, "ckpt"),
                              lambda b, i: M.ingest_batch(spark, b, i, state))
    return rows, run, state


def ad_curation(spark, sf, work):
    from storagetapper_spark.streaming.curation import run_curation_stream
    feed = os.path.join(work, "feed")
    rows = _write_batches(_docs(spark, sf), feed, F.col("doc_id"))
    root = os.path.join(work, "root")

    def run():
        q, _stats = run_curation_stream(spark, _stream(spark, feed),
                                        root, os.path.join(work, "ckpt"))
        q.awaitTermination(600)
        return q
    return rows, run, root


def ad_importance(spark, sf, work):
    from storagetapper_spark.streaming import importance as M
    feed = os.path.join(work, "feed")
    rows = _write_batches(_docs(spark, sf), feed, F.col("doc_id"))
    state = os.path.join(work, "state")

    def run():
        return _foreach_drain(_stream(spark, feed), os.path.join(work, "ckpt"),
                              lambda b, i: M.ingest_batch(spark, b, i, state))
    return rows, run, state


def ad_reservoir(spark, sf, work):
    from storagetapper_spark.streaming import reservoir as M
    feed = os.path.join(work, "feed")
    rows = _write_batches(_docs(spark, sf), feed, F.col("doc_id"))
    state = os.path.join(work, "state")

    def run():
        return _foreach_drain(
            _stream(spark, feed), os.path.join(work, "ckpt"),
            lambda b, i: M.ingest_batch(spark, b, i, state,
                                        strata_cols=["lang"], k=64))
    return rows, run, state


def ad_target_encoding(spark, sf, work):
    from storagetapper_spark.streaming import target_encoding as M
    li = (spark.read.parquet(os.path.join(sf, "lineitem.parquet"))
          .select("l_orderkey", "l_returnflag", "l_extendedprice"))
    feed = os.path.join(work, "feed")
    rows = _write_batches(li, feed, F.col("l_orderkey"))
    state = os.path.join(work, "state")

    def run():
        return _foreach_drain(
            _stream(spark, feed), os.path.join(work, "ckpt"),
            lambda b, i: M.ingest_batch(spark, b, i, state,
                                        cat_col="l_returnflag",
                                        y_col="l_extendedprice"))
    return rows, run, state


def ad_attribution(spark, sf, work):
    from storagetapper_spark.streaming.attribution import attribution_sink
    feed = os.path.join(work, "feed")
    rows = _write_batches(_events(spark, sf), feed, F.col("user_id"))

    def run():
        q = attribution_sink(_stream(spark, feed),
                             os.path.join(work, "state"),
                             os.path.join(work, "ckpt"))
        q.awaitTermination(600)
        return q
    return rows, run, os.path.join(work, "state")


def ad_cusum(spark, sf, work):
    from storagetapper_spark.streaming.cusum import (cusum_sink,
                                                     train_baseline)
    ev = _events(spark, sf)
    cut = ev.agg(F.expr("percentile_approx(unix_seconds(ts), 0.5)")
                 ).collect()[0][0]
    base = train_baseline(ev.where(F.unix_seconds("ts") <= cut))
    live = ev.where(F.unix_seconds("ts") > cut)
    feed = os.path.join(work, "feed")
    rows = _write_batches(live, feed, F.col("user_id"))

    def run():
        q = cusum_sink(_stream(spark, feed), base,
                       os.path.join(work, "state"),
                       os.path.join(work, "ckpt"))
        q.awaitTermination(600)
        return q
    return rows, run, os.path.join(work, "state")


def ad_drift(spark, sf, work):
    from storagetapper_spark.plans.common import t
    from storagetapper_spark.streaming.drift import drift_sink, grid_counts
    li = t(spark, sf, "lineitem")

    def feats(df):
        return {"qty": F.col("l_quantity"),
                "price": F.floor(F.col("l_extendedprice") / 1000)}

    ref = grid_counts(li.filter(F.year("l_shipdate") == 1995), feats(li))
    live = li.filter(F.year("l_shipdate") == 1996)
    feed = os.path.join(work, "feed")
    rows = _write_batches(live, feed, F.col("l_orderkey"))

    def run():
        q = drift_sink(_stream(spark, feed), ref, feats,
                       os.path.join(work, "state"),
                       os.path.join(work, "ckpt"))
        q.awaitTermination(600)
        return q
    return rows, run, os.path.join(work, "state")


def ad_sketches(spark, sf, work):
    from storagetapper_spark.streaming.sketches import sketch_sink
    feed = os.path.join(work, "feed")
    rows = _write_batches(_events(spark, sf), feed, F.col("user_id"))

    def run():
        q = sketch_sink(_stream(spark, feed),
                        os.path.join(work, "state"),
                        os.path.join(work, "ckpt"))
        q.awaitTermination(600)
        return q
    return rows, run, os.path.join(work, "state")


def ad_sprt(spark, sf, work):
    from storagetapper_spark.streaming.sprt import sprt_sink
    feed = os.path.join(work, "feed")
    rows = _write_batches(_events(spark, sf), feed, F.col("user_id"))

    def run():
        q = sprt_sink(_stream(spark, feed), os.path.join(work, "state"),
                      os.path.join(work, "ckpt"))
        q.awaitTermination(600)
        return q
    return rows, run, os.path.join(work, "state")


def ad_ann_index(spark, sf, work):
    from storagetapper_spark.streaming.ann_index import ivf_ingest_sink
    emb = _emb(spark, sf)
    cents = [list(r.embedding)
             for r in emb.orderBy("vec_id").limit(8).collect()]
    feed = os.path.join(work, "feed")
    rows = _write_batches(emb, feed, F.col("vec_id"))

    def run():
        q = ivf_ingest_sink(_stream(spark, feed),
                            os.path.join(work, "idx"),
                            os.path.join(work, "ckpt"), cents)
        q.awaitTermination(600)
        return q
    return rows, run, os.path.join(work, "idx")


def ad_semantic(spark, sf, work):
    from storagetapper_spark.streaming.semantic import semantic_dedup_sink
    emb = _emb(spark, sf)
    cents = [list(r.embedding)
             for r in emb.orderBy("vec_id").limit(8).collect()]
    feed = os.path.join(work, "feed")
    rows = _write_batches(emb, feed, F.col("vec_id"))

    def run():
        q = semantic_dedup_sink(_stream(spark, feed),
                                os.path.join(work, "state"),
                                os.path.join(work, "ckpt"), cents,
                                threshold=0.92)
        q.awaitTermination(600)
        return q
    return rows, run, os.path.join(work, "state")


ADAPTERS = {
    "absorption": ad_absorption,
    "agreement": ad_agreement,
    "ann_index": ad_ann_index,
    "attribution": ad_attribution,
    "bloom": ad_bloom,
    "buffered": ad_buffered,
    "cms": ad_cms,
    "conformal": ad_conformal,
    "curation": ad_curation,
    "cusum": ad_cusum,
    "drift": ad_drift,
    "evolution": ad_evolution,
    "fanout": ad_fanout,
    "history": ad_history,
    "importance": ad_importance,
    "lifecycle": ad_lifecycle,
    "pipeline": ad_pipeline,
    "reservoir": ad_reservoir,
    "semantic": ad_semantic,
    "sketches": ad_sketches,
    "sprt": ad_sprt,
    "stateful": ad_stateful,
    "target_encoding": ad_target_encoding,
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("modules", nargs="*", default=None)
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    from storagetapper_spark.session import get_spark
    from storagetapper_spark.streaming.monitor import ProgressRecorder

    spark = get_spark("stream_bench")
    spark.sparkContext.setLogLevel("ERROR")
    rec = ProgressRecorder()
    spark.streams.addListener(rec)

    names = args.modules or list(ADAPTERS)
    results: dict[str, dict] = {}
    for name in names:
        work = tempfile.mkdtemp(prefix=f"sbench_{name}_")
        try:
            rows, run, state_dir = ADAPTERS[name](spark, args.sf, work)
            seen = set(rec.progress)
            t0 = time.time()
            q = run()
            wall = time.time() - t0
            entry = {"rows": rows, "wall_sec": round(wall, 3),
                     "rows_per_sec": round(rows / wall) if wall else None,
                     "state_bytes": _du(state_dir)}
            if q is not None:
                # the query's own progress log is complete once it has
                # stopped; the listener may not have heard of it yet
                entry["batches"] = len(q.recentProgress)
            # monitor.py telemetry for the query this adapter started
            for qid, p in rec.progress.items():
                if qid in seen:
                    continue
                for k in ("state_rows", "state_memory_bytes",
                          "conflation_ratio"):
                    if k in p:
                        entry[k] = p[k]
            results[name] = entry
            print(f"# {name}: {rows} rows in {wall:.2f}s "
                  f"({entry['rows_per_sec']} rows/s, "
                  f"state {entry['state_bytes']} B)", file=sys.stderr)
        except Exception as exc:  # noqa: BLE001 - record and continue
            results[name] = {"error": f"{type(exc).__name__}: {exc}"[:300]}
            print(f"# {name}: ERROR {exc}", file=sys.stderr)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            spark.catalog.clearCache()
    results["monitor"] = {
        "note": "measurement instrument: ProgressRecorder listener "
                "supplied batches/state_rows/state_memory_bytes above",
    }
    sfname = os.path.basename(os.path.normpath(args.sf)).replace("sf", "")
    payload = {"sf": float(sfname), "modules": results,
               "box": {"nproc": os.cpu_count(),
                       "loadavg_end": os.getloadavg(),
                       "SPARK_GRAFT_CPUS":
                           os.environ.get("SPARK_GRAFT_CPUS")}}
    out = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "STREAM_BENCH.json")
    if args.modules:  # partial run: merge into the existing artifact
        try:
            with open(out) as f:
                prev = json.load(f)
            prev["modules"].update(results)
            prev["box"] = payload["box"]
            payload = prev
        except (OSError, ValueError):
            pass
    with open(out, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    print(json.dumps({"stream_bench_total_modules": len(ADAPTERS) + 1,
                      "ok": sum(1 for r in results.values()
                                if "error" not in r)}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
