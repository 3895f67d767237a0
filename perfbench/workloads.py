"""The benchmark workloads.

Each is a closed loop driven by one client, the benchmark's own thread:
it submits the next operation only after the previous one returned.

- ``export_and_queries`` runs two parts in every round:
  ``SnapshotExport`` (``jobs.run_snapshot_job`` on ``lineitem`` once per
  codec, json, avro and msgpack, gzip files plus ``_DONE``) and
  ``OperatorQueries`` (a fixed mix of registry queries over the dedup,
  skew-guarded basket and merge operators).
- ``changelog_apply``: one long-running ``incremental_upsert_sink`` query
  over latest state seeded from a snapshot of ``orders``; change files
  land one at a time and each is followed by point reads of its keys.

A workload sets itself up (``prepare``, timed as ``setup_s``), warms,
then runs rounds of operations for the requested seconds (``measure``),
and finally checks its outputs (``check``).  With tracing on it also
runs ``boundaries``: the layers Spark fuses into one stage are called
one at a time with each output materialized, so each gets its own span.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback
from dataclasses import dataclass, field, replace

from pyspark.sql import functions as F
from pyspark.sql import types as T

import gen
import layers
import stats
from spans import (Tracer, box_cpu_s, fold_by, span_fold, span_jobs,
                   span_metrics)


@dataclass
class Ctx:
    work: str  # scratch directory of this workload
    seed: int


@dataclass
class Samples:
    """Per operation kind: wall seconds, CPU seconds and the box's steal
    seconds of every operation; plus the outcome count."""

    times: dict = field(default_factory=dict)
    cpu: dict = field(default_factory=dict)
    steal: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    batches: list = field(default_factory=list)  # changelog file numbers

    def add(self, kind: str, seconds: float, cpu: float = 0.0,
            steal: float = 0.0) -> None:
        self.times.setdefault(kind, []).append(seconds)
        self.cpu.setdefault(kind, []).append(cpu)
        self.steal.setdefault(kind, []).append(steal)

    def first(self, n: int) -> "Samples":
        """The first ``n`` samples of every kind."""
        return Samples(*({k: v[:n] for k, v in d.items()}
                         for d in (self.times, self.cpu, self.steal)))

    def only(self, kinds) -> "Samples":
        """The samples of ``kinds`` (outcome counts are not split)."""
        kinds = set(kinds)
        return Samples(*({k: v for k, v in d.items() if k in kinds}
                         for d in (self.times, self.cpu, self.steal)))

    def kind_median(self, kind: str) -> float:
        return stats.calm_median(self.times[kind], self.steal[kind])

    def kind_cpu(self, kind: str) -> float:
        return stats.calm_median(self.cpu[kind], self.steal[kind])


def materialize(df) -> tuple[int, int]:
    """Row count and an order-free hash of every column, in one action.

    A bare count lets Catalyst prune columns and whole operators; hashing
    all columns forces every value to be computed.
    """
    r = df.agg(F.count(F.lit(1)).alias("n"),
               F.bit_xor(F.xxhash64(*df.columns)).alias("h")).collect()[0]
    return int(r["n"]), int(r["h"] or 0)


def noop_write(df) -> None:
    """Run a plan to completion without writing anything."""
    df.write.format("noop").mode("overwrite").save()


def median_or_zero(xs) -> float:
    return stats.median(xs) if xs else 0.0


class Workload:
    name = ""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.spark = None
        self.clock = None  # a spans.CpuClock once the JVM is up
        self.checks_attempted = 0
        self.checks_failed = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.ctx.work, *parts)

    def check_that(self, ok: bool, what: str) -> None:
        self.checks_attempted += 1
        if not ok:
            self.checks_failed += 1
            print(f"check failed: {self.name}: {what}", file=sys.stderr)

    def run_op(self, samples: Samples, kind: str, fn) -> None:
        """Time one operation; an exception or a failed output check
        (``fn`` returning False) counts the operation as failed."""
        samples.attempted += 1
        c0 = self.clock.now() if self.clock else 0.0
        s0 = box_cpu_s()["steal"]
        t0 = time.perf_counter()
        try:
            ok = fn()
        except Exception:  # noqa: BLE001 — one failed op must not end the run
            traceback.print_exc()
            ok = False
        samples.add(kind, time.perf_counter() - t0,
                    cpu=self.clock.now() - c0 if self.clock else 0.0,
                    steal=box_cpu_s()["steal"] - s0)
        if ok is False:
            samples.failed += 1

    def checks(self) -> tuple[int, int]:
        """(attempted, failed) over the output checks run so far."""
        return self.checks_attempted, self.checks_failed

    #: rounds ``measure`` runs even when the seconds run out first
    min_rounds = 2

    def round_ops(self, tracer: Tracer) -> list:
        """One round of the workload's fixed work: (kind, operation)."""
        raise NotImplementedError

    def measure(self, tracers: list[Tracer], seconds: float,
                min_rounds: list[int] | None = None,
                stop_by: float = float("inf")) -> list[Samples]:
        """Run rounds for ``seconds``; one ``Samples`` per tracer.

        With two tracers (a traced run) rounds go untraced, traced,
        traced, untraced, ... so a JVM still warming up favours neither.
        A round starts only while one as long as the last still fits, or
        while a tracer has fewer rounds than its ``min_rounds``; after
        the time is up only those tracers run.  No round starts after
        ``stop_by`` (a ``time.perf_counter()`` value), whatever the
        minimums: the whole run has to end in bounded time.
        """
        mins = min_rounds or [self.min_rounds] * len(tracers)
        out = [Samples() for _ in tracers]
        done = [0] * len(tracers)
        deadline = time.perf_counter() + seconds
        rounds, last = 0, 0.0
        while not self.exhausted() and time.perf_counter() + last <= stop_by:
            short = [i for i, n in enumerate(done) if n < mins[i]]
            timely = time.perf_counter() + last <= deadline
            if not (short or timely):
                break
            i = (rounds + rounds // 2) % len(tracers)
            if not timely and i not in short:
                i = short[0]
            t0 = time.perf_counter()
            self.run_round(tracers[i], out[i])
            done[i] += 1
            rounds, last = rounds + 1, time.perf_counter() - t0
        return out

    def run_round(self, tracer: Tracer, s: Samples) -> None:
        for kind, op in self.round_ops(tracer):
            self.run_op(s, kind, op)

    def exhausted(self) -> bool:
        """True when the generated inputs allow no further round."""
        return False

    def round_s(self, s: Samples) -> float:
        """A round's wall time as the sum of per-operation medians."""
        return sum(s.kind_median(k) for k in s.times)

    def round_cpu_s(self, s: Samples) -> float:
        """A round's CPU seconds as the sum of per-operation medians."""
        return sum(s.kind_cpu(k) for k in s.times)

    #: per-tracer ``min_rounds`` of a traced run (untraced, traced)
    traced_min_rounds: list[int] | None = None

    def generate(self) -> None: ...
    def prepare(self, spark) -> None: ...
    def release(self) -> None: ...
    def warm(self, tracer: Tracer) -> None: ...
    def check(self) -> None: ...
    def boundaries(self, tracer: Tracer) -> None: ...
    def layer_metrics(self, tracer: Tracer, jobs, s: Samples) -> dict: ...


# --- snapshot_export ---------------------------------------------------------

CODECS = layers.CODECS
LINEITEM_PK = ["l_orderkey", "l_linenumber"]
SNAPSHOT_SCALE = gen.Scale(orders=5_000, customers=1_000, parts=2_000,
                           suppliers=100, documents=0)

_AVRO_TO_SPARK = {"long": T.LongType(), "int": T.IntegerType(),
                  "double": T.DoubleType(), "float": T.FloatType(),
                  "string": T.StringType(), "bytes": T.BinaryType(),
                  "boolean": T.BooleanType()}


def _avro_spark_schema(avsc: dict) -> T.StructType:
    def base(t):
        if isinstance(t, list):
            return base(next(x for x in t if x != "null"))
        if isinstance(t, dict):
            return base(t["type"])
        return _AVRO_TO_SPARK[t]
    return T.StructType([T.StructField(f["name"], base(f["type"]))
                         for f in avsc["fields"]])


class SnapshotExport(Workload):
    name = "snapshot_export"

    def generate(self) -> None:
        frames = gen.tables(self.ctx.seed, SNAPSHOT_SCALE)
        gen.write_tables({"lineitem": frames["lineitem"]}, self.path("data"))

    def prepare(self, spark) -> None:
        from storagetapper_spark.state import Registry, TableRegistration

        self.spark = spark
        self.registry = Registry(self.path("registry.json"))
        self.regs = {c: self.registry.register(TableRegistration(
            service="bench", cluster="local", db="tpch",
            table=f"lineitem_{c}", pk_cols=LINEITEM_PK, output_format=c))
            for c in CODECS}
        self.src = spark.read.parquet(self.path("data", "lineitem.parquet"))
        self.n_rows = self.src.count()
        self.out_root = self.path("out")
        self.manifests: dict[str, dict] = {}

    def out_dir(self, codec: str) -> str:
        return os.path.join(self.out_root, self.regs[codec].topic())

    def export(self, tracer: Tracer, codec: str) -> bool:
        from storagetapper_spark.jobs import run_snapshot_job

        with tracer.span("jobs", f"run_snapshot_job.{codec}"):
            m = run_snapshot_job(self.spark, self.registry, self.regs[codec],
                                 self.src, self.out_root)
        self.manifests[codec] = m
        return m["total_records"] == self.n_rows

    def warm(self, tracer: Tracer) -> None:
        for codec in CODECS:
            self.export(tracer, codec)

    def round_ops(self, tracer: Tracer) -> list:
        return [(c, lambda c=c: self.export(tracer, c)) for c in CODECS]

    def decoded_keys(self, codec: str):
        from storagetapper_spark.functions.avro_codec import decode_avro_binary
        from storagetapper_spark.functions.json_codec import decode_json
        from storagetapper_spark.functions.msgpack_codec import decode_msgpack

        d = self.out_dir(codec)
        if codec == "avro":
            with open(os.path.join(d, "_SCHEMA")) as f:
                avsc = json.load(f)
            rec = decode_avro_binary(self.spark.read.parquet(d), avsc,
                                     _avro_spark_schema(avsc))
            return rec.select(
                F.concat_ws("|", *[F.col(c).cast("string")
                                   for c in LINEITEM_PK]).alias("k"),
                F.col("ref_key").alias("seqno"))
        if codec == "json":
            ev = decode_json(self.spark.read.text(d))
        else:
            ev = decode_msgpack(self.spark.read.parquet(d))
        return ev.select(F.concat_ws("|", "event.Key").alias("k"),
                         F.col("event.SeqNo").alias("seqno"))

    def check(self) -> None:
        from storagetapper_spark.sinks.files import verify_manifest

        expected = _key_digest(self.src.select(
            F.concat_ws("|", *[F.col(c).cast("string")
                               for c in LINEITEM_PK]).alias("k"),
            F.lit(-1).cast("long").alias("seqno")))
        for codec in CODECS:
            v = verify_manifest(self.spark, self.out_dir(codec))
            self.check_that(v["ok"], f"{codec}: manifest {v}")
            self.check_that(
                self.manifests[codec]["total_records"] == self.n_rows,
                f"{codec}: total_records != {self.n_rows}")
            got = _key_digest(self.decoded_keys(codec))
            self.check_that(got == expected,
                            f"{codec}: decoded (pk, seqno) multiset {got} "
                            f"!= source {expected}")

    def boundaries(self, tracer: Tracer) -> None:
        """scan → range partition → encode → write → manifest, each
        materialized, the way ``run_snapshot_job`` chains them."""
        from storagetapper_spark.functions import registry as codecs
        from storagetapper_spark.functions.json_codec import encode_json
        from storagetapper_spark.schema.mysql_types import (
            struct_to_avro_schema, struct_to_table_schema)
        from storagetapper_spark.sinks.files import write_files
        from storagetapper_spark.sources.snapshot import snapshot_scan

        with tracer.span("sources", "snapshot_scan"):
            snap = snapshot_scan(self.src, pk_cols=LINEITEM_PK)
            noop_write(snap)
        par = self.spark.sparkContext.defaultParallelism
        ordered = (snap.repartitionByRange(par, *LINEITEM_PK)
                   .sortWithinPartitions(*LINEITEM_PK).persist())
        ordered.count()
        for codec in CODECS:
            kw = {}
            if codec == "avro":
                data = ordered.drop("op", "seqno", "ts", "row_key")
                kw["avro_schema"] = struct_to_avro_schema(struct_to_table_schema(
                    data.schema, "tpch", "lineitem", LINEITEM_PK))
            with tracer.span("functions", f"encode_{codec}"):
                enc = (encode_json(ordered, pk_cols=LINEITEM_PK)
                       if codec == "json"
                       else codecs.create(codec).encode(ordered, LINEITEM_PK,
                                                        **kw)).persist()
                enc.count()
            with tracer.span("sinks", f"write.{codec}") as sp:
                write_files(enc, self.path("boundary", codec),
                            fmt="text" if codec == "json" else "parquet",
                            compression="gzip", write_manifest=False)
            files = [f for f in os.listdir(self.path("boundary", codec))
                     if not f.startswith(("_", "."))]
            sp.counts = {"files": len(files), "bytes": sum(
                os.path.getsize(self.path("boundary", codec, f))
                for f in files)}
            enc.unpersist()
        ordered.unpersist()

    def layer_metrics(self, tracer: Tracer, jobs, s: Samples) -> dict:
        out = {f"snapshot.{c}.rows_per_s": self.n_rows / s.kind_median(c)
               for c in CODECS}
        out["snapshot.export_bytes_per_row"] = sum(
            sum(f["bytes"] for f in self.manifests[c]["files"].values())
            for c in CODECS) / (len(CODECS) * self.n_rows)

        gaps, shuffle, m_wall, reread = [], [], [], []
        for c in CODECS:
            for sp in tracer.named("jobs", f"run_snapshot_job.{c}"):
                js = span_jobs(sp, jobs)
                f = span_fold(sp, jobs)
                gaps.append(span_metrics(sp, f)["driver_gap_s"])
                # the only exchange in the export is the range partition
                shuffle.append(f.shuffle_write_bytes)
                # the manifest job's action is issued from sinks/files.py;
                # the write jobs' actions come from inside Spark
                man = [j for j in js
                       if j.call_site and "sinks/files.py" in j.call_site]
                wrote = sum(j.fold.output_bytes for j in js if j not in man)
                m_wall.append(sum(j.end - j.start for j in man))
                if wrote:
                    reread.append(sum(j.fold.input_bytes for j in man) / wrote)
        out["jobs.run_snapshot_job.driver_gap_s"] = median_or_zero(gaps)
        out["jobs.range_partition.shuffle_write_bytes"] = median_or_zero(
            shuffle)
        out["sinks.manifest.wall_s"] = median_or_zero(m_wall)
        out["sinks.manifest.reread_ratio"] = median_or_zero(reread)

        def last(layer: str, function: str) -> dict:
            sp = tracer.named(layer, function)[-1]
            return span_metrics(sp, span_fold(sp, jobs))

        out["sources.snapshot_scan.cpu_s"] = last(
            "sources", "snapshot_scan")["cpu_s"]
        for c in CODECS:
            m = last("functions", f"encode_{c}")
            for k in ("wall_s", "cpu_s", "offcpu_s"):
                out[f"functions.encode_{c}.{k}"] = m[k]
        writes = [tracer.named("sinks", f"write.{c}")[-1] for c in CODECS]
        out["sinks.write.wall_s"] = sum(w.wall_s for w in writes)
        out["sinks.write.output_bytes"] = sum(w.counts["bytes"]
                                              for w in writes)
        out["sinks.write.files"] = sum(w.counts["files"] for w in writes)
        return out


def _key_digest(df) -> tuple:
    """Count plus two independent order-free hashes of (k, seqno) rows:
    equal digests mean equal multisets unless hashes collide (a doubled
    row cancels in a XOR, but then another row is missing and its hash
    shows)."""
    r = df.agg(F.count(F.lit(1)),
               F.bit_xor(F.xxhash64("k", "seqno")),
               F.bit_xor(F.hash("k", "seqno"))).collect()[0]
    return tuple(r)


# --- changelog_apply ---------------------------------------------------------

ORDERS_PK = ["o_orderkey"]
CHANGELOG_SCALE = gen.Scale(orders=20_000, customers=2_000, parts=1,
                            suppliers=1, documents=0)
WARM_BATCHES = 2
MIN_BATCHES = 8
MIN_TRACED_BATCHES = 40
FEED = gen.FeedSpec(batches=WARM_BATCHES + 160,
                    events_per_batch=400)
TRACE_EVERY = 4

FEED_SCHEMA = T.StructType([
    T.StructField("o_orderkey", T.LongType()),
    T.StructField("o_custkey", T.LongType()),
    T.StructField("o_orderstatus", T.StringType()),
    T.StructField("o_totalprice", T.DoubleType()),
    T.StructField("o_orderpriority", T.StringType()),
    T.StructField("op", T.StringType()),
    T.StructField("seqno", T.LongType()),
])


class ChangelogApply(Workload):
    name = "changelog_apply"

    def generate(self) -> None:
        frames = gen.tables(self.ctx.seed, CHANGELOG_SCALE)
        self.orders = frames["orders"]
        gen.write_tables({"orders": self.orders}, self.path("data"))
        self.batches = gen.feed(self.ctx.seed, len(self.orders), FEED)
        os.makedirs(self.path("staged"), exist_ok=True)
        for i, evs in enumerate(self.batches):
            gen.write_feed_file(evs, self.path("staged", f"{i:05d}.json"))
        self.model = gen.FeedModel()
        for ev in gen.snapshot_events(self.orders):
            self.model.apply(ev)
        self.landed = 0
        self.progress: list[dict] = []

    def prepare(self, spark) -> None:
        """Seed latest state from a consistent snapshot (seqno -1), as
        ``jobs.run_table_pipeline`` does before it starts the stream."""
        from storagetapper_spark.sources.snapshot import snapshot_scan

        self.spark = spark
        orders = spark.read.parquet(self.path("data", "orders.parquet"))
        snap = snapshot_scan(orders, pk_cols=ORDERS_PK).select(
            *gen.STATE_COLS)
        snap.write.mode("overwrite").parquet(self.path("state", "current"))
        spark.read.parquet(self.path("state", "current")).count()
        self.query = None

    def start_stream(self) -> None:
        from storagetapper_spark.streaming.pipeline import (
            incremental_upsert_sink, read_changelog_stream)

        os.makedirs(self.path("feed"), exist_ok=True)
        self.query = incremental_upsert_sink(
            read_changelog_stream(self.spark, self.path("feed"), FEED_SCHEMA),
            self.path("state"), self.path("ckpt"), pk_cols=ORDERS_PK,
            trigger_available_now=False)

    def stop_stream(self) -> None:
        if self.query is not None:
            self.progress.extend(self.query.recentProgress)
            self.query.stop()
            self.query = None

    def release(self) -> None:
        self.stop_stream()

    def land(self) -> list[dict]:
        """Move the next staged file into the feed (atomic rename) and
        wait until its micro-batch has committed."""
        i = self.landed
        name = f"{i:05d}.json"
        os.rename(self.path("staged", name), self.path("feed", name))
        self.landed += 1
        self.query.processAllAvailable()
        evs = self.batches[i]
        for ev in sorted(evs, key=lambda e: e["seqno"]):
            self.model.apply(ev)
        return evs

    def point_read(self, tracer: Tracer, keys: list[int]) -> bool:
        from storagetapper_spark.streaming.pipeline import read_state

        with tracer.span("streaming", "read_state"):
            rows = (read_state(self.spark, self.path("state"))
                    .filter(F.col("o_orderkey").isin(keys)).collect())
        got = {r["o_orderkey"]: r.asDict() for r in rows}
        for k in keys:
            want = self.model.visible(k)
            if (want is None) != (k not in got):
                return False
            if want is not None and any(got[k][c] != want[c]
                                        for c in gen.STATE_COLS):
                return False
        return True

    def warm(self, tracer: Tracer) -> None:
        self.start_stream()
        for _ in range(WARM_BATCHES):
            evs = self.land()
            self.point_read(tracer, sorted({e["o_orderkey"] for e in evs}))

    min_rounds = MIN_BATCHES

    def exhausted(self) -> bool:
        return self.landed >= len(self.batches)

    def run_round(self, tracer: Tracer, s: Samples) -> None:
        """One file: land it and wait for its commit, then read its keys."""
        if self.query is None:
            self.start_stream()
        keys: list[int] = []

        def commit():
            with tracer.span("streaming", "commit"):
                evs = self.land()
            keys.extend(sorted({e["o_orderkey"] for e in evs}))

        self.run_op(s, "commit", commit)
        self.run_op(s, "read", lambda: self.point_read(tracer, keys))
        if tracer.enabled and len(s.times["commit"]) % TRACE_EVERY == 1:
            self.trace_batch(tracer, self.landed - 1)
        s.batches.append(self.landed - 1)

    # commit_p75_s needs ten traced samples beyond it
    traced_min_rounds = [MIN_BATCHES, MIN_TRACED_BATCHES]

    def trace_batch(self, tracer: Tracer, i: int) -> None:
        """The layers inside one micro-batch, called on their own: the
        changelog file parse and the max-seqno merge against state."""
        from storagetapper_spark.operators.merge import latest_state

        with tracer.span("sources", "changelog_read"):
            batch = self.spark.read.schema(FEED_SCHEMA).json(
                self.path("feed", f"{i:05d}.json"))
            noop_write(batch)
        cur = self.spark.read.parquet(self.path("state", "current"))
        with tracer.span("operators", "latest_state"):
            resolved = latest_state(batch, ORDERS_PK, drop_deleted=False)
            noop_write(latest_state(
                cur.unionByName(resolved.select(*cur.columns)), ORDERS_PK,
                drop_deleted=False))

    def check(self) -> None:
        from storagetapper_spark.operators.merge import snapshot_changelog_merge
        from storagetapper_spark.sources.snapshot import snapshot_scan
        from storagetapper_spark.streaming.pipeline import read_state

        self.stop_stream()
        state = read_state(self.spark, self.path("state")).select(
            *gen.STATE_COLS)
        orders = self.spark.read.parquet(self.path("data", "orders.parquet"))
        snap = snapshot_scan(orders, pk_cols=ORDERS_PK).select(*gen.STATE_COLS)
        log = self.spark.read.schema(FEED_SCHEMA).json(self.path("feed"))
        merged = snapshot_changelog_merge(snap, log, ORDERS_PK).select(
            *gen.STATE_COLS)
        got, want = materialize(state), materialize(merged)
        self.check_that(got == want,
                        f"final state {got} != snapshot_changelog_merge {want}")
        self.check_that(got[0] == len(self.model.live_rows()),
                        f"final state rows {got[0]} != model "
                        f"{len(self.model.live_rows())}")

    def layer_metrics(self, tracer: Tracer, jobs, s: Samples) -> dict:
        out = {
            "changelog.events_per_s": FEED.events_per_batch
            / s.kind_median("commit"),
            "changelog.commit_p50_s": s.kind_median("commit"),
            "changelog.commit_p75_s": stats.percentile(
                s.times["commit"], 75) or 0.0,
            "changelog.state_read_p50_s": s.kind_median("read"),
        }
        reads = [span_metrics(sp, span_fold(sp, jobs))
                 for sp in tracer.named("sources", "changelog_read")]
        merges = [span_metrics(sp, span_fold(sp, jobs))
                  for sp in tracer.named("operators", "latest_state")]
        out["sources.changelog_read.cpu_s"] = median_or_zero(
            [m["cpu_s"] for m in reads])
        out["operators.latest_state.cpu_s"] = median_or_zero(
            [m["cpu_s"] for m in merges])
        out["operators.latest_state.shuffle_bytes"] = median_or_zero(
            [m["shuffle_bytes"] for m in merges])

        # one file is one micro-batch; keep the traced rounds' batches
        mine = set(s.batches)
        prog = [p for p in self.progress
                if p.get("numInputRows", 0) > 0 and p["batchId"] in mine]
        for phase in ("latestOffset", "getBatch", "queryPlanning", "addBatch",
                      "walCommit", "commitOffsets"):
            out[f"streaming.trigger.{phase}_ms"] = median_or_zero(
                [p["durationMs"].get(phase, 0) for p in prog])
        # foreachBatch jobs carry the stream's batch number in their
        # description ("... batch = N")
        def batch_of(j):
            d = j.description or ""
            if "batch = " not in d:
                return None
            b = int(d.rsplit("batch = ", 1)[1].split()[0])
            return str(b) if b in mine else None
        per_batch = fold_by(jobs, batch_of)
        out["streaming.batch.jobs"] = median_or_zero(
            [f.jobs for f in per_batch.values()])
        out["streaming.batch.tasks"] = median_or_zero(
            [f.tasks for f in per_batch.values()])
        written = sum(f.output_records for f in per_batch.values())
        events = len(per_batch) * FEED.events_per_batch
        out["streaming.state_rows_written_per_event"] = (
            written / events if events else 0.0)
        cur = self.path("state", "current")
        out["streaming.state_bytes"] = sum(
            os.path.getsize(os.path.join(cur, f)) for f in os.listdir(cur)
            if not f.startswith(("_", ".")))
        return out


# --- operator_queries --------------------------------------------------------

QUERIES = layers.QUERIES
OPS_SCALE = gen.Scale(orders=1_500, customers=150, parts=200, suppliers=10,
                      documents=500)
ORACLE_TABLES = ["customer", "orders", "lineitem", "documents"]


class OperatorQueries(Workload):
    name = "operator_queries"

    def generate(self) -> None:
        frames = gen.tables(self.ctx.seed, OPS_SCALE)
        gen.write_tables({k: frames[k] for k in ORACLE_TABLES},
                         self.path("data"))

    def prepare(self, spark) -> None:
        self.spark = spark
        self.sf = self.path("data")
        for t in ORACLE_TABLES:
            spark.read.parquet(os.path.join(self.sf, f"{t}.parquet")).count()

    def run_query(self, tracer: Tracer, q: str) -> tuple[int, int]:
        from storagetapper_spark.plans.registry import QUERIES as REGISTRY

        with tracer.span("plans", q):
            r = materialize(REGISTRY[q](self.spark, self.sf))
        self.spark.catalog.clearCache()
        return r

    def warm(self, tracer: Tracer) -> None:
        """One pass of the mix, each result checked against the query's
        DuckDB oracle."""
        import oracle
        from storagetapper_spark.plans.registry import ORACLES
        from storagetapper_spark.plans.registry import QUERIES as REGISTRY

        self.rows, self.reference = {}, {}
        for q in QUERIES:
            df = REGISTRY[q](self.spark, self.sf)
            pdf = df.toPandas()
            self.spark.catalog.clearCache()
            ok, why = oracle.matches(df.columns, pdf, ORACLES[q], self.sf,
                                     ORACLE_TABLES)
            self.check_that(ok, f"{q}: {why}")
            self.rows[q] = len(pdf)

    def timed_query(self, tracer: Tracer, q: str) -> bool:
        """Run ``q`` once; its row count must equal the oracle-checked
        result's, and its hash the hash of the first timed repetition."""
        got = self.run_query(tracer, q)
        want = self.reference.setdefault(q, got)
        return got == want and got[0] == self.rows[q]

    def round_ops(self, tracer: Tracer) -> list:
        return [(q, lambda q=q: self.timed_query(tracer, q)) for q in QUERIES]

    def check(self) -> None:
        pass  # every timed repetition is checked as it runs

    def layer_metrics(self, tracer: Tracer, jobs, s: Samples) -> dict:
        out = {}
        for q in QUERIES:
            per = [span_metrics(sp, span_fold(sp, jobs))
                   for sp in tracer.named("plans", q)]
            for k in layers.PLAN_FIELDS:
                out[f"plans.{q}.{k}"] = median_or_zero([m[k] for m in per])
        return out


# --- export_and_queries ------------------------------------------------------

class ExportAndQueries(Workload):
    """The batch side of the engine: a round is one snapshot export per
    codec followed by one pass of the operator query mix.  Neither part
    touches streaming; ``changelog_apply`` touches neither part."""

    name = "export_and_queries"

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        self.parts = [
            SnapshotExport(replace(ctx, work=self.path("snapshot"))),
            OperatorQueries(replace(ctx, work=self.path("queries")))]

    def checks(self) -> tuple[int, int]:
        done = [p.checks() for p in self.parts]
        return sum(a for a, _ in done), sum(f for _, f in done)

    def round_ops(self, tracer: Tracer) -> list:
        return [op for p in self.parts for op in p.round_ops(tracer)]

    def generate(self) -> None:
        for p in self.parts:
            p.generate()

    def prepare(self, spark) -> None:
        self.spark = spark
        for p in self.parts:
            p.prepare(spark)

    def warm(self, tracer: Tracer) -> None:
        for p in self.parts:
            p.warm(tracer)

    def check(self) -> None:
        for p in self.parts:
            p.check()

    def boundaries(self, tracer: Tracer) -> None:
        for p in self.parts:
            p.boundaries(tracer)

    def layer_metrics(self, tracer: Tracer, jobs, s: Samples) -> dict:
        out = {}
        for p in self.parts:
            mine = s.only(k for k, _ in p.round_ops(tracer))
            out.update(p.layer_metrics(tracer, jobs, mine))
        return out


WORKLOADS = {w.name: w for w in (ExportAndQueries, ChangelogApply)}
