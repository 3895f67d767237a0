"""Custom stateful streaming operator: per-key CDC conflation.

The reference streams every binlog event downstream (changelog/mysql.go
produceRow — one output per input).  At 100 TB-scale fan-in, hot keys
produce event storms; the standard mitigation is **conflation**: within
each micro-batch emit only the latest (max-seqno) event per key, while
keeping per-key state across batches so a replayed or late older event
can never regress the emitted image (the reference's seqno-idempotence
invariant, SURVEY §4.3, in streaming form).

Spark has no built-in for this — dropDuplicates keeps the *first*
arrival, not the max-seqno winner — so this is the
``applyInPandasWithState`` surface: user-defined per-group state with
processing-time TTL eviction bounding state size (the analog of the
reference's offset-window bounded redelivery, pipe/kafka.go:43-53).

State per key: (seqno, op, value columns) of the best event seen.
Output per key per trigger: one conflated row + how many raw events it
absorbed.  A key idle longer than ``ttl_ms`` is forgotten on its next
event.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState


def conflate_cdc_tws(stream: DataFrame, pk_cols: list[str],
                     value_cols: list[str], seqno_col: str = "seqno",
                     op_col: str = "op",
                     ttl_ms: int | None = None) -> DataFrame:
    """``transformWithStateInPandas`` form of :func:`conflate_cdc` —
    Spark 4's successor stateful API: typed state variables (ValueState)
    with optional per-state TTL, instead of one opaque tuple.  Requires
    the RocksDB state store provider
    (``spark.sql.streaming.stateStore.providerClass``).  Same contract:
    ≤1 output row per key per trigger, max-seqno wins, late events never
    regress."""
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    pk_fields = [stream.schema[c] for c in pk_cols]
    val_fields = [stream.schema[c] for c in value_cols]
    state_schema = T.StructType(
        [T.StructField("seqno", T.LongType()), T.StructField("op", T.StringType())]
        + [T.StructField(f.name, f.dataType) for f in val_fields])
    out_schema = T.StructType(
        [T.StructField(f.name, f.dataType) for f in pk_fields]
        + list(state_schema.fields)
        + [T.StructField("n_conflated", T.LongType())])

    class Conflator(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            ttl = int(ttl_ms) if ttl_ms is not None else None
            self.best = handle.getValueState("best", state_schema, ttl)

        def handleInputRows(self, key, rows, timerValues):
            best = tuple(self.best.get()) if self.best.exists() else None
            n = 0
            for pdf in rows:
                if not len(pdf):
                    continue
                n += len(pdf)
                i = pdf[seqno_col].idxmax()
                row = pdf.loc[i]
                if best is None or int(row[seqno_col]) >= int(best[0]):
                    best = (int(row[seqno_col]), str(row[op_col]),
                            *(row[c] for c in value_cols))
            if n == 0:
                return
            self.best.update(best)
            out = {f.name: [k] for f, k in zip(pk_fields, key)}
            out["seqno"], out["op"] = [best[0]], [best[1]]
            for c, v in zip(value_cols, best[2:]):
                out[c] = [v]
            out["n_conflated"] = [n]
            yield pd.DataFrame(out)

        def close(self) -> None:
            pass

    return (stream.groupBy(*pk_cols)
                  .transformWithStateInPandas(Conflator(),
                                              outputStructType=out_schema,
                                              outputMode="Update",
                                              timeMode="None"))


def conflate_cdc(stream: DataFrame, pk_cols: list[str],
                 value_cols: list[str], seqno_col: str = "seqno",
                 op_col: str = "op",
                 ttl_ms: int | None = None) -> DataFrame:
    """Conflate a CDC stream to ≤1 output row per key per trigger.

    Emitted row = max-seqno event across (this batch ∪ remembered
    state); ties/older events never downgrade.  ``n_conflated`` counts
    the raw events absorbed this trigger (monitoring: conflation ratio
    = input rows / output rows).

    TTL eviction is LAZY (r11 perf fix): the state row carries its
    last-touch processing time and a key idle past ``ttl_ms`` is
    forgotten on its NEXT event, so the plan uses ``NoTimeout`` and an
    ``availableNow`` drain terminates when the data is drained.  A
    ``ProcessingTimeTimeout`` form kept a registered timeout on every
    key, and Spark keeps scheduling micro-batches under availableNow
    until every registered timeout has fired — measured: a 4-row drain
    with a 1 h TTL was STILL running after 300 s and ~150 empty
    micro-batches.  An idle key's state row stays in the store until
    that key's next event.
    """
    pk_fields = [stream.schema[c] for c in pk_cols]
    val_fields = [stream.schema[c] for c in value_cols]

    state_schema = T.StructType(
        [T.StructField("seqno", T.LongType()), T.StructField("op", T.StringType())]
        + [T.StructField(f.name, f.dataType) for f in val_fields]
        + [T.StructField("touched_ms", T.LongType())])
    out_schema = T.StructType(
        [T.StructField(f.name, f.dataType) for f in pk_fields]
        + [T.StructField("seqno", T.LongType()), T.StructField("op", T.StringType())]
        + [T.StructField(f.name, f.dataType) for f in val_fields]
        + [T.StructField("n_conflated", T.LongType())])

    def conflate(key, pdf_iter, state: GroupState):
        import pandas as pd

        now_ms = state.getCurrentProcessingTimeMs()
        last = tuple(state.get) if state.exists else None
        # lazy eviction: a key idle past the TTL starts over
        live = last and (ttl_ms is None or now_ms - last[-1] <= ttl_ms)
        best = last[:-1] if live else None
        n = 0
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            n += len(pdf)
            i = pdf[seqno_col].idxmax()
            row = pdf.loc[i]
            if best is None or int(row[seqno_col]) >= int(best[0]):
                best = (int(row[seqno_col]), str(row[op_col]),
                        *(row[c] for c in value_cols))
        if n == 0:
            return
        state.update((*best, now_ms))
        out = {f.name: [k] for f, k in zip(pk_fields, key)}
        out["seqno"], out["op"] = [best[0]], [best[1]]
        for c, v in zip(value_cols, best[2:]):
            out[c] = [v]
        out["n_conflated"] = [n]
        yield pd.DataFrame(out)

    return (stream.groupBy(*pk_cols)
                  .applyInPandasWithState(conflate, out_schema, state_schema,
                                          "update", "NoTimeout"))
