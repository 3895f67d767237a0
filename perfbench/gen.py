"""Seeded input generators for the benchmark.

Everything here is a pure function of the seed: the same seed gives the
same tables and the same changelog feed.  Tables follow the shapes of the
engine's TPC-H-style fixtures (column names and physical types match, so
the registry queries run on them unchanged); the changelog feed carries
the event mix the streaming path has to get right: inserts, updates as
delete+insert pairs, deletes, a hot-key share, out-of-order seqnos inside
a file and stale redeliveries.

``FeedModel`` is the benchmark's own oracle for the changelog: a plain
dict applying max-seqno-wins event by event.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("scan column window order sort part agg value line key join merge "
         "group query a vector hash slow stream filter fast the batch spark "
         "table small data big customer row").split()
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["cold", "small", "large", "red", "blue", "steel", "bright",
            "dark", "light", "heavy"]
PART_NOUN = ["widget", "bolt", "gear", "valve", "panel", "spring"]
PART_TYPES = ["ECONOMY", "PROMO", "STANDARD", "LARGE", "MEDIUM", "SMALL"]

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_DAY_US = 86_400_000_000


def _dates(rng: np.random.Generator, n: int, days: int) -> np.ndarray:
    return _EPOCH_1995 + rng.integers(0, days, n) * np.timedelta64(_DAY_US, "us")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


@dataclass(frozen=True)
class Scale:
    """Row counts of one generated dataset."""

    orders: int
    customers: int
    parts: int
    suppliers: int
    documents: int


def tables(seed: int, scale: Scale) -> dict[str, pd.DataFrame]:
    """The star-schema tables the workloads read, plus ``documents``, as
    pandas frames."""
    rng = np.random.default_rng(seed)
    n_o, n_c, n_p = scale.orders, scale.customers, scale.parts

    customer = pd.DataFrame({
        "c_custkey": np.arange(n_c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": rng.integers(0, 25, n_c).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
        "c_mktsegment": rng.choice(SEGMENTS, n_c)})
    part = pd.DataFrame({
        "p_partkey": np.arange(n_p, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_p),
                                              rng.choice(PART_NOUN, n_p))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_p)],
        "p_type": rng.choice(PART_TYPES, n_p),
        "p_size": rng.integers(1, 51, n_p).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_p) % 200) * 0.1, 2)})
    orders = pd.DataFrame({
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": rng.integers(0, n_c, n_o).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_o, p=[0.49, 0.49, 0.02]),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_o),
        "o_orderdate": _dates(rng, n_o, 2400),
        "o_orderpriority": rng.choice(PRIORITIES, n_o)})
    # 1..7 lines per order; (l_orderkey, l_linenumber) is the primary key
    lines = rng.integers(1, 8, n_o)
    okey = np.repeat(orders["o_orderkey"].to_numpy(), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    n_l = len(okey)
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    partkey = rng.integers(0, n_p, n_l).astype(np.int64)
    lineitem = pd.DataFrame({
        "l_orderkey": okey,
        "l_partkey": partkey,
        "l_suppkey": rng.integers(0, scale.suppliers, n_l).astype(np.int64),
        "l_linenumber": (np.arange(n_l) - starts + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900.0 + (partkey % 200) * 0.1
                                           + rng.uniform(0, 1200, n_l)), 2),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_l),
        "l_linestatus": rng.choice(["F", "O"], n_l),
        "l_shipdate": _dates(rng, n_l, 2500)})
    return {"customer": customer, "part": part, "orders": orders,
            "lineitem": lineitem, "documents": documents(rng, scale.documents)}


def documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Bag-of-words documents; about one in twelve is a near-duplicate of
    an earlier one (same words, one word changed, ``dup`` appended), so
    the dedup operators find real pairs."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.08:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(WORDS))
            texts.append(" ".join(words + ["dup"]))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 90)))))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def write_tables(frames: dict[str, pd.DataFrame], out_dir: str) -> None:
    """One ``<name>.parquet`` per table, the layout the registry reads."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in frames.items():
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                       os.path.join(out_dir, f"{name}.parquet"))


# --- changelog feed ---------------------------------------------------------

#: Columns of the ``orders`` state table and of every feed event.
STATE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
              "o_orderpriority", "op", "seqno"]


@dataclass
class FeedModel:
    """Latest state under max-seqno-wins, applied one event at a time.

    ``rows[key]`` is ``(seqno, op, event)``; deleted keys keep their
    tombstone so a stale insert can never resurrect them.
    """

    rows: dict[int, tuple[int, str, dict]] = field(default_factory=dict)

    def apply(self, ev: dict) -> None:
        key, s = ev["o_orderkey"], ev["seqno"]
        cur = self.rows.get(key)
        # a redelivered copy repeats its event's seqno and changes
        # nothing; 'insert' > 'delete' breaks any other tie as the engine
        # does
        if cur is None or (s, ev["op"]) > (cur[0], cur[1]):
            self.rows[key] = (s, ev["op"], ev)

    def visible(self, key: int) -> dict | None:
        """What a consumer read of ``key`` returns (None when absent)."""
        cur = self.rows.get(key)
        return None if cur is None or cur[1] == "delete" else cur[2]

    def live_rows(self) -> list[dict]:
        return [ev for _, op, ev in self.rows.values() if op != "delete"]


def snapshot_events(orders: pd.DataFrame) -> list[dict]:
    """The snapshot as the model sees it: every row an insert at seqno -1."""
    recs = orders[STATE_COLS[:-2]].to_dict("records")
    return [{**{k: (int(v) if k in ("o_orderkey", "o_custkey") else v)
                for k, v in r.items()}, "op": "insert", "seqno": -1}
            for r in recs]


@dataclass(frozen=True)
class FeedSpec:
    batches: int
    events_per_batch: int
    hot_keys: int = 16
    hot_share: float = 0.2
    stale_share: float = 0.05
    delete_share: float = 0.1
    insert_share: float = 0.2


def feed(seed: int, n_keys: int, spec: FeedSpec) -> list[list[dict]]:
    """``spec.batches`` files of change events over keys ``0..n_keys-1``
    (new keys are inserted above that range).

    Seqnos increase with generation order; each file is shuffled, so
    seqnos arrive out of order within a batch.  Updates are a delete and
    an insert of the same key at consecutive seqnos.  Redeliveries repeat
    an event from an earlier file with its original seqno.
    """
    rng = random.Random(seed ^ 0x5EED)
    seqno = 0
    next_new = n_keys
    hot = rng.sample(range(n_keys), spec.hot_keys)
    history: list[dict] = []
    out: list[list[dict]] = []
    p_delete = spec.delete_share / (1 - spec.insert_share - spec.stale_share)

    def row(key: int, op: str) -> dict:
        nonlocal seqno
        ev = {"o_orderkey": key,
              "o_custkey": rng.randrange(1 << 20),
              "o_orderstatus": rng.choice("FOP"),
              "o_totalprice": round(rng.uniform(1000, 500000), 2),
              "o_orderpriority": rng.choice(PRIORITIES),
              "op": op, "seqno": seqno}
        seqno += 1
        return ev

    for _ in range(spec.batches):
        evs: list[dict] = []
        while len(evs) < spec.events_per_batch:
            u = rng.random()
            if history and u < spec.stale_share:
                evs.append(dict(rng.choice(history)))
            elif u < spec.stale_share + spec.insert_share:
                evs.append(row(next_new, "insert"))
                next_new += 1
            else:
                key = (rng.choice(hot) if rng.random() < spec.hot_share
                       else rng.randrange(next_new))
                evs.append(row(key, "delete"))
                if rng.random() >= p_delete:
                    # an update: the insert half, one seqno after the delete
                    evs.append(row(key, "insert"))
        history.extend(evs)
        rng.shuffle(evs)
        out.append(evs)
    return out


def write_feed_file(events: list[dict], path: str) -> None:
    """Newline-JSON, the changelog stream's file format."""
    with open(path, "w") as f:
        for ev in events:
            f.write(json.dumps(ev, separators=(",", ":")))
            f.write("\n")
