"""Seeded input generators for the benchmark.

Everything the program under test receives is made here from the
``--seed`` argument, so the same seed gives byte-identical inputs:

- ``orders_base``: the backfill source table (the four columns of the
  ``public.orders`` relation below);
- ``synth_changes``: a pgoutput WAL change stream over that table with
  an UPDATE/INSERT/DELETE mix and skewed keys;
- ``replay``: the table state those changes leave, applied in plain
  Python;
- ``encode_txns``: the same changes as pgoutput frames, built with the
  ``streaming.decoder.encode_*`` functions;
- ``analytics_tables``: the four fixture tables the analytics query
  list reads (``orders``, ``events``, ``documents``, ``embeddings``),
  shaped like the sf0.1 fixtures.

Only the standard library and numpy/pyarrow are used for the data; the
replay is plain Python and shares no code with the program.
"""

from __future__ import annotations

import datetime
import random
from dataclasses import dataclass, field

from pgsink_spark.streaming.decoder import (
    Relation,
    RelationColumn,
    encode_begin,
    encode_commit,
    encode_delete,
    encode_insert,
    encode_relation,
    encode_update,
)

# Same relation shape as tools/cdc_probe.py: bigint key, bigint, text,
# float8 — one of each text parser family on the decode path.
ORDERS_REL = Relation(
    oid=77001,
    namespace="public",
    name="orders",
    replica_identity=0,
    columns=(
        RelationColumn(key=True, name="o_orderkey", type_oid=20, modifier=-1),
        RelationColumn(key=False, name="o_custkey", type_oid=20, modifier=-1),
        RelationColumn(key=False, name="o_orderstatus", type_oid=25, modifier=-1),
        RelationColumn(key=False, name="o_totalprice", type_oid=701, modifier=-1),
    ),
)
ORDERS_COLS = [c.name for c in ORDERS_REL.columns]

# WAL commit times start well after any import timestamp
# (``current_timestamp()`` at import time), so a captured change always
# outranks the backfilled image of its key in the compaction view.
WAL_EPOCH = datetime.datetime(2030, 1, 1, tzinfo=datetime.timezone.utc)
LSN_STEP = 100
N_CUST = 15_000
MIX = (0.70, 0.20, 0.10)  # UPDATE / INSERT / DELETE
STATUSES = ("O", "F", "P")


def _row(rng: random.Random, key: int) -> tuple:
    return (
        key,
        rng.randrange(N_CUST),
        STATUSES[rng.randrange(3)],
        round(rng.uniform(1000.0, 500000.0), 2),
    )


def orders_base(seed: int, n: int) -> list[tuple]:
    """Backfill rows for keys ``0 .. n-1`` (same order as the key)."""
    rng = random.Random(f"orders-base/{seed}")
    return [_row(rng, k) for k in range(n)]


@dataclass
class Txn:
    """One generated transaction: ``ops`` are (op, key, row) with op in
    I/U/D; ``row`` is the new image (None for D)."""

    lsn: int
    ts: datetime.datetime
    ops: list[tuple[str, int, tuple]] = field(default_factory=list)


def _ts(lsn: int) -> datetime.datetime:
    """Commit time of the transaction at ``lsn``: 1 ms per transaction."""
    return WAL_EPOCH + datetime.timedelta(milliseconds=lsn // LSN_STEP)


def insert_txns(rows: list[tuple], per_txn: int, first_lsn: int = LSN_STEP) -> list[Txn]:
    """``rows`` captured as INSERT transactions of ``per_txn`` rows."""
    return [
        Txn(first_lsn + i * LSN_STEP, _ts(first_lsn + i * LSN_STEP),
            [("I", r[0], r) for r in rows[j:j + per_txn]])
        for i, j in enumerate(range(0, len(rows), per_txn))
    ]


def replay(base: list[tuple], txns: list[Txn]) -> dict[int, tuple]:
    """Table state after applying ``txns`` in order to ``base``: the
    independent expectation every compaction view is checked against."""
    state = {r[0]: r for r in base}
    for t in txns:
        for op, k, row in t.ops:
            if op == "D":
                del state[k]
            else:
                state[k] = row
    return state


class _LiveKeys:
    """Live key set with O(1) uniform sampling and removal."""

    def __init__(self, keys):
        self.keys = list(keys)
        self.pos = {k: i for i, k in enumerate(self.keys)}

    def __contains__(self, k: int) -> bool:
        return k in self.pos

    def __len__(self) -> int:
        return len(self.keys)

    def add(self, k: int) -> None:
        self.pos[k] = len(self.keys)
        self.keys.append(k)

    def remove(self, k: int) -> None:
        i = self.pos.pop(k)
        last = self.keys.pop()
        if last != k:
            self.keys[i] = last
            self.pos[last] = i

    def uniform(self, rng: random.Random) -> int:
        return self.keys[rng.randrange(len(self.keys))]


def synth_changes(
    seed: int,
    base: list[tuple],
    n_txns: int,
    txn_rows: tuple[int, int],
    hot_keys: int,
    hot_share: float,
    first_lsn: int = LSN_STEP,
    stream: str = "wal",
) -> list[Txn]:
    """Seeded change stream over ``base`` (rows keyed by column 0).

    Ops are UPDATE/INSERT/DELETE in the ``MIX`` shares. An UPDATE or
    DELETE picks a key among the ``hot_keys`` lowest keys with
    probability ``hot_share`` (quadratically skewed towards key 0),
    otherwise a uniformly random live key, so hot keys carry many
    versions. An INSERT re-inserts a deleted key half the time, else
    takes a fresh key above every existing one. Each of the ``n_txns``
    transactions holds a uniform ``txn_rows`` range of rows. Every op is
    valid against the table state before it (no update or delete of a
    missing key, no duplicate insert).
    """
    rng = random.Random(f"{stream}/{seed}")
    live = _LiveKeys(r[0] for r in base)
    dead: list[int] = []
    next_key = max(live.keys, default=-1) + 1
    p_upd, p_ins, _p_del = MIX
    txns: list[Txn] = []
    lsn = first_lsn
    for _ in range(n_txns):
        txn = Txn(lsn, _ts(lsn))
        for _ in range(rng.randint(*txn_rows)):
            u = rng.random()
            if u >= p_upd and u < p_upd + p_ins or len(live) < 2:
                if dead and rng.random() < 0.5:
                    k = dead.pop(rng.randrange(len(dead)))
                else:
                    k, next_key = next_key, next_key + 1
                live.add(k)
                txn.ops.append(("I", k, _row(rng, k)))
                continue
            k = int(hot_keys * rng.random() ** 2)
            if rng.random() >= hot_share or k not in live:
                k = live.uniform(rng)
            if u < p_upd:
                txn.ops.append(("U", k, _row(rng, k)))
            else:
                txn.ops.append(("D", k, None))
                live.remove(k)
                dead.append(k)
        txns.append(txn)
        lsn += LSN_STEP
    return txns


def _text(row: tuple) -> tuple:
    return tuple(str(v).encode() for v in row)


def encode_txn(txn: Txn, with_relation: bool = False) -> list[bytes]:
    """pgoutput frames of one transaction (Begin … Commit)."""
    oid = ORDERS_REL.oid
    frames = [encode_begin(txn.lsn, txn.ts, txn.lsn // LSN_STEP)]
    if with_relation:
        frames.append(encode_relation(ORDERS_REL))
    for op, k, row in txn.ops:
        if op == "I":
            frames.append(encode_insert(oid, _text(row)))
        elif op == "U":
            frames.append(encode_update(oid, _text(row)))
        else:
            key = (str(k).encode(), None, None, None)
            frames.append(encode_delete(oid, key=key))
    frames.append(encode_commit(0, txn.lsn, txn.lsn + 1, txn.ts))
    return frames


def encode_txns(txns: list[Txn]) -> list[bytes]:
    """Frames of a whole change stream; the first txn announces the
    relation, as a slot does before the first change to a table."""
    out: list[bytes] = []
    for i, t in enumerate(txns):
        out.extend(encode_txn(t, with_relation=i == 0))
    return out


# ----------------------------------------------------------------------
# Analytics fixture tables (sf0.1 shapes; see FIXTURES.md section B).

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
LANGS = ("en", "en", "en", "de", "fr", "es", "zh")


def analytics_tables(seed: int, scale: float = 0.1) -> dict:
    """pyarrow Tables for the analytics query list at ``scale``."""
    import numpy as np
    import pyarrow as pa

    rs = np.random.default_rng([seed, 0xA11])
    n_orders = int(1_500_000 * scale)
    n_events = int(1_000_000 * scale)
    n_docs = int(50_000 * scale)
    n_vecs = int(20_000 * scale)

    day0 = np.datetime64("1995-01-01", "us")
    days = rs.integers(0, 2405, n_orders).astype("timedelta64[D]")
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
            "o_custkey": pa.array(rs.integers(0, n_orders // 10, n_orders)),
            "o_orderstatus": pa.array(np.array(STATUSES)[rs.integers(0, 3, n_orders)]),
            "o_totalprice": pa.array(np.round(rs.uniform(1000, 500000, n_orders), 2)),
            "o_orderdate": pa.array(day0 + days.astype("timedelta64[us]")),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rs.integers(0, 5, n_orders)]),
        }
    )

    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    gaps = rs.integers(1, 2 * 30 * 86_400_000_000 // n_events, n_events)
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ts0 + np.cumsum(gaps).astype("timedelta64[us]")),
            "user_id": pa.array(rs.integers(0, n_events // 66, n_events)),
            "event_type": pa.array(np.array(EVENT_TYPES)[rs.integers(0, 5, n_events)]),
            "value": pa.array(np.round(rs.uniform(0, 200, n_events), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rs.integers(0, 100, n_events)]),
        }
    )

    # documents: random word strings; ~2% are near-copies of an earlier
    # document (one appended marker word) so the dedup queries have
    # real duplicate clusters to find
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rs.random() < 0.02:
            texts.append(texts[int(rs.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rs.integers(0, len(vocab), int(rs.integers(10, 101)))]))
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[rs.integers(0, len(LANGS), n_docs)]),
            "source": pa.array([f"src{s}" for s in rs.integers(0, 20, n_docs)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )

    centers = rs.normal(0, 0.2, (10, 64))
    labels = rs.integers(0, 10, n_vecs)
    vecs = (centers[labels] + rs.normal(0, 0.05, (n_vecs, 64))).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
    return {
        "orders": orders,
        "events": events,
        "documents": documents,
        "embeddings": embeddings,
    }
