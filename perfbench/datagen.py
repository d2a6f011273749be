"""Seeded input generator for the benchmark.

Pure numpy + pyarrow: no Spark, so generation stays outside every timed
phase.  The same seed gives byte-identical tables and event files.

Tables follow the column names of the package's catalog (``customer``,
``orders``, ``lineitem``, ``documents``) but carry only the columns the
recommender reads.  Events follow ``streaming.events.EVENT_SCHEMA``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
LIKE_TYPES = ("click", "purchase", "view")  # dispatch → u_like
NLIKE_TYPE = "error"  # dispatch → u_nlike
SIGNUP_TYPE = "signup"  # dispatch → u_first_select
STOP_WORDS = ("the", "a", "and", "of", "to", "in", "is", "it", "for", "on")
_SYLLABLES = ("ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "de", "va",
              "xu", "bo", "che", "fin", "gra", "hel", "jo", "ku", "lem", "mor")

#: user-id ranges of the event kinds; never overlap the customer keys
SIGNUP_ID_BASE = 10_000_000
MALFORMED_ID_BASE = 20_000_000
#: the two garbage frames ``streaming.events.parse_events`` drops: a payload
#: ``from_json`` cannot parse (the empty string; other malformed JSON parses
#: to a struct of NULLs and is kept) and a non-positive user id
EMPTY_PROPS = ""


@dataclass(frozen=True)
class TableScale:
    customers: int
    orders: int
    parts: int
    docs: int
    vocab: int = 3000


#: the nightly batch (LA + SB + UL) and the online serving state: the
#: largest sizes that fit the run budget (see README.md, "Scale")
NIGHTLY = TableScale(customers=1000, orders=10000, parts=1500, docs=1000)
SERVING = TableScale(customers=300, orders=3000, parts=500, docs=50)

#: online traffic: one file of ten events every 200 ms, 50 events/s
ONLINE_EVENTS_PER_FILE = 10
ONLINE_INTERVAL_S = 0.2


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent deterministic stream per (seed, purpose)."""
    tag = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.default_rng([seed & 0xFFFFFFFF, tag])


def _zipf_ranks(rng: np.random.Generator, n_items: int, size: int, s: float) -> np.ndarray:
    """0-based ranks drawn from a bounded Zipf(s) over ``n_items``."""
    w = 1.0 / np.arange(1, n_items + 1) ** s
    return rng.choice(n_items, size=size, p=w / w.sum())


def _words(n: int) -> list[str]:
    out = []
    for i in range(n):
        a, b = divmod(i, len(_SYLLABLES))
        b2, c = divmod(a, len(_SYLLABLES))
        out.append(_SYLLABLES[b] + _SYLLABLES[c] + _SYLLABLES[b2 % len(_SYLLABLES)] + str(i % 7))
    return out


def write_tables(out_dir: str, seed: int, scale: TableScale) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, "tables")
    n_c, n_o = scale.customers, scale.orders
    cust = pa.table({
        "c_custkey": pa.array(np.arange(1, n_c + 1), pa.int64()),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_c)]),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_c), 2)),
    })
    # two thirds of customers place orders, as in TPC-H
    buyers = np.arange(1, n_c + 1)
    buyers = buyers[buyers % 3 != 0]
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(1, n_o + 1), pa.int64()),
        "o_custkey": pa.array(buyers[rng.integers(0, len(buyers), n_o)], pa.int64()),
    })
    lines = rng.integers(1, 8, n_o)  # 1..7 lines, mean 4
    okeys = np.repeat(np.arange(1, n_o + 1), lines)
    lineitem = pa.table({
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(1 + _zipf_ranks(rng, scale.parts, len(okeys), 0.8), pa.int64()),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in lines]), pa.int32()),
    })
    vocab = np.array(_words(scale.vocab) + list(STOP_WORDS))
    texts = []
    for n_words in rng.integers(15, 60, scale.docs):
        ids = np.where(
            rng.random(n_words) < 0.15,
            scale.vocab + rng.integers(0, len(STOP_WORDS), n_words),
            _zipf_ranks(rng, scale.vocab, n_words, 1.05),
        )
        texts.append(" ".join(vocab[ids]))
    documents = pa.table({
        "doc_id": pa.array(np.arange(scale.docs), pa.int64()),
        "text": pa.array(texts),
    })
    tables = {"customer": cust, "orders": orders, "lineitem": lineitem, "documents": documents}
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {k: t.num_rows for k, t in tables.items()}


# ---------------------------------------------------------------------------
# events
# ---------------------------------------------------------------------------

EVENT_ARROW_SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("ts", pa.timestamp("us", tz="UTC")),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
    ("props", pa.string()),
])


@dataclass(frozen=True)
class EventBatch:
    event_id: np.ndarray
    user_id: np.ndarray
    event_type: np.ndarray
    props: np.ndarray  # object array; None = absent payload
    malformed: np.ndarray  # bool; garbage frames the system must drop

    def slice(self, lo: int, hi: int) -> "EventBatch":
        return EventBatch(self.event_id[lo:hi], self.user_id[lo:hi],
                          self.event_type[lo:hi], self.props[lo:hi],
                          self.malformed[lo:hi])

    def to_table(self, ts_us: np.ndarray | int) -> pa.Table:
        n = len(self.event_id)
        ts = np.broadcast_to(np.asarray(ts_us, dtype=np.int64), (n,))
        return pa.table({
            "event_id": pa.array(self.event_id, pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(self.user_id, pa.int64()),
            "event_type": pa.array(self.event_type, pa.string()),
            "value": pa.array(np.ones(n)),
            "props": pa.array(self.props, pa.string()),
        }, schema=EVENT_ARROW_SCHEMA)


def online_events(seed: int, n: int) -> EventBatch:
    """Open-loop traffic mix over the serving state's users and parts: ~85%
    known users (Zipf-skewed) liking or un-liking, ~10% first-time signups
    on fresh ids (hot-list fallback), ~5% malformed payloads (dropped by
    design)."""
    rng = _rng(seed, "online")
    kind = rng.random(n)
    ids = np.arange(n, dtype=np.int64)
    n_users, n_parts = SERVING.customers, SERVING.parts
    user = 1 + _zipf_ranks(rng, n_users, n, 1.1)
    etype = np.where(rng.random(n) < 0.8,
                     np.array(LIKE_TYPES)[rng.integers(0, 3, n)], NLIKE_TYPE).astype(object)
    props = np.array([f'{{"k": {p}}}' for p in rng.integers(1, n_parts + 1, n)], dtype=object)
    signup, bad = kind >= 0.85, kind >= 0.95
    user = np.where(signup, SIGNUP_ID_BASE + ids, user)
    etype[signup] = SIGNUP_TYPE
    props[signup] = None
    # garbage frames alternate between the two kinds the parser drops
    empty = bad & (ids % 2 == 0)
    user = np.where(empty, MALFORMED_ID_BASE + ids, user)
    user = np.where(bad & ~empty, -1 - ids, user)
    props[empty] = EMPTY_PROPS
    return EventBatch(ids, user, etype, props, bad)
