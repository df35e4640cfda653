"""Seeded input generators. Pure NumPy/pyarrow: no Spark job stages inputs.

Every function here is a deterministic function of its seed, so two runs
with the same ``--seed`` feed the program byte-identical inputs.

A CDC topic is a list of Kafka-record-shaped files (the schema of
``streaming.cdc_stream.file_change_stream``): ``key, value, topic,
partition, offset, timestamp``. ``value`` is a Debezium JSON envelope,
``None`` for the tombstone that follows each delete, or a corrupt body for
a malformed message.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TOPIC = "dbserver1.inventory.customers"
CORRUPT = '{"payload": <corrupt>'
_BASE_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z

RECORD_SCHEMA = pa.schema(
    [
        ("key", pa.string()),
        ("value", pa.string()),
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("timestamp", pa.timestamp("us")),
    ]
)


@dataclass(frozen=True)
class CdcMix:
    """Op probabilities of a generated stream; the rest are updates."""

    insert: float
    delete: float
    malformed: float


# Mostly inserts over a large key space: the replica grows every epoch.
BACKFILL_MIX = CdcMix(insert=0.86, delete=0.03, malformed=0.01)
# Mostly updates over a small skewed hot set: state stays small.
LIVE_MIX = CdcMix(insert=0.02, delete=0.03, malformed=0.01)


@dataclass
class Topic:
    """A generated topic, split into files of ``records_per_file`` records."""

    files: list[pa.Table]
    events: int  # non-tombstone messages, malformed included
    malformed: int


def _envelope(op: str, key: int, value: float, ts_ms: int) -> str:
    ts = dt.datetime.fromtimestamp(ts_ms / 1000, dt.timezone.utc)
    ts_s = ts.strftime("%Y-%m-%d %H:%M:%S.%f")
    after = "null" if op == "d" else f'{{"id": {key}, "value": {value}, "ts": "{ts_s}"}}'
    before = f'{{"id": {key}}}' if op == "d" else "null"
    return (
        f'{{"payload": {{"op": "{op}", "before": {before}, '
        f'"after": {after}, "ts_ms": {ts_ms}}}}}'
    )


def cdc_topic(
    seed: int,
    n_events: int,
    records_per_file: int,
    mix: CdcMix,
    hot_keys: int | None = None,
) -> Topic:
    """Generate a Debezium change stream.

    ``hot_keys=None`` draws inserted keys from a large key space and aims
    updates/deletes at uniformly chosen live keys. With ``hot_keys=k`` every
    event targets one of k keys drawn from a Zipf-like (s=1.1) distribution.
    The record list is cut into files of exactly ``records_per_file``
    records (the last file may be shorter), tombstones included.
    """
    rng = np.random.default_rng(seed)
    u = rng.random(n_events)
    values = np.round(rng.random(n_events) * 1000.0, 2)
    if hot_keys is not None:
        w = 1.0 / np.arange(1, hot_keys + 1) ** 1.1
        hot_ids = rng.choice(10**9, size=hot_keys, replace=False)
        targets = hot_ids[rng.choice(hot_keys, size=n_events, p=w / w.sum())]
    else:
        fresh = rng.choice(10**12, size=n_events, replace=False)
        picks = rng.random(n_events)

    live: list[int] = []
    live_pos: dict[int, int] = {}

    def _drop(k: int) -> None:
        i = live_pos.pop(k)
        last = live.pop()
        if last != k:
            live[i] = last
            live_pos[last] = i

    values_col: list[str | None] = []
    keys_col: list[str] = []
    malformed = 0
    for i in range(n_events):
        x = u[i]
        ts_ms = _BASE_MS + i
        if x < mix.malformed:
            malformed += 1
            k = int(targets[i]) if hot_keys is not None else int(fresh[i])
            keys_col.append(str(k))
            values_col.append(CORRUPT)
            continue
        if hot_keys is not None:
            k = int(targets[i])
            op = "c" if x < mix.malformed + mix.insert else (
                "d" if x < mix.malformed + mix.insert + mix.delete else "u"
            )
        elif x < mix.malformed + mix.insert or not live:
            k, op = int(fresh[i]), "c"
            live_pos[k] = len(live)
            live.append(k)
        else:
            k = live[int(picks[i] * len(live))]
            op = "d" if x < mix.malformed + mix.insert + mix.delete else "u"
            if op == "d":
                _drop(k)
        keys_col.append(str(k))
        values_col.append(_envelope(op, k, float(values[i]), ts_ms))
        if op == "d":
            keys_col.append(str(k))
            values_col.append(None)

    n = len(values_col)
    offsets = np.arange(n, dtype=np.int64)
    table = pa.table(
        {
            "key": pa.array(keys_col, pa.string()),
            "value": pa.array(values_col, pa.string()),
            "topic": pa.array([TOPIC] * n, pa.string()),
            "partition": pa.array(np.zeros(n, dtype=np.int32)),
            "offset": pa.array(offsets),
            "timestamp": pa.array((_BASE_MS + offsets) * 1000, pa.timestamp("us")),
        },
        schema=RECORD_SCHEMA,
    )
    files = [
        table.slice(s, records_per_file) for s in range(0, n, records_per_file)
    ]
    return Topic(files=files, events=n_events, malformed=malformed)


def write_topic(files: list[pa.Table], directory: str, first: int = 0) -> list[str]:
    """Write each topic file as ``part-<first + i>.parquet``; returns paths."""
    os.makedirs(directory, exist_ok=True)
    paths = []
    for i, t in enumerate(files):
        p = os.path.join(directory, f"part-{first + i:06d}.parquet")
        pq.write_table(t, p)
        paths.append(p)
    return paths


def arrival_schedule(seed: int, n_files: int, tick_s: float, jitter: float) -> np.ndarray:
    """Due offsets (seconds from the schedule start) of ``n_files`` files:
    one per ``tick_s`` with uniform jitter of ±``jitter``·tick. Strictly
    increasing while ``jitter < 0.5``."""
    rng = np.random.default_rng(seed)
    base = np.arange(n_files) * tick_s
    return base + (rng.random(n_files) * 2.0 - 1.0) * jitter * tick_s


# --- analytics tables ------------------------------------------------------
#
# Same schemas as the engine's test tables (catalog.TABLES), with value
# distributions like the engine's own fixtures, scaled by ``scale`` (1.0 ≈
# the sf0.1 fixture: 600k lineitem rows).

_WORDS = (
    "spark stream batch merge key value window row table scan filter join "
    "group agg sort hash query data part line order customer vector column "
    "fast slow big small a the"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_ADJ = ["large", "hot", "blue", "small", "red", "green", "cold", "shiny"]
_NOUN = ["ring", "bolt", "nut", "gear", "pipe", "valve", "cable", "plate"]
_PTYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO", "MEDIUM"]


def _days(rng, lo: str, hi: str, n: int) -> pa.Array:
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    d = rng.integers(a, b, size=n)
    return pa.array(d.astype("datetime64[D]").astype("datetime64[us]"))


def analytics_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(100, int(15000 * scale))
    n_supp = max(20, int(1000 * scale))
    n_part = max(100, int(20000 * scale))
    n_ord = max(500, int(150000 * scale))
    n_line = n_ord * 4
    n_ev = max(1000, int(100000 * scale))
    n_doc = max(200, int(5000 * scale))
    n_emb = max(200, int(2000 * scale))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
            "c_mktsegment": pa.array(np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)]),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
            "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2)),
        }
    )
    adj = np.array(_ADJ)[rng.integers(0, len(_ADJ), n_part)]
    noun = np.array(_NOUN)[rng.integers(0, len(_NOUN), n_part)]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array(np.char.add(np.char.add(adj, " "), noun)),
            "p_brand": pa.array(
                np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))
            ),
            "p_type": pa.array(np.array(_PTYPES)[rng.integers(0, len(_PTYPES), n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
            "p_retailprice": pa.array(np.round(900 + np.arange(n_part) * 0.1 % 1100, 2)),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
            "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 450000, n_ord), 2)),
            "o_orderdate": _days(rng, "1992-01-01", "2002-01-01", n_ord),
            "o_orderpriority": pa.array(np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)]),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n_line), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
            "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_line)]),
            "l_shipdate": _days(rng, "1992-01-01", "2002-01-01", n_line),
        }
    )
    n_users = max(50, int(1500 * scale))
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(
                (np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"))
            ),
            "user_id": pa.array(rng.integers(0, n_users, n_ev, dtype=np.int64)),
            "event_type": pa.array(np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    lengths = rng.integers(5, 70, n_doc)
    words = np.array(_WORDS)[rng.integers(0, len(_WORDS), int(lengths.sum()))]
    texts, pos = [], 0
    for n in lengths:
        texts.append(" ".join(words[pos : pos + n]))
        pos += n
    # near-duplicates so the dedup/similarity operators have pairs to find
    for i in range(0, n_doc, 10):
        j = int(rng.integers(0, n_doc))
        texts[j] = texts[i] + " " + _WORDS[int(rng.integers(0, len(_WORDS)))]
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
            "text": texts,
            "lang": pa.array(np.array(_LANGS)[rng.integers(0, len(_LANGS), n_doc)]),
            "source": pa.array(np.char.add("src", rng.integers(0, 20, n_doc).astype(str))),
            "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64)),
        }
    )
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 0.15, (10, 64))
    emb = (centers[labels] + rng.normal(0, 0.08, (n_emb, 64))).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
    return t


def write_tables(tables: dict[str, pa.Table], directory: str) -> None:
    os.makedirs(directory, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
