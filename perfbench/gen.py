"""Seeded input generators, built on numpy + pyarrow and run outside Spark.

Two kinds of input:

* message drops for the lifecycle workloads — parquet files in the
  engine's ``MESSAGE_SCHEMA``, one file per drop, written in generation
  order (partitions interleaved, as a Kafka consumer would hand them over);
* a small TPC-H-ish star schema plus ``events`` / ``documents`` /
  ``embeddings`` for the query mix, one parquet file per table with the
  column names and types of the test corpus.

The same seed always yields byte-identical files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TOPIC = "bench-topic"
_TS0_NS = 1_700_000_000_000_000_000
_PAYLOAD_PAD = b"payload-payload-payload-payload-payload-payload-"

_HEADER_T = pa.list_(pa.struct([("key", pa.string()), ("value", pa.binary())]))
MESSAGE_ARROW_SCHEMA = pa.schema(
    [
        pa.field("topic", pa.string(), nullable=False),
        pa.field("partition_id", pa.int32(), nullable=False),
        pa.field("msg_offset", pa.int64(), nullable=False),
        pa.field("msg_key", pa.binary()),
        pa.field("payload", pa.binary()),
        pa.field("ts_ns", pa.int64()),
        pa.field("headers", _HEADER_T),
    ]
)


@dataclass(frozen=True)
class DropSpec:
    """Shape of one lifecycle workload's message stream."""

    n_drops: int
    msgs_per_drop: int  # fresh messages per drop (the rewind tail comes on top)
    n_partitions: int = 8
    hot_share: float = 0.0  # share of messages sent to partition 0
    rewind: float = 0.0  # share of partition 0's previous drop re-emitted at the head


def _draw_partitions(rng: np.random.Generator, n: int, spec: DropSpec) -> np.ndarray:
    if spec.hot_share <= 0:
        return rng.integers(0, spec.n_partitions, n, dtype=np.int32)
    hot = rng.random(n) < spec.hot_share
    cold = rng.integers(1, spec.n_partitions, n, dtype=np.int32)
    return np.where(hot, 0, cold).astype(np.int32)


def _messages_table(part: np.ndarray, off: np.ndarray, rng: np.random.Generator) -> pa.Table:
    n = len(part)
    keys = rng.integers(0, 1 << 40, n)
    key_col = pa.array([b"k%011d" % (k % 10**11) for k in keys], pa.binary())
    payload = pa.array(
        [_PAYLOAD_PAD + b"%d-%d" % (p, o) for p, o in zip(part.tolist(), off.tolist())],
        pa.binary(),
    )
    return pa.Table.from_arrays(
        [
            pa.array([TOPIC] * n, pa.string()),
            pa.array(part, pa.int32()),
            pa.array(off, pa.int64()),
            key_col,
            payload,
            pa.array(_TS0_NS + off * 1000 + part.astype(np.int64), pa.int64()),
            pa.nulls(n, _HEADER_T),
        ],
        schema=MESSAGE_ARROW_SCHEMA,
    )


def write_drops(out_dir: str, spec: DropSpec, seed: int) -> dict:
    """Write ``spec.n_drops`` parquet drops under ``out_dir``.

    Offsets are dense per partition across the whole stream.  With
    ``spec.rewind > 0`` every drop after the first starts by re-emitting the
    last ``rewind`` share of the previous drop's partition-0 messages (that
    partition's consumer rewinds after an uncommitted epoch), so partition 0
    carries duplicates and overlapping segments while the others stay
    disjoint.

    Returns the expected distinct content: the message count, the number
    emitted including re-emissions, and per-partition offset extents.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    next_off = np.zeros(spec.n_partitions, dtype=np.int64)
    prev: tuple[np.ndarray, np.ndarray] | None = None
    emitted = 0
    for d in range(spec.n_drops):
        part = _draw_partitions(rng, spec.msgs_per_drop, spec)
        off = np.empty(len(part), dtype=np.int64)
        for p in range(spec.n_partitions):
            idx = np.flatnonzero(part == p)
            off[idx] = next_off[p] + np.arange(len(idx))
            next_off[p] += len(idx)
        if prev is not None and spec.rewind > 0:
            p0 = prev[1][prev[0] == 0]
            tail = p0[len(p0) - int(len(p0) * spec.rewind):]
            part_all = np.concatenate([np.zeros(len(tail), np.int32), part])
            off_all = np.concatenate([tail, off])
        else:
            part_all, off_all = part, off
        table = _messages_table(part_all, off_all, rng)
        pq.write_table(table, os.path.join(out_dir, f"drop-{d:04d}.parquet"))
        emitted += len(part_all)
        prev = (part, off)
    return {
        "distinct": int(next_off.sum()),
        "emitted": emitted,
        "per_partition": {int(p): int(n) for p, n in enumerate(next_off) if n},
    }


def expected_checksum(per_partition: dict[int, int]) -> int:
    """Order-insensitive checksum of the distinct (partition, offset) set
    ``write_drops`` produced: offsets are dense from 0 per partition."""
    total = 0
    for p, n in per_partition.items():
        total += offset_checksum(np.full(n, p, dtype=np.int64), np.arange(n, dtype=np.int64))
    return total & ((1 << 63) - 1)


def offset_checksum(part: np.ndarray, off: np.ndarray) -> int:
    """Sum of a 64-bit mix of (partition, offset) — equal sets give equal
    sums whatever the row order; used by both checkers."""
    with np.errstate(over="ignore"):
        x = (part.astype(np.uint64) << np.uint64(40)) ^ off.astype(np.uint64)
        x = (x ^ (x >> np.uint64(31))) * np.uint64(0x9E3779B97F4A7C15)
        x ^= x >> np.uint64(29)
        return int(x.sum(dtype=np.uint64)) & ((1 << 63) - 1)


# --------------------------------------------------------------------------
# query-mix corpus
# --------------------------------------------------------------------------

# The shape below — vocabularies, value ranges, cardinalities, the share
# of near-duplicate documents — follows the test corpus described in
# TESTDATA.md, as measured on its sf0.01 and sf0.1 builds.
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["red", "blue", "hot", "cold", "old", "new", "small", "large"]
_NOUN = ["plate", "widget", "ring", "rod", "gear", "bolt", "anvil", "gizmo"]
_PTYPE = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_T = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "zh", "es", "de", "fr"]
_VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch spark line sort "
    "window data column small customer query join order group stream filter big vector"
).split()


def _ts_us(base: str, offsets_us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array(start + offsets_us.astype(np.int64), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten query-mix tables at scale factor ``sf`` (sf 0.1 has
    600k lineitem rows).  Returns the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_events, n_docs = int(1_000_000 * sf), int(50_000 * sf)
    n_vecs = min(2_000, int(50_000 * sf))
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, len(_ADJ), n_part), rng.integers(0, len(_NOUN), n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [_PTYPE[i] for i in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    day_us = 86_400 * 1_000_000
    o_days = rng.integers(0, 2405, n_ord)
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts_us("1995-01-01", o_days * day_us),
            "o_orderpriority": [_PRIO[i] for i in rng.integers(0, 5, n_ord)],
        }
    )
    # four lines per order on average, each on an order drawn uniformly (so
    # some orders have none), with a line number drawn from 1..7
    n_li = 4 * n_ord
    l_order = rng.integers(0, n_ord, n_li)
    ship_days = o_days[l_order] + rng.integers(1, 96, n_li)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
            "l_shipdate": _ts_us("1995-01-01", ship_days * day_us),
        }
    )
    gaps = rng.integers(1, 2 * (30 * day_us) // max(1, n_events), n_events)
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": _ts_us("2024-01-01", np.cumsum(gaps)),
            "user_id": pa.array(rng.integers(0, max(10, n_cust // 10), n_events), pa.int64()),
            "event_type": [_EVENT_T[i] for i in rng.integers(0, 5, n_events)],
            "value": np.round(rng.exponential(50.0, n_events) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    lens = rng.integers(10, 100, n_docs)
    texts = [" ".join(_VOCAB[i] for i in rng.integers(0, len(_VOCAB), k)) for k in lens]
    # one document in 20 is a near-duplicate: another document's text plus
    # " dup"; two of them copying the same document are exact duplicates
    near = rng.choice(n_docs, n_docs // 20, replace=False)
    src = rng.integers(0, n_docs, len(near))
    base = list(texts)
    for i, s in zip(near.tolist(), src.tolist()):
        texts[i] = base[s] + " dup"
    lang_p = np.array([0.41, 0.15, 0.15, 0.15, 0.14])
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": [_LANGS[i] for i in rng.choice(5, n_docs, p=lang_p)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    dim, n_lab = 64, 10
    centroids = rng.normal(size=(n_lab, dim))
    labels = rng.integers(0, n_lab, n_vecs)
    vecs = centroids[labels] + rng.normal(scale=0.8, size=(n_vecs, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
