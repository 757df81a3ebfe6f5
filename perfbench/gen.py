"""Seeded input generators.

``write_tables`` writes the ten tables the engine's ``tables`` module
loads, with the same column names, physical types and value domains as
the engine's reference testdata (one single-row-group parquet file per
table). ``stream_events`` builds the keyed event sequence the streaming
workload replays.

The seed chooses data values only. Row counts, file counts and every
other size are functions of ``scale`` (or the explicit stream shape),
so two seeds give inputs of identical size.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
ADJECTIVES = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NOUNS = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64

_DAY_US = 86_400_000_000
_EPOCH = dt.datetime(1970, 1, 1)


def _day_us(y: int, m: int, d: int) -> int:
    return (dt.datetime(y, m, d) - _EPOCH) // dt.timedelta(microseconds=1)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def table_sizes(scale: float) -> dict[str, int]:
    """Row count of every table at ``scale`` (1.0 ~ TPC-H sf1)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * scale),
        "supplier": int(10_000 * scale),
        "part": int(200_000 * scale),
        "orders": int(1_500_000 * scale),
        "lineitem": int(6_000_000 * scale),
        "events": int(1_000_000 * scale),
        "documents": max(500, int(50_000 * scale)),
        "embeddings": max(500, int(20_000 * scale)),
    }


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 100, n)
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = np.asarray(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), lengths[i])]
            texts.append(" ".join(words))
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, p=LANG_P),
            "source": pa.array([f"src{i % 20}" for i in ids]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    x = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * EMBED_DIM, EMBED_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def build_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = table_sizes(scale)
    nc, ns, npart, no, nl, ne = (
        n["customer"], n["supplier"], n["part"], n["orders"], n["lineitem"], n["events"]
    )
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    keys = lambda k: np.arange(k, dtype=np.int64)  # noqa: E731
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({"r_regionkey": i32(range(5)), "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table(
        {
            "n_nationkey": i32(range(25)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": i32([i % 5 for i in range(25)]),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": keys(nc),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": i32(rng.integers(0, 25, nc)),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": _pick(rng, SEGMENTS, nc),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": keys(ns),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": i32(rng.integers(0, 25, ns)),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    out["part"] = pa.table(
        {
            "p_partkey": keys(npart),
            "p_name": _pick(rng, names, npart),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
            "p_type": _pick(rng, PART_TYPES, npart),
            "p_size": i32(rng.integers(1, 51, npart)),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1),
        }
    )
    d0, d1 = _day_us(1995, 1, 1) // _DAY_US, _day_us(2001, 8, 1) // _DAY_US
    out["orders"] = pa.table(
        {
            "o_orderkey": keys(no),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), no),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
            "o_orderdate": _ts(rng.integers(d0, d1 + 1, no) * _DAY_US),
            "o_orderpriority": _pick(rng, PRIORITIES, no),
        }
    )
    s0, s1 = _day_us(1995, 1, 2) // _DAY_US, _day_us(2001, 11, 4) // _DAY_US
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
            "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
            "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
            "l_linenumber": i32(rng.integers(1, 8, nl)),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
            "l_discount": _money(rng, 0.0, 0.1, nl),
            "l_tax": _money(rng, 0.0, 0.08, nl),
            "l_returnflag": _pick(rng, ("A", "N", "R"), nl),
            "l_linestatus": _pick(rng, ("F", "O"), nl),
            "l_shipdate": _ts(rng.integers(s0, s1 + 1, nl) * _DAY_US),
        }
    )
    e0 = _day_us(2024, 1, 1)
    out["events"] = pa.table(
        {
            "event_id": keys(ne),
            "ts": _ts(np.sort(e0 + rng.integers(0, 30 * _DAY_US, ne))),
            "user_id": rng.integers(0, max(1, nc // 10), ne).astype(np.int64),
            "event_type": _pick(rng, EVENT_TYPES, ne),
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
        }
    )
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"), row_group_size=1 << 30)


def zipf_keys(rng: np.random.Generator, n: int, n_keys: int, s: float) -> np.ndarray:
    """``n`` keys in ``[0, n_keys)`` with P(k) proportional to 1/(k+1)^s."""
    p = 1.0 / np.arange(1, n_keys + 1) ** s
    return rng.choice(n_keys, n, p=p / p.sum()).astype(np.int64)


def stream_events(
    seed: int, n: int, n_keys: int, *, zipf_s: float, late_share: float, late_ms: int,
    first_id: int, base_ms: int,
) -> dict[str, np.ndarray]:
    """``n`` keyed events with ids ``first_id..``: event time advances 1 ms
    per event from ``base_ms``, and a ``late_share`` of events carry an
    event time up to ``late_ms`` behind their position (out of order)."""
    rng = np.random.default_rng([seed, first_id])
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    ts = base_ms + ids
    late = rng.random(n) < late_share
    ts = np.where(late, ts - rng.integers(1, late_ms + 1, n), ts)
    return {"event_id": ids, "key": zipf_keys(rng, n, n_keys, zipf_s), "ts_ms": ts}
