"""Seeded input tables for the benchmark.

Writes the ten tables the program reads (``sources.registry.TABLES``) as
single-row-group parquet files with the same column names and Arrow types
as the test fixtures in TESTDATA.md: a TPC-H-like star schema, an event stream, a
text corpus and an embedding table. Value domains follow the fixtures
(uniform keys and categories, exponential event values, a 30-word
vocabulary, unit-norm 64-d vectors), at roughly twice the sf0.001 row
counts. The same seed always gives byte-identical files.

The corpus carries planted near-duplicates (a prior document plus the
token ``dup``) and exact duplicates, and the embedding table carries
near-duplicate vectors, so dedup and similarity operators find pairs.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Rows per table. Dimensions (region, nation) are fixed.
ROWS = {
    "customer": 300,
    "supplier": 20,
    "part": 400,
    "orders": 3000,
    "events": 2000,
    "documents": 300,
    "embeddings": 300,
}
EVENT_USERS = 30
DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, span: int, n: int, offset: int = 0):
    us = _EPOCH_1995 + (offset + rng.integers(0, span, n)) * _DAY_US
    return pa.array(us, type=pa.timestamp("us"))


def _choice(rng: np.random.Generator, values: list[str], n: int, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _dims() -> dict[str, pa.Table]:
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    return {"region": region, "nation": nation}


def _warehouse(rng: np.random.Generator) -> dict[str, pa.Table]:
    nc, ns, np_, no = (ROWS[t] for t in ("customer", "supplier", "part", "orders"))
    customer = pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _choice(rng, SEGMENTS, nc),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    adj = rng.integers(0, len(PART_ADJ), np_)
    noun = rng.integers(0, len(PART_NOUN), np_)
    part = pa.table({
        "p_partkey": pa.array(range(np_), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": _choice(rng, PART_TYPES, np_),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 1),
    })
    orders = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, 2404, no),
        "o_orderpriority": _choice(rng, PRIORITIES, no),
    })
    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    lineitem = pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(no), lines), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(
            np.concatenate([np.arange(1, k + 1) for k in lines]), pa.int32()
        ),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": np.round(rng.uniform(0.0, 0.1, nl), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, nl), 2),
        "l_returnflag": _choice(rng, ["A", "N", "R"], nl),
        "l_linestatus": _choice(rng, ["F", "O"], nl),
        "l_shipdate": _days(rng, 2498, nl, offset=1),
    })
    return {
        "customer": customer, "supplier": supplier, "part": part,
        "orders": orders, "lineitem": lineitem,
    }


def _events(rng: np.random.Generator) -> pa.Table:
    n = ROWS["events"]
    ts = _EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, n))
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    return pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, EVENT_USERS, n), pa.int64()),
        "event_type": _choice(rng, EVENT_TYPES, n),
        "value": value,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _corpus(rng: np.random.Generator) -> dict[str, pa.Table]:
    n = ROWS["documents"]
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i >= 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i >= 10 and r < 0.08:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), k)))
    documents = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": _choice(rng, LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    m = ROWS["embeddings"]
    vecs = rng.standard_normal((m, DIM))
    near = np.flatnonzero(rng.random(m) < 0.05)
    near = near[near > 0]
    vecs[near] = vecs[rng.integers(0, near)] + 0.05 * rng.standard_normal((len(near), DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(range(m), pa.int64()),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m), pa.int32()),
    })
    return {"documents": documents, "embeddings": embeddings}


def build_tables(seed: int) -> dict[str, pa.Table]:
    """All ten tables for ``seed``; each table draws from its own stream."""
    ss = np.random.SeedSequence(seed)
    wh, ev, co = (np.random.default_rng(s) for s in ss.spawn(3))
    return {**_dims(), **_warehouse(wh), "events": _events(ev), **_corpus(co)}


def ensure_inputs(root: str, seed: int) -> str:
    """Directory holding ``<table>.parquet`` for ``seed``, written once.

    Files are kept per seed so their size and mtime, and with them the
    oracle cache keys, stay the same across runs on that seed.
    """
    out = os.path.join(root, f"seed-{seed}")
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return out
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables(seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out
