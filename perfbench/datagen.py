"""Seeded generator for the benchmark's sf0.1 tables.

Writes the ten tables of ``kassette_server_spark.catalog.TABLES`` as
single-row-group parquet files with the column names, types, value
domains and sizes of the sf0.1 test tables: 150k orders, 600k
lineitems, 100k events, 5k documents (with planted near-duplicates),
2k unit-norm 64-d embeddings. Money and rates are exact two-decimal
values, as the queries' decimal-exact aggregation assumes.

The tables do not depend on the workload seed: they are fixed by
``DATA_SEED`` so that query results, and the job/stage/task counts per
spec, are the same in every run. The workload seed varies the pass
order and the ingest traffic instead.

Usage: ``python3 perfbench/datagen.py OUT_DIR`` writes the tables and
``expected.json``, the DuckDB oracle's result digest for every
query-workload spec on them.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_ORDERS = 150_000
N_LINEITEM = 600_000
N_EVENTS = 100_000
N_USERS = 1_500
N_DOCUMENTS = 5_000
N_NEAR_DUPS = 250
N_EXACT_DUPS = 8
N_EMBEDDINGS = 2_000
EMBED_DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    cents = rng.integers(int(lo * 100), int(hi * 100) + 1, n)
    return np.round(cents / 100.0, 2)


def _rate(rng: np.random.Generator, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(0.0, hi, n), 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    off = rng.integers(0, int((hi - lo).astype(int)) + 1, n)
    return (lo + off).astype("datetime64[us]")


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    i32, i64 = pa.int32(), pa.int64()
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, i32),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMER), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": _pick(rng, SEGMENTS, N_CUSTOMER),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPPLIER), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
    })
    names = [f"{a} {n}" for a in PART_ADJ for n in PART_NOUN]
    partkey = np.arange(N_PART)
    out["part"] = pa.table({
        "p_partkey": pa.array(partkey, i64),
        "p_name": _pick(rng, names, N_PART),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], N_PART),
        "p_type": _pick(rng, PART_TYPES, N_PART),
        "p_size": pa.array(rng.integers(1, 51, N_PART), i32),
        "p_retailprice": np.round(900.0 + (partkey % 1000) / 10.0, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS), i64),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], N_ORDERS),
        "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", N_ORDERS),
        "o_orderpriority": _pick(rng, PRIORITIES, N_ORDERS),
    })
    n = N_LINEITEM
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, n), i64),
        "l_partkey": pa.array(rng.integers(0, N_PART, n), i64),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": _rate(rng, 0.10, n),
        "l_tax": _rate(rng, 0.08, n),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n),
    })
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    ts = start + np.sort(rng.integers(0, span_us, N_EVENTS)).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), i64),
        "event_type": _pick(rng, EVENT_TYPES, N_EVENTS),
        "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })
    out["documents"] = _documents(rng)
    vecs = rng.standard_normal((N_EMBEDDINGS, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(N_EMBEDDINGS), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_EMBEDDINGS), i32),
    })
    return out


def _documents(rng: np.random.Generator) -> pa.Table:
    """Random word-salad documents. N_NEAR_DUPS of them copy another
    document and append one word (the dedup specs' positives), and
    N_EXACT_DUPS copy another document verbatim."""
    words = np.asarray(WORDS, dtype=object)
    lengths = rng.integers(10, 101, N_DOCUMENTS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    order = rng.permutation(N_DOCUMENTS)
    n_pairs = N_NEAR_DUPS + N_EXACT_DUPS
    origin, copy = order[:n_pairs], order[n_pairs : 2 * n_pairs]
    for k, (o, c) in enumerate(zip(origin, copy)):
        texts[c] = texts[o] + (" dup" if k < N_NEAR_DUPS else "")
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCUMENTS), pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, N_DOCUMENTS, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(N_DOCUMENTS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write(out_dir: str) -> None:
    """Write every table to ``out_dir/<name>.parquet`` (atomic per file)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables().items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path + ".tmp", row_group_size=len(table) or 1)
        os.replace(path + ".tmp", path)


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: datagen.py OUT_DIR")
    write(sys.argv[1])
    from query_workloads import oracle_digests

    with open(os.path.join(sys.argv[1], "expected.json"), "w") as f:
        json.dump(oracle_digests(sys.argv[1]), f, indent=1, sort_keys=True)
