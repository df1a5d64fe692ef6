"""Seeded generator of the star-schema test tables the registry reads.

Writes the ten tables `tcrd_spark.sources.lake.TABLES` names (a TPC-H
shaped star schema, an `events` stream, a word-bag `documents` corpus
and unit-norm `embeddings`), one parquet file each, with the column
names and types the registered queries and their DuckDB oracles expect.
Row counts follow the TPC-H scale factor `sf`; documents and embeddings
are fixed at 500 rows below sf 0.1, as in the reference test data.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ("en", "en", "en", "es", "zh", "de", "fr")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING")
PTYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
ADJ = ("small", "red", "blue", "hot", "old", "large", "new", "green")
NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    off = rng.integers(0, span_days, n).astype("timedelta64[D]")
    return base + off.astype("timedelta64[us]")


def _money(x):
    return np.round(x, 2)


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            # near duplicate of an earlier document: a few words swapped
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            words.append("dup")
        else:
            k = int(rng.integers(10, 100))
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), k)]
        texts.append(" ".join(words))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng, n, dim=64):
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    }


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table under `out_dir`; return the row count of each."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 20)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 20)
    n_ord = max(int(1_500_000 * sf), 100)
    n_evt = max(int(1_000_000 * sf), 100)
    n_doc = 500 if sf < 0.1 else int(50_000 * sf)
    n_emb = 500 if sf < 0.1 else int(20_000 * sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(list(REGIONS)),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng.uniform(-999.99, 9999.99, n_cust))),
        "c_mktsegment": pa.array(
            [SEGMENTS[j] for j in rng.integers(0, 5, n_cust)]),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng.uniform(-999.99, 9999.99, n_supp))),
    })
    type_perm = rng.permutation(6)
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([
            f"{ADJ[a]} {NOUN[b]}" for a, b in
            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        # brands round-robin and types cycling per brand, so every brand
        # spans several types (tau over one type divides by zero)
        "p_brand": pa.array([f"Brand#{i % 25 + 1}" for i in range(n_part)]),
        "p_type": pa.array(
            [PTYPES[j] for j in type_perm[(np.arange(n_part) // 25) % 6]]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(
            np.round(900.0 + rng.integers(0, 1000, n_part) / 10.0, 2)),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(
            [("P", "O", "F")[j] for j in rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng.uniform(1000.0, 500000.0, n_ord))),
        "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", 2404)),
        "o_orderpriority": pa.array(
            [PRIORITIES[j] for j in rng.integers(0, 5, n_ord)]),
    })
    per_order = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), per_order)
    n_line = len(l_order)
    l_num = (np.arange(n_line) - np.repeat(np.cumsum(per_order) - per_order,
                                           per_order) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    flags = rng.integers(0, 3, n_line)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(l_order),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(l_num),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(_money(qty * rng.uniform(900, 2100, n_line))),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[j] for j in flags]),
        "l_linestatus": pa.array(
            [("O", "F")[j] for j in rng.integers(0, 2, n_line)]),
        "l_shipdate": pa.array(_days(rng, n_line, "1995-01-02", 2498)),
    })
    start = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_evt)).astype(
        "timedelta64[us]") + start
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_evt, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, max(n_evt // 66, 10), n_evt)),
        "event_type": pa.array(
            [EVENT_TYPES[j] for j in rng.integers(0, 5, n_evt)]),
        "value": pa.array(_money(rng.uniform(0.01, 490.0, n_evt))),
        "props": pa.array(
            [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_evt)]),
    })
    _write(out_dir, "documents", _documents(rng, n_doc))
    _write(out_dir, "embeddings", _embeddings(rng, n_emb))
    return {"lineitem": n_line, "orders": n_ord, "documents": n_doc,
            "embeddings": n_emb, "events": n_evt}


if __name__ == "__main__":  # pragma: no cover - manual inspection aid
    import sys

    print(generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3])))
