"""Seeded tables for the pipeline-query workload.

Same table names, columns and value domains as the pipeline suite's
sf0.1 test tables (TPC-H-shaped star schema, an events stream, a
documents corpus and an embeddings table), generated from a seed so the
benchmark carries its own inputs. The documents table plants exact
duplicates (differing only in case and whitespace) and near-duplicate
pairs (one token replaced, 3-shingle Jaccard >= 0.8), so the dedup and
MinHash queries have work to find; unplanted documents share almost no
3-shingles.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
VOCAB = (
    "batch part spark line column order small sort fast value scan a hash "
    "slow group agg filter query big key window row table stream merge data "
    "join vector customer the of and to in is it for on with"
).split()


def _ts(rng, lo: str, days: int, n: int) -> np.ndarray:
    base = np.datetime64(lo, "us")
    return base + rng.randint(0, days, n).astype("timedelta64[D]").astype(
        "timedelta64[us]")


def _pick(rng, values: list[str], n: int) -> np.ndarray:
    return np.array(values, dtype=object)[rng.randint(0, len(values), n)]


def _docs(rng, n: int) -> dict:
    texts = []
    for _ in range(n):
        k = int(rng.randint(10, 90))
        texts.append(" ".join(VOCAB[i] for i in rng.randint(0, len(VOCAB), k)))
    # 8 exact and, at 5 000 documents, 248 near duplicates: the 256 Jaccard
    # pairs the suite's sf0.1 documents table has
    n_near = n * 248 // 5000
    copies = [int(i) for i in rng.choice(np.arange(n // 2, n), 8 + n_near,
                                         replace=False)]
    # exact duplicates: case/whitespace variants of earlier documents
    for i in copies[:8]:
        src = texts[int(rng.randint(0, n // 2))]
        texts[i] = "  " + src.upper().replace(" ", "   ") + " "
    # near duplicates: one token replaced in a long document
    long_ids = [i for i in range(n // 2) if len(texts[i].split()) >= 40]
    for a, b in zip(long_ids[:2 * n_near:2], copies[8:]):
        toks = texts[a].split()
        toks[len(toks) // 2] = "zebra"
        texts[b] = " ".join(toks)
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n),
        "source": [f"src{i}" for i in rng.randint(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def make_tables(out_dir: str, seed: int, sf: float = 0.1) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    rng = np.random.RandomState(seed)
    n_cust, n_ord, n_li = int(150_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_part, n_sup = int(200_000 * sf), int(10_000 * sf)
    n_ev, n_users, n_docs, n_emb = int(1_000_000 * sf), 1500, int(50_000 * sf), 2000
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    tables = {
        "region": {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": REGIONS},
        "nation": {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.randint(0, 25, n_cust).astype(np.int32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust)},
        "supplier": {
            "s_suppkey": np.arange(n_sup, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_sup)],
            "s_nationkey": rng.randint(0, 25, n_sup).astype(np.int32),
            "s_acctbal": money(-999.99, 9999.99, n_sup)},
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"part {i % 64}" for i in range(n_part)],
            "p_brand": [f"Brand#{i}" for i in rng.randint(1, 26, n_part)],
            "p_type": _pick(rng, ["LARGE", "SMALL", "ECONOMY", "PROMO",
                                    "MEDIUM", "STANDARD"], n_part),
            "p_size": rng.randint(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)},
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.randint(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": _pick(rng, ["O", "F", "P"], n_ord),
            "o_totalprice": money(1000, 500000, n_ord),
            "o_orderdate": _ts(rng, "1995-01-01", 2405, n_ord),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord)},
        "lineitem": {
            "l_orderkey": rng.randint(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.randint(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.randint(0, n_sup, n_li).astype(np.int64),
            "l_linenumber": rng.randint(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.randint(1, 51, n_li).astype(np.float64),
            "l_extendedprice": money(900, 105000, n_li),
            "l_discount": rng.randint(0, 11, n_li) / 100.0,
            "l_tax": rng.randint(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["O", "F"], n_li),
            "l_shipdate": _ts(rng, "1995-01-02", 2499, n_li)},
        "events": {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us") + np.sort(
                rng.randint(0, 30 * 86400 * 10**6, n_ev)).astype("timedelta64[us]"),
            # a third of the users are not customers (seen_antijoin's rows)
            "user_id": (n_cust - 2 * n_users // 3 + rng.randint(
                0, n_users, n_ev)).astype(np.int64),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {i}}}' for i in rng.randint(0, 100, n_ev)]},
        "documents": _docs(rng, n_docs),
        "embeddings": {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": list(rng.normal(0, 0.12, (n_emb, 64)).astype(np.float32)),
            "label": rng.randint(0, 10, n_emb).astype(np.int32)},
    }
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, cols in tables.items():
        arrays = {}
        for c, v in cols.items():
            if c == "embedding":
                arrays[c] = pa.array([list(x) for x in v], pa.list_(pa.float32()))
            else:
                arrays[c] = pa.array(v)
        table = pa.table(arrays)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
