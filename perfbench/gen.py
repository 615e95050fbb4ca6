#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Writes the ten parquet tables the query registry reads (`region nation
customer supplier part orders lineitem events documents embeddings`),
one file each, with the schemas and value distributions of the retail
star schema plus the corpus tables (see TESTDATA.md / FIXTURES.md B).

Table *contents* come from a fixed base seed, so every benchmark seed
sees the same rows. `--shuffle-seed S` permutes the rows of the
star-schema tables (same rows, same file count, different physical
order); `events` and `documents` keep their order, because streaming
results depend on arrival order.

Usage: gen.py OUT_DIR --sf 0.01 [--shuffle-seed S]
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
VOCAB = ["query", "row", "stream", "the", "spark", "line", "small", "fast",
         "group", "customer", "part", "column", "order", "scan", "a", "slow",
         "agg", "key", "window", "table", "merge", "vector", "join", "batch",
         "sort", "value", "hash", "filter", "big", "data"]
EMBED_DIM = 64


def pick(rng, values, n):
    """n uniform draws from `values` as a pyarrow string array."""
    idx = rng.integers(0, len(values), n).astype(np.int32)
    return pa.DictionaryArray.from_arrays(pa.array(idx), pa.array(values)).cast(pa.string())


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def days(rng, start, span_days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def star_schema(rng, sf):
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    adj = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
    noun = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
    names = [f"{a} {b}" for a in adj for b in noun]
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": pick(rng, names, n_part),
        "p_brand": pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": pick(rng, ["F", "O"], n_line),
        "l_shipdate": days(rng, "1995-01-02", 2498, n_line)})
    return t


def events(rng, sf):
    n, users = int(1_000_000 * sf), max(10, int(15_000 * sf))
    # strictly increasing event time over 30 days, exponential gaps
    gaps = rng.exponential(1.0, n)
    offs = np.cumsum(gaps) / gaps.sum() * (30 * 86400 - 60) * 1e6
    ts = np.datetime64("2024-01-01", "us") + offs.astype(np.int64).astype("timedelta64[us]")
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": pick(rng, ["click", "error", "purchase", "signup", "view"], n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])})


def documents(rng, n):
    """Random-word documents; 5 % are near-duplicates (a mutated copy of
    another document with a trailing `dup` marker), a few exact copies."""
    lens = rng.integers(10, 101, n)
    words = [rng.integers(0, len(VOCAB), k) for k in lens]
    texts = [" ".join(VOCAB[w] for w in ws) for ws in words]
    dups = np.sort(rng.choice(n, n // 20, replace=False))
    for j, d in enumerate(dups):
        src = int(rng.integers(0, n))
        ws = words[src].copy()
        if j % 16:  # mutate ~10 % of the words; every 16th stays exact
            m = rng.random(len(ws)) < 0.1
            ws[m] = rng.integers(0, len(VOCAB), int(m.sum()))
        texts[d] = " ".join(VOCAB[w] for w in ws) + " dup"
    if len(dups) > 1:  # exact duplicate pairs of near-duplicates
        for a, b in zip(dups[::16], dups[1::16]):
            texts[b] = texts[a]
    langs = ["de", "en", "en", "en", "es", "fr", "zh"]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": pick(rng, langs, n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})


def embeddings(rng, n):
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    label = rng.integers(0, 10, n).astype(np.int32)
    v = centers[label] + rng.normal(0.0, 1.2, (n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32)),
                                   pa.array(v.reshape(-1)))
    return pa.table({"vec_id": np.arange(n, dtype=np.int64), "embedding": emb, "label": label})


def generate(out, sf, shuffle_seed=None):
    rng = np.random.default_rng(BASE_SEED)
    tables = star_schema(rng, sf)
    tables["events"] = events(rng, sf)
    tables["documents"] = documents(rng, max(500, int(50_000 * sf)))
    tables["embeddings"] = embeddings(rng, max(500, int(20_000 * sf)))
    os.makedirs(out, exist_ok=True)
    perm_rng = np.random.default_rng(shuffle_seed) if shuffle_seed is not None else None
    for name, tb in tables.items():
        if perm_rng is not None and name not in ("events", "documents"):
            tb = tb.take(pa.array(perm_rng.permutation(tb.num_rows)))
        pq.write_table(tb, os.path.join(out, f"{name}.parquet"))
    return {name: tb.num_rows for name, tb in tables.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out")
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--shuffle-seed", type=int)
    a = ap.parse_args()
    rows = generate(a.out, a.sf, a.shuffle_seed)
    print(" ".join(f"{k}={v}" for k, v in rows.items()))


if __name__ == "__main__":
    main()
