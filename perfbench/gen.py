"""Seeded input generation for the benchmark.

Writes the ten fixture tables (`region nation customer supplier part
orders lineitem events documents embeddings`) as parquet with the
schemas of the repository's parquet fixtures (FIXTURES.md section B),
so the engine's entries and the DuckDB oracles in `tools/selfcheck.py`
read them unchanged.

The table *structure* comes from a fixed generator seed, so every run
does the same amount of work. The run seed only relabels:

- `documents.text` goes through a seed-chosen vocabulary permutation
  that maps each word to a word of the same length. Lengths, sources,
  languages and the near-duplicate structure are kept, and every
  BM25 query term and stopword still occurs at the same rate.
- `doc_id`s are assigned in a seed-chosen order, which sets the
  ingest workload's base/batch split (base = the lowest ids).
"""
import os
import random
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STRUCTURE_SEED = 42
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

VOCAB = ["a", "the", "row", "key", "agg", "big", "hash", "join", "scan",
         "slow", "fast", "line", "data", "part", "sort", "small", "batch",
         "merge", "order", "table", "value", "spark", "group", "query",
         "filter", "column", "vector", "stream", "window", "customer"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "old", "red", "small", "new", "hot", "large", "cold"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]


def vocab_permutation(seed):
    """Seed-chosen bijection on VOCAB that keeps every word's length."""
    rng = random.Random(seed)
    by_len = {}
    for w in VOCAB:
        by_len.setdefault(len(w), []).append(w)
    mapping = {}
    for words in by_len.values():
        shuffled = words[:]
        rng.shuffle(shuffled)
        mapping.update(zip(words, shuffled))
    return mapping


def corpus_texts(n_docs):
    """Fixed-structure corpus: random word runs, with about 5 % near
    duplicates (an earlier text plus or minus one trailing word) and a
    few exact duplicates, as in the repository's fixtures."""
    rng = random.Random(STRUCTURE_SEED)
    texts = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.05:
            words = texts[rng.randrange(i)].split()
            if rng.random() < 0.5 and len(words) > 8:
                words = words[:-1]
            else:
                words = words + ["dup"]
        elif i > 10 and r < 0.052:
            words = texts[rng.randrange(i)].split()
        else:
            words = [rng.choice(VOCAB) for _ in range(rng.randint(8, 90))]
        texts.append(" ".join(words))
    langs = [rng.choices(LANGS, LANG_P)[0] for _ in range(n_docs)]
    sources = [f"src{rng.randrange(20)}" for _ in range(n_docs)]
    return texts, langs, sources


def documents_table(n_docs, seed):
    texts, langs, sources = corpus_texts(n_docs)
    perm = vocab_permutation(seed)
    texts = [" ".join(perm.get(w, w) for w in t.split()) for t in texts]
    order = list(range(n_docs))
    random.Random(seed).shuffle(order)
    rows = sorted(zip(order, texts, langs, sources))
    return pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "lang": pa.array([r[2] for r in rows], pa.string()),
        "source": pa.array([r[3] for r in rows], pa.string()),
        "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
    })


def embeddings_table(n_vecs, dim=64, labels=10):
    rng = np.random.default_rng(STRUCTURE_SEED)
    centers = rng.normal(size=(labels, dim))
    label = rng.integers(0, labels, n_vecs)
    vecs = centers[label] + 1.5 * rng.normal(size=(n_vecs, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32), pa.int32()),
    })


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(base, offsets):
    return pa.array([base + timedelta(days=int(d)) for d in offsets],
                    pa.timestamp("us"))


def tpch_tables(lineitems):
    """Trimmed TPC-H star schema at ~`lineitems` lineitem rows, with
    the fixture ratios (orders = lineitem / 4, customer = orders / 10,
    part = lineitem / 30, supplier = lineitem / 600)."""
    rng = np.random.default_rng(STRUCTURE_SEED)
    n_ord = max(lineitems // 4, 10)
    n_cust = max(n_ord // 10, 10)
    n_part = max(lineitems // 30, 10)
    n_supp = max(lineitems // 600, 5)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist()})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    price = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, n_part),
                                              rng.choice(NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": price})
    odate = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days(datetime(1995, 1, 1), odate),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist()})
    per = rng.integers(1, 8, n_ord)
    per = per * lineitems // max(int(per.sum()), 1) + 1
    okey = np.repeat(np.arange(n_ord), per)
    n_li = len(okey)
    lnum = np.concatenate([np.arange(1, k + 1) for k in per])
    pkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(pkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[pkey], 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
        "l_shipdate": _days(datetime(1995, 1, 1),
                            odate[okey] + rng.integers(1, 122, n_li))})
    return t


def events_table(n_events):
    rng = np.random.default_rng(STRUCTURE_SEED)
    gaps = rng.integers(1, 2 * 86400 * 30 * 10**6 // max(n_events, 1),
                        n_events)
    base = datetime(2024, 1, 1)
    ts = [base + timedelta(microseconds=int(us)) for us in np.cumsum(gaps)]
    return pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_events), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_events).tolist(),
        "value": _money(rng, 0, 20, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})


def write_tables(out_dir, seed, lineitems, docs, vecs, events):
    """Write all ten tables under `out_dir`; returns their total bytes."""
    os.makedirs(out_dir, exist_ok=True)
    tables = tpch_tables(lineitems)
    tables["events"] = events_table(events)
    tables["documents"] = documents_table(docs, seed)
    tables["embeddings"] = embeddings_table(vecs)
    total = 0
    for name in TABLES:
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tables[name], path)
        total += os.path.getsize(path)
    return total
