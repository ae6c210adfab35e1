"""Seeded input tables for the benchmark.

Writes the ten tables the engine's registry reads (`region nation customer
supplier part orders lineitem events documents embeddings`, one parquet file
each, the same column names and parquet types as the engine's fixture sets)
from a numpy generator seeded with the workload seed. The same seed always
gives byte-identical tables; another seed gives different values with the
same shapes and value domains.

Sizes: the TPC-H-like tables scale with `sf` (orders = 150,000 * sf); the
corpus tables are sized separately because the corpus operators' cost grows
with document and vector counts, not with sf.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "new", "old"]
PART_NOUN = ["ring", "widget", "bolt", "plate", "gear", "rod", "anvil", "nut"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _ts(base, offsets_us):
    return pa.array(base + offsets_us.astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _write(out_dir, name, table):
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir, seed, sf, n_docs, n_vecs):
    """Write all ten tables under `out_dir`; returns {table: rows}."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(15, int(15000 * sf))
    n_supp = max(10, int(1000 * sf))
    n_part = max(20, int(20000 * sf))
    n_ord = max(150, int(150000 * sf))
    n_line = 4 * n_ord
    n_events = max(100, int(100000 * sf))
    n_users = max(10, int(15000 * sf))
    tables = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    tables["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})

    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})

    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    tables["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})

    order_days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(EPOCH_1995, order_days * DAY_US),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})

    flags = rng.integers(0, 3, n_line)
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in flags],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(EPOCH_1995 + np.timedelta64(1, "D"),
                          rng.integers(0, 2498, n_line) * DAY_US)})

    gaps = rng.integers(1, int(30 * DAY_US / n_events) * 2, n_events)
    tables["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts(np.datetime64("2024-01-01", "us"), np.cumsum(gaps)),
        "user_id": rng.integers(0, n_users, n_events, dtype=np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(60.0, n_events), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_events)]})

    # Sizes and structure are fixed by position (document lengths, which
    # documents are near-duplicates, language and label counts); the seed
    # draws the content. Seeds then differ in values, not in the amount of
    # work, so runs on different seeds are comparable.
    texts = []
    for i in range(n_docs):
        if i % 20 == 19:  # 5% near-duplicates: an earlier document + a token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = 10 + (i * 37) % 91
            texts.append(" ".join(WORDS[w] for w in
                                  rng.integers(0, len(WORDS), n_words)))
    langs = [LANGS[i] for i in rng.permutation(
        np.repeat(np.arange(5), np.round(np.array(LANG_P) * n_docs + 0.5)
                  .astype(int)))[:n_docs]]
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    dim, n_labels = 64, 10
    centers = rng.normal(0.0, 1.0, (n_labels, dim))
    labels = rng.permutation(np.arange(n_vecs) % n_labels)
    vecs = centers[labels] * 0.2 + rng.normal(0.0, 1.0, (n_vecs, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})

    for name, t in tables.items():
        _write(out_dir, name, t)
    return {name: t.num_rows for name, t in tables.items()}


if __name__ == "__main__":
    import sys
    print(generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]),
                   int(sys.argv[4]), int(sys.argv[5])))
