"""Seeded generator of the star-schema tables the query workloads read.

The shapes and sizes follow the engine's reference test tables at scale
0.01 (TPC-H-like `lineitem`/`orders`/`customer`/`part`/`supplier`/`nation`/
`region`, an `events` stream with JSON properties, and a `documents` corpus
with planted near-duplicates); only the values depend on the seed, so every
seed gives the same amount of work. The benchmark generates them because it
may read nothing outside its own checkout. METRICS.md compares the
generated documents with the reference ones.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per table: the reference tables' at scale 0.01.
SIZES = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
         "lineitem": 60000, "events": 10000, "documents": 500, "users": 150}

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
NEAR_DUP_FRAC = 0.05


def _days(rng, n, start, end):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    return (lo + rng.integers(0, (hi - lo).astype(np.int64) + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n):
    """Docs of random words; a fixed 5% are edited copies of earlier docs.

    Measured on the reference documents at scale 0.01 (500 docs) and 0.1
    (5000): a 30-word vocabulary plus "dup", 10 to 100 words per doc,
    about 5% of docs in near-duplicate pairs.

    Which docs are copies, of which doc, and every doc's length come from a
    fixed layout, so near-duplicate clusters (and with them the iteration
    counts of the clustering queries) are the same for every seed; the
    seed only picks the words."""
    layout = np.random.default_rng(0)
    texts = []
    for i in range(n):
        copy = i > 0 and layout.random() < NEAR_DUP_FRAC
        src, append = int(layout.integers(0, max(i, 1))), layout.random() < 0.6
        length = int(layout.integers(10, 100))
        if copy:
            words = texts[src].split(" ")
            if append:
                words = words + ["dup"]
            else:
                words = list(words)
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), length)]
        texts.append(" ".join(words))
    langs = rng.choice(["en", "de", "es", "fr", "zh"], n, p=[0.44, 0.14, 0.14, 0.14, 0.14])
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": langs.tolist(),
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def generate(out_dir, seed):
    """Writes `<name>.parquet` per table and `tables.tsv` (name, rows, bytes)."""
    rng = np.random.default_rng(seed)
    s = SIZES
    os.makedirs(out_dir, exist_ok=True)
    nc, ns, np_, no, nl, ne = (s["customer"], s["supplier"], s["part"],
                               s["orders"], s["lineitem"], s["events"])
    adjs = ["blue", "old", "red", "small", "new", "hot", "large", "cold"]
    nouns = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 10**6
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, nc, -999.99, 9999.99),
            "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                        "HOUSEHOLD", "MACHINERY"], nc).tolist()}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, ns, -999.99, 9999.99)}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(np_), pa.int64()),
            "p_name": [f"{adjs[a]} {nouns[b]}" for a, b in
                       zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, np_)],
            "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                                  "STANDARD"], np_).tolist(),
            "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(np_) % 1000) / 10, 1)}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
            "o_totalprice": _money(rng, no, 1000, 500000),
            "o_orderdate": _days(rng, no, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                           "4-NOT SPECIFIED", "5-LOW"], no).tolist()}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, nl, 900, 105000),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
            "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
            "l_shipdate": _days(rng, nl, "1995-01-02", "2001-11-04")}),
        "events": pa.table({
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": t0 + np.sort(rng.integers(0, span_us, ne)).astype("timedelta64[us]"),
            "user_id": pa.array(rng.integers(0, s["users"], ne), pa.int64()),
            "event_type": rng.choice(["click", "error", "purchase", "signup",
                                      "view"], ne).tolist(),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]}),
        "documents": _documents(rng, s["documents"]),
    }
    lines = []
    for name, t in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path)
        lines.append(f"{name}\t{t.num_rows}\t{os.path.getsize(path)}\n")
    with open(os.path.join(out_dir, "tables.tsv"), "w") as f:
        f.writelines(lines)
