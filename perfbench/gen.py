"""Seeded input generator for the benchmark workloads.

The table contents are fixed: they come from one internal generator seed,
with the schemas and value distributions of the repository's fixture
tables (TPC-H-ish star schema plus the `documents` and `embeddings`
tables of the LLM-corpus tier). The workload seed only permutes the row
order of every table and, for `maintained_state`, picks the history /
micro-batch split and the erasure cohort. So every seed does the same
work, and the DuckDB oracles give the same answers whatever the seed.

Each table is written as one `<dir>/<table>.parquet` file, the fixture
layout `graft.Tables` reads.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 20240101

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
COLORS = "blue cold green hot red small black white".split()
NOUNS = "anvil bolt gear gizmo plate ring rod widget".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)


def _ts(us):
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def star_tables(rows):
    """The seven star tables; `rows` maps table name to row count."""
    rng = np.random.default_rng(CONTENT_SEED)
    nc, ns, np_, no, nl = (rows[t] for t in
                           ("customer", "supplier", "part", "orders", "lineitem"))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    t["part"] = pa.table({
        "p_partkey": np.arange(np_, dtype=np.int64),
        "p_name": [f"{COLORS[c]} {NOUNS[n]}" for c, n in
                   zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": rng.choice(PTYPES, np_),
        "p_size": rng.integers(1, 51, np_, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 2)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no, dtype=np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, no) * DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, no)})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl, dtype=np.int64),
        "l_partkey": rng.integers(0, np_, nl, dtype=np.int64),
        "l_suppkey": rng.integers(0, ns, nl, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, nl, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2500, nl) * DAY_US)})
    return t


def corpus_tables(n_docs, n_vecs):
    """`documents` (5% near-duplicates: an earlier text plus " dup") and
    `embeddings` (unit 64-dim float vectors with a 0..9 label)."""
    rng = np.random.default_rng(CONTENT_SEED + 1)
    texts = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n)))
    langs = rng.choice(["en", "en", "en", "de", "es", "fr", "zh"], n_docs)
    docs = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})
    v = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs, dtype=np.int32)})
    return {"documents": docs, "embeddings": emb}


def _write(table, path):
    pq.write_table(table, path)
    return table.num_rows


def _permuted(table, rng):
    return table.take(rng.permutation(table.num_rows))


def generate(out_dir, tables, seed, batches=0, cohort_share=0.0,
             history_share=0.5):
    """Write `tables` (name -> pyarrow table) under `out_dir` with their
    rows permuted by `seed`. With `batches` > 0, also split `documents`
    into `history.parquet` and `batch_<i>.parquet` and pick
    `cohort.parquet`. Returns {file name: row count}."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    rows = {}
    for name in sorted(tables):
        rows[name] = _write(_permuted(tables[name], rng),
                            os.path.join(out_dir, f"{name}.parquet"))
    if batches:
        docs = tables["documents"]
        order = rng.permutation(docs.num_rows)
        n_hist = int(docs.num_rows * history_share)
        parts = [order[:n_hist]] + list(np.array_split(order[n_hist:], batches))
        names = ["history"] + [f"batch_{i}" for i in range(batches)]
        for name, idx in zip(names, parts):
            rows[name] = _write(docs.take(np.sort(idx)),
                                os.path.join(out_dir, f"{name}.parquet"))
        cohort = np.sort(rng.choice(docs.num_rows,
                                    int(docs.num_rows * cohort_share),
                                    replace=False))
        ids = docs.column("doc_id").take(pa.array(cohort))
        rows["cohort"] = _write(pa.table({"doc_id": ids}),
                                os.path.join(out_dir, "cohort.parquet"))
    return rows
