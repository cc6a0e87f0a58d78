"""Seeded generator of the TPC-H-shaped warehouse that query_mix reads.

Writes the ten tables the graft query registry expects (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings), one single-row-group parquet file each, with the column
names and types of graft's schema contract (`graft.Tables`).

Row counts follow the reference warehouses of the graft test data:
lineitem 6,000,000 x sf and the other TPC-H tables in TPC-H proportion;
documents and embeddings are floored at 500 rows, as they are there
(500 documents at sf0.001 and sf0.01, 5,000 at sf0.1). Value domains
follow the reference tables too; compare_reference.py prints both side
by side, and README.md records the comparison at sf0.001.

The same (seed, sf) always produces byte-identical files.

Usage: python3 gen_warehouse.py <out_dir> <seed> [sf]
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The documents vocabulary; "dup" marks near-duplicate tails.
VOCAB = ("a the row query stream fast spark line small customer group value "
         "hash batch sort data big filter key agg scan slow table part merge "
         "window order column join vector").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _days(rng, n, lo, hi):
    """n midnight timestamps uniform over [lo, hi] (dates)."""
    span = (hi - lo).days
    d = rng.integers(0, span + 1, n)
    base = np.datetime64(lo.isoformat(), "us")
    return base + d.astype("timedelta64[D]").astype("timedelta64[us]")


def _write(out_dir, name, table):
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows), compression="snappy")


def documents(rng, n_docs, first_id=0, near_dup_share=0.05, distinct=False):
    """The documents table as a dict of numpy/list columns.

    Texts are 10..100 words over VOCAB. Then, in ascending position,
    round(near_dup_share x n_docs) documents are replaced by another
    document's current text plus " dup", as in the reference tables: the
    parent is any other document, so a parent may itself be replaced
    later and two near-duplicates of one parent are exact duplicates.
    With `distinct`, parents are drawn from the documents that are not
    replaced and differ from each other, so no two texts are equal.
    """
    lens = rng.integers(10, 101, n_docs)
    words = rng.integers(0, len(VOCAB), lens.sum())
    texts, pos = [], 0
    for k in lens:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + k]))
        pos += k
    near = np.sort(rng.choice(n_docs, int(round(near_dup_share * n_docs)), replace=False))
    if distinct:
        keep = np.setdiff1d(np.arange(n_docs), near)
        parents = rng.permutation(keep)[:len(near)]
    else:
        parents = (near + rng.integers(1, n_docs, len(near))) % n_docs
    for i, j in zip(near, parents):
        texts[i] = texts[j] + " dup"
    ids = np.arange(first_id, first_id + n_docs, dtype=np.int64)
    lang = np.array(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)]
    return {
        "doc_id": ids,
        "text": texts,
        "lang": lang.tolist(),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def documents_table(cols):
    return pa.table({
        "doc_id": pa.array(cols["doc_id"], pa.int64()),
        "text": pa.array(cols["text"], pa.string()),
        "lang": pa.array(cols["lang"], pa.string()),
        "source": pa.array(cols["source"], pa.string()),
        "n_chars": pa.array(cols["n_chars"], pa.int64()),
    })


def build(out_dir, seed, sf=0.01):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 7001])
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))

    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())}))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))

    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(
            np.array(SEGMENTS)[rng.integers(0, 5, n_cust)].tolist())}))

    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))}))

    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(np.array(names)[rng.integers(0, 64, n_part)].tolist()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)].tolist()),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2))}))

    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(np.array(STATUSES)[rng.integers(0, 3, n_ord)].tolist()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": pa.array(
            _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            pa.timestamp("us")),
        "o_orderpriority": pa.array(
            np.array(PRIORITIES)[rng.integers(0, 5, n_ord)].tolist())}))

    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(qty),
        # Independent of the quantity, as in the reference tables.
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)].tolist()),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)].tolist()),
        "l_shipdate": pa.array(
            _days(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
            pa.timestamp("us"))}))

    # Distinct uniform event times over 30 days in event_id order, micro
    # resolution.
    span_us = 30 * 86_400_000_000
    ts_us = np.sort(rng.choice(span_us, n_ev, replace=False))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + ts_us.astype("timedelta64[us]")
    _write(out_dir, "events", pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)].tolist()),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])}))

    _write(out_dir, "documents", documents_table(documents(rng, n_docs)))

    # Uniform directions on the 64-dimensional unit sphere with labels
    # drawn apart from them: the reference vectors have no cluster
    # structure (same-label and other-label mean cosines are both ~0).
    dim = 64
    labels = rng.integers(0, 10, n_vec)
    x = rng.normal(0.0, 1.0, (n_vec, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}))
    return {"sf": sf, "lineitem_rows": n_line, "documents": n_docs}


if __name__ == "__main__":
    build(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]) if len(sys.argv) > 3 else 0.01)
