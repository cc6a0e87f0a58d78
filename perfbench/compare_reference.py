#!/usr/bin/env python3
"""Compare a generated warehouse with a reference one, table by table.

Prints, for both directories side by side: row counts; per column the
minimum, maximum, mean and distinct count (numbers, timestamps) or the
distinct count and the largest value share (strings); and the shapes
the query_mix queries are sensitive to: near-duplicate (" dup") and
exact-duplicate document shares, words per document, event gaps,
extended price against quantity, and the embedding cluster structure.

Usage: python3 perfbench/compare_reference.py <generated_dir> <reference_dir>
"""
import sys

import numpy as np
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def column_summary(s):
    if s.name == "embedding":
        return f"dim {len(s.iloc[0])}"
    if s.dtype.kind in "ifM":
        mean = "" if s.dtype.kind == "M" else f" mean {s.mean():.4g}"
        return f"{s.min()}..{s.max()}{mean} nd {s.nunique()}"
    top = s.value_counts(normalize=True)
    return f"nd {s.nunique()} top {str(top.index[0])[:24]!r} {top.iloc[0]:.3f}"


def shapes(d):
    """The distribution figures the benchmark's queries depend on."""
    docs = pq.read_table(f"{d}/documents.parquet").to_pandas()
    texts = docs.text.tolist()
    words = np.array([len(t.split()) for t in texts])
    ev = pq.read_table(f"{d}/events.parquet").to_pandas()
    gaps = np.diff(ev.sort_values("event_id").ts.values).astype("int64") / 1e6
    li = pq.read_table(f"{d}/lineitem.parquet").to_pandas()
    emb = pq.read_table(f"{d}/embeddings.parquet").to_pandas()
    x = np.stack(emb.embedding.values).astype(float)
    lab = emb.label.values
    cos = x @ x.T
    same = lab[:, None] == lab[None, :]
    np.fill_diagonal(same, False)
    other = ~same
    np.fill_diagonal(other, False)
    np.fill_diagonal(cos, -2.0)
    return {
        "documents near-dup share": np.mean([t.endswith(" dup") for t in texts]),
        "documents exact-dup share": 1 - len(set(texts)) / len(texts),
        "documents words p10/p50/p90": np.percentile(words, [10, 50, 90]),
        "events gap s p10/p50/p90": np.percentile(gaps, [10, 50, 90]),
        "lineitem corr(quantity, extendedprice)":
            np.corrcoef(li.l_quantity, li.l_extendedprice)[0, 1],
        "embeddings cos same/other label": [cos[same].mean(), cos[other].mean()],
        "embeddings 1-NN same-label share": np.mean(lab[cos.argmax(axis=1)] == lab),
    }


def fmt(v):
    if isinstance(v, (list, np.ndarray)):
        return "/".join(f"{x:.3g}" for x in v)
    return f"{v:.3g}"


def main():
    gen, ref = sys.argv[1], sys.argv[2]
    print(f"generated {gen}\nreference {ref}")
    for t in TABLES:
        a = pq.read_table(f"{gen}/{t}.parquet").to_pandas()
        b = pq.read_table(f"{ref}/{t}.parquet").to_pandas()
        print(f"\n{t}: rows {len(a)} | {len(b)}")
        for c in b.columns:
            got = column_summary(a[c]) if c in a.columns else "missing"
            print(f"  {c}: {got} | {column_summary(b[c])}")
    print()
    sa, sb = shapes(gen), shapes(ref)
    for k in sb:
        print(f"{k}: {fmt(sa[k])} | {fmt(sb[k])}")


if __name__ == "__main__":
    main()
