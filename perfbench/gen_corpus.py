"""Seeded builder of the corpus flow's input.

Starts from a documents table made by gen_warehouse.documents with
distinct texts (so the injected exact duplicates are the only ones) and
injects, at requested shares of the base documents:

  exact duplicates  copies of a base document under a new, higher doc_id;
  near-duplicates   copies with one word replaced, under a new doc_id;
  boilerplate       one of a few fixed 10-word lines put in front of the
                    text (10 words = one line-dedup segment).

It writes the corpus twice:

  jsonl/part-0000k.json.gz  gzip JSONL, the batch flow's ingest input;
  drops/drop-00k.parquet    ascending doc_id ranges with increasing
                            modification times, one file per trigger of
                            the streaming twin.

The shares it returns are measured on the written corpus, not the
requested ones. The same seed always produces byte-identical files.

Usage: python3 gen_corpus.py <out_dir> <seed> [n_base_docs]
"""
import gzip
import json
import os
import sys
from collections import Counter, defaultdict

import numpy as np
import pyarrow.parquet as pq

import gen_warehouse

EXACT_SHARE = 0.06
NEAR_SHARE = 0.05
BOILERPLATE_SHARE = 0.10
BOILERPLATE = [
    "subscribe to our newsletter for weekly updates and special offers",
    "this page uses cookies to improve your browsing experience today",
    "all rights reserved no part may be copied without written permission",
]
JSONL_FILES = 4
DROPS = 3
SEG_TOKENS = 10       # graft's line-dedup segment width, in words
NEAR_JACCARD = 0.7    # word 5-gram Jaccard that counts as a near-duplicate
BOILERPLATE_MIN_TEXTS = 5
DROP_MTIME0 = 1_700_000_000  # seconds; drop k gets DROP_MTIME0 + 60 k


def _grams(text, n=5):
    w = text.split(" ")
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}


def measured_shares(texts):
    """Shares of exact duplicates, near-duplicates and boilerplate docs.

    exact: documents whose text equals an earlier document's text;
    near:  documents that are not exact copies but share word 5-grams
           with an earlier document at Jaccard >= NEAR_JACCARD;
    boilerplate: documents holding a 10-word segment (at a segment
           boundary, as graft's line dedup cuts them) that at least
           BOILERPLATE_MIN_TEXTS distinct texts hold; near-duplicate
           families share segments too, but rarely that many.
    """
    n = len(texts)
    seen, exact = set(), 0
    for t in texts:
        exact += t in seen
        seen.add(t)
    grams = [_grams(t) for t in texts]
    postings = defaultdict(list)
    for i, g in enumerate(grams):
        for x in g:
            postings[x].append(i)
    shared = Counter()
    for docs in postings.values():
        if 1 < len(docs) <= 50:
            for a in range(len(docs)):
                for b in range(a + 1, len(docs)):
                    shared[(docs[a], docs[b])] += 1
    near = set()
    for (a, b), k in shared.items():
        if texts[a] != texts[b] and k / len(grams[a] | grams[b]) >= NEAR_JACCARD:
            near.add(b)
    segs = Counter()
    doc_segs = []
    for t in texts:
        w = t.split(" ")
        doc_segs.append({" ".join(w[i:i + SEG_TOKENS])
                         for i in range(0, len(w), SEG_TOKENS)})
    for t in set(texts):
        w = t.split(" ")
        segs.update({" ".join(w[i:i + SEG_TOKENS]) for i in range(0, len(w), SEG_TOKENS)})
    boiler = sum(any(segs[s] >= BOILERPLATE_MIN_TEXTS for s in ds) for ds in doc_segs)
    return {"exact_dup_share": exact / n, "near_dup_share": len(near) / n,
            "boilerplate_share": boiler / n}


def build(out_dir, seed, n_base=1000):
    rng = np.random.default_rng([seed, 7003])
    base = gen_warehouse.documents(rng, n_base, distinct=True)
    cols = {k: list(v) for k, v in base.items()}
    # Boilerplate first, so exact copies carry it too.
    for i in np.flatnonzero(rng.random(n_base) < BOILERPLATE_SHARE):
        cols["text"][i] = BOILERPLATE[rng.integers(0, len(BOILERPLATE))] + " " + cols["text"][i]
    next_id = n_base
    injected_exact = []
    for i in sorted(rng.choice(n_base, int(EXACT_SHARE * n_base), replace=False)):
        for k in cols:
            cols[k].append(cols[k][i] if k != "doc_id" else next_id)
        injected_exact.append(next_id)
        next_id += 1
    vocab = gen_warehouse.VOCAB
    for i in sorted(rng.choice(n_base, int(NEAR_SHARE * n_base), replace=False)):
        w = cols["text"][i].split(" ")
        p = int(rng.integers(0, len(w)))
        # The next vocabulary word; words outside it ("dup", boilerplate)
        # become the first one. Either way the copy differs.
        w[p] = vocab[(vocab.index(w[p]) + 1) % len(vocab)] if w[p] in vocab else vocab[0]
        for k in cols:
            cols[k].append(cols[k][i] if k != "doc_id" else next_id)
        cols["text"][-1] = " ".join(w)
        next_id += 1
    cols["n_chars"] = [len(t) for t in cols["text"]]
    n = len(cols["doc_id"])
    cols["doc_id"] = np.asarray(cols["doc_id"], dtype=np.int64)
    table = gen_warehouse.documents_table(cols)

    jdir = os.path.join(out_dir, "jsonl")
    os.makedirs(jdir, exist_ok=True)
    for k in range(JSONL_FILES):
        lines = "".join(json.dumps(
            {"doc_id": int(cols["doc_id"][i]), "text": cols["text"][i],
             "lang": cols["lang"][i], "source": cols["source"][i],
             "n_chars": int(cols["n_chars"][i])}) + "\n"
            for i in range(k, n, JSONL_FILES))
        with open(os.path.join(jdir, f"part-{k:05d}.json.gz"), "wb") as raw:
            with gzip.GzipFile(fileobj=raw, mode="wb", mtime=0, filename="") as gz:
                gz.write(lines.encode("utf-8"))

    ddir = os.path.join(out_dir, "drops")
    os.makedirs(ddir, exist_ok=True)
    cuts = np.linspace(0, n, DROPS + 1).astype(int)
    for k in range(DROPS):
        path = os.path.join(ddir, f"drop-{k:03d}.parquet")
        pq.write_table(table.slice(cuts[k], cuts[k + 1] - cuts[k]), path,
                       compression="snappy")
        os.utime(path, (DROP_MTIME0 + 60 * k, DROP_MTIME0 + 60 * k))

    info = {"docs": n, "base_docs": n_base, "injected_exact_ids": injected_exact,
            "requested": {"exact_dup_share": EXACT_SHARE, "near_dup_share": NEAR_SHARE,
                          "boilerplate_share": BOILERPLATE_SHARE}}
    info["measured"] = measured_shares(cols["text"])
    return info


if __name__ == "__main__":
    out = build(sys.argv[1], int(sys.argv[2]),
                int(sys.argv[3]) if len(sys.argv) > 3 else 1000)
    out.pop("injected_exact_ids")
    print(json.dumps(out))
