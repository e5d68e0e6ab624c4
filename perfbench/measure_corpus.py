#!/usr/bin/env python3
"""Measures the shape of a `documents`/`embeddings` corpus and writes it as
the parameters `corpus.py` generates from:

    python3 perfbench/measure_corpus.py <dir with documents.parquet and
        embeddings.parquet> > perfbench/corpus_stats.json

`corpus_stats.json` in this directory holds the figures measured on the
program's sf0.1 test corpus (TESTDATA.md). Each figure is measured, not
assumed; the checks printed to stderr say which structural rules the
corpus follows exactly (for instance, that every near-duplicate is its
source's text plus the marker word).
"""
import collections
import json
import sys

import numpy as np
import pyarrow.parquet as pq


def main():
    src = sys.argv[1]
    d = pq.read_table(f"{src}/documents.parquet").to_pandas()
    e = pq.read_table(f"{src}/embeddings.parquet").to_pandas()
    texts = d.text.tolist()
    n = len(texts)

    def note(msg):
        print(f"measure_corpus: {msg}", file=sys.stderr)

    # near-duplicates: the documents whose last word occurs nowhere else
    # as a last word of most documents, i.e. a marker appended to a copy
    last = collections.Counter(t.rsplit(" ", 1)[-1] for t in texts)
    marker, n_marked = last.most_common(1)[0]
    marked = [t for t in texts if t.endswith(" " + marker)]
    bodies = set(t[:-len(marker) - 1] for t in marked)
    sources_found = sum(b in set(texts) for b in bodies)
    note(f"near-duplicate marker '{marker}': {n_marked} of {n} documents; "
         f"{sources_found} of {len(bodies)} distinct bodies are another "
         "document's whole text")

    words = [t.split(" ") for t in texts]
    plain = [w for w, t in zip(words, texts) if not t.endswith(" " + marker)]
    freq = collections.Counter(x for w in plain for x in w)
    lengths = np.array([len(w) for w in plain])
    shares = np.array(list(freq.values())) / sum(freq.values())
    note(f"vocabulary {len(freq)} words, word shares {shares.min():.4f}"
         f"..{shares.max():.4f} (uniform would be {1 / len(freq):.4f})")
    hist = np.bincount(lengths - lengths.min())
    note(f"words per document {lengths.min()}..{lengths.max()}, per-length "
         f"count {hist.min()}..{hist.max()} (mean {hist.mean():.1f})")

    # boilerplate: 8-word spans shared by two unrelated documents
    owners = collections.defaultdict(set)
    for i, w in enumerate(plain):
        for k in range(len(w) - 7):
            owners[tuple(w[k:k + 8])].add(i)
    shared8 = sum(len(v) > 1 for v in owners.values())
    note(f"8-word spans shared by two or more non-marked documents: {shared8}")

    src_ok = all(s == f"src{i % d.source.nunique()}"
                 for i, s in zip(d.doc_id, d.source))
    note(f"source == 'src' + doc_id mod {d.source.nunique()}: {src_ok}")
    note(f"n_chars == len(text): {bool((d.n_chars == d.text.str.len()).all())}")

    x = np.array(e.embedding.tolist(), dtype=np.float64)
    norms = np.linalg.norm(x, axis=1)
    xn = x / norms[:, None]
    cos = (xn @ xn.T)[np.triu_indices(len(x), 1)]
    note(f"embedding norms {norms.min():.6f}..{norms.max():.6f}; pairwise "
         f"cosine std {cos.std():.4f} (isotropic would be "
         f"{1 / np.sqrt(x.shape[1]):.4f}), max {cos.max():.3f}")
    note(f"vec_id == 0..n-1: {bool((e.vec_id.values == np.arange(len(e))).all())}")

    langs = d.lang.value_counts()
    labels = e.label.value_counts().sort_index()
    json.dump({
        "measured_on": "sf0.1 documents.parquet and embeddings.parquet",
        "docs": n,
        "vocabulary": sorted(freq),
        "words_per_doc": [int(lengths.min()), int(lengths.max())],
        "near_dup_marker": marker,
        "near_dup_share": n_marked / n,
        "shared_8_word_spans": shared8,
        "lang_share": {k: round(v / n, 4) for k, v in langs.items()},
        "sources": int(d.source.nunique()),
        "vectors": len(e),
        "vectors_per_doc": len(e) / n,
        "dim": int(x.shape[1]),
        "cosine_std": round(float(cos.std()), 4),
        "labels": [int(labels.index.min()), int(labels.index.max())],
    }, sys.stdout, indent=1)
    print()


if __name__ == "__main__":
    main()
