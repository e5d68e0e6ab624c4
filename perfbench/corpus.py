"""Seeded dedup corpus: `documents` and `embeddings` parquet tables in the
schema the program's text and sim tiers read, with the shape measured on
the program's sf0.1 test corpus (`corpus_stats.json`, written by
`measure_corpus.py`):

- words drawn uniformly from the same 30-word vocabulary, 10 to 99 words
  per document, uniformly;
- 5% near-duplicates: a document's text is replaced by another
  document's text plus the marker word, one after another in a random
  order, so chains and overwritten sources occur as they do there;
- no boilerplate (no 8-word span is shared by two unrelated documents);
- `lang` drawn with the measured shares, `source` = "src" + doc_id mod 20,
  `n_chars` = the text's length;
- 0.4 embeddings per document, isotropic unit vectors of dimension 64,
  `vec_id` 0..n-1 and a uniform `label` in 0..9.

The size is a parameter; only the shares are taken from the measurement.
The structure comes from a fixed structure seed, so every workload seed
has the same duplicate structure. The workload seed then permutes the
text alphabet (every shingle and hash changes), the document order (ids
are reassigned) and the embedding rows and axes, with sign flips (cosines
are unchanged).
"""
import json
import os
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STRUCTURE_SEED = 20240611
with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "corpus_stats.json")) as _f:
    STATS = json.load(_f)


def _structure(n_docs):
    """Texts, languages and embeddings before the seed's permutations."""
    st = STATS
    rng = np.random.default_rng(STRUCTURE_SEED)
    vocab = st["vocabulary"]
    lo, hi = st["words_per_doc"]
    texts = [" ".join(vocab[k] for k in rng.integers(len(vocab), size=n))
             for n in rng.integers(lo, hi + 1, size=n_docs)]
    n_dup = round(st["near_dup_share"] * n_docs)
    for i in rng.choice(n_docs, size=n_dup, replace=False):
        j = (i + rng.integers(1, n_docs)) % n_docs   # any other document
        texts[i] = texts[j] + " " + st["near_dup_marker"]
    langs, shares = zip(*st["lang_share"].items())
    p = np.array(shares) / sum(shares)
    lang = [langs[k] for k in rng.choice(len(langs), size=n_docs, p=p)]
    n_vec = round(st["vectors_per_doc"] * n_docs)
    emb = rng.standard_normal((n_vec, st["dim"]))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    lab_lo, lab_hi = st["labels"]
    labels = rng.integers(lab_lo, lab_hi + 1, size=n_vec)
    return texts, lang, emb, labels


def generate(out_dir, seed, n_docs):
    """Writes documents.parquet and embeddings.parquet under out_dir."""
    texts, langs, emb, labels = _structure(n_docs)
    rng = np.random.default_rng(seed)
    letters = string.ascii_lowercase
    table = str.maketrans(letters, "".join(rng.permutation(list(letters))))
    order = rng.permutation(n_docs)           # doc_id -> structure index
    dim = emb.shape[1]
    vorder = rng.permutation(len(emb))        # vec_id -> structure index
    axes = rng.permutation(dim)
    signs = rng.choice([-1.0, 1.0], size=dim)
    emb = (emb[vorder][:, axes] * signs).astype(np.float32)

    texts = [texts[i].translate(table) for i in order]
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([langs[i] for i in order], pa.string()),
        "source": pa.array([f"src{i % STATS['sources']}" for i in range(n_docs)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = pa.table({
        "vec_id": pa.array(np.arange(len(emb)), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels[vorder].astype(np.int32), pa.int32()),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(vecs, os.path.join(out_dir, "embeddings.parquet"))
