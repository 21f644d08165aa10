"""Seeded corpus generator for ``llm_curation``.

A pure function of its seed and size arguments: the same seed writes the
same ``documents`` and ``embeddings`` parquet files, in the ``io.TABLES``
schema the registry queries read.  The program under test sees only these
files.  (``ads_daily_etl`` gets its input from the seeded transport in
``perfbench.etl``.)
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


_LANGS = ["en", "de", "zh", "fr", "es"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
_BOILERPLATE = "subscribe to our newsletter terms and conditions apply"
#: The zipf head of the corpus vocabulary: English's most frequent words.
_STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "on", "that", "with"]


def _write(table: pa.Table, out_dir: str, name: str) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


VOCAB_SIZE = 2000
EXACT_DUP_FRAC, NEAR_DUP_FRAC = 0.01, 0.05


def gen_corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> list[list[int]]:
    """Write ``documents`` + ``embeddings`` with planted duplication and
    return the planted exact-duplicate document pairs.

    Words are drawn from a zipf(1) vocabulary of ``VOCAB_SIZE`` words whose
    ten most frequent are English stopwords (as in real text, so quality
    rules that require stopwords keep most documents), and a fixed
    boilerplate sentence is appended to 30 % of documents (hot shingles).
    In the second half of the corpus, ``EXACT_DUP_FRAC`` of all documents
    copy an earlier document and ``NEAR_DUP_FRAC`` copy one with three words
    replaced.  Embeddings are 64-d: 16 gaussian clusters plus 1 % planted
    near-duplicate vectors."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    vocab = np.array(_STOPWORDS + [f"w{i:04d}" for i in range(len(_STOPWORDS), VOCAB_SIZE)])
    p = 1.0 / np.arange(1, VOCAB_SIZE + 1)
    p /= p.sum()
    lens = rng.integers(30, 90, n_docs)
    words = rng.choice(vocab, size=int(lens.sum()), p=p)
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    for j in rng.choice(n_docs, int(n_docs * 0.3), replace=False):
        texts[int(j)] += " " + _BOILERPLATE
    half = n_docs // 2
    n_exact, n_near = int(n_docs * EXACT_DUP_FRAC), int(n_docs * NEAR_DUP_FRAC)
    picks = rng.choice(np.arange(half, n_docs), n_exact + n_near, replace=False)
    for j in picks[:n_exact]:
        texts[int(j)] = texts[int(j) - half]
    for j in picks[n_exact:]:
        base = texts[int(j) - half].split()
        for pos in rng.integers(0, len(base), size=3):
            base[int(pos)] = str(rng.choice(vocab))
        texts[int(j)] = " ".join(base)
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, size=n_docs, p=_LANG_P)),
        "source": pa.array([f"src{int(s)}" for s in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }), out_dir, "documents")

    centers = rng.normal(0, 0.12, size=(16, 64))
    label = rng.integers(0, 16, n_vecs)
    emb = centers[label] + rng.normal(0, 0.04, size=(n_vecs, 64))
    vhalf = n_vecs // 2
    for j in rng.choice(np.arange(vhalf, n_vecs), max(1, n_vecs // 100), replace=False):
        emb[j] = emb[int(j) - vhalf] + rng.normal(0, 0.002, size=64)
    flat = pa.array(emb.astype(np.float32).ravel())
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(flat, 64).cast(pa.list_(pa.float32())),
        "label": pa.array((label % 10).astype(np.int32)),
    }), out_dir, "embeddings")
    return [[int(j) - half, int(j)] for j in picks[:n_exact]]
