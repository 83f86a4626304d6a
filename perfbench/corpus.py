"""Seeded corpus for the ``corpus_curation`` workload, in the fixture
schema the curation operators read:

    documents  (doc_id BIGINT, text STRING, lang STRING, source STRING,
                n_chars BIGINT)
    embeddings (vec_id BIGINT, embedding ARRAY<FLOAT>, label INT)

Texts draw words from a Zipf-ranked synthetic vocabulary. A share of
documents start with one of a few shared boilerplate prefixes (whole
8-word segments, the unit the boilerplate stripper works on). A
``dup_fraction`` of documents are planted duplicates of earlier ones:
half exact copies, half near-duplicates with a few words edited.
Embeddings are unit vectors around ``CLUSTERS`` centres, and the same
share of them are small perturbations of an earlier vector. The
duplicate rate is the input property dedup cost depends on.
"""

from __future__ import annotations

import os

LANGS = ("en", "en", "en", "de", "fr", "es", "zh")
SEG_WORDS = 8
CLUSTERS = 10
DIM = 64


def _vocabulary(rng, size: int) -> list[str]:
    syll = ["ka", "lo", "mi", "ne", "ru", "sa", "te", "vo", "zi", "pa",
            "do", "ge", "hu", "ri", "ba", "co", "fe", "ja", "ly", "wo"]
    words: list[str] = []
    seen = set()
    while len(words) < size:
        w = "".join(rng.choice(syll, rng.integers(1, 4)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def make_corpus(out_dir: str, seed: int, n_docs: int,
                dup_fraction: float = 0.2) -> dict:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    vocab = _vocabulary(rng, 2000)
    ranks = np.arange(1, len(vocab) + 1)
    p = 1.0 / ranks ** 1.1
    p /= p.sum()
    prefixes = [" ".join(rng.choice(vocab[:300], SEG_WORDS * k))
                for k in (1, 2, 2, 3)]

    texts: list[str] = []
    planted = 0
    for i in range(n_docs):
        if i > 10 and rng.random() < dup_fraction:
            src = texts[int(rng.integers(0, i))].split()
            if rng.random() < 0.5:
                for j in rng.integers(0, len(src), 3):
                    src[j] = vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(src))
            planted += 1
            continue
        words = list(rng.choice(vocab, int(rng.integers(24, 90)), p=p))
        if rng.random() < 0.3:
            words = prefixes[int(rng.integers(0, len(prefixes)))].split() \
                + words
        texts.append(" ".join(words))
    docs = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[int(x)] for x in rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    centres = rng.normal(size=(CLUSTERS, DIM))
    label = rng.integers(0, CLUSTERS, n_docs)
    vecs = centres[label] + 0.6 * rng.normal(size=(n_docs, DIM))
    for i in range(10, n_docs):
        if rng.random() < dup_fraction:
            j = int(rng.integers(0, i))
            vecs[i] = vecs[j] + 0.01 * rng.normal(size=DIM)
            label[i] = label[j]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(range(n_docs), pa.int64()),
        "embedding": pa.array([v.astype(np.float32).tolist() for v in vecs],
                              pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
    return {"docs": n_docs, "planted_duplicates": planted}
