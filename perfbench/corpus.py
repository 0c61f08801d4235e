"""Seeded LLM-data corpus for the durable index families.

Writes the ``documents`` and ``embeddings`` shapes of the repository's
testdata (``doc_id, text, lang, source, n_chars`` and
``vec_id, embedding, label``) as parquet. Documents and vectors share one
id space, as in the testdata: a document's embedding row carries its
``doc_id`` as ``vec_id``.

- Documents: space-separated words drawn from a small vocabulary. A seeded
  share are near-duplicates of an earlier document, one word changed, so
  the dedup index has pairs to find and the keep rule has losers to drop.
- Embeddings: unit-spread Gaussian clusters around ``N_CLUSTERS`` random
  centres; ``label`` is the cluster, which the ANN index uses as its
  coarse cell.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
N_CLUSTERS = 8
VOCAB = (
    "a the row column table key value part hash merge join sort scan "
    "filter group order batch stream window query data spark agg line "
    "fast slow big small customer index shard vector token cache plan "
    "stage task job driver executor"
).split()


def documents(n: int, seed: int, dup_share: float = 0.1):
    """(pyarrow table, planted near-duplicate pairs ``(orig, copy)``)."""
    rng = random.Random(seed)
    texts: list[str] = []
    pairs: list[tuple[int, int]] = []
    for i in range(n):
        if i > 10 and rng.random() < dup_share:
            src = rng.randrange(i)
            words = texts[src].split()
            words[rng.randrange(len(words))] = rng.choice(VOCAB)
            pairs.append((src, i))
        else:
            words = [rng.choice(VOCAB) for _ in range(rng.randint(30, 60))]
        texts.append(" ".join(words))
    table = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": ["en"] * n,
        "source": [f"src{rng.randrange(4)}" for _ in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return table, pairs


def embeddings(n: int, seed: int, n_queries: int = 0):
    """(corpus vectors with ids ``0..n-1``, query vectors with ids
    ``0..n_queries-1``), drawn from the same clusters. The engine's ANN
    serving takes the query ids below its ``N_QUERIES``."""
    rng = random.Random(seed * 7919 + 1)
    centres = [[rng.gauss(0.0, 1.0) for _ in range(DIM)] for _ in range(N_CLUSTERS)]
    labels, vecs = [], []
    for _ in range(n + n_queries):
        c = rng.randrange(N_CLUSTERS)
        labels.append(c)
        vecs.append([x + rng.gauss(0.0, 0.35) for x in centres[c]])

    def table(lo, hi):
        return pa.table({
            "vec_id": pa.array(range(hi - lo), pa.int64()),
            "embedding": pa.array(vecs[lo:hi], pa.list_(pa.float32())),
            "label": pa.array(labels[lo:hi], pa.int32()),
        })

    return table(0, n), table(n, n + n_queries)


def write(base: str, n_docs: int, n_new: int, n_queries: int, seed: int) -> dict:
    """Write under ``base``: ``documents.parquet`` (the corpus, ids below
    ``n_docs``), ``new_documents.parquet`` (a batch of ``n_new`` more, some
    of them near-duplicates of corpus documents), ``embeddings.parquet``
    (one vector per corpus document) and ``queries.parquet``. Returns their
    paths, the planted near-duplicate pairs ``(original, copy)`` over both
    document sets, and the cluster labels of the corpus vectors and of the
    queries, by id."""
    os.makedirs(base, exist_ok=True)
    docs, pairs = documents(n_docs + n_new, seed)
    emb, queries = embeddings(n_docs, seed, n_queries)
    out = {k: f"{base}/{k}.parquet"
           for k in ("documents", "new_documents", "embeddings", "queries")}
    pq.write_table(docs.slice(0, n_docs), out["documents"])
    pq.write_table(docs.slice(n_docs), out["new_documents"])
    pq.write_table(emb, out["embeddings"])
    pq.write_table(queries, out["queries"])
    out["pairs"] = pairs
    out["labels"] = emb.column("label").to_pylist()
    out["query_labels"] = queries.column("label").to_pylist()
    return out
