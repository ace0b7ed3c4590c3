"""Seeded input generation. Nothing here is timed.

The same seed gives the same corpus, query sets and operator tables.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd


def write_corpus(path: str, n_conversations: int, seed: int) -> pd.DataFrame:
    """Transcripts table from the engine's fixture generator, written as
    parquet in conversation order (8 files). At this size the in-process
    generator (~1.5 s) beats ``make_transcripts_spark``, whose first job
    pays the Python workers' cold start."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ir_base_spark.fixtures import make_transcripts

    pdf = make_transcripts(n_conversations=n_conversations, seed=seed)
    os.makedirs(path)
    for i, part in enumerate(np.array_split(np.arange(len(pdf)), 8)):
        pq.write_table(
            pa.Table.from_pandas(pdf.iloc[part], preserve_index=False),
            os.path.join(path, f"part-{i:05d}.parquet"),
            coerce_timestamps="us",   # Spark reads no nanosecond timestamps
        )
    return pdf


def query_sets(corpus: pd.DataFrame, seed: int, n_stream: int):
    """(reference batch of 100 queries, interactive stream), drawing
    query words from the corpus's first conversations. The stream uses
    another query seed than the batch and its own query ids."""
    from ir_base_spark.fixtures import make_queries

    sample = corpus.sort_values(["conv_id", "turn_idx"]).head(2000)
    batch = make_queries(sample, n_queries=100, seed=seed + 4200)
    stream = make_queries(sample, n_queries=n_stream, seed=seed + 4201)
    stream["query_id"] = [f"i-{i:04d}" for i in range(len(stream))]
    return batch, stream


# The operator tables are generated to the shape of the sf0.1
# `documents` and `embeddings` tables that the bench uses, as
# ``table_shape`` measures it on those files (run
# ``python3 perfbench/inputs.py <sf0.1 dir>``; measured 2026-10-17):
SF01_SHAPE = {
    "documents": 5000,
    "embeddings": 2000,
    "dim": 64,
    "vocabulary": 30,             # plus the near-duplicate marker "dup"
    "term_share_min": 0.0326,     # share of all tokens: uniform words
    "term_share_max": 0.0340,
    "query_term_df": 0.7761,      # mean share of docs holding spark/join/window
    "words_min": 10,
    "words_median": 54,
    "words_max": 100,
    "near_dup_share": 0.0486,     # text == an earlier text + " dup"
    "lang_en": 0.4118,            # de/es/fr/zh 0.140-0.151 each
    "sources": 20,                # src{doc_id % 20}
    "pagerank_group": 100,        # embedded docs per source (vec_id = doc_id)
    "labels": 10,
    "unit_norm": True,
}
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = np.array(["en", "de", "es", "fr", "zh"])
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_QUERY_TERMS = ("spark", "join", "window")   # __spark_entry__.BM25_QUERY_TERMS
DUP_SHARE = 0.05


def operator_tables(seed: int, n_docs: int, n_vecs: int, dim: int = 64):
    """(documents, embeddings) pandas frames: uniform words, 10-99 per
    document, a near-duplicate (an earlier text plus " dup") with
    probability DUP_SHARE, sources round-robin, unit embeddings."""
    rng = np.random.default_rng(seed)
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(i))] + " dup")
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(words[rng.integers(len(words), size=n)]))
    docs = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, size=n_docs, p=_LANG_P),
        "source": [f"src{i % SF01_SHAPE['sources']}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    v = rng.standard_normal((n_vecs, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pd.DataFrame({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": list(v),
        "label": rng.integers(0, 10, size=n_vecs).astype(np.int32),
    })
    return docs, emb


def table_shape(docs: pd.DataFrame, emb: pd.DataFrame) -> dict:
    """The figures of SF01_SHAPE, measured on a pair of tables."""
    toks = [t.split() for t in docs.text]
    counts = Counter(w for t in toks for w in t if w != "dup")
    total = sum(counts.values())
    lens = np.array([len(t) for t in toks])
    seen = set(docs.text)
    near = sum(
        1 for t in docs.text if t.endswith(" dup") and t[: -len(" dup")] in seen
    )
    groups = docs[docs.doc_id.isin(emb.vec_id)].source.value_counts()
    norms = np.linalg.norm(np.stack(emb.embedding.values), axis=1)
    return {
        "documents": len(docs),
        "embeddings": len(emb),
        "dim": len(emb.embedding.iloc[0]),
        "vocabulary": len(counts),
        "term_share_min": round(min(counts.values()) / total, 4),
        "term_share_max": round(max(counts.values()) / total, 4),
        "query_term_df": round(float(np.mean(
            [np.mean([q in set(t) for t in toks]) for q in _QUERY_TERMS]
        )), 4),
        "words_min": int(lens.min()),
        "words_median": int(np.median(lens)),
        "words_max": int(lens.max()),
        "near_dup_share": round(near / len(docs), 4),
        "lang_en": round(float((docs.lang == "en").mean()), 4),
        "sources": docs.source.nunique(),
        "pagerank_group": int(groups.median()),
        "labels": emb.label.nunique(),
        "unit_norm": bool(np.allclose(norms, 1.0, atol=1e-5)),
    }


if __name__ == "__main__":
    import json
    import os
    import sys

    d = sys.argv[1]
    print(json.dumps(table_shape(
        pd.read_parquet(os.path.join(d, "documents.parquet")),
        pd.read_parquet(os.path.join(d, "embeddings.parquet")),
    ), indent=1))
