"""Seeded fuzz of the TAAT bucket kernel vs a brute-force dict scorer.

Inputs go through ``encode_postings_block``, so multi-block runs are
stitched by ``decode_postings_run`` exactly as on the query path. The
trials cover block sizes 2–9, negative weights, k above the candidate
count, query terms absent from the bucket, queries with no matched
term, several queries per call (accumulator reuse) and integer-valued
weights, whose exact score ties at the k boundary pin the smallest-doc
re-selection after ``argpartition``.
"""

from __future__ import annotations

from collections import Counter

import numpy as np

from ir_base_spark.index.blocks import encode_postings_block
from ir_base_spark.query.wand import _taat_bucket


def _encode_run(ids: np.ndarray, ws: np.ndarray, block_size: int) -> tuple:
    blocks = [
        encode_postings_block(ids[off: off + block_size], ws[off: off + block_size])
        for off in range(0, len(ids), block_size)
    ]
    firsts, lasts, _maxws, gaps, payloads = zip(*blocks)
    return (
        np.array(firsts, dtype=np.int64),
        np.array(lasts, dtype=np.int64),
        list(gaps),
        list(payloads),
        None,
    )


def _run_trial(rng, hit: Counter) -> None:
    n_docs = int(rng.integers(5, 300))
    base = int(rng.integers(0, 10_000))  # bucket doc range need not start at 0
    n_terms = int(rng.integers(1, 7))
    block_size = int(rng.integers(2, 10))
    integer_weights = bool(rng.integers(0, 2))
    postings: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    arrays: dict[int, tuple] = {}
    for tid in sorted(rng.choice(1000, size=n_terms, replace=False).tolist()):
        n_post = int(rng.integers(1, n_docs + 1))
        ids = base + np.sort(rng.choice(n_docs, size=n_post, replace=False))
        if integer_weights:
            ws = rng.integers(-2, 4, size=n_post).astype(np.float64)
        else:
            ws = rng.normal(loc=1.0, size=n_post)
        postings[tid] = (ids.astype(np.int64), ws)
        arrays[tid] = _encode_run(ids, ws, block_size)
        hit["multi_block"] += n_post > block_size
        hit["negative_weight"] += bool((ws < 0).any())

    queries = []
    for qi in range(int(rng.integers(1, 6))):
        present = list(postings)
        tids = set(rng.choice(present, size=int(rng.integers(0, len(present) + 1)),
                              replace=False).tolist())
        tids |= set(rng.integers(1000, 1100, size=int(rng.integers(0, 3))).tolist())
        if not tids:
            tids = {2000}
        terms = sorted((int(t), float(rng.integers(1, 4))) for t in tids)
        queries.append((f"q{qi}", int(rng.integers(1, 2 * n_docs)), terms))

    out = {"query_id": [], "doc_id": [], "score": [], "k": []}
    _taat_bucket(arrays, queries, out)
    got = list(zip(out["query_id"], out["doc_id"], out["score"], out["k"]))

    expect = []
    for query_id, k, terms in queries:
        truth: dict[int, float] = {}
        for tid, qw in terms:  # ascending term_id, the canonical order
            if tid not in postings:
                hit["absent_term"] += 1
                continue
            for d, w in zip(*postings[tid]):
                truth[int(d)] = truth.get(int(d), 0.0) + qw * float(w)
        ranked = sorted(truth.items(), key=lambda t: (-t[1], t[0]))
        hit["no_matched_term"] += not ranked
        hit["k_above_candidates"] += k > len(ranked) > 0
        hit["tie_at_k"] += len(ranked) > k and ranked[k - 1][1] == ranked[k][1]
        expect += [(query_id, d, s, k) for d, s in ranked[:k]]
    hit["multi_query"] += len(queries) > 1
    assert got == expect


def test_taat_kernel_fuzz():
    rng = np.random.default_rng(20261017)
    hit: Counter = Counter()
    for _ in range(300):
        _run_trial(rng, hit)
    for case in ("multi_block", "negative_weight", "absent_term",
                 "no_matched_term", "k_above_candidates", "tie_at_k",
                 "multi_query"):
        assert hit[case] > 0, case
