"""Benchmark harness — prints ONE JSON line for the driver.

Runs the headline suite at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]:

- index_build: resumable tokenize/postings build over a synthetic
  transcripts table sized ~600 turns per conversation-unit of sf
  (deterministic, cached in /tmp across runs; generation time excluded)
- index_finalize: dictionary + corpus stats + BM25 weights
- block_build: doc-id map + compressed posting blocks
- wand_queries: the 100-query reference set through the sharded block
  index (the TAAT kernel)
- m1_queries: same set through the pure-DataFrame scoring path
- plus the headline __spark_entry__ queries on the sf tables, each
  forced end-to-end with a noop sink.

Output: {"metric": "headline_suite_sec", "value": <total>, "unit":
"sec", "queries": {name: sec}, "sf": <sf>, "index_turns_per_sec": ...}
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# entries faster than this get repeat-min'd (host noise dominates
# sub-second timings; min-of-3 makes round-over-round deltas signal)
REPEAT_MIN_THRESHOLD_SEC = 1.5
REPEAT_MIN_RUNS = 3

ENTRY_BENCH_QUERIES = [
    "bm25_topk_docs",
    "bm25_topk_docs_wand",
    "token_counts",
    "term_stats",
    "dedup_exact",
    "minhash_lsh",
    "simhash",
    "text_stats",
    "quality_score",
    "ann_cosine_topk",
    "ann_lsh_topk_batch",
    "ann_ivf_topk",
    "dedup_embedding",
    "gaussian_fields_predict",
    "plsa_topics",
    "lda_topics",
    "aspect_keywords",
    "sentiword_scores",
    "pagerank_weights",
    "kmeans_clusters",
    "multimodal_features",
    # restored: min-anchor LSH emission bounds the candidate set at O(m)
    # per dup cluster, so the near-dup-heavy sf0.1 corpus is no longer
    # pathological (round-2 verdict item 2)
    "dedup_near",
    "prf1_eval",
    "ranking_features",
    "pricing_summary",
    "revenue_by_nation",
    "top_customers_per_nation",
    "user_event_sessions",
    "ndcg_by_event_type",
]


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def _cached_transcripts(spark, n_conversations: int, seed: int = 42):
    """Generate-once parquet cache for the synthetic transcripts table."""
    cache = f"/tmp/spark_graft_transcripts_n{n_conversations}_s{seed}"
    if not os.path.isdir(cache):
        from ir_base_spark.fixtures import make_transcripts

        pdf = make_transcripts(n_conversations=n_conversations, seed=seed)
        tmp = cache + "._tmp"
        spark.createDataFrame(pdf).repartition(32).write.mode("overwrite").parquet(tmp)
        os.replace(tmp, cache)
    return spark.read.parquet(cache)


def run_index_bench(spark, n_conversations: int, queries_n: int = 100) -> dict:
    from ir_base_spark.fixtures import make_transcripts, make_queries
    from ir_base_spark.index.blocks import encode_shards_from_postings
    from ir_base_spark.index.manifest import finalize_lite, resumable_build
    from ir_base_spark.query.dataframe_bm25 import analyze_query_terms, topk_search
    from ir_base_spark.query.wand import wand_topk_sharded

    t = _cached_transcripts(spark, n_conversations)
    n_turns = t.count()

    root = tempfile.mkdtemp(prefix="sg_idx_")
    shutil.rmtree(root)
    out: dict = {}

    t0 = time.time()
    report = resumable_build(spark, t, root, num_partitions=32, max_concurrent_jobs=32)
    out["index_build"] = round(time.time() - t0, 3)

    # bigram postings build (the arrow-vectorized ngrams>=2 kernel)
    from ir_base_spark.index.tokenize import tokenize_turns

    t0 = time.time()
    tokenize_turns(t, ngrams=2).write.format("noop").mode("overwrite").save()
    out["tokenize_bigram"] = round(time.time() - t0, 3)
    out["_turns"] = n_turns
    out["_turns_per_sec"] = round(n_turns / out["index_build"], 1)

    t0 = time.time()
    idx, base = finalize_lite(spark, root)
    out["index_finalize"] = round(time.time() - t0, 3)

    t0 = time.time()
    encode_shards_from_postings(spark, root)
    out["block_build"] = round(time.time() - t0, 3)

    qpdf = make_queries(
        make_transcripts(n_conversations=min(n_conversations, 200)),
        n_queries=queries_n,
    )
    qt = analyze_query_terms(spark, qpdf).cache()
    qt.count()

    t0 = time.time()
    wand_topk_sharded(spark, root, qt).write.format("noop").mode(
        "overwrite"
    ).save()
    out["wand_queries"] = round(time.time() - t0, 3)

    t0 = time.time()
    topk_search(idx, qt).write.format("noop").mode("overwrite").save()
    out["m1_queries"] = round(time.time() - t0, 3)

    shutil.rmtree(root, ignore_errors=True)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = _sf_of(sf_dir)

    from ir_base_spark.session import get_spark

    spark = get_spark(app_name="bench", cores=cpus, shuffle_partitions=cpus)

    import __spark_entry__ as E

    queries: dict[str, float] = {}

    # synthetic transcripts index suite, sized by sf
    n_conversations = max(int(40000 * sf), 50)
    idx_times = run_index_bench(spark, n_conversations)
    turns = idx_times.pop("_turns")
    tps = idx_times.pop("_turns_per_sec")
    queries.update(idx_times)

    qs = E.queries()
    repeats: dict[str, int] = {}
    for name in ENTRY_BENCH_QUERIES:
        fn = qs[name]
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = time.time() - t0
        n = 1
        # sub-second entries are dominated by host noise (round-4
        # verdict item 7): repeat-min them so round-over-round deltas
        # are signal, not scheduler jitter
        while best < REPEAT_MIN_THRESHOLD_SEC and n < REPEAT_MIN_RUNS:
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
            n += 1
        queries[name] = round(best, 3)
        repeats[name] = n

    total = round(sum(queries.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_suite_sec",
                "value": total,
                "unit": "sec",
                "queries": queries,
                "n_repeats": repeats,
                "sf": sf,
                "cpus": cpus,
                "index_turns": turns,
                "index_turns_per_sec": tps,
            }
        )
    )


if __name__ == "__main__":
    main()
