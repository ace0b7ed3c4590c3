"""The benchmark's workloads. Each is a closed loop with one client (this
process) against the engine's public functions.

A workload is a pair of functions. The first makes the inputs and the
oracle's answers from the seed without Spark, while the session starts;
the second receives a ``Run`` and what the first returned, and returns a
dict with
``setup_s``, ``samples`` (per operation kind, the wall seconds of every
timed operation) and ``facts`` (input and index sizes, build timings).
"""

from __future__ import annotations

import os
import shutil
import time

from . import inputs
from .check import frame_mismatch, ranked_mismatch

# --- query: build+resume in set-up, then batch and interactive queries
N_CONVERSATIONS = 500        # ~7.5k turns
PARTITIONS = 8
KILLED = (1, 5)              # a fixed quarter of the partitions
STREAM_LEN = 400             # interactive requests available to a run
# requests differ widely in cost (an all-unknown-term query never reaches
# the shard kernel: 0.7 s against 1.3-1.9 s), so a round times several
REQUESTS_PER_ROUND = 3

# --- operators: __spark_entry__ entries on seeded tables. The ROADMAP
# names these for the one-engine (bm25_topk_docs_wand) and cache-lifetime
# (pagerank_weights) work; the other entries it names did not fit the
# run-time budget (see README.md).
ENTRIES = (
    "bm25_topk_docs_wand",
    "pagerank_weights",
)
# a fresh session's first pass of the two entries takes about twice a
# later one (measured at the sf0.1 row counts: 28 s, then 15, 13, 11 and
# 11 s); one warm pass is what the run-time budget leaves room for
WARM_PASSES = 1
# the row counts of the sf0.1 tables (inputs.SF01_SHAPE)
N_DOCS = inputs.SF01_SHAPE["documents"]
N_VECS = inputs.SF01_SHAPE["embeddings"]


def _du(path: str) -> int:
    total = 0
    for r, _d, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(r, f))
    return total


def _kill_partitions(root: str, pids) -> None:
    """Simulate a killed build the way tests/test_resume.py does: drop
    the manifest row and the promoted output of each partition."""
    for pid in pids:
        os.remove(os.path.join(root, "manifest", f"p{pid}.json"))
        out = os.path.join(root, "postings", f"partition_id={pid}")
        if os.path.isdir(out):
            shutil.rmtree(out)


def _rows(rows) -> list[tuple]:
    return [
        (r["query_id"], r["rank"], r["conv_id"], r["turn_idx"], r["score"])
        for r in rows
    ]


def build_index(run, corpus, root: str) -> dict:
    """resumable_build → kill a quarter → resume → finalize_lite →
    encode_shards_from_postings, each call in its own span."""
    from ir_base_spark.index.blocks import encode_shards_from_postings
    from ir_base_spark.index.manifest import finalize_lite, resumable_build

    spark, tr = run.spark, run.tracer
    t = {}
    t0 = time.perf_counter()
    with tr.span("manifest.build"):
        full = resumable_build(spark, corpus, root, num_partitions=PARTITIONS)
    t["build_s"] = time.perf_counter() - t0
    _kill_partitions(root, KILLED)
    t0 = time.perf_counter()
    with tr.span("manifest.resume"):
        resumed = resumable_build(spark, corpus, root, num_partitions=PARTITIONS)
    t["resume_s"] = time.perf_counter() - t0
    run.check(
        None
        if (resumed.partitions_built, resumed.partitions_skipped)
        == (len(KILLED), PARTITIONS - len(KILLED))
        else f"resume built {resumed.partitions_built} and skipped "
        f"{resumed.partitions_skipped} partitions; killed {len(KILLED)} of {PARTITIONS}",
        "resume",
    )
    t0 = time.perf_counter()
    with tr.span("finalize"):
        idx, _base = finalize_lite(spark, root)
    t["finalize_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    with tr.span("encode"):
        encode_shards_from_postings(spark, root)
    t["encode_s"] = time.perf_counter() - t0
    t["idx"] = idx
    # the resume rebuilds postings the first build already counted
    t["postings_rows"] = full.postings_built
    return t


def prepare_query(seed: int, work: str) -> dict:
    """Inputs and oracle answers of the query workload. Uses no Spark,
    so it runs while the session starts; not timed, not set-up."""
    from ir_base_spark.oracle import build_oracle_index, search_all

    t_in = time.perf_counter()
    corpus_dir = os.path.join(work, "corpus")
    pdf = inputs.write_corpus(corpus_dir, N_CONVERSATIONS, seed)
    batch, stream = inputs.query_sets(pdf, seed, STREAM_LEN)
    t_gen = time.perf_counter() - t_in
    oracle = build_oracle_index(
        [((c, int(t)), x) for c, t, x in zip(pdf.conv_id, pdf.turn_idx, pdf.text)]
    )
    expected_batch = search_all(
        oracle, list(zip(batch.query_id, batch.query_text, batch.k))
    )
    facts = {
        "turns": len(pdf),
        "text_bytes": int(sum(len((x or "").encode()) for x in pdf.text)),
        "queries_per_batch": len(batch),
        "inputs_s": time.perf_counter() - t_in,
        "generate_s": t_gen,
    }
    return {
        "corpus_dir": corpus_dir, "batch": batch, "stream": stream,
        "oracle": oracle, "expected_batch": expected_batch, "facts": facts,
    }


def query(run, prep) -> dict:
    from ir_base_spark.oracle import search
    from ir_base_spark.query.dataframe_bm25 import analyze_query_terms, topk_search
    from ir_base_spark.query.wand import wand_topk_sharded

    spark, tr = run.spark, run.tracer
    root = os.path.join(run.work, "index")
    corpus = spark.read.parquet(prep["corpus_dir"])
    batch, stream, oracle = prep["batch"], prep["stream"], prep["oracle"]
    expected_batch, facts = prep["expected_batch"], prep["facts"]

    def wand_batch(qt):
        with tr.span("batch.wand"):
            with tr.span("wand.plan"):
                out = wand_topk_sharded(spark, root, qt, algo="auto")
            with tr.span("wand.exec") as sp:
                rows = out.collect()
                if sp is not None:
                    sp.attrs["result_rows"] = len(rows)
        return lambda: run.check(
            ranked_mismatch(_rows(rows), expected_batch), "batch.wand"
        )

    def df_batch(idx, qt):
        with tr.span("batch.df"):
            with tr.span("m1.exec"):
                rows = topk_search(idx, qt).collect()
        return lambda: run.check(
            ranked_mismatch(_rows(rows), expected_batch), "batch.df"
        )

    def interactive(j):
        # the j-th request of the round's slot, so that the paired traced
        # and untraced rounds of a traced run send the same requests
        i = (run.slot * REQUESTS_PER_ROUND + j) % len(stream)
        q = stream.iloc[[i]]
        qid, text, k = q.query_id.iloc[0], q.query_text.iloc[0], int(q.k.iloc[0])
        with tr.span("request", request=i):
            with tr.span("analyze"):
                qt = analyze_query_terms(spark, q)
            with tr.span("wand.plan"):
                out = wand_topk_sharded(spark, root, qt, algo="auto")
            with tr.span("wand.exec"):
                rows = out.collect()

        def verify():
            expected = [
                (qid, r, c, t, s)
                for r, (c, t, s) in enumerate(search(oracle, text, k), 1)
            ]
            run.check(ranked_mismatch(_rows(rows), expected), f"request {qid}")

        return verify

    # set-up: the index build chain, then one warm DataFrame batch (its
    # first call compiles the plan: ~2x a warm call); the build already
    # warmed the Python workers the wand kernel runs in
    t0 = time.perf_counter()
    with tr.span("setup"):
        b = build_index(run, corpus, root)
        qt = analyze_query_terms(spark, batch)
        _dt, warm = run.attempt("batch_df", lambda: df_batch(b["idx"], qt))
    setup_s = time.perf_counter() - t0
    warm()
    if tr.enabled:
        # tokenize alone, same input, noop sink, after set-up (warm): the
        # gap to manifest.build_s (cold) is the manifest's split, commit
        # and promote cost plus the session's cold start
        from ir_base_spark.index.tokenize import tokenize_turns

        with tr.span("tokenize"):
            tokenize_turns(corpus, ngrams=1).write.format("noop").mode(
                "overwrite"
            ).save()

    samples = run.loop({
        "batch_wand": lambda: wand_batch(qt),
        "batch_df": lambda: df_batch(b["idx"], qt),
        **{f"request{j}": (lambda j=j: interactive(j))
           for j in range(REQUESTS_PER_ROUND)},
    })
    samples["interactive"] = [
        x for j in range(REQUESTS_PER_ROUND) for x in samples.pop(f"request{j}")
    ]

    blocks = _du(os.path.join(root, "blocks"))
    index_bytes = blocks + sum(
        _du(os.path.join(root, d)) for d in ("terms", "base")
    ) + os.path.getsize(os.path.join(root, "stats.json"))
    facts.update(
        build_s=b["build_s"],
        resume_s=b["resume_s"],
        finalize_s=b["finalize_s"],
        encode_s=b["encode_s"],
        postings_rows=b["postings_rows"],
        postings_bytes=_du(os.path.join(root, "postings")),
        blocks_bytes=blocks,
        index_bytes=index_bytes,
        build_turns_per_s=facts["turns"]
        / (b["build_s"] + b["finalize_s"] + b["encode_s"]),
        index_bytes_per_text_byte=index_bytes / facts["text_bytes"],
    )
    return {"setup_s": setup_s, "samples": samples, "facts": facts}


def prepare_operators(seed: int, work: str) -> dict:
    """The two tables and each entry's oracle output over them. Uses no
    Spark, so it runs while the session starts."""
    import duckdb

    import __spark_entry__ as E

    sf = os.path.join(work, "sf")
    os.makedirs(sf)
    docs, emb = inputs.operator_tables(seed, N_DOCS, N_VECS)
    docs.to_parquet(os.path.join(sf, "documents.parquet"), index=False)
    emb.to_parquet(os.path.join(sf, "embeddings.parquet"), index=False)
    sql = E.oracle_sql()
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
        expected = {name: con.sql(sql[name]).df() for name in ENTRIES}
    finally:
        con.close()
    return {"sf": sf, "expected": expected}


def operators(run, prep) -> dict:
    import __spark_entry__ as E

    spark, tr = run.spark, run.tracer
    sf, expected = prep["sf"], prep["expected"]
    entries = E.queries()

    def call(name):
        def op():
            with tr.span(f"op.{name}") as sp:
                got = entries[name](spark, sf).toPandas()
                if sp is not None:
                    sp.attrs["persistent_rdds"], sp.attrs["cached_bytes"] = (
                        tr.spark.storage()
                    )
            return lambda: run.check(frame_mismatch(got, expected[name]), name)

        return op

    kinds = {name: call(name) for name in ENTRIES}
    t0 = time.perf_counter()
    with tr.span("setup"):
        checks = [
            run.attempt(name, op)[1]
            for _ in range(WARM_PASSES)
            for name, op in kinds.items()
        ]
    setup_s = time.perf_counter() - t0
    for verify in checks:
        verify()
    samples = run.loop(kinds)
    return {
        "setup_s": setup_s,
        "samples": samples,
        "facts": {"documents": N_DOCS, "embeddings": N_VECS},
    }


# name -> (input preparation without Spark, the workload proper)
WORKLOADS = {
    "query": (prepare_query, query),
    "operators": (prepare_operators, operators),
}
