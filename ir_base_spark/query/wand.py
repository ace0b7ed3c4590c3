"""Top-k BM25 over the compressed block index: one exact vectorized
term-at-a-time (TAAT) kernel.

The scale query path (SURVEY §7.1 step 6) is document-space sharded.
Each kernel call gets one doc-range bucket (one shard file on disk, or
one ``bucket`` group of the in-memory index) with the matched terms'
blocks, decodes each term's block run once in one vectorized pass, and
runs EVERY query of the batch over it. It emits <= k rows per
(query, bucket); a bounded per-query rank window takes the final top-k.

The exactness contract is two rules, the same two ``oracle.search``
follows, so results are rank-identical to the oracle and the M1
DataFrame path:

- per doc, contributions qw·w accumulate in ascending term_id order
  (canonical float order, SURVEY §7.3): each vectorized
  ``acc[idx] += qw*w`` pass is one term's addend, and the terms are
  visited sorted;
- ranking is (score desc, doc_id asc): score ties keep the smallest
  (conv_id, turn_idx), the MyPriorityQueue contract
  (/root/reference/src/structures/MyPriorityQueue.java:40-52).

There is no pruning: every posting of every matched term is scored, so
no upper bound, skip or threshold has to stay sound. The per-block
``max_weight`` column is not read.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..index.blocks import BlockIndex, decode_postings_run


def _taat_bucket(
    arrays: dict[int, tuple],
    queries: list[tuple[str, int, list[tuple[int, float]]]],
    out: dict,
) -> None:
    """Score every query over one bucket's block runs; append each
    query's top-k rows to ``out``.

    ``arrays`` maps term_id → (firsts, lasts, gaps, payloads, meta) of
    that term's blocks in block order. A dense accumulator spans only
    the bucket's doc range (bounded by the doc-shard width), so memory
    is O(bucket), never O(corpus), and is reused across queries.
    """
    decoded: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    lo = None
    hi = None
    for tid, (firsts, lasts, gaps, wbytes, meta) in arrays.items():
        ids, ws = decode_postings_run(firsts, lasts, gaps, wbytes, meta)
        decoded[tid] = (ids, ws)
        tlo = int(ids[0])
        thi = int(ids[-1])
        lo = tlo if lo is None or tlo < lo else lo
        hi = thi if hi is None or thi > hi else hi
    if lo is None:
        return
    width = hi - lo + 1
    acc = np.zeros(width, dtype=np.float64)
    touched = np.zeros(width, dtype=bool)
    for query_id, k, terms in queries:
        matched = [
            (tid, qw) for tid, qw in terms if tid in decoded
        ]  # terms already term_id-ascending
        if not matched:
            continue
        acc.fill(0.0)
        touched.fill(False)
        for tid, qw in matched:
            ids, ws = decoded[tid]
            idx = ids - lo
            acc[idx] += qw * ws
            touched[idx] = True
        cand = np.flatnonzero(touched)
        scores = acc[cand]
        if len(cand) > k:
            part = np.argpartition(scores, len(scores) - k)[len(scores) - k:]
            # among the k largest by score, ties must keep SMALLEST doc:
            # argpartition's boundary choice is arbitrary, so re-select
            # exactly: sort all candidates tied with the boundary score
            thresh = scores[part].min()
            keep = np.flatnonzero(scores >= thresh)
            order = np.lexsort((cand[keep], -scores[keep]))[:k]
            sel = keep[order]
        else:
            order = np.lexsort((cand, -scores))
            sel = order
        for i in sel:
            out["query_id"].append(query_id)
            out["doc_id"].append(int(cand[i]) + lo)
            out["score"].append(float(scores[i]))
            out["k"].append(k)


def _make_bucket_kernel(queries: list[tuple[str, int, list[tuple[int, float]]]]):
    """Kernel factory: one call per BUCKET of block rows; every query
    runs over the bucket's blocks."""

    def kernel(pdf: pd.DataFrame, meta_for=None) -> pd.DataFrame:
        arrays: dict[int, tuple] = {}
        for term_id, g in pdf.groupby("term_id", sort=True):
            g = g.sort_values("block_seq")
            arrays[int(term_id)] = (
                g["first_doc"].to_numpy(dtype=np.int64),
                g["last_doc"].to_numpy(dtype=np.int64),
                g["doc_gaps"].tolist(),
                g["weights"].tolist(),
                meta_for(int(term_id)) if meta_for is not None else None,
            )
        out = {"query_id": [], "doc_id": [], "score": [], "k": []}
        _taat_bucket(arrays, queries, out)
        return pd.DataFrame(out)

    return kernel


def _prepare_queries(terms: DataFrame, query_terms: DataFrame):
    """query_terms ⋈ dictionary → (queries list, sorted distinct term ids);
    the query set is small by contract (SURVEY §7.1) and rides in the
    kernel closure."""
    qt_pd = (
        query_terms.join(
            F.broadcast(terms.select("term", "term_id")), "term", "inner"
        )
        .select("query_id", "term_id", "qw", "k")
        .toPandas()
    )
    if len(qt_pd) == 0:
        return [], []
    queries = [
        (qid, int(g["k"].iloc[0]), sorted(zip(g["term_id"].astype(int), g["qw"])))
        for qid, g in qt_pd.groupby("query_id", sort=True)
    ]
    return queries, sorted(int(t) for t in set(qt_pd["term_id"]))


def wand_topk_sharded(
    spark,
    index_root: str,
    query_terms: DataFrame,
    algo: str = "auto",
) -> DataFrame:
    """Top-k over the doc-sharded on-disk block index
    (blocks.encode_shards_from_postings layout) — the production batch
    and interactive query path.

    Each task gets a slice of shard PATHS; the kernel reads only the
    matched terms' blocks via a pyarrow ``term_id in (...)`` predicate
    (block files are term-sorted with small row groups, so row-group
    statistics prune most of the file), then runs every query over the
    shard. Matched block bytes never shuffle and never cross the
    JVM→Python socket: the only rows Spark moves are <= k results per
    (query, shard). The doc_id → (conv_id, turn_idx) label is resolved
    IN-KERNEL by a searchsorted against the worker-cached
    conversation-base sidecar (doc_id = base[conv] + turn by
    construction), so no join against the turn-level docs table runs per
    batch. The final merge is just the bounded per-query rank window.

    Every non-empty shard must be in the TF-payload format
    (``sg_payload=tfv1``); any other raises BlockFormatError.

    ``algo`` accepts only ``"auto"``: there is one scoring kernel.
    """
    import glob as _glob
    import os as _os

    if algo != "auto":
        raise ValueError(
            f"algo={algo!r}: the 'wand', 'taat', 'maxscore' and 'cursor' "
            "kernels were removed; the one scorer is the exact "
            "vectorized term-at-a-time kernel, algo='auto'"
        )
    if not _os.path.isdir(_os.path.join(index_root, "base")):
        raise FileNotFoundError(
            f"{index_root}/base/ sidecar missing — run finalize_lite "
            "to write the conversation-base sidecar."
        )
    terms = spark.read.parquet(_os.path.join(index_root, "terms"))
    queries, term_ids = _prepare_queries(terms, query_terms)
    if not queries:
        return spark.createDataFrame(
            [],
            "query_id string, rank int, conv_id string, turn_idx int, score double",
        )
    shard_files = sorted(
        _glob.glob(_os.path.join(index_root, "blocks", "partition_id=*", "*.parquet"))
    )
    if not shard_files:
        raise FileNotFoundError(
            f"no sharded block files under {index_root}/blocks/"
            "partition_id=*/ — run encode_shards_from_postings"
        )
    # fuse shard files into ~2 tasks per core: one task per FILE pays
    # the python-worker round trip per shard (measured ~0.15s each — at
    # 4 cores the 32-task read floor alone was 1.6s, dominating batch
    # latency); the kernel loop already streams multiple paths per
    # task, and shard uniformity (test_skew) bounds straggler risk.
    # sc.parallelize slices the path list into EXACTLY even contiguous
    # chunks — a repartition() would round-robin from a random offset
    # per input partition, and the resulting collisions (one task with
    # 3-4 shards, others empty) were the measured batch straggler
    n_tasks = max(
        1, min(len(shard_files), spark.sparkContext.defaultParallelism * 2)
    )
    fdf = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(p,) for p in shard_files], n_tasks
        ),
        "path string",
    )
    bucket_kernel = _make_bucket_kernel(queries)
    tid_list = list(term_ids)

    def shard_kernel(batches):
        import os as _os

        import pyarrow as pa
        import pyarrow.parquet as pq

        from ..index.blocks import (
            _PAYLOAD_KEY,
            _PAYLOAD_TF,
            BlockFormatError,
            load_query_sidecar_views,
            load_shard_doclen,
        )
        from ..index.weights import B as _B, K1 as _K1

        views = None
        for pdf in batches:
            for path in pdf["path"]:
                tbl = pq.read_table(
                    path,
                    filters=[("term_id", "in", tid_list)],
                    use_threads=False,
                )
                md = tbl.schema.metadata or {}
                if md.get(_PAYLOAD_KEY) != _PAYLOAD_TF and (
                    tbl.num_rows or pq.read_metadata(path).num_rows
                ):
                    raise BlockFormatError(
                        f"{path} is not a TF-payload block shard "
                        "(sg_payload=tfv1); rebuild the index with "
                        "encode_shards_from_postings"
                    )
                if tbl.num_rows == 0:
                    continue
                if views is None:
                    # worker-cached across batches (anti-scaling fixed
                    # cost otherwise: one conv-table argsort per worker
                    # per batch, growing with worker count)
                    views = load_query_sidecar_views(index_root)
                conv_map, idf_lut, stats = views
                # exact BM25 rebuilt from TF: per-shard denominator and
                # norm from the doclen sidecar, idf per matched term
                # from the dictionary sidecar
                lo_v, dl, nrm = load_shard_doclen(_os.path.dirname(path))
                avg = float(stats["avg_doc_len"])
                denom = _K1 * ((1.0 - _B) + _B * (dl.astype(np.float64) / avg))
                tids_sorted, idf_sorted = idf_lut

                def meta_for(tid, _d=denom, _l=lo_v, _n=nrm):
                    j = int(np.searchsorted(tids_sorted, tid))
                    if j >= len(tids_sorted) or tids_sorted[j] != tid:
                        raise RuntimeError(
                            f"term_id {tid} present in blocks but "
                            f"missing from the terms sidecar — "
                            f"stale or mismatched index sidecars "
                            f"under {index_root!r}"
                        )
                    return (float(idf_sorted[j]), _d, _l, _n)

                out = bucket_kernel(tbl.to_pandas(), meta_for)
                if len(out) == 0:
                    continue
                # conv ids stay an Arrow array; only the <= k·|q|
                # result rows ever become Python strings
                sbases, convs = conv_map
                doc = out["doc_id"].to_numpy()
                j = np.searchsorted(sbases, doc, side="right") - 1
                out["conv_id"] = convs.take(pa.array(j)).to_pylist()
                out["turn_idx"] = (doc - sbases[j]).astype(np.int32)
                yield out

    local = fdf.mapInPandas(
        shard_kernel,
        "query_id string, doc_id long, score double, k int, "
        "conv_id string, turn_idx int",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    topk = (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.col("k"))
    )
    return topk.select("query_id", "rank", "conv_id", "turn_idx", "score")


def wand_topk(index: BlockIndex, query_terms: DataFrame) -> DataFrame:
    """query_terms(query_id, term, qw, k) → (query_id, rank, conv_id,
    turn_idx, score) over the in-memory block index.

    The query set is small by contract (it rides to every kernel in the
    UDF closure); block bytes shuffle once per bucket, deduplicated on
    the distinct query term_ids.
    """
    queries, tids = _prepare_queries(index.terms, query_terms)
    if not queries:
        spark = index.blocks.sparkSession
        return spark.createDataFrame(
            [],
            "query_id string, rank int, conv_id string, turn_idx int, score double",
        )
    term_ids = index.blocks.sparkSession.createDataFrame(
        [(int(t),) for t in tids], "term_id long"
    )
    matched = index.blocks.join(F.broadcast(term_ids), "term_id", "left_semi")

    bucket_kernel = _make_bucket_kernel(queries)
    local = matched.groupBy("bucket").applyInPandas(
        lambda pdf: bucket_kernel(pdf),
        schema="query_id string, doc_id long, score double, k int",
    )

    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    topk = (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.col("k"))
    )
    return (
        topk.join(
            index.docs.select("doc_id", "conv_id", "turn_idx"), "doc_id"
        )
        .select("query_id", "rank", "conv_id", "turn_idx", "score")
    )
