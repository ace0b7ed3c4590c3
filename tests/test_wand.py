"""Block index + TAAT top-k: rank identity vs oracle and M1 path."""

from __future__ import annotations

import pytest

from ir_base_spark.index.blocks import build_block_index
from ir_base_spark.index.build import build_index
from ir_base_spark.index.dictionary import assign_doc_ids
from ir_base_spark.oracle import build_oracle_index, search_all
from ir_base_spark.query.dataframe_bm25 import analyze_query_terms, topk_search
from tests.test_rank_identity import _compare, _oracle_docs


def test_wand_rank_identity(spark, fixture_small):
    from ir_base_spark.query.wand import wand_topk

    t = fixture_small.transcripts
    q = fixture_small.queries

    oracle_idx = build_oracle_index(_oracle_docs(t))
    expected = search_all(
        oracle_idx, list(zip(q["query_id"], q["query_text"], q["k"]))
    )

    sdf = spark.createDataFrame(t)
    index = build_index(spark, sdf)
    docs = assign_doc_ids(index.doc_lens)
    # small bucket_bits + block_size force multi-bucket, multi-block paths
    bindex = build_block_index(index, docs, block_size=16, bucket_bits=9)

    qt = analyze_query_terms(spark, q)
    got = wand_topk(bindex, qt).collect()
    _compare(got, expected)


def test_wand_matches_m1_bitwise(spark, fixture_small):
    """WAND and the M1 DataFrame path accumulate in the same canonical
    order → identical scores (well under tolerance) and identical ranks."""
    from ir_base_spark.query.wand import wand_topk

    t = fixture_small.transcripts
    q = fixture_small.queries.head(20)
    sdf = spark.createDataFrame(t)
    index = build_index(spark, sdf)
    qt = analyze_query_terms(spark, q)

    m1 = {(r["query_id"], r["rank"]): (r["conv_id"], r["turn_idx"], r["score"])
          for r in topk_search(index, qt).collect()}

    docs = assign_doc_ids(index.doc_lens)
    bindex = build_block_index(index, docs, block_size=32, bucket_bits=10)
    wd = {(r["query_id"], r["rank"]): (r["conv_id"], r["turn_idx"], r["score"])
          for r in wand_topk(bindex, qt).collect()}

    assert set(m1) == set(wd)
    for key in m1:
        assert m1[key][0] == wd[key][0]
        assert m1[key][1] == wd[key][1]
        assert abs(m1[key][2] - wd[key][2]) < 1e-12


def test_sharded_pipeline_rank_identity(spark, fixture_small, tmp_path):
    """Full production path: resumable build → sharded finalize (zero
    posting shuffle) → per-shard pyarrow block encode → sharded WAND.
    Must be rank-identical to the single-node oracle."""
    from ir_base_spark.index.blocks import encode_shards
    from ir_base_spark.index.manifest import finalize_sharded, resumable_build
    from ir_base_spark.query.wand import wand_topk_sharded

    t = fixture_small.transcripts
    q = fixture_small.queries
    oracle_idx = build_oracle_index(_oracle_docs(t))
    expected = search_all(
        oracle_idx, list(zip(q["query_id"], q["query_text"], q["k"]))
    )

    root = str(tmp_path / "sharded")
    sdf = spark.createDataFrame(t)
    resumable_build(spark, sdf, root, num_partitions=8)
    idx, base = finalize_sharded(spark, root)
    rep = encode_shards(spark, root, block_size=16)
    assert rep["shards"] >= 1 and rep["blocks"] > 0
    # doc-id ranges must never overlap (two_phase_cumsum offset pin)
    docs = spark.read.parquet(root + "/docs")
    assert docs.count() == docs.select("doc_id").distinct().count()

    qt = analyze_query_terms(spark, q)
    got = wand_topk_sharded(spark, root, qt).collect()
    _compare(got, expected)


def test_sharded_batch_and_single_query_match_oracle(spark, fixture_small, tmp_path):
    """The one scoring kernel is rank-identical to the oracle for a
    batch and for a single interactive request; the removed kernels'
    ``algo`` values are refused."""
    from ir_base_spark.index.blocks import encode_shards
    from ir_base_spark.index.manifest import finalize_sharded, resumable_build
    from ir_base_spark.query.wand import wand_topk_sharded

    t = fixture_small.transcripts
    q = fixture_small.queries
    assert len(q) >= 16
    oracle_idx = build_oracle_index(_oracle_docs(t))
    root = str(tmp_path / "taat")
    resumable_build(spark, spark.createDataFrame(t), root, num_partitions=4)
    finalize_sharded(spark, root)
    encode_shards(spark, root, block_size=16)

    for batch in (q, q.head(1)):
        expected = search_all(
            oracle_idx, list(zip(batch["query_id"], batch["query_text"], batch["k"]))
        )
        qt = analyze_query_terms(spark, batch)
        _compare(wand_topk_sharded(spark, root, qt).collect(), expected)

    for algo in ("wand", "taat", "maxscore", "cursor"):
        with pytest.raises(ValueError, match="removed"):
            wand_topk_sharded(spark, root, qt, algo=algo)


def test_direct_postings_blocks_identical(spark, fixture_small, tmp_path):
    """encode_shards_from_postings (no weights artifact) must produce a
    block index rank-identical to the oracle AND byte-identical block
    payloads vs the finalize_sharded+encode_shards path."""
    from ir_base_spark.index.blocks import (
        encode_shards,
        encode_shards_from_postings,
    )
    from ir_base_spark.index.manifest import (
        finalize_lite,
        finalize_sharded,
        resumable_build,
    )
    from ir_base_spark.query.wand import wand_topk_sharded

    t = fixture_small.transcripts
    q = fixture_small.queries
    oracle_idx = build_oracle_index(_oracle_docs(t))
    expected = search_all(
        oracle_idx, list(zip(q["query_id"], q["query_text"], q["k"]))
    )
    sdf = spark.createDataFrame(t)

    root_a = str(tmp_path / "via_weights")
    resumable_build(spark, sdf, root_a, num_partitions=4)
    finalize_sharded(spark, root_a)
    encode_shards(spark, root_a, block_size=16)

    root_b = str(tmp_path / "direct")
    resumable_build(spark, sdf, root_b, num_partitions=4)
    finalize_lite(spark, root_b)
    encode_shards_from_postings(spark, root_b, block_size=16)

    cols = ["term_id", "bucket", "block_seq", "n", "first_doc", "last_doc",
            "doc_gaps"]
    ba = sorted(
        (tuple(r) for r in spark.read.parquet(root_a + "/blocks")
         .select(*cols).collect())
    )
    bb = sorted(
        (tuple(r) for r in spark.read.parquet(root_b + "/blocks")
         .select(*cols).collect())
    )
    assert ba == bb  # identical structure + byte-identical gap payloads
    # the direct path stores varbyte TF and reconstructs the exact BM25
    # double at decode (sg_payload=tfv1); decoded weights must agree with
    # the stored-float64 path to the last ulp of Math.log vs numpy log
    import os

    import numpy as np

    from ir_base_spark.index.blocks import (
        _load_sidecars,
        decode_postings_block,
        load_shard_doclen,
    )
    from ir_base_spark.index.weights import B, K1

    (_ts, t_ids, _td, _cs, _bs, stats, t_idf) = _load_sidecars(root_b)
    order = np.argsort(t_ids)
    tids_s, idf_s = t_ids[order], t_idf[order]
    avg = float(stats["avg_doc_len"])
    wa = {(r["term_id"], r["bucket"], r["block_seq"]): r["weights"]
          for r in spark.read.parquet(root_a + "/blocks").collect()}
    denoms: dict[int, tuple] = {}
    n_checked = 0
    for r in spark.read.parquet(root_b + "/blocks").collect():
        pid = int(r["partition_id"])
        if pid not in denoms:
            lo, dl = load_shard_doclen(
                os.path.join(root_b, "blocks", f"partition_id={pid}")
            )
            denoms[pid] = (lo, K1 * ((1.0 - B) + B * (dl.astype(np.float64) / avg)))
        lo, denom = denoms[pid]
        idf_t = float(idf_s[int(np.searchsorted(tids_s, r["term_id"]))])
        _ids, vb = decode_postings_block(
            r["first_doc"], r["doc_gaps"], r["weights"], (idf_t, denom, lo)
        )
        va = np.frombuffer(
            wa[(r["term_id"], r["bucket"], r["block_seq"])], dtype=np.float64
        )
        assert np.abs(va - vb).max(initial=0.0) < 1e-12, r["term_id"]
        n_checked += 1
    assert n_checked == len(wa)

    qt = analyze_query_terms(spark, q)
    got = wand_topk_sharded(spark, root_b, qt).collect()
    _compare(got, expected)
