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


def _disk_index(spark, transcripts, root, num_partitions, **finalize_args):
    """The on-disk path: resumable_build → finalize_lite →
    encode_shards_from_postings (small blocks force multi-block runs)."""
    from ir_base_spark.index.blocks import encode_shards_from_postings
    from ir_base_spark.index.manifest import finalize_lite, resumable_build

    resumable_build(
        spark, spark.createDataFrame(transcripts), root,
        num_partitions=num_partitions,
    )
    idx, _base = finalize_lite(spark, root, **finalize_args)
    rep = encode_shards_from_postings(spark, root, block_size=16)
    return idx, rep


def _assert_decoded_weights_match(spark, root, idx):
    """Every posting's weight decoded from the TF-payload blocks equals
    the Catalyst set_feature_values weight (idx.weights, doc_id via
    base/) within 1e-12, and the posting sets are equal."""
    import os

    import numpy as np

    from ir_base_spark.index.blocks import (
        _load_sidecars,
        decode_postings_block,
        load_shard_doclen,
    )
    from ir_base_spark.index.weights import B, K1

    base = {r["conv_id"]: r["base"]
            for r in spark.read.parquet(root + "/base").collect()}
    want = {(r["term_id"], base[r["conv_id"]] + r["turn_idx"]): r["weight"]
            for r in idx.weights.collect()}
    (_ts, t_ids, _td, _cs, _bs, stats, t_idf) = _load_sidecars(root)
    idf = dict(zip(t_ids.tolist(), t_idf.tolist()))
    avg = float(stats["avg_doc_len"])
    shards: dict[int, tuple] = {}
    got = {}
    for r in spark.read.parquet(root + "/blocks").collect():
        pid = int(r["partition_id"])
        if pid not in shards:
            lo, dl, nrm = load_shard_doclen(
                os.path.join(root, "blocks", f"partition_id={pid}")
            )
            denom = K1 * ((1.0 - B) + B * (dl.astype(np.float64) / avg))
            shards[pid] = (denom, lo, nrm)
        ids, ws = decode_postings_block(
            r["first_doc"], r["doc_gaps"], r["weights"],
            (idf[r["term_id"]], *shards[pid]),
        )
        for d, w in zip(ids.tolist(), ws.tolist()):
            got[(r["term_id"], d)] = w
    assert got.keys() == want.keys()
    err = max(abs(got[k] - want[k]) for k in want)
    assert err < 1e-12, err


@pytest.mark.parametrize("norm", [0, 1, 2])
def test_sharded_pipeline_rank_identity(spark, fixture_small, tmp_path, norm):
    """Full production path: resumable build → finalize_lite →
    per-shard pyarrow block encode (TF payload, per-doc norm in the
    doclen sidecar) → sharded top-k. Must be rank-identical to the
    single-node oracle for every norm."""
    from ir_base_spark.query.wand import wand_topk_sharded

    t = fixture_small.transcripts
    q = fixture_small.queries
    oracle_idx = build_oracle_index(_oracle_docs(t), norm=norm)
    expected = search_all(
        oracle_idx, list(zip(q["query_id"], q["query_text"], q["k"]))
    )

    root = str(tmp_path / "sharded")
    idx, rep = _disk_index(spark, t, root, 8, norm=norm)
    assert rep["shards"] >= 1 and rep["blocks"] > 0
    # doc-id ranges must never overlap (two_phase_cumsum offset pin)
    docs = spark.read.parquet(root + "/docs")
    assert docs.count() == docs.select("doc_id").distinct().count()
    _assert_decoded_weights_match(spark, root, idx)

    qt = analyze_query_terms(spark, q)
    got = wand_topk_sharded(spark, root, qt).collect()
    _compare(got, expected)
    idx.terms.unpersist()


def test_sharded_batch_and_single_query_match_oracle(spark, fixture_small, tmp_path):
    """The one scoring kernel is rank-identical to the oracle for a
    batch and for a single interactive request; the removed kernels'
    ``algo`` values are refused."""
    from ir_base_spark.query.wand import wand_topk_sharded

    t = fixture_small.transcripts
    q = fixture_small.queries
    assert len(q) >= 16
    oracle_idx = build_oracle_index(_oracle_docs(t))
    root = str(tmp_path / "taat")
    idx, _rep = _disk_index(spark, t, root, 4)

    for batch in (q, q.head(1)):
        expected = search_all(
            oracle_idx, list(zip(batch["query_id"], batch["query_text"], batch["k"]))
        )
        qt = analyze_query_terms(spark, batch)
        _compare(wand_topk_sharded(spark, root, qt).collect(), expected)

    for algo in ("wand", "taat", "maxscore", "cursor"):
        with pytest.raises(ValueError, match="removed"):
            wand_topk_sharded(spark, root, qt, algo=algo)
    idx.terms.unpersist()


def test_direct_postings_blocks_identical(spark, fixture_small, tmp_path):
    """encode_shards_from_postings (no weights artifact): the weight
    decoded from the TF payload of every posting equals Catalyst
    set_feature_values, and the index is rank-identical to the oracle."""
    from ir_base_spark.query.wand import wand_topk_sharded

    t = fixture_small.transcripts
    q = fixture_small.queries
    oracle_idx = build_oracle_index(_oracle_docs(t))
    expected = search_all(
        oracle_idx, list(zip(q["query_id"], q["query_text"], q["k"]))
    )
    root = str(tmp_path / "direct")
    idx, _rep = _disk_index(spark, t, root, 4)
    _assert_decoded_weights_match(spark, root, idx)

    qt = analyze_query_terms(spark, q)
    got = wand_topk_sharded(spark, root, qt).collect()
    _compare(got, expected)
    idx.terms.unpersist()


def test_sharded_query_rejects_non_tf_payload_shard(spark, fixture_small, tmp_path):
    """An empty shard file is legal; a non-empty shard without the
    sg_payload=tfv1 stamp fails with BlockFormatError, never a wrong
    top-k."""
    import glob
    import os

    import pyarrow.parquet as pq

    from ir_base_spark.index.blocks import _blocks_arrow_schema
    from ir_base_spark.query.wand import wand_topk_sharded

    t = fixture_small.transcripts
    q = fixture_small.queries
    oracle_idx = build_oracle_index(_oracle_docs(t))
    expected = search_all(
        oracle_idx, list(zip(q["query_id"], q["query_text"], q["k"]))
    )
    root = str(tmp_path / "fmt")
    idx, _rep = _disk_index(spark, t, root, 2)
    qt = analyze_query_terms(spark, q)

    empty_dir = os.path.join(root, "blocks", "partition_id=99")
    os.makedirs(empty_dir)
    pq.write_table(
        _blocks_arrow_schema().empty_table(),
        os.path.join(empty_dir, "blocks.parquet"),
    )
    _compare(wand_topk_sharded(spark, root, qt).collect(), expected)

    path = sorted(glob.glob(os.path.join(root, "blocks", "partition_id=0", "*.parquet")))[0]
    tbl = pq.read_table(path)
    assert tbl.num_rows and tbl.schema.metadata[b"sg_payload"] == b"tfv1"
    pq.write_table(tbl.replace_schema_metadata(None), path)
    with pytest.raises(Exception, match="BlockFormatError"):
        wand_topk_sharded(spark, root, qt).collect()
    idx.terms.unpersist()
