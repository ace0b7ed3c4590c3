"""Unit tests for the varbyte/delta-gap block codec."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from ir_base_spark.index.blocks import (
    decode_postings_block,
    encode_postings_block,
    varbyte_decode,
    varbyte_encode,
)


def test_varbyte_roundtrip_simple():
    vals = np.array([0, 1, 127, 128, 129, 16383, 16384, 2**31, 2**40], dtype=np.uint64)
    assert (varbyte_decode(varbyte_encode(vals)) == vals).all()


def test_varbyte_empty():
    assert varbyte_encode(np.array([], dtype=np.uint64)) == b""
    assert varbyte_decode(b"").size == 0


@given(
    st.lists(st.integers(min_value=0, max_value=2**42), min_size=0, max_size=300)
)
@settings(max_examples=200, deadline=None)
def test_varbyte_roundtrip_property(vals):
    arr = np.array(vals, dtype=np.uint64)
    out = varbyte_decode(varbyte_encode(arr))
    assert (out == arr).all()


def test_varbyte_compression_ratio():
    # small gaps should take ~1 byte each vs 8 for raw int64
    gaps = np.random.default_rng(0).integers(1, 100, size=1000).astype(np.uint64)
    enc = varbyte_encode(gaps)
    assert len(enc) <= 1000  # all < 128 -> exactly 1 byte each


def test_block_roundtrip():
    rng = np.random.default_rng(7)
    ids = np.sort(rng.choice(10_000_000, size=128, replace=False)).astype(np.int64)
    ws = rng.normal(size=128)
    first, last, mx, gaps, wbytes = encode_postings_block(ids, ws)
    assert first == ids[0] and last == ids[-1]
    assert mx == ws.max()
    rids, rws = decode_postings_block(first, gaps, wbytes)
    assert (rids == ids).all()
    assert (rws == ws).all()  # float64 bit-exact


@given(st.data())
@settings(max_examples=100, deadline=None)
def test_block_roundtrip_property(data):
    n = data.draw(st.integers(min_value=1, max_value=200))
    start = data.draw(st.integers(min_value=0, max_value=2**40))
    gaps = data.draw(
        st.lists(st.integers(min_value=1, max_value=2**20), min_size=n, max_size=n)
    )
    ids = start + np.cumsum(np.array([0] + gaps[:-1], dtype=np.int64))
    ws = np.linspace(-5, 5, n)
    first, last, mx, enc, wbytes = encode_postings_block(ids, ws)
    rids, rws = decode_postings_block(first, enc, wbytes)
    assert (rids == ids).all()
    assert (rws == ws).all()


def test_tf_payload_multibyte_roundtrip():
    """TF-payload blocks with term frequencies needing 2+ varbyte bytes
    (tf > 127) must reconstruct the exact BM25 doubles."""
    import numpy as np

    from ir_base_spark.index.blocks import (
        _encode_sorted_run_arrow,
        decode_postings_block,
    )
    from ir_base_spark.index.weights import B, K1

    n = 500
    rng = np.random.default_rng(3)
    doc = np.sort(rng.choice(np.arange(10_000), size=n, replace=False))
    tf = rng.integers(1, 20_000, size=n).astype(np.int64)
    tid = np.zeros(n, dtype=np.int64)
    dl = np.zeros(10_000, dtype=np.float64)
    dl[doc] = tf * 3.0
    avg = 40.0
    idf_t = 1.7
    denom = K1 * ((1.0 - B) + B * (dl / avg))
    w = idf_t * (tf.astype(np.float64) * (K1 + 1.0) / (denom[doc] + tf))
    enc = _encode_sorted_run_arrow(tid, 0, doc, w, 64, tf=tf)
    assert enc.schema.metadata[b"sg_payload"] == b"tfv1"
    got_ids = []
    got_ws = []
    for r in enc.to_pylist():
        ids, ws = decode_postings_block(
            r["first_doc"], r["doc_gaps"], r["weights"], (idf_t, denom, 0, None)
        )
        got_ids.append(ids)
        got_ws.append(ws)
    ids = np.concatenate(got_ids)
    ws = np.concatenate(got_ws)
    assert (ids == doc).all()
    assert (ws == w).all()  # bit-identical reconstruction


def test_decode_postings_run_bit_exact():
    """Whole-run vectorized decode == per-block decode, bit-exact, for
    both payload formats (in-memory float64 and on-disk TF+sidecar
    reconstruction), including multibyte gaps and tfs."""
    import numpy as np

    from ir_base_spark.index.blocks import (
        _encode_sorted_run,
        _encode_sorted_run_arrow,
        decode_postings_block,
        decode_postings_run,
    )
    from ir_base_spark.index.weights import B, K1

    n = 700
    rng = np.random.default_rng(13)
    doc = np.sort(rng.choice(np.arange(5_000_000), size=n, replace=False))
    tf = rng.integers(1, 50_000, size=n).astype(np.int64)
    tid = np.zeros(n, dtype=np.int64)
    dl = np.zeros(5_000_000, dtype=np.float64)
    dl[doc] = tf * 3.0
    idf_t = 1.7
    denom = K1 * ((1.0 - B) + B * (dl / 40.0))
    w = idf_t * (tf.astype(np.float64) * (K1 + 1.0) / (denom[doc] + tf))

    for use_tf in (True, False):
        if use_tf:
            rows = _encode_sorted_run_arrow(tid, 0, doc, w, 64, tf).to_pylist()
        else:
            rows = _encode_sorted_run(
                tid, np.zeros(n, dtype=np.int64), doc, w, 64
            ).to_dict("records")
        meta = (idf_t, denom, 0, None) if use_tf else None
        per_block = [
            decode_postings_block(
                r["first_doc"], r["doc_gaps"], r["weights"], meta
            )
            for r in rows
        ]
        ids_b = np.concatenate([p[0] for p in per_block])
        ws_b = np.concatenate([p[1] for p in per_block])
        ids_r, ws_r = decode_postings_run(
            np.array([r["first_doc"] for r in rows], dtype=np.int64),
            np.array([r["last_doc"] for r in rows], dtype=np.int64),
            [r["doc_gaps"] for r in rows],
            [r["weights"] for r in rows],
            meta,
        )
        assert (ids_r == ids_b).all() and (ids_r == doc).all()
        assert (ws_r == ws_b).all()  # bit-identical
