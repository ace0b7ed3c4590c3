"""Compressed posting blocks: delta-gap + varbyte, per-block max-score.

The reference keeps postings as boxed Java objects (~32 B/posting,
/root/reference/src/structures/_SparseFeature.java); at 10^12 turns the
engine instead stores term-major posting blocks:

    (term_id, bucket, block_seq, n, first_doc, last_doc, max_weight,
     doc_gaps: binary, weights: binary)

- doc ids are dense longs ranked by (conv_id, turn_idx) — so ascending
  doc_id IS the stable turn ordering, and delta gaps are small;
- gaps are varbyte-encoded (vectorized numpy encode/decode, no per-value
  Python in the build hot path);
- weights are exact doubles (rank identity forbids quantization): the
  in-memory index (build_block_index) stores raw little-endian float64;
  the on-disk shards (encode_shards_from_postings) store varbyte term
  frequencies and decode rebuilds the identical doubles from sidecars;
- ``max_weight`` per block is kept in the format; the query kernel
  (query/wand.py) scores exhaustively and does not read it.

Hot-term skew (SURVEY §4, §7.3): the build groups by (term_id, bucket)
where bucket = doc_id >> bucket_bits — a *doc-range* salt. A Zipf-head
term's postings split across many buckets that build independently and
IN GLOBAL DOC ORDER, so no single reducer sees a whole hot posting list
and no second merge stage is needed: block order within a term is simply
(bucket, block_seq). This replaces the naive hash-salt + re-merge
two-stage plan with one shuffle.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_BLOCK_SIZE = 128
DEFAULT_BUCKET_BITS = 16  # 65536 docs per bucket


def choose_bucket_bits(n_docs: int, target_shards: int = 64) -> int:
    """Corpus-adaptive doc-range shard width.

    A doc-range shard behaves like a Lucene-style document shard: every
    term's postings restricted to that doc range. Too many shards
    explodes (term, shard) group count — every tail term pays one
    (undersized) block per shard it touches — so shard count should stay
    moderate (~target_shards) regardless of corpus size, while each
    shard still holds enough docs that head-term blocks fill up.
    """
    import math

    bits = max(10, math.ceil(math.log2(max(1, n_docs) / target_shards)))
    return bits

BLOCK_SCHEMA = (
    "term_id long, bucket int, block_seq int, n int, first_doc long, "
    "last_doc long, max_weight double, doc_gaps binary, weights binary"
)


# ---------------------------------------------------------------- varbyte

def _varbyte_encode_arr(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized varbyte (7-bit groups, MSB=continuation) encoder.

    Returns (byte array, per-value byte counts) — callers slice the byte
    array by offsets without materializing intermediate ``bytes``.
    """
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.uint8)
    tmp = v >> np.uint64(7)
    nbytes = np.ones(v.shape, dtype=np.uint8)  # varbyte of uint64 <= 10 B
    while tmp.any():
        nbytes += (tmp > 0)
        tmp >>= np.uint64(7)
    starts = np.empty(v.shape, dtype=np.int64)
    starts[0] = 0
    np.cumsum(nbytes[:-1], out=starts[1:])
    total = int(starts[-1]) + int(nbytes[-1])
    # every byte slot is written exactly once across the plane loop below
    out = np.empty(total, dtype=np.uint8)
    max_b = int(nbytes.max())
    # byte plane 0 covers EVERY value (delta gaps are overwhelmingly
    # 1-byte): write it without the boolean gathers the generic plane
    # loop needs — those full-size mask copies were ~40% of encode time
    out[starts] = (v & np.uint64(0x7F)).astype(np.uint8) | (
        (nbytes > 1).view(np.uint8) << 7
    )
    for j in range(1, max_b):
        mask = nbytes > j
        pos = starts[mask] + j
        byte = ((v[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (nbytes[mask] - 1 > j).astype(np.uint8) << 7
        out[pos] = byte | cont
    return out, nbytes


def varbyte_encode(values: np.ndarray) -> bytes:
    """Vectorized varbyte encoder → ``bytes`` (see _varbyte_encode_arr)."""
    out, _ = _varbyte_encode_arr(values)
    return out.tobytes()


def varbyte_decode(buf: bytes) -> np.ndarray:
    """Vectorized varbyte decoder → uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (b & 0x80) == 0
    if is_last.all():
        # every byte is a standalone value (< 128): term frequencies are
        # overwhelmingly 1-2 and most delta gaps are < 128, so this
        # branch skips the grouped-accumulation path (np.add.at) that
        # dominates generic decode
        return b.astype(np.uint64)
    group = np.zeros(b.shape, dtype=np.int64)
    group[1:] = np.cumsum(is_last[:-1])
    n = int(is_last.sum())
    starts = np.zeros(n, dtype=np.int64)
    ends = np.flatnonzero(is_last)
    starts[1:] = ends[:-1] + 1
    idx_in_group = np.arange(b.size, dtype=np.int64) - starts[group]
    contrib = (b.astype(np.uint64) & np.uint64(0x7F)) << (
        np.uint64(7) * idx_in_group.astype(np.uint64)
    )
    values = np.zeros(n, dtype=np.uint64)
    np.add.at(values, group, contrib)
    return values


def encode_postings_block(
    doc_ids: np.ndarray, weights: np.ndarray
) -> tuple[int, int, float, bytes, bytes]:
    """One block: (first_doc, last_doc, max_weight, gaps_varbyte, w_bytes).

    Gaps: first value is 0 (first_doc is carried absolutely in the block
    row), then successive deltas — all >= 1 within a sorted unique list.
    """
    ids = np.asarray(doc_ids, dtype=np.int64)
    w = np.asarray(weights, dtype=np.float64)
    gaps = np.empty(ids.shape, dtype=np.uint64)
    gaps[0] = 0
    np.subtract(ids[1:], ids[:-1], out=gaps[1:], casting="unsafe")
    return (
        int(ids[0]),
        int(ids[-1]),
        float(w.max()),
        varbyte_encode(gaps),
        w.tobytes(),
    )


def _tf_weights(payload: bytes, ids: np.ndarray, meta) -> np.ndarray:
    """Exact BM25 doubles of a TF payload: the encoder's expression and
    operand order, so the result is bit-identical to the weights it
    computed. ``meta=(idf_t, denom, lo, nrm)``: the term's IDF, the
    shard's per-doc saturation denominator and per-doc L1/L2 norm
    (``nrm=None`` for norm 0), both indexed by ``doc_id - lo``."""
    from .weights import K1 as _K1  # B is folded into the sidecar denom

    idf_t, denom, lo, nrm = meta
    tf = varbyte_decode(payload).astype(np.float64)
    w = idf_t * (tf * (_K1 + 1.0) / (denom[ids - lo] + tf))
    return w if nrm is None else w / nrm[ids - lo]


def decode_postings_block(
    first_doc: int, doc_gaps: bytes, payload: bytes, meta=None
) -> tuple[np.ndarray, np.ndarray]:
    """(doc ids, float64 weights) for one block.

    ``meta=None``: ``payload`` is raw float64 weights — the in-memory
    format of build_block_index only.

    ``meta=(idf_t, denom, lo, nrm)``: the on-disk TF-payload format of
    encode_shards_from_postings — ``payload`` is varbyte TERM FREQUENCY
    (~1 byte/posting instead of 8), and the exact weight is
    reconstructed by _tf_weights (idf from the term sidecar, the per-doc
    saturation denominator and norm from the per-shard doc-length
    sidecar). 8x fewer payload bytes touch disk, page cache and the
    memory bus on both the encode and every decode.
    """
    gaps = varbyte_decode(doc_gaps).astype(np.int64)
    gaps[0] = first_doc
    ids = np.cumsum(gaps)
    if meta is None:
        return ids, np.frombuffer(payload, dtype=np.float64)
    return ids, _tf_weights(payload, ids, meta)


def decode_postings_run(
    firsts: np.ndarray,
    lasts: np.ndarray,
    gaps_list: list,
    payload_list: list,
    meta=None,
) -> tuple[np.ndarray, np.ndarray]:
    """(doc ids, float64 weights) for a whole BLOCK RUN of one term in
    one shard, decoded in ONE vectorized pass.

    Per-block decode (decode_postings_block) costs ~10 small numpy ops
    of Python dispatch per 128 postings — measured ~50µs/block, which
    made batch-query kernels decode-bound. Varbyte is self-delimiting,
    so the concatenated gap buffers decode in one shot; each block's
    leading gap is stored as 0 (first_doc rides in metadata), so
    rewriting position start_i to first_doc_i - last_doc_{i-1} makes a
    single global cumsum produce exactly the per-block cumsums.
    Weights use the same _tf_weights as decode_postings_block
    (elementwise, so per-posting results are bit-identical)."""
    nb = len(gaps_list)
    if nb == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    if nb == 1:
        return decode_postings_block(
            int(firsts[0]), gaps_list[0], payload_list[0], meta
        )
    lens = np.fromiter((len(g) for g in gaps_list), dtype=np.int64, count=nb)
    concat = b"".join(gaps_list)
    b = np.frombuffer(concat, dtype=np.uint8)
    is_last = (b & 0x80) == 0
    cum_last = np.cumsum(is_last)
    byte_ends = np.cumsum(lens)
    n_per_block = np.diff(np.concatenate([[0], cum_last[byte_ends - 1]]))
    value_starts = np.concatenate(
        [[0], np.cumsum(n_per_block)[:-1]]
    ).astype(np.int64)
    g = varbyte_decode(concat).astype(np.int64)
    g[value_starts[0]] = firsts[0]
    g[value_starts[1:]] = firsts[1:] - lasts[:-1]
    ids = np.cumsum(g)
    if meta is None:
        return ids, np.frombuffer(b"".join(payload_list), dtype=np.float64)
    return ids, _tf_weights(b"".join(payload_list), ids, meta)


_PAYLOAD_KEY = b"sg_payload"
_PAYLOAD_TF = b"tfv1"


class BlockFormatError(ValueError):
    """An on-disk block shard is not in the TF-payload format."""


def _write_shard_doclen(
    out_dir: str, lo: int, dl: np.ndarray, nrm: np.ndarray | None
) -> None:
    """Per-shard doc-length sidecar for the TF-payload format: doc
    lengths over the shard's [lo, lo+span) doc-id range, int32 (doc
    lengths are token counts per turn — far below 2^31), plus the
    per-doc L1/L2 weight norms (float64) when the index has norm 1|2."""
    path = os.path.join(out_dir, "_doclen.npz")
    tmp = path + f".tmp{os.getpid()}"
    arrays = {"lo": np.int64(lo), "dl": dl.astype(np.int32)}
    if nrm is not None:
        arrays["nrm"] = nrm
    with open(tmp, "wb") as f:
        np.savez(f, **arrays)
    os.replace(tmp, path)


_DOCLEN_CACHE: dict = {}


def load_shard_doclen(shard_dir: str) -> tuple:
    """(lo, doc_len int32 array, norm float64 array or None) for one
    shard dir, worker-cached by mtime (Spark reuses Python workers
    across jobs — same staleness rule as _sidecar_token)."""
    path = os.path.join(shard_dir, "_doclen.npz")
    st = os.stat(path)
    key = (path, st.st_mtime_ns, st.st_size)
    hit = _DOCLEN_CACHE.get(key)
    if hit is None:
        with np.load(path) as z:
            hit = (int(z["lo"]), z["dl"], z["nrm"] if "nrm" in z else None)
        if len(_DOCLEN_CACHE) > 256:  # bound worker-resident sidecars
            _DOCLEN_CACHE.clear()
        _DOCLEN_CACHE[key] = hit
    return hit


# ------------------------------------------------------- sharded encode

def _blocks_arrow_schema():
    import pyarrow as pa

    return pa.schema(
        [
            ("term_id", pa.int64()),
            ("bucket", pa.int32()),
            ("block_seq", pa.int32()),
            ("n", pa.int32()),
            ("first_doc", pa.int64()),
            ("last_doc", pa.int64()),
            ("max_weight", pa.float64()),
            ("doc_gaps", pa.binary()),
            ("weights", pa.binary()),
        ]
    )


# per-worker memo for the small lookup tables the direct encoder needs
# (terms dictionary, conv bases, corpus stats) — loaded once per worker
# process, reused across its tasks
_SIDECAR_CACHE: dict = {}


def _sidecar_token(index_root: str) -> tuple:
    """Per-build invalidation token: stats.json identity + newest mtime
    under terms/ and base/. Spark reuses Python workers across jobs, so
    a re-finalized index_root MUST miss the worker-local cache — keying
    on the path alone would silently encode blocks against stale
    sidecars (wrong term ids/weights with no error)."""
    parts = []
    st = os.stat(os.path.join(index_root, "stats.json"))
    parts.append((st.st_mtime_ns, st.st_size))
    for sub in ("terms", "base"):
        d = os.path.join(index_root, sub)
        newest = 0
        for name in os.listdir(d):
            newest = max(newest, os.stat(os.path.join(d, name)).st_mtime_ns)
        parts.append(newest)
    return tuple(parts)


def _load_sidecars(index_root: str):
    """(terms value-set Arrow array, aligned term_id/df numpy, conv
    value-set Arrow array, aligned base numpy, stats). Lookups against
    these run through pyarrow ``index_in`` — C++ hash joins, the term
    and conv strings never become Python objects."""
    key = (index_root, _sidecar_token(index_root))
    hit = _SIDECAR_CACHE.get(key)
    if hit is not None:
        return hit
    import json as _json

    import pyarrow.parquet as pq

    terms = pq.read_table(
        os.path.join(index_root, "terms"), columns=["term", "term_id", "df"],
        use_threads=False,
    ).combine_chunks()
    term_set = terms["term"].chunk(0)
    term_ids = terms["term_id"].to_numpy().astype(np.int64, copy=False)
    term_dfs = terms["df"].to_numpy().astype(np.float64)
    b = pq.read_table(
        os.path.join(index_root, "base"), use_threads=False
    ).combine_chunks()
    conv_set = b["conv_id"].chunk(0)
    bases = b["base"].to_numpy().astype(np.int64, copy=False)
    with open(os.path.join(index_root, "stats.json")) as fh:
        stats = _json.load(fh)
    # per-term BM25 IDF precomputed ONCE per worker on the dictionary
    # domain (same inputs + op order as the per-posting expression →
    # bit-identical after the gather)
    n_docs = float(stats["n_docs"])
    term_idf = np.log((n_docs - term_dfs + 0.5) / (term_dfs + 0.5))
    hit = (term_set, term_ids, term_dfs, conv_set, bases, stats, term_idf)
    if len(_SIDECAR_CACHE) > 4:
        _SIDECAR_CACHE.clear()
    _SIDECAR_CACHE[key] = hit
    return hit


_DERIVED_CACHE: dict = {}


def load_query_sidecar_views(index_root: str):
    """Worker-cached DERIVED views for the sharded query path: the
    doc-label map (conversation bases sorted for searchsorted, conv-id
    strings aligned) and the term_id-sorted IDF lookup. Building these
    costs an argsort over the conversation table — once per worker per
    BATCH it was a measured per-worker fixed cost that grows with
    worker count (anti-scaling); keyed by the same invalidation token
    as _load_sidecars they build once per worker per index build and
    serve every subsequent batch.

    Returns ((bases_sorted, conv_arrow_sorted), (tids_sorted,
    idf_sorted), stats)."""
    key = (index_root, _sidecar_token(index_root))
    hit = _DERIVED_CACHE.get(key)
    if hit is None:
        import pyarrow as pa

        (_ts, term_ids, _td, conv_set, bases, stats, term_idf) = (
            _load_sidecars(index_root)
        )
        o = np.argsort(bases, kind="stable")
        conv_map = (bases[o], conv_set.take(pa.array(o)))
        t_o = np.argsort(term_ids)
        idf_lut = (term_ids[t_o], term_idf[t_o])
        hit = (conv_map, idf_lut, stats)
        if len(_DERIVED_CACHE) > 4:
            _DERIVED_CACHE.clear()
        _DERIVED_CACHE[key] = hit
    return hit


def encode_shards_from_postings(
    spark,
    index_root: str,
    block_size: int = DEFAULT_BLOCK_SIZE,
) -> dict:
    """Blocks straight from the tokenize output — the posting stream is
    materialized ONCE in the whole pipeline.

    Requires manifest.finalize_lite (terms/, base/, stats.json). Each
    task reads its shard's raw postings parquet with pyarrow, maps
    term→(id, df) and conv→doc-id base through per-worker-cached
    sidecar tables (C-level hash joins on pandas Index — the dictionary
    is ~MBs, the conv base is conversation-level), recomputes doc_len
    over RETAINED terms (exactly build_index's pruning semantics; equal
    to the stored length when nothing is pruned), computes the BM25
    weight vectorized (bit-identical to weights.set_feature_values),
    sorts (term_id, doc_id) and writes the shard's block file.

    ``norm`` 1|2 (from stats.json, set by finalize_lite): each doc's L1
    or L2 norm of its BM25 weights, accumulated in ascending term_id
    order over the shard (a doc's postings never span shards), goes to
    the doclen sidecar — 0 stored as 1.0, so dividing by it reproduces
    set_feature_values' ``when(denom > 0)`` — and decode divides by it.
    """
    import glob

    post_root = os.path.join(index_root, "postings")
    blocks_root = os.path.join(index_root, "blocks")
    os.makedirs(blocks_root, exist_ok=True)
    shard_dirs = sorted(glob.glob(os.path.join(post_root, "partition_id=*")))
    rows = [(int(d.rsplit("=", 1)[1]), d) for d in shard_dirs]
    fdf = spark.createDataFrame(rows, "partition_id int, path string").repartition(
        max(1, len(rows))
    )

    def kernel(batches):
        import time as _t

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        def positions_in(arr, value_set):
            """Position of each element in ``value_set`` (null = absent).

            Dictionary-aware: when the parquet column is dictionary-
            encoded (read_dictionary), the C++ hash join runs over the
            UNIQUE values only and fans out with one integer ``take`` —
            on a posting stream with ~10-100x value repetition this cuts
            both the hash-probe work and the string materialization that
            made the old per-row index_in a flat, bandwidth-bound term.
            """
            if isinstance(arr, pa.DictionaryArray):
                dpos = pc.index_in(arr.dictionary, value_set=value_set)
                return dpos.take(arr.indices)
            return pc.index_in(arr, value_set=value_set)

        for pdf in batches:
            for pid, path in zip(pdf["partition_id"], pdf["path"]):
                t0 = _t.time()
                (term_set, term_ids, term_dfs, conv_set, bases, stats,
                 term_idf) = _load_sidecars(index_root)
                tbl = pq.read_table(
                    path,
                    columns=["conv_id", "turn_idx", "term", "tf"],
                    use_threads=False,
                    read_dictionary=["conv_id", "term"],
                ).combine_chunks()
                t_read = _t.time()
                if tbl.num_rows == 0:
                    enc = _blocks_arrow_schema().empty_table()
                    tid = None
                else:
                    # dictionary semi-join in C++: position of each
                    # posting's term in the terms value set (null =
                    # pruned/unknown)
                    pos = positions_in(tbl.column("term").chunk(0), term_set)
                    # positions stay int32 (half the gather-index traffic;
                    # numpy fancy indexing takes int32 indices directly)
                    pos_np = pc.fill_null(pos, -1).to_numpy()
                    cpos_arr = positions_in(
                        tbl.column("conv_id").chunk(0), conv_set
                    )
                    cpos = pc.fill_null(cpos_arr, -1).to_numpy()
                    turn = tbl.column("turn_idx").chunk(0).to_numpy()
                    tf_i = tbl.column("tf").chunk(0).to_numpy()
                    keep = pos_np >= 0
                    if not keep.all():
                        pos_np = pos_np[keep]
                        cpos = cpos[keep]
                        turn = turn[keep]
                        tf_i = tf_i[keep]
                    tf = tf_i.astype(np.float64)
                    # invariant: every retained posting's conversation has
                    # a base entry — fail LOUDLY rather than let a null
                    # position corrupt doc ids downstream
                    if cpos.size and cpos.min() < 0:
                        raise RuntimeError(
                            f"conv_id missing from base sidecar in {path}; "
                            "index_root sidecars are stale or mismatched"
                        )
                    tid = term_ids[pos_np]
                    doc = bases[cpos] + turn
                    # doc_len over retained terms (pruning-consistent):
                    # dense local doc index -> one bincount pass
                    lo = int(doc.min()) if doc.size else 0
                    span = (int(doc.max()) - lo + 1) if doc.size else 0
                    rel = doc - lo
                    dl_acc = np.bincount(rel, weights=tf, minlength=span)
                    # BM25, factored onto the small domains: IDF is per
                    # TERM (sidecar-precomputed), the saturation
                    # denominator is per DOC — both gathered, keeping the
                    # exact op/association order of weights.py's Catalyst
                    # expression (bit-identical; only the domain the ops
                    # run over shrinks ~30x)
                    from .weights import B as _B, K1 as _K1

                    avg = float(stats["avg_doc_len"])
                    denom_acc = _K1 * ((1.0 - _B) + _B * (dl_acc / avg))
                    w = term_idf[pos_np] * (
                        tf * (_K1 + 1.0) / (denom_acc[rel] + tf)
                    )
                t_map = _t.time()
                if tid is not None and tid.size:
                    # (term_id, doc) is unique per shard, so the composite
                    # single int64 key sorts with ONE argsort pass instead
                    # of lexsort's two stable mergesorts
                    tmax = int(tid.max())
                    if (tmax + 1) * span < (1 << 62):
                        order = np.argsort(tid * span + rel)
                    else:
                        order = np.lexsort((doc, tid))
                    t_sort = _t.time()
                    w_s = w[order]
                    nrm = None
                    if stats["norm"]:
                        # per-doc norm; bincount adds in array order, so
                        # each doc's terms fold in ascending term_id
                        rel_s = rel[order]
                        if stats["norm"] == 1:
                            nrm = np.bincount(
                                rel_s, weights=np.abs(w_s), minlength=span
                            )
                        else:
                            nrm = np.sqrt(np.bincount(
                                rel_s, weights=w_s * w_s, minlength=span
                            ))
                        nrm[~(nrm > 0)] = 1.0
                        w_s = w_s / nrm[rel_s]
                    # TF payload (varbyte, ~1 B/posting): the float64
                    # weights feed only max_weight; query decode
                    # reconstructs the identical doubles from
                    # tf + idf sidecar + the doclen sidecar below
                    enc = _encode_sorted_run_arrow(
                        tid[order], int(pid), doc[order], w_s,
                        block_size, tf_i[order],
                    )
                elif tid is not None:
                    t_sort = _t.time()
                    enc = _blocks_arrow_schema().empty_table()
                else:
                    t_sort = t_map
                t_enc = _t.time()
                out_dir = os.path.join(blocks_root, f"partition_id={int(pid)}")
                os.makedirs(out_dir, exist_ok=True)
                out_path = os.path.join(out_dir, "blocks.parquet")
                tmp = out_path + f".tmp{os.getpid()}"
                pq.write_table(enc, tmp, row_group_size=4096)
                # sidecar BEFORE the blocks rename: a TF-payload block
                # file must never be visible without its doc-length
                # sidecar (decode would fail); the reverse order is
                # harmless (mtime-keyed cache, orphan sidecar unused).
                # NOTE: in-place re-encode over an index that is being
                # SERVED concurrently is unsupported — between the two
                # renames a reader could pair new doc lengths with old
                # blocks. Re-encode into a fresh root and swap the root.
                if enc.num_rows:
                    _write_shard_doclen(out_dir, lo, dl_acc, nrm)
                os.replace(tmp, out_path)
                t_write = _t.time()
                yield pd.DataFrame(
                    {
                        "partition_id": pd.Series([int(pid)], dtype="int32"),
                        "n_blocks": pd.Series([enc.num_rows], dtype="int64"),
                        "bytes": pd.Series(
                            [os.path.getsize(out_path)], dtype="int64"
                        ),
                        "wall_sec": pd.Series([t_write - t0], dtype="float64"),
                        "read_sec": pd.Series([t_read - t0], dtype="float64"),
                        "map_sec": pd.Series([t_map - t_read], dtype="float64"),
                        "sort_sec": pd.Series([t_sort - t_map], dtype="float64"),
                        "encode_sec": pd.Series([t_enc - t_sort], dtype="float64"),
                        "write_sec": pd.Series([t_write - t_enc], dtype="float64"),
                    }
                )

    report = fdf.mapInPandas(
        kernel,
        "partition_id int, n_blocks long, bytes long, wall_sec double, "
        "read_sec double, map_sec double, sort_sec double, "
        "encode_sec double, write_sec double",
    ).collect()
    phases = {
        ph: round(sum(r[f"{ph}_sec"] for r in report), 3)
        for ph in ("read", "map", "sort", "encode", "write")
    }
    return {
        "shards": len(report),
        "blocks": int(sum(r["n_blocks"] for r in report)),
        "bytes": int(sum(r["bytes"] for r in report)),
        "block_size": block_size,
        "phase_task_sec": phases,
        "max_shard_wall_sec": round(
            max((r["wall_sec"] for r in report), default=0.0), 3
        ),
    }


# ---------------------------------------------------------------- build

@dataclass
class BlockIndex:
    blocks: DataFrame   # BLOCK_SCHEMA
    docs: DataFrame     # doc_id, conv_id, turn_idx, doc_len
    terms: DataFrame    # term, term_id, df, ttf
    n_docs: int
    avg_doc_len: float
    ngrams: int
    block_size: int
    bucket_bits: int


def _varbyte_nbytes(v: np.ndarray) -> np.ndarray:
    nbytes = np.ones(v.shape, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        nbytes += (tmp > 0).astype(np.int64)
        tmp >>= np.uint64(7)
    return nbytes


def _block_layout(
    term_id: np.ndarray,
    bucket: np.ndarray,
    doc_id: np.ndarray,
    weight: np.ndarray,
    block_size: int,
):
    """Shared block-splitting + varbyte pass for the two encoders.

    Input arrays are sorted by (term_id, bucket, doc_id) and contain only
    COMPLETE (term, bucket) groups. Returns (starts, ends, block_seq,
    max_w, gap_bytes ndarray, per-posting byte offsets) — blocks tile the
    run contiguously (ends[i] == starts[i+1]), so both the gap buffer and
    the weight buffer slice by offsets with no per-block copies.
    """
    n = doc_id.shape[0]
    new_group = np.empty(n, dtype=bool)
    new_group[0] = True
    np.logical_or(
        term_id[1:] != term_id[:-1], bucket[1:] != bucket[:-1], out=new_group[1:]
    )
    # in-place passes (the shard kernels run many of these concurrently;
    # every avoided temporary is real memory-bus headroom)
    pos_in_group = np.arange(n, dtype=np.int64)
    group_start = np.where(new_group, pos_in_group, 0)
    np.maximum.accumulate(group_start, out=group_start)
    pos_in_group -= group_start
    del group_start
    if block_size & (block_size - 1) == 0:
        block_start_mask = (pos_in_group & (block_size - 1)) == 0
    else:
        block_start_mask = (pos_in_group % block_size) == 0
    starts = np.flatnonzero(block_start_mask)
    ends = np.empty(starts.shape, dtype=np.int64)
    ends[:-1] = starts[1:]
    ends[-1] = n

    # delta-gap with a 0 at every block start (first_doc carried absolutely)
    gaps = np.empty(n, dtype=np.uint64)
    gaps[0] = 0
    np.subtract(doc_id[1:], doc_id[:-1], out=gaps[1:], casting="unsafe")
    gaps[starts] = 0

    # one varbyte pass over the whole run
    buf, nbytes = _varbyte_encode_arr(gaps)
    offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(nbytes, out=offs[1:])

    max_w = np.maximum.reduceat(weight, starts)
    block_seq = (pos_in_group[starts] // block_size).astype(np.int32)
    return starts, ends, block_seq, max_w, buf, offs


def _encode_sorted_run(
    term_id: np.ndarray,
    bucket: np.ndarray,
    doc_id: np.ndarray,
    weight: np.ndarray,
    block_size: int,
) -> pd.DataFrame:
    """Vectorized multi-group multi-block encoder → pandas (the Arrow-
    socket streaming path of build_block_index; the on-disk shard path
    uses _encode_sorted_run_arrow, which never materializes Python bytes).
    """
    n = doc_id.shape[0]
    if n == 0:
        return pd.DataFrame(
            {
                "term_id": pd.Series([], dtype="int64"),
                "bucket": pd.Series([], dtype="int32"),
                "block_seq": pd.Series([], dtype="int32"),
                "n": pd.Series([], dtype="int32"),
                "first_doc": pd.Series([], dtype="int64"),
                "last_doc": pd.Series([], dtype="int64"),
                "max_weight": pd.Series([], dtype="float64"),
                "doc_gaps": pd.Series([], dtype="object"),
                "weights": pd.Series([], dtype="object"),
            }
        )
    starts, ends, block_seq, max_w, buf_arr, offs = _block_layout(
        term_id, bucket, doc_id, weight, block_size
    )
    buf = buf_arr.tobytes()
    wbuf = weight.tobytes()
    return pd.DataFrame(
        {
            "term_id": term_id[starts],
            "bucket": bucket[starts].astype(np.int32),
            "block_seq": block_seq,
            "n": (ends - starts).astype(np.int32),
            "first_doc": doc_id[starts],
            "last_doc": doc_id[ends - 1],
            "max_weight": max_w,
            "doc_gaps": [buf[offs[s] : offs[e]] for s, e in zip(starts, ends)],
            "weights": [wbuf[s * 8 : e * 8] for s, e in zip(starts, ends)],
        }
    )


def _encode_sorted_run_arrow(
    term_id: np.ndarray,
    bucket_id: int,
    doc_id: np.ndarray,
    weight: np.ndarray,
    block_size: int,
    tf: np.ndarray,
):
    """Arrow-native encoder for the on-disk shards: the two binary
    columns are built with ``BinaryArray.from_buffers`` over the single
    varbyte buffers (blocks tile the run contiguously), so NO per-block
    Python bytes objects and no pandas→Arrow conversion exist anywhere —
    measured, that conversion was a flat (non-scaling) term of the old
    encode kernel. Returns a pyarrow Table in BLOCK_SCHEMA order.

    TF-payload format: the payload column carries varbyte term
    frequencies (~1 byte vs 8) and the table is stamped with the
    ``sg_payload=tfv1`` schema metadata; ``weight`` is consumed only
    for the per-block max_weight. Requires the per-shard doclen sidecar
    (decode_postings_block reconstructs the identical doubles from tf +
    sidecars).
    """
    import pyarrow as pa

    schema = _blocks_arrow_schema()
    n = doc_id.shape[0]
    if n == 0:
        return schema.empty_table()
    bucket = np.full(n, bucket_id, dtype=np.int64)
    starts, ends, block_seq, max_w, buf_arr, offs = _block_layout(
        term_id, bucket, doc_id, weight, block_size
    )
    nb = len(starts)
    total_gap_bytes = int(offs[-1])
    if total_gap_bytes >= (1 << 31):
        raise ValueError(
            f"shard posting payload exceeds 2 GiB ({total_gap_bytes} gap "
            "bytes); split the shard (smaller doc-range buckets)"
        )
    gap_offs = np.empty(nb + 1, dtype=np.int32)
    gap_offs[:-1] = offs[starts]
    gap_offs[-1] = total_gap_bytes
    gaps_col = pa.BinaryArray.from_buffers(
        pa.binary(), nb, [None, pa.py_buffer(gap_offs), pa.py_buffer(buf_arr)]
    )
    tf_buf, tf_nbytes = _varbyte_encode_arr(tf)
    tf_offs_all = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(tf_nbytes, out=tf_offs_all[1:])
    if tf_offs_all[-1] > np.iinfo(np.int32).max:
        # BinaryArray offsets are int32; narrowing past 2^31 would
        # silently wrap into corrupt offsets. ~2e9 postings per
        # shard means the shard width (bucket_bits) is mis-sized.
        raise ValueError(
            f"TF payload for shard exceeds int32 BinaryArray offsets "
            f"({int(tf_offs_all[-1])} bytes); reduce shard width "
            f"(bucket_bits) so fewer postings land per shard"
        )
    w_offs = np.empty(nb + 1, dtype=np.int32)
    w_offs[:-1] = tf_offs_all[starts]
    w_offs[-1] = int(tf_offs_all[-1])
    weights_col = pa.BinaryArray.from_buffers(
        pa.binary(), nb, [None, pa.py_buffer(w_offs), pa.py_buffer(tf_buf)]
    )
    schema = schema.with_metadata({_PAYLOAD_KEY: _PAYLOAD_TF})
    return pa.Table.from_arrays(
        [
            pa.array(term_id[starts], type=pa.int64()),
            pa.array(np.full(nb, bucket_id, dtype=np.int32), type=pa.int32()),
            pa.array(block_seq, type=pa.int32()),
            pa.array((ends - starts).astype(np.int32), type=pa.int32()),
            pa.array(doc_id[starts], type=pa.int64()),
            pa.array(doc_id[ends - 1], type=pa.int64()),
            pa.array(max_w, type=pa.float64()),
            gaps_col,
            weights_col,
        ],
        schema=schema,
    )


def _make_stream_block_builder(block_size: int):
    """mapInPandas kernel: stitches Arrow batches, holds back the
    trailing (possibly incomplete) group, encodes complete groups
    vectorized. Requires input sorted by (term_id, bucket, doc_id)
    within the partition and groups never split across partitions."""

    def build(batches):
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if len(pdf) == 0:
                carry = None
                continue
            t = pdf["term_id"].to_numpy()
            b = pdf["bucket"].to_numpy()
            # rows of the last (term, bucket) group form a contiguous
            # suffix (sorted input) — hold them back for the next batch
            mask = (t == t[-1]) & (b == b[-1])
            rev = mask[::-1]
            tail_len = len(pdf) if mask.all() else int(rev.argmin())
            cut = len(pdf) - tail_len
            head, carry = pdf.iloc[:cut], pdf.iloc[cut:]
            if cut:
                yield _encode_sorted_run(
                    head["term_id"].to_numpy(np.int64),
                    head["bucket"].to_numpy(np.int64),
                    head["doc_id"].to_numpy(np.int64),
                    head["weight"].to_numpy(np.float64),
                    block_size,
                )
        if carry is not None and len(carry):
            yield _encode_sorted_run(
                carry["term_id"].to_numpy(np.int64),
                carry["bucket"].to_numpy(np.int64),
                carry["doc_id"].to_numpy(np.int64),
                carry["weight"].to_numpy(np.float64),
                block_size,
            )

    return build


def build_block_index(
    index,
    docs_with_ids: DataFrame,
    block_size: int = DEFAULT_BLOCK_SIZE,
    bucket_bits: int | None = None,
    doc_base: DataFrame | None = None,
) -> BlockIndex:
    """InvertedIndex (M1) + doc-id map → compressed block index.

    One shuffle: repartition/groupBy on (term_id, bucket). The doc-range
    bucket salt bounds any single group to <= 2^bucket_bits postings,
    independent of term hotness. ``bucket_bits=None`` picks a corpus-
    adaptive width (choose_bucket_bits).

    Doc ids attach to the posting stream via the conversation-level base
    map (dictionary.conv_doc_base) — a BROADCAST hash join plus an
    integer add, not a turn-level sort-merge shuffle of every posting on
    the (conv_id, turn_idx) string key. ``docs_with_ids`` must use the
    same base (assign_doc_ids does); pass ``doc_base`` to reuse one.
    """
    if bucket_bits is None:
        bucket_bits = choose_bucket_bits(index.n_docs)
    if doc_base is None:
        from .dictionary import conv_doc_base

        doc_base = conv_doc_base(index.doc_lens)
    w = (
        index.weights.join(F.broadcast(doc_base), "conv_id")
        .withColumn(
            "doc_id", (F.col("base") + F.col("turn_idx")).cast("long")
        )
        .withColumn(
            "bucket", F.shiftright(F.col("doc_id"), bucket_bits).cast("int")
        )
        .select("term_id", "bucket", "doc_id", "weight")
    )
    # one hash shuffle colocates each (term, bucket) group; the in-
    # partition sort makes groups contiguous so the streaming kernel can
    # encode whole Arrow batches vectorized (no per-group pandas frames).
    # The partition count is EXPLICIT: AQE's size-based coalescing would
    # squeeze this exchange to ~64MB partitions, capping the Python
    # encode stage's parallelism far below the executor count (measured:
    # flat encode time 4 -> 16 cores); the encode kernel wants many
    # smaller Arrow streams, not few fat ones.
    spark = w.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    if index.n_docs >= 1_000_000:
        # the over-partitioning boost was measured on multi-million-doc
        # corpora (keeps the Python encode stage fed as cores scale);
        # on small corpora the extra tasks are pure fixed cost
        n_parts = max(n_parts, spark.sparkContext.defaultParallelism * 4)
    blocks = (
        w.repartition(n_parts, "term_id", "bucket")
        .sortWithinPartitions("term_id", "bucket", "doc_id")
        .mapInPandas(_make_stream_block_builder(block_size), schema=BLOCK_SCHEMA)
    )
    return BlockIndex(
        blocks=blocks,
        docs=docs_with_ids,
        terms=index.terms,
        n_docs=index.n_docs,
        avg_doc_len=index.avg_doc_len,
        ngrams=index.ngrams,
        block_size=block_size,
        bucket_bits=bucket_bits,
    )
