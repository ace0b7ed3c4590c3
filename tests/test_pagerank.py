"""Per-group PageRank instance weighting vs a numpy replica, the DuckDB
oracle (exact) and Spark's round(x, 6); plus its job and cache budget."""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import __spark_entry__ as E  # noqa: E402
from ir_base_spark.ops import pagerank as P  # noqa: E402
from ir_base_spark.ops.pagerank import pagerank_instance_weights  # noqa: E402
from tools.check_entry import _canon  # noqa: E402


def _replica(groups, top_k, alpha, iters):
    out = {}
    for g, (ids, vecs) in groups.items():
        n = len(ids)
        sims = np.round(vecs @ vecs.T, 6)
        T = np.zeros((n, n))
        for i in range(n):
            order = sorted(
                (j for j in range(n) if j != i),
                key=lambda j: (-sims[i, j], ids[j]),
            )[:top_k]
            e = np.exp(sims[i, order])
            T[i, order] = e / e.sum()
        r = np.full(n, 1.0 / np.sqrt(n))
        for _ in range(iters):
            r2 = alpha / n + (1 - alpha) * (T.T @ r)
            r = r2 / np.sqrt((r2 * r2).sum())
        for i, doc in enumerate(ids):
            out[(g, doc)] = (round(r[i], 6), round(1.0 + 10 * r[i], 6))
    return out


def test_pagerank_matches_replica(spark):
    rng = np.random.default_rng(9)
    rows = []
    groups = {}
    did = 0
    for g, size in [("a", 15), ("b", 20), ("c", 5)]:  # c below min size
        ids, vecs = [], []
        for _ in range(size):
            v = rng.normal(size=6)
            rows.append((g, did, [float(x) for x in v]))
            ids.append(did)
            vecs.append(v)
            did += 1
        if size > 10:
            groups[g] = (ids, np.array(vecs))
    df = spark.createDataFrame(rows, "grp string, id long, vec array<double>")
    got = {
        (r["grp"], r["id"]): (r["rank6"], r["weight6"])
        for r in pagerank_instance_weights(
            df, top_k=4, alpha=0.15, iterations=3, min_group_size=10
        ).collect()
    }
    want = _replica(groups, top_k=4, alpha=0.15, iters=3)
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k][0] - want[k][0]) < 5e-6, k
        assert abs(got[k][1] - want[k][1]) < 5e-5, k


def _write_tables(sf: str) -> None:
    """Seeded documents/embeddings with every tie and size edge: a group
    of exactly PR_MIN rows (dropped), one of PR_MIN + 1 (kept), a group
    of exact-duplicate vectors, small-integer vectors whose dot products
    tie exactly, and a null source (dropped); plus docs without vectors
    and vice versa."""
    rng = np.random.default_rng(20)
    dim = 8
    groups = {
        "min": rng.normal(size=(E.PR_MIN, dim)),
        "min1": rng.normal(size=(E.PR_MIN + 1, dim)),
        "dup": np.repeat(rng.normal(size=(6, dim)), 5, axis=0),
        "ints": rng.integers(-1, 2, size=(40, dim)) * 0.5,
        None: rng.normal(size=(E.PR_MIN + 2, dim)),
    }
    doc_ids, sources, vec_ids, vecs = [], [], [], []
    ids = iter(rng.permutation(1000))  # duplicates do not sit id-adjacent
    for g, X in groups.items():
        for v in X:
            i = int(next(ids))
            doc_ids.append(i)
            sources.append(g)
            vec_ids.append(i)
            vecs.append(v.astype(np.float32).tolist())
    doc_ids.append(5000)  # a document without a vector
    sources.append("min1")
    vec_ids.append(6000)  # a vector without a document
    vecs.append([1.0] * dim)
    pq.write_table(
        pa.table({
            "doc_id": pa.array(doc_ids, pa.int64()),
            "source": pa.array(sources, pa.string()),
        }),
        f"{sf}/documents.parquet",
    )
    pq.write_table(
        pa.table({
            "vec_id": pa.array(vec_ids, pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array([0] * len(vec_ids), pa.int32()),
        }),
        f"{sf}/embeddings.parquet",
    )


# 12: the PR_MIN + 1 group has N - 1 = 10 <= top_k neighbors
@pytest.mark.parametrize("top_k", [E.PR_K, 12])
def test_pagerank_entry_matches_oracle_exactly(spark, tmp_path, monkeypatch, top_k):
    monkeypatch.setattr(E, "PR_K", top_k)
    sf = str(tmp_path)
    _write_tables(sf)
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    want = _canon(con.sql(E._pagerank_sql()).df())
    got = _canon(E.q_pagerank_weights(spark, sf).toPandas())
    assert sorted(set(got["source"])) == ["dup", "ints", "min1"]
    assert list(got.columns) == list(want.columns)
    assert got.equals(want)


def test_row_blocks_do_not_change_the_result(monkeypatch):
    rng = np.random.default_rng(4)
    X = np.repeat(rng.normal(size=(9, 5)), 3, axis=0)
    pdf = pd.DataFrame({
        "g": "a", "id": rng.permutation(len(X)), "vec": list(X)
    })
    whole = P._group_weights(pdf, 4, 0.15, 3, 0)
    monkeypatch.setattr(P, "_BLOCK_ELEMS", 2 * len(X))  # 2-row blocks
    assert P._group_weights(pdf, 4, 0.15, 3, 0).equals(whole)


def test_round6_matches_spark_round(spark):
    vals = [
        0.0000005, 2.5e-6, -1.2345675, 0.1234565, 0.0, -0.0, -3.0e-7,
        1.5e-6, -2.5e-6, 0.4999995, 123456789.1234565, -98765.4321005,
        1e15 + 0.5, 4.5e15, 2.0**53 + 2, 1e300, -1e305, 1.7e308, 5e-324,
        float("inf"), float("-inf"), float("nan"),
    ]
    # x * 1e6 within an ulp of a .5 boundary, on either side
    for m in (0, 1, 2, 7, 12345, 999999, 31415926):
        x = (m + 0.5) / 1e6
        for v in (x, np.nextafter(x, 0), np.nextafter(x, 1)):
            vals += [v, -v]
    vals += list(np.random.default_rng(3).normal(scale=50, size=200))
    vals = [float(v) for v in vals]
    df = spark.createDataFrame(list(enumerate(vals)), "i int, x double")
    rows = df.select("i", F.round("x", 6).alias("r")).orderBy("i").collect()
    want = [repr(r["r"]) for r in rows]  # repr tells -0.0 from 0.0
    got = [repr(float(v)) for v in P.round6(np.array(vals))]
    assert [(v, a, b) for v, a, b in zip(vals, got, want) if a != b] == []


def test_pagerank_entry_pins_nothing_and_stays_in_job_budget(spark, tmp_path):
    ctx = spark.sparkContext._jsc.sc()

    def watermark() -> int:
        # highest job id once every posted listener event is applied
        ctx.listenerBus().waitUntilEmpty()
        jobs = ctx.statusStore().jobsList(None)
        return int(jobs.head().jobId()) if jobs.nonEmpty() else -1

    sf = str(tmp_path)
    _write_tables(sf)
    # earlier tests' localCheckpoints outlive clearCache(): release them
    # so the count below is this entry's alone
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
    entry = E.queries()["pagerank_weights"]  # clears the cache first
    lo = watermark()
    assert len(entry(spark, sf).collect()) == 11 + 30 + 40
    jobs = watermark() - lo
    assert ctx.getPersistentRDDs().size() == 0
    assert jobs <= 6, jobs
