"""PageRank instance weighting over per-group similarity graphs.

Deterministic Spark analog of the reference's influence weighting
(/root/reference/src/influence/PageRank.java:25,68-185): documents are
grouped (per item/product in the reference; any group column here),
each large-enough group gets a k-NN similarity digraph whose edge
weights are a softmax over each node's top-k dot-product neighbors
(constructSparseGraph :69-97), and the power iteration

    r_i' = α/N + (1-α) · Σ_{j→i} T[j,i] · r_j,   then L2-normalize r'

runs from the uniform 1/√N start (calcPageRank :129-166). The final
instance weight is 1 + 10·r (:168).

Deviations, documented: fixed iteration count instead of the
maxIter/delta test; neighbor ties break by (sim desc, id asc) (the
Java bounded queue leaves equal-similarity order unspecified); a
single ``min_group_size`` threshold instead of the reference's
streaming quirk (>10 for every group except >5 for the last one in
file order — an artifact of its sequential reader, not a semantic);
dot products round to 6 dp before ranking/softmax so the SQL oracle
ranks and weighs identically.

Execution: one ``groupBy(group).applyInPandas`` numpy kernel — one
shuffle, no joins, windows, caches or per-iteration lineage. Groups
are bounded by contract (per-item review sets; ids unique within a
group); at corpus scale swap in ANN candidate generation and keep the
rest. Similarities are scored in row blocks and only each row's top-k
survives a block, so a worker holds O(block·N + N·k), never O(N²).

Exactness contract with the DataFrame/SQL form: the dot is
``similarity._dot``'s left fold (float64 cast, ``acc += x[d]·y[d]``
for d ascending), and ``round6`` is Spark's ``round(x, 6)`` — HALF_UP
on the shortest decimal form, not numpy's half-even.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

# similarity cells scored per row block (16 MB of float64)
_BLOCK_ELEMS = 1 << 21
_Q6 = Decimal("1e-6")


def round6(x) -> np.ndarray:
    """Spark ``round(x, 6)`` on float64, element-wise (+ 0.0: BigDecimal
    has no negative zero)."""
    x = np.asarray(x, np.float64)
    # y is within ~1.5 ulp of the decimal form scaled by 1e6: values that
    # close to a .5 boundary are rounded exactly; non-finite values and
    # those past 2**53 (already integral) pass through
    with np.errstate(over="ignore", invalid="ignore"):
        y = np.abs(x) * 1e6
        out = np.copysign(np.floor(y + 0.5), x) / 1e6 + 0.0
        near = np.abs(y - np.floor(y) - 0.5) <= 1e-6 + y * 1e-15
    keep = ~(np.abs(x) < 2.0**53)
    out[keep] = x[keep]
    for i in np.flatnonzero(near & ~keep):
        v = Decimal(repr(float(x.flat[i]))).quantize(_Q6, ROUND_HALF_UP)
        out.flat[i] = float(v) + 0.0
    return out


def _group_weights(pdf, top_k, alpha, iterations, min_size) -> pd.DataFrame:
    """One group (g, id, vec) → (g, id, rank6, weight6)."""
    if len(pdf) <= min_size:
        return pd.DataFrame(columns=["g", "id", "rank6", "weight6"])
    pdf = pdf.sort_values("id", kind="stable")  # column order == dst asc
    X = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
    n, dim = X.shape
    k = max(0, min(top_k, n - 1))
    nbr = np.empty((n, k), np.int64)
    s = np.empty((n, k))
    step = max(1, _BLOCK_ELEMS // n)
    for lo in range(0, n, step):
        B = X[lo:lo + step]
        acc = np.zeros((B.shape[0], n))
        for d in range(dim):
            acc += B[:, d, None] * X[None, :, d]
        s6 = round6(acc)
        np.fill_diagonal(s6[:, lo:], -np.inf)  # never its own neighbor
        # stable sort of -s keeps equal similarities in dst-asc order
        top = np.argsort(-s6, axis=1, kind="stable")[:, :k]
        nbr[lo:lo + step] = top
        s[lo:lo + step] = np.take_along_axis(s6, top, axis=1)
    # softmax over each row's top-k, summed in rank order (a left fold)
    e = np.exp(s)
    w = (e / np.cumsum(e, axis=1)[:, -1:]).ravel()
    src, dst = np.repeat(np.arange(n), k), nbr.ravel()
    r = np.full(n, 1.0 / np.sqrt(n))
    for _ in range(iterations):
        infl = np.bincount(dst, weights=w * r[src], minlength=n)
        r = alpha / n + (1.0 - alpha) * infl
        r = r / np.sqrt(np.sum(r * r))
    return pd.DataFrame({
        "g": pdf["g"].to_numpy(),
        "id": pdf["id"].to_numpy(),
        "rank6": round6(r),
        "weight6": round6(1.0 + 10.0 * r),
    })


def pagerank_instance_weights(
    vectors: DataFrame,
    top_k: int = 5,
    alpha: float = 0.15,
    iterations: int = 3,
    min_group_size: int = 10,
    group_col: str = "grp",
    id_col: str = "id",
    vec_col: str = "vec",
) -> DataFrame:
    """vectors(group, id, vec) → (group, id, rank6, weight6)."""
    V = vectors.select(
        F.col(group_col).alias("g"),
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
    ).filter(F.col("g").isNotNull())  # a null group joins nothing
    schema = StructType([
        V.schema["g"],
        V.schema["id"],
        StructField("rank6", DoubleType()),
        StructField("weight6", DoubleType()),
    ])
    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        return _group_weights(pdf, top_k, alpha, iterations, min_group_size)

    return V.groupBy("g").applyInPandas(kernel, schema).toDF(
        group_col, id_col, "rank6", "weight6"
    )
