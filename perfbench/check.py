"""Output checks: every timed result is compared with an oracle.

A check returns None when the output matches and a one-line reason when
it does not; the caller counts a reason as a failed operation.
"""

from __future__ import annotations

import pandas as pd

# the correctness gate's canonical form: columns sorted by name, object
# columns as str, rows sorted on every column
from tools.check_entry import _canon as canon

SCORE_TOL = 1e-9


def ranked_mismatch(got, expected, tol: float = SCORE_TOL) -> str | None:
    """Rank identity of top-k rows (query_id, rank, conv_id, turn_idx,
    score): every query has the same (conv_id, turn_idx) at every rank
    as the oracle, and scores agree within ``tol``."""

    def by_query(rows):
        out: dict[str, list] = {}
        for qid, rank, conv_id, turn_idx, score in rows:
            out.setdefault(str(qid), []).append(
                (int(rank), str(conv_id), int(turn_idx), float(score))
            )
        return {q: sorted(v) for q, v in out.items()}

    g, e = by_query(got), by_query(expected)
    if set(g) != set(e):
        missing = sorted(set(e) - set(g))[:3]
        extra = sorted(set(g) - set(e))[:3]
        return f"query ids differ: missing {missing}, unexpected {extra}"
    for qid in sorted(e):
        gr, er = g[qid], e[qid]
        if len(gr) != len(er):
            return f"{qid}: {len(gr)} rows, oracle has {len(er)}"
        for (r1, c1, t1, s1), (r2, c2, t2, s2) in zip(gr, er):
            if (r1, c1, t1) != (r2, c2, t2):
                return f"{qid} rank {r2}: got ({c1}, {t1}) at rank {r1}, oracle ({c2}, {t2})"
            if abs(s1 - s2) >= tol:
                return f"{qid} rank {r2}: score {s1!r} vs oracle {s2!r}"
    return None


def frame_mismatch(got: pd.DataFrame, expected: pd.DataFrame) -> str | None:
    """Schema, row count and exact value comparison of two canonicalised
    frames (the expected one may already be canonical)."""
    a, b = canon(got), canon(expected)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs oracle {list(b.columns)}"
    if len(a) != len(b):
        return f"{len(a)} rows vs oracle {len(b)}"
    if not a.equals(b):
        cols = [c for c in a.columns if not a[c].equals(b[c])]
        return f"values differ in {cols}"
    return None
