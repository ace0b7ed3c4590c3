"""jobs/build_index.py → jobs/query.py end to end, in-process: a pruned,
L2-normed bigram index built through the CLI answers rank-identically to
the oracle (the query job takes the n-gram order from the index), and
the query job leaves the index root untouched."""

from __future__ import annotations

import sys

from ir_base_spark.oracle import build_oracle_index, search_all
from tests.test_rank_identity import _compare, _oracle_docs
from tests.test_resume import _file_states


def test_cli_build_pruned_l2_then_read_only_query(
    spark, fixture_small, tmp_path, monkeypatch
):
    from jobs import build_index, query

    t = fixture_small.transcripts
    q = fixture_small.queries
    t_in = str(tmp_path / "transcripts")
    q_in = str(tmp_path / "queries")
    spark.createDataFrame(t).write.parquet(t_in)
    spark.createDataFrame(q).write.parquet(q_in)
    root = str(tmp_path / "idx")
    out = str(tmp_path / "out")

    monkeypatch.setattr(sys, "argv", [
        "build_index.py", "--input", t_in, "--index-root", root,
        "--partitions", "4", "--ngrams", "2", "--min-df", "2", "--norm", "2",
    ])
    build_index.main()

    before = _file_states(root)
    monkeypatch.setattr(sys, "argv", [
        "query.py", "--index-root", root, "--queries", q_in, "--output", out,
    ])
    query.main()
    assert _file_states(root) == before

    oracle_idx = build_oracle_index(_oracle_docs(t), ngrams=2, min_df=2, norm=2)
    expected = search_all(
        oracle_idx, list(zip(q["query_id"], q["query_text"], q["k"]))
    )
    _compare(spark.read.parquet(out).collect(), expected)
    spark.catalog.clearCache()
