"""Tests for the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from perfbench.check import canon, frame_mismatch, ranked_mismatch
from perfbench.metrics import END_TO_END, PER_LAYER
from perfbench import metrics
from perfbench.inputs import SF01_SHAPE, operator_tables, table_shape
from perfbench.run import Run
from perfbench.stats import geomean, percentile
from perfbench.tracer import (
    JobInfo,
    ProcCounters,
    Span,
    StageInfo,
    Tracer,
    job_totals,
    self_time,
)


# ---------------------------------------------------------------- stats

def test_percentile_is_nearest_rank():
    xs = list(range(1, 11))  # 1..10
    assert percentile(xs, 50) == 5
    assert percentile(xs, 90) == 9
    assert percentile(xs, 91) == 10
    assert percentile(xs, 100) == 10
    assert percentile([7.5], 90) == 7.5
    # order of the input does not matter, result is a measured value
    assert percentile([3.0, 1.0, 2.0], 90) == 3.0


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 0)


def test_geomean():
    assert geomean([1.0, 4.0]) == pytest.approx(2.0)
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])


# ------------------------------------------------------------ self time

def _span(name, start, end, parent=None):
    return Span(name, start, parent, None, -1, end=end)


def test_self_time_subtracts_union_of_children():
    spans = [
        _span("root", 0.0, 10.0),
        _span("a", 1.0, 4.0, parent=0),
        _span("b", 3.0, 5.0, parent=0),   # overlaps a: union is 1..5
        _span("c", 8.0, 12.0, parent=0),  # clipped to the parent: 8..10
        _span("grandchild", 1.5, 2.0, parent=1),
    ]
    assert self_time(spans, 0) == pytest.approx(10.0 - 4.0 - 2.0)
    assert self_time(spans, 1) == pytest.approx(3.0 - 0.5)
    assert self_time(spans, 4) == pytest.approx(0.5)


def test_self_times_partition_the_top_level_span():
    spans = [
        _span("round", 0.0, 6.0),
        _span("op1", 0.5, 2.5, parent=0),
        _span("op2", 2.5, 5.0, parent=0),
        _span("inner", 3.0, 4.0, parent=2),
    ]
    total = sum(self_time(spans, i) for i in range(len(spans)))
    assert total == pytest.approx(spans[0].seconds)


# ---------------------------------------------------- job-range counting

def _job(tasks, failed=0, stages=()):
    return JobInfo(tasks, failed, [
        StageInfo(tasks=t, run_ms=r, cpu_ns=0, input_bytes=0, output_bytes=o,
                  shuffle_write_bytes=sh, spill_bytes=sp)
        for t, r, o, sh, sp in stages
    ])


def test_job_totals_counts_only_ids_in_half_open_range():
    jobs = {
        3: _job(4, stages=[(4, 100, 0, 0, 0)]),
        4: _job(8, failed=1, stages=[(4, 50, 10, 7, 0), (4, 50, 0, 0, 5)]),
        5: _job(2, stages=[(2, 10, 0, 0, 0)]),
        6: _job(1, stages=[(1, 1, 0, 0, 0)]),
    }
    t = job_totals(jobs, 3, 5)   # jobs 4 and 5
    assert t["jobs"] == 2
    assert t["stages"] == 3
    assert t["tasks"] == 10
    assert t["failed_tasks"] == 1
    assert t["run_ms"] == 110
    assert t["shuffle_bytes"] == 7
    assert t["spill_bytes"] == 5
    assert t["output_bytes"] == 10
    assert job_totals(jobs, 6, 6)["jobs"] == 0


class _FakeSpark:
    """Issues job ids like a SparkContext: a span sees the ones issued
    while it was open, from any thread."""

    def __init__(self):
        self.next_id = 0
        self.infos = {}

    def run_job(self, tasks):
        self.infos[self.next_id] = _job(tasks)
        self.next_id += 1

    def watermark(self):
        return self.next_id - 1

    def jobs(self, lo, hi):
        return {j: self.infos[j] for j in range(lo + 1, hi + 1)}


def test_tracer_attributes_jobs_by_id_range_and_nests():
    fake = _FakeSpark()
    tr = Tracer(True, spark_counters=fake)
    fake.run_job(1)                    # before any span
    with tr.span("outer", request=7):
        fake.run_job(2)
        with tr.span("inner"):
            fake.run_job(3)
            fake.run_job(4)
    outer, inner = tr.spans
    assert inner.parent == 0 and inner.request == 7
    assert tr.totals(0)["jobs"] == 3 and tr.totals(0)["tasks"] == 9
    assert tr.totals(1)["jobs"] == 2 and tr.totals(1)["tasks"] == 7


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("x") as sp:
        assert sp is None
    assert tr.spans == []


# ------------------------------------------------------------- /proc

def _fake_proc(root, procs):
    for pid, (comm, ppid, ticks, hwm_kb) in procs.items():
        d = os.path.join(root, str(pid))
        os.makedirs(d)
        rest = ["S", str(ppid)] + ["0"] * 9 + [str(t) for t in ticks] + ["0"] * 30
        with open(os.path.join(d, "stat"), "w") as fh:
            fh.write(f"{pid} ({comm}) " + " ".join(rest) + "\n")
        with open(os.path.join(d, "status"), "w") as fh:
            fh.write(f"Name:\t{comm}\nVmHWM:\t{hwm_kb} kB\n")


def test_proc_counters_walk_descendants_and_keep_peaks(tmp_path):
    tck = os.sysconf("SC_CLK_TCK")
    root = str(tmp_path)
    _fake_proc(root, {
        100: ("java", 1, (tck, tck, 0, 0), 2048),
        200: ("python3 -m pyspark.daemon", 100, (tck, 0, tck, 0), 1024),
        300: ("python3", 200, (2 * tck, 0, 0, 0), 512),
        400: ("unrelated", 1, (50 * tck, 0, 0, 0), 99999),
    })
    pc = ProcCounters(100, proc=root)
    s = pc.sample()
    assert s["jvm_cpu_s"] == pytest.approx(2.0)
    assert s["worker_cpu_s"] == pytest.approx(4.0)
    assert pc.peak_mb() == (2.0, 1.5)
    # worker 300 exits: its peak still counts
    for f in ("stat", "status"):
        os.remove(os.path.join(root, "300", f))
    os.rmdir(os.path.join(root, "300"))
    pc.sample()
    assert pc.peak_mb() == (2.0, 1.5)


# ------------------------------------------------------------ comparators

ORACLE = [
    ("q1", 1, "c1", 0, 2.0),
    ("q1", 2, "c2", 3, 1.0),
    ("q2", 1, "c9", 1, 0.5),
]


def test_ranked_match_ignores_row_order_and_tiny_score_noise():
    got = [ORACLE[2], ORACLE[1], ("q1", 1, "c1", 0, 2.0 + 1e-12)]
    assert ranked_mismatch(got, ORACLE) is None


def test_ranked_mismatch_reports_each_kind_of_difference():
    swapped = [("q1", 1, "c2", 3, 2.0), ("q1", 2, "c1", 0, 1.0), ORACLE[2]]
    assert "rank 1" in ranked_mismatch(swapped, ORACLE)
    off = [ORACLE[0], ("q1", 2, "c2", 3, 1.0 + 1e-9), ORACLE[2]]
    assert "score" in ranked_mismatch(off, ORACLE)
    assert "query ids differ" in ranked_mismatch(ORACLE[:2], ORACLE)
    assert "rows" in ranked_mismatch(ORACLE[:1] + ORACLE[2:], ORACLE)


def test_canon_sorts_columns_and_rows():
    a = pd.DataFrame({"b": [2, 1], "a": ["y", "x"]})
    c = canon(a)
    assert list(c.columns) == ["a", "b"]
    assert c["a"].tolist() == ["x", "y"]


def test_frame_mismatch():
    exp = pd.DataFrame({"doc_id": [1, 2], "score6": [0.5, 0.25]})
    same = pd.DataFrame({"score6": [0.25, 0.5], "doc_id": [2, 1]})
    assert frame_mismatch(same, exp) is None
    assert "rows" in frame_mismatch(same.head(1), exp)
    assert "columns" in frame_mismatch(same.rename(columns={"doc_id": "id"}), exp)
    diff = pd.DataFrame({"doc_id": [1, 2], "score6": [0.5, 0.26]})
    assert "score6" in frame_mismatch(diff, exp)


# ------------------------------------------------------ the timed loop

class _NoProc:
    def sample(self):
        return {}

    def peak_mb(self):
        return 1.0, 1.0


def _run(seed=0, trace=False):
    return Run(None, Tracer(enabled=trace), _NoProc(), None, seed, 0.0, 4)


def test_raised_operation_is_a_timed_failure_and_the_run_still_reports():
    run = _run()

    def ok():
        return lambda: run.check(None, "ok")

    def bad():
        raise RuntimeError("boom")

    samples = run.loop({"ok": ok, "bad": bad})
    assert len(samples["ok"]) == len(samples["bad"]) == 1
    assert (run.attempted, run.failed) == (2, 1)
    assert "raised RuntimeError: boom" in run.failures[0]
    rep = metrics.report(run, {"setup_s": 1.0, "samples": samples, "facts": {}}, 1.0, {})
    assert rep["end_to_end"]["latency_ms"][0] > 0
    assert rep["figures"]["fail_frac"] == 0.5


@pytest.mark.parametrize("seed", [0, 1])
def test_traced_loop_pairs_rounds_on_the_same_inputs(seed):
    run = _run(seed=seed, trace=True)
    seen = []

    def op():
        seen.append((run.slot, run.tracer.enabled))
        return lambda: None

    samples = run.loop({"op": op})
    # one traced and one untraced round on slot 0, traced first on even seeds
    assert seen == [(0, seed % 2 == 0), (0, seed % 2 == 1)]
    assert len(samples["op"]) == 1
    assert len(run.round_s[True]) == len(run.round_s[False]) == 1
    assert run.tracer.enabled


# ------------------------------------------------------------- inputs

def test_operator_tables_have_the_measured_sf01_shape():
    got = table_shape(*operator_tables(7, SF01_SHAPE["documents"], SF01_SHAPE["embeddings"]))
    exact = {k: v for k, v in SF01_SHAPE.items() if not isinstance(v, float)}
    assert {k: got[k] for k in exact} == pytest.approx(exact, abs=1)
    tol = {"term_share_min": 0.001, "term_share_max": 0.001,
           "query_term_df": 0.02, "near_dup_share": 0.01, "lang_en": 0.03}
    for k, t in tol.items():
        assert got[k] == pytest.approx(SF01_SHAPE[k], abs=t), k


def test_operator_tables_are_seeded():
    a, _ = operator_tables(3, 50, 20)
    b, _ = operator_tables(3, 50, 20)
    c, _ = operator_tables(4, 50, 20)
    assert a.equals(b) and not a.equals(c)


# ------------------------------------------------- benchmark definition

def test_benchmark_json_lists_what_the_runs_print():
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "..", "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == END_TO_END
    assert layer == PER_LAYER
