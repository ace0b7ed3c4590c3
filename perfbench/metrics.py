"""Turns a finished run into the end-to-end and per-layer metrics."""

from __future__ import annotations

from statistics import median

from .stats import geomean, percentile
from .tracer import self_time
from .workloads import ENTRIES

# name -> unit; every name is printed on every workload (0 when the
# workload does not reach that layer)
PER_LAYER = {
    "session.start_s": "s",
    "spark.floor_ms": "ms",
    "manifest.build_s": "s",
    "manifest.resume_s": "s",
    "manifest.jobs": "count",
    "manifest.tasks": "count",
    "manifest.slot_util": "ratio",
    "manifest.cpu_util": "ratio",
    "manifest.postings_rows": "count",
    "manifest.postings_bytes": "bytes",
    "tokenize.s": "s",
    "tokenize.cpu_util": "ratio",
    "finalize.s": "s",
    "finalize.jobs": "count",
    "finalize.shuffle_bytes": "bytes",
    "finalize.bytes_written": "bytes",
    "encode.s": "s",
    "encode.jobs": "count",
    "encode.cpu_util": "ratio",
    "encode.blocks_bytes": "bytes",
    "encode.bytes_per_posting": "bytes",
    "analyze.ms": "ms",
    "wand.plan_s": "s",
    "wand.exec_s": "s",
    "wand.jobs": "count",
    "wand.tasks": "count",
    "wand.slot_util": "ratio",
    "wand.result_rows": "count",
    "request.plan_ms": "ms",
    "request.exec_ms": "ms",
    "request.jobs": "count",
    "m1.exec_s": "s",
    "m1.jobs": "count",
    "m1.stages": "count",
    "m1.shuffle_bytes": "bytes",
    "m1.spill_bytes": "bytes",
    **{
        f"op.{e}.{m}": u
        for e in ENTRIES
        for m, u in (
            ("jobs", "count"), ("tasks", "count"), ("shuffle_bytes", "bytes"),
            ("cached_bytes", "bytes"), ("persistent_rdds", "count"),
        )
    },
    "jvm.peak_rss_mb": "MB",
    "pyworker.peak_rss_mb": "MB",
    # the workload figures the end-to-end summary folds together
    "batch_wand_s": "s",
    "batch_df_s": "s",
    "interactive_p50_ms": "ms",
    "interactive_p90_ms": "ms",
    "resume_s": "s",
    "build_turns_per_s": "1/s",
    "index_bytes_per_text_byte": "ratio",
    **{f"op.{e}_s": "s" for e in ENTRIES},
    "fail_frac": "ratio",
    "trace.overhead_pct": "%",
    "trace.coverage": "ratio",
}

END_TO_END = {"setup_s": "s", "latency_ms": "ms", "peak_rss_mb": "MB"}


def workload_figures(run, res) -> dict:
    """Per-kind figures of the workload that ran (see README.md)."""
    s, f = res["samples"], res["facts"]
    out = {"fail_frac": run.failed / max(run.attempted, 1)}
    if "batch_wand" in s:
        ms = [x * 1000.0 for x in s["interactive"]]
        out.update(
            batch_wand_s=median(s["batch_wand"]),
            batch_df_s=median(s["batch_df"]),
            interactive_p50_ms=median(ms),
            interactive_p90_ms=percentile(ms, 90),
            resume_s=f["resume_s"],
            build_turns_per_s=f["build_turns_per_s"],
            index_bytes_per_text_byte=f["index_bytes_per_text_byte"],
        )
    for e in ENTRIES:
        if e in s:
            out[f"op.{e}_s"] = median(s[e])
    return out


def report(run, res, session_s, config) -> dict:
    jvm_mb, worker_mb = run.proc.peak_mb()
    e2e = {
        "setup_s": res["setup_s"],
        # geometric mean over operation kinds of each kind's median
        "latency_ms": geomean([median(v) for v in res["samples"].values()]) * 1000.0,
        "peak_rss_mb": jvm_mb + worker_mb,
    }
    return {
        "config": config,
        "end_to_end": {k: (v, END_TO_END[k]) for k, v in e2e.items()},
        "figures": workload_figures(run, res),
        "samples": {k: len(v) for k, v in res["samples"].items()},
        "peak_rss_mb": {"jvm": jvm_mb, "pyworkers": worker_mb},
        "session_s": session_s,
        "facts": res["facts"],
    }


def _ancestors(spans, i):
    p = spans[i].parent
    while p is not None:
        yield spans[p].name
        p = spans[p].parent


def _calls(tr, name, under=None, parent=None) -> list[int]:
    """Spans named ``name`` with an ancestor ``under`` and/or the direct
    parent ``parent``."""
    out = []
    for i in tr.find(name):
        sp = tr.spans[i]
        if under is not None and under not in _ancestors(tr.spans, i):
            continue
        if parent is not None and (
            sp.parent is None or tr.spans[sp.parent].name != parent
        ):
            continue
        out.append(i)
    return out


def _med(values) -> float:
    return median(values) if values else 0.0


def per_layer(run, res, session_s, floors_ms) -> dict:
    tr, cores = run.tracer, run.cores
    spans = tr.spans

    def dur(ix):
        return _med([spans[i].seconds for i in ix])

    def counter(ix, key):
        return _med([tr.totals(i)[key] for i in ix])

    def slot_util(ix):
        wall = sum(spans[i].seconds for i in ix)
        run_s = sum(tr.totals(i)["run_ms"] for i in ix) / 1000.0
        return run_s / (wall * cores) if wall else 0.0

    def cpu_util(ix):
        wall = sum(spans[i].seconds for i in ix)
        cpu = sum(spans[i].cpu1 - spans[i].cpu0 for i in ix)
        return cpu / (wall * cores) if wall else 0.0

    f = res["facts"]
    build = _calls(tr, "manifest.build")
    resume = _calls(tr, "manifest.resume")
    tok = _calls(tr, "tokenize")
    fin = _calls(tr, "finalize")
    enc = _calls(tr, "encode")
    bw = _calls(tr, "batch.wand", under="round")
    wplan = _calls(tr, "wand.plan", under="round", parent="batch.wand")
    wexec = _calls(tr, "wand.exec", under="round", parent="batch.wand")
    req = _calls(tr, "request", under="round")
    rplan = _calls(tr, "wand.plan", under="round", parent="request")
    rexec = _calls(tr, "wand.exec", under="round", parent="request")
    m1 = _calls(tr, "m1.exec", under="round")
    rounds = _calls(tr, "round")

    v = {
        "session.start_s": session_s,
        "spark.floor_ms": _med(floors_ms),
        "manifest.build_s": dur(build),
        "manifest.resume_s": dur(resume),
        "manifest.jobs": counter(build, "jobs"),
        "manifest.tasks": counter(build, "tasks"),
        "manifest.slot_util": slot_util(build),
        "manifest.cpu_util": cpu_util(build),
        "manifest.postings_rows": f.get("postings_rows", 0),
        "manifest.postings_bytes": f.get("postings_bytes", 0),
        "tokenize.s": dur(tok),
        "tokenize.cpu_util": cpu_util(tok),
        "finalize.s": dur(fin),
        "finalize.jobs": counter(fin, "jobs"),
        "finalize.shuffle_bytes": counter(fin, "shuffle_bytes"),
        "finalize.bytes_written": counter(fin, "output_bytes"),
        "encode.s": dur(enc),
        "encode.jobs": counter(enc, "jobs"),
        "encode.cpu_util": cpu_util(enc),
        "encode.blocks_bytes": f.get("blocks_bytes", 0),
        "encode.bytes_per_posting": (
            f["blocks_bytes"] / f["postings_rows"] if f.get("postings_rows") else 0.0
        ),
        "analyze.ms": dur(_calls(tr, "analyze", under="round")) * 1000.0,
        "wand.plan_s": dur(wplan),
        "wand.exec_s": dur(wexec),
        "wand.jobs": counter(bw, "jobs"),
        "wand.tasks": counter(bw, "tasks"),
        "wand.slot_util": slot_util(bw),
        "wand.result_rows": _med([spans[i].attrs.get("result_rows", 0) for i in wexec]),
        "request.plan_ms": dur(rplan) * 1000.0,
        "request.exec_ms": dur(rexec) * 1000.0,
        "request.jobs": counter(req, "jobs"),
        "m1.exec_s": dur(m1),
        "m1.jobs": counter(m1, "jobs"),
        "m1.stages": counter(m1, "stages"),
        "m1.shuffle_bytes": counter(m1, "shuffle_bytes"),
        "m1.spill_bytes": counter(m1, "spill_bytes"),
    }
    for e in ENTRIES:
        ix = _calls(tr, f"op.{e}", under="round")
        v[f"op.{e}.jobs"] = counter(ix, "jobs")
        v[f"op.{e}.tasks"] = counter(ix, "tasks")
        v[f"op.{e}.shuffle_bytes"] = counter(ix, "shuffle_bytes")
        # absent when the entry raised
        v[f"op.{e}.cached_bytes"] = _med(
            [spans[i].attrs.get("cached_bytes", 0) for i in ix]
        )
        v[f"op.{e}.persistent_rdds"] = _med(
            [spans[i].attrs.get("persistent_rdds", 0) for i in ix]
        )
    v["jvm.peak_rss_mb"], v["pyworker.peak_rss_mb"] = run.proc.peak_mb()
    v.update(workload_figures(run, res))
    traced, plain = run.round_s[True], run.round_s[False]
    v["trace.overhead_pct"] = (
        100.0 * (median(traced) / median(plain) - 1.0) if traced and plain else 0.0
    )
    # share of traced round time inside the operation spans; the rest
    # (the rounds' self time) is the harness's untimed oracle checks
    covered = sum(spans[i].seconds - self_time(spans, i) for i in rounds)
    total = sum(spans[i].seconds for i in rounds)
    v["trace.coverage"] = covered / total if total else 0.0
    return {k: (float(v.get(k, 0.0)), u) for k, u in PER_LAYER.items()}
