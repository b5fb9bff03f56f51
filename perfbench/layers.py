"""Per-layer metrics of a traced run, and its span file.

The harness hands back, per operation of each traced pass, the counters of
its listeners (see harness/Tracer.scala) and the spans it saw. Here they
become one number per layer metric: warm figures are per traced warm pass
(sums over the pass's operations, averaged over passes), `*_cold` figures
are pass 1. The span tree run > setup > staging family > pass > operation >
build/write > job > stage (plus streaming batches) is written as JSON with
each span's self time (its duration minus the union of its children's).
"""
import json
import statistics

from workloads import WORKLOADS

FAMILIES = sorted({f for w in WORKLOADS.values() for f in w["families"]})
MB = 1024 * 1024

UNITS = {"staging.session_s": "s", "staging.bytes": "bytes",
         **{f"staging.{f}_s": "s" for f in FAMILIES},
         "queries.build_s": "s", "queries.build_jobs": "count",
         "queries.write_s": "s",
         "plans.analysis_s": "s", "plans.optimization_s": "s",
         "plans.planning_s": "s", "plans.codegen_compiles": "count",
         "plans.codegen_s": "s", "plans.codegen_compiles_cold": "count",
         "plans.codegen_s_cold": "s", "plans.analysis_s_cold": "s",
         "scheduler.jobs": "count", "scheduler.stages": "count",
         "scheduler.tasks": "count", "scheduler.driver_gap_s": "s",
         "exec.task_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
         "exec.core_busy": "ratio", "exec.shuffle_write_mb": "MB",
         "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB",
         "exec.stage_skew": "ratio", "exec.task_failures": "count",
         "ingest.files_ok": "count", "ingest.files_failed": "count",
         "ingest.records": "count", "ingest.fetch_parse_s": "s",
         "ingest.read_mb": "MB", "ingest.docs_per_s": "1/s",
         "sink.write_mb": "MB", "sink.files_written": "count",
         "sink.write_amp": "ratio",
         "streaming.batches": "count", "streaming.batch_p50_ms": "ms",
         "streaming.plan_ms": "ms", "streaming.commit_ms": "ms",
         "streaming.state_rows": "count", "streaming.state_commit_ms": "ms",
         "jvm.driver_gc_s": "s", "jvm.heap_peak_mb": "MB",
         "jvm.peak_rss_mb": "MB",
         "harness.cleanup_s": "s", "trace.overhead_frac": "ratio",
         "trace.build_write_residual_s": "s"}

ETL_PREFIX = "etl."
FETCH_PARSE = "ingest.fetch_parse"


def etl_docs_per_s(res, expected):
    """Filings through `GraftJob.run` per second over the warm passes."""
    if not expected:
        return None
    runs = [r for r in res["ops"] if r["ok"] and r["pass"] > 1
            and r["op"].startswith(ETL_PREFIX)]
    busy = sum(r["wall_s"] for r in runs)
    filings = expected["files_ok"] + expected["files_failed"]
    return len(runs) * filings / busy if busy else None


def _union(iv):
    total, cs, ce = 0.0, None, None
    for s, e in sorted(x for x in iv if x[1] > x[0]):
        if ce is None or s > ce:
            if ce is not None:
                total += ce - cs
            cs, ce = s, e
        else:
            ce = max(ce, e)
    return total + (ce - cs if ce is not None else 0.0)


def spans(res):
    """Every span of the run with parent links and self times (ms)."""
    out = [{"id": "session", "parent": "run", "kind": "setup",
            "start_ms": res["session_start_ms"],
            "dur_ms": res["session_s"] * 1e3}]
    for s in res["setup"]:
        rid = f"setup{s['round']}"
        fams = s["families"].values()
        start = min((v["start_ms"] for v in fams),
                    default=res["session_start_ms"])
        out.append({"id": rid, "parent": "run", "kind": "setup",
                    "start_ms": start, "dur_ms": s["staging_s"] * 1e3})
        for fam, v in s["families"].items():
            out.append({"id": f"{rid}/{fam}", "parent": rid, "kind": "staging",
                        "start_ms": v["start_ms"], "dur_ms": v["s"] * 1e3})
    for p in res["passes"]:
        if p["traced"]:
            out.append({"id": f"p{p['pass']}", "parent": "run",
                        "kind": "pass", "start_ms": p["start_ms"],
                        "dur_ms": p["wall_s"] * 1e3})
    traced = (res.get("trace") or {}).get("spans", [])
    by_id = {s["id"]: s for s in traced}
    for s in traced:
        s = dict(s)
        if s["kind"] == "job":  # jobs belong to the phase they started in
            for ph in ("build", "write"):
                p = by_id.get(f"{s['parent']}/{ph}")
                if p and p["start_ms"] <= s["start_ms"] < \
                        p["start_ms"] + p["dur_ms"] + 1:
                    s["parent"] = p["id"]
        out.append(s)
    first = min((s["start_ms"] for s in out), default=0)
    last = max((s["start_ms"] + s["dur_ms"] for s in out), default=0)
    out.insert(0, {"id": "run", "parent": None, "kind": "run",
                   "start_ms": first, "dur_ms": last - first})
    kids = {}
    for s in out:
        kids.setdefault(s["parent"], []).append(s)
    for s in out:
        iv = [(max(c["start_ms"], s["start_ms"]),
               min(c["start_ms"] + c["dur_ms"], s["start_ms"] + s["dur_ms"]))
              for c in kids.get(s["id"], [])]
        s["self_ms"] = max(0.0, s["dur_ms"] - _union(iv))
    return out


def job_cover(sp):
    """{operation span id: seconds of its wall during which a job ran}."""
    ops = {s["id"]: s for s in sp if s["kind"] == "op"}
    iv = {k: [] for k in ops}
    for s in sp:
        if s["kind"] == "job":
            o = ops[s["id"].rsplit("/job", 1)[0]]
            iv[o["id"]].append((
                max(s["start_ms"], o["start_ms"]),
                min(s["start_ms"] + s["dur_ms"], o["start_ms"] + o["dur_ms"])))
    return {k: _union(v) / 1e3 for k, v in iv.items()}


def per_layer(res, trace_path, expected):
    """Per-layer metrics of a traced run; writes the span file."""
    sp = spans(res)
    with open(trace_path, "w") as f:
        json.dump({"spans": sp}, f)
    traced = {p["pass"] for p in res["passes"] if p["traced"]}
    warm = sorted(traced - {1})
    nw = max(1, len(warm))
    recs = [r for r in res["ops"] if r["pass"] in traced]
    cover = job_cover(sp)
    for r in recs:  # job-covered time plus the driver gap is the wall
        c = cover.get(f"p{r['pass']}/{r['op']}", 0.0)
        r["layers"]["job_covered_s"] = c
        r["layers"]["driver_gap_s"] = max(0.0, r["wall_s"] - c)
    wrecs = [r for r in recs if r["pass"] > 1]
    crecs = [r for r in recs if r["pass"] == 1]
    L = lambda r, k: r["layers"].get(k, 0.0)
    warm_sum = lambda k: sum(L(r, k) for r in wrecs) / nw
    cold_sum = lambda k: sum(L(r, k) for r in crecs)
    ok_w = [r for r in wrecs if r["ok"]]

    build_jobs = sum(1 for s in sp if s["kind"] == "job" and
                     s["parent"].endswith("/build") and
                     not s["id"].startswith("p1/"))

    setup = res["setup"]
    med = lambda xs: statistics.median(xs) if xs else 0.0
    fam_s = {f: med([s["families"][f]["s"] for s in setup
                     if f in s["families"]]) for f in FAMILIES}
    ingest_recs = [r for r in wrecs if r["op"] == FETCH_PARSE]
    io_recs = [r for r in wrecs if r["op"] == FETCH_PARSE or
               r["op"].startswith(ETL_PREFIX)]
    wall_w = sum(r["wall_s"] for r in wrecs)
    batch = [b for r in wrecs for b in r["layers"].get("batch_ms", [])]
    sink_b = warm_sum("sink_bytes")
    untraced = [p["wall_s"] for p in res["passes"]
                if p["pass"] > 1 and not p["traced"]]
    traced_w = [p["wall_s"] for p in res["passes"] if p["pass"] in warm]
    skews = [L(r, "stage_skew") for r in ok_w if L(r, "stage_skew") > 0]

    m = {
        "staging.session_s": res["session_s"],
        "staging.bytes": med([s["staging_bytes"] for s in setup]),
        **{f"staging.{f}_s": v for f, v in fam_s.items()},
        "queries.build_s": sum(r["build_s"] for r in ok_w) / nw,
        "queries.build_jobs": build_jobs / nw,
        "queries.write_s": sum(r["write_s"] for r in ok_w) / nw,
        "plans.analysis_s": warm_sum("phase_analysis"),
        "plans.optimization_s": warm_sum("phase_optimization"),
        "plans.planning_s": warm_sum("phase_planning"),
        "plans.codegen_compiles": warm_sum("codegen_compiles"),
        "plans.codegen_s": warm_sum("codegen_s"),
        "plans.codegen_compiles_cold": cold_sum("codegen_compiles"),
        "plans.codegen_s_cold": cold_sum("codegen_s"),
        "plans.analysis_s_cold": cold_sum("phase_analysis"),
        "scheduler.jobs": warm_sum("jobs"),
        "scheduler.stages": warm_sum("stages"),
        "scheduler.tasks": warm_sum("tasks"),
        "scheduler.driver_gap_s": warm_sum("driver_gap_s"),
        "exec.task_s": warm_sum("task_s"),
        "exec.cpu_s": warm_sum("cpu_s"),
        "exec.gc_s": warm_sum("gc_s"),
        "exec.core_busy": (sum(L(r, "task_s") for r in wrecs) /
                           (wall_w * res["cores"]) if wall_w else 0.0),
        "exec.shuffle_write_mb": warm_sum("shuffle_write_b") / MB,
        "exec.shuffle_read_mb": warm_sum("shuffle_read_b") / MB,
        "exec.spill_mb": warm_sum("spill_b") / MB,
        "exec.stage_skew": med(skews),
        "exec.task_failures": sum(L(r, "task_failures") for r in recs),
        "ingest.files_ok": warm_sum("xml_input_ok"),
        "ingest.files_failed": warm_sum("xml_input_failed"),
        "ingest.records": warm_sum("records_emitted"),
        "ingest.fetch_parse_s": sum(r["wall_s"] for r in ingest_recs) / nw,
        "ingest.read_mb": sum(L(r, "fs_read_b") for r in io_recs) / nw / MB,
        "ingest.docs_per_s": etl_docs_per_s(res, expected) or 0.0,
        "sink.write_mb": warm_sum("sink_bytes") / MB,
        "sink.files_written": warm_sum("sink_files"),
        "sink.write_amp": warm_sum("fs_write_b") / sink_b if sink_b else 0.0,
        "streaming.batches": warm_sum("stream_batches"),
        "streaming.batch_p50_ms": med(batch),
        "streaming.plan_ms": warm_sum("stream_plan_ms"),
        "streaming.commit_ms": warm_sum("stream_commit_ms"),
        "streaming.state_rows": warm_sum("state_rows"),
        "streaming.state_commit_ms": warm_sum("state_commit_ms"),
        "jvm.driver_gc_s": med([p["gc_s"] for p in res["passes"]
                                if p["pass"] > 1]),
        "jvm.heap_peak_mb": res["heap_peak_mb"],
        "jvm.peak_rss_mb": res["peak_rss_mb"],
        "harness.cleanup_s": res["cleanup_s"] / len(res["passes"]),
        "trace.overhead_frac": (med(traced_w) / med(untraced) - 1
                                if untraced and traced_w else 0.0),
        "trace.build_write_residual_s": max(
            (abs(r["wall_s"] - r["build_s"] - r["write_s"]) for r in ok_w),
            default=0.0),
    }
    assert set(m) == set(UNITS)
    return m
