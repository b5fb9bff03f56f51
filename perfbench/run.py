"""graft benchmark: one run of one workload in a fresh JVM.

    python3 perfbench/run.py --workload olap_interactive --seed 1 \
        --seconds 10 --trace 0

Builds the program and the harness if needed (perfbench/build.py), makes
the workload's inputs from --seed in a private run directory inside the
checkout, runs the JVM harness (setup rounds, cold pass, warm passes,
untimed output check), checks the outputs, and prints one JSON object as
the last line of stdout. --trace 0 reports the end-to-end metrics;
--trace 1 registers the harness's listeners and reports the per-layer
metrics, and writes every span to .bench_out/trace-<workload>-<seed>.json.
The run directory is deleted on exit.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen_irs990  # noqa: E402
import gen_tables  # noqa: E402
import layers  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

ROOT = os.path.dirname(HERE)
JVM_TIMEOUT_S = 150
SETUP_ROUNDS = 3
# Warm passes per run: --seconds of warm time at WARM_PASS_S a pass (the
# warm pass length of both scored workloads on 4 cores), at least
# MIN_WARM_PASSES. The count is fixed before the run, not by the clock:
# passes still speed up as the JIT warms, so a clock-driven count would
# move the median pass with the host's speed.
MIN_WARM_PASSES = 4
WARM_PASS_S = 5.0
# Spark on JDK 17 outside spark-submit needs these (the same list as the
# project's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(classes, plan_path, run_dir):
    cp = os.pathsep.join([classes] + build.spark_jars())
    # -XX:-UsePerfData: no hsperfdata file in the system /tmp. A fixed
    # heap: with a growing one, G1 started from 30 to 250 concurrent cycles
    # a run (humongous allocations above a heap-relative threshold), and
    # the runs with many were a fifth slower.
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Harness", plan_path]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
               GRAFT_IRS990_DIR=os.path.join(run_dir, "irs990"))
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"harness JVM failed ({rc})")


def setup_s(res):
    """JVM launch until ready: launch and session (once per JVM) plus the
    median over setup rounds of the from-scratch staging."""
    return res["launch_s"] + res["session_s"] + statistics.median(
        s["staging_s"] for s in res["setup"])


def end_to_end(res, failed_ops):
    """The end-to-end metrics from the harness result; operations in
    `failed_ops` (threw, missing, or wrong output) contribute no time. A
    latency metric with no sample left is omitted."""
    passes = res["passes"]
    ok = [r for r in res["ops"] if r["ok"] and r["op"] not in failed_ops]
    lat = lambda p: [r["build_s"] + r["write_s"] for r in ok if p(r["pass"])]
    cold, warm = lat(lambda p: p == 1), lat(lambda p: p > 1)
    m = {"setup_s": setup_s(res), "cold_pass_s": passes[0]["wall_s"],
         "warm_pass_s": statistics.median(p["wall_s"] for p in passes[1:])}
    if cold:
        m["cold_p50_s"] = statistics.median(cold)
    if warm:
        m["warm_p50_s"] = statistics.median(warm)
        # the highest percentile with about ten of the >= 36 warm samples
        # above it
        m["warm_p75_s"] = (statistics.quantiles(warm, n=4,
                                                method="inclusive")[2]
                           if len(warm) > 1 else warm[0])
    return m


UNITS = {"setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s",
         "cold_p50_s": "s", "warm_p50_s": "s", "warm_p75_s": "s"}
# the summary line's figures beyond the end-to-end metrics
SUMMARY_UNITS = {"cold_samples": "count", "warm_samples": "count",
                 "fail_ratio": "ratio", "peak_rss_mb": "MB",
                 "etl_docs_per_s": "1/s", "gen_s": "s", "jvm_s": "s",
                 "check_s": "s"}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keys", help="comma-separated operation keys replacing "
                    "the workload's catalog keys (development runs)")
    a = ap.parse_args(argv)
    w = WORKLOADS[a.workload]
    keys = a.keys.split(",") if a.keys else w["keys"]

    classes = build.ensure_built()
    runs = os.path.join(ROOT, ".bench_run")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{a.workload}-{a.seed}-", dir=runs)
    try:
        data = os.path.join(run_dir, "data")
        t0 = time.monotonic()
        gen_tables.generate(data, a.seed, w["sf"], w.get("docs"))
        expected = None
        if w.get("filings"):
            expected = gen_irs990.generate(os.path.join(run_dir, "irs990"),
                                           a.seed, w["filings"])
        gen_s = time.monotonic() - t0
        for d in ("tmp", "local", "warehouse", "check"):
            os.makedirs(os.path.join(run_dir, d))
        plan = {
            "workload": a.workload, "seed": a.seed,
            "trace": bool(a.trace), "cores": cores(), "keys": keys,
            "families": w["families"], "data_dir": data,
            "fresh_tmp_keys": w.get("fresh_tmp_keys", []),
            "tmp_root": os.path.join(run_dir, "tmp"),
            "warehouse": os.path.join(run_dir, "warehouse"),
            "check_dir": os.path.join(run_dir, "check"),
            "out": os.path.join(run_dir, "result.json"),
            "manifest": expected and expected["manifest"],
            "setup_rounds": SETUP_ROUNDS,
            "warm_passes": max(MIN_WARM_PASSES,
                               round(a.seconds / WARM_PASS_S))}
        plan_path = os.path.join(run_dir, "plan.json")
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        t0 = time.monotonic()
        run_jvm(classes, plan_path, run_dir)
        jvm_s = time.monotonic() - t0
        with open(plan["out"]) as f:
            res = json.load(f)

        t0 = time.monotonic()
        verdicts = check.check_outputs(res, data, plan["check_dir"], expected)
        check_s = time.monotonic() - t0
        wrong = {op for op, v in verdicts.items() if v != "ok"}
        threw = {r["op"] for r in res["ops"] if not r["ok"]}
        attempted = len(res["ops"])
        failed = sum(1 for r in res["ops"]
                     if not r["ok"] or r["op"] in wrong)
        first_error = {}
        for r in res["ops"]:
            if not r["ok"]:
                first_error.setdefault(r["op"], r)
        for op, r in first_error.items():
            print(f"FAILED {op}: {r['error']}: {r['message']} "
                  f"(first in pass {r['pass']})")
        for op in sorted(wrong - threw):
            print(f"WRONG {op}: {verdicts[op]}")
        e2e = end_to_end(res, wrong | threw)
        extra = {"cold_samples": sum(1 for r in res["ops"] if r["pass"] == 1),
                 "warm_samples": sum(1 for r in res["ops"] if r["pass"] > 1),
                 "fail_ratio": failed / attempted,
                 "peak_rss_mb": res["peak_rss_mb"], "gen_s": gen_s,
                 "jvm_s": jvm_s, "check_s": check_s}
        etl = layers.etl_docs_per_s(res, expected)
        if etl:
            extra["etl_docs_per_s"] = etl
        units = {**UNITS, **SUMMARY_UNITS}
        print("summary " + json.dumps({k: {"value": v, "unit": units[k]}
                                       for k, v in {**e2e, **extra}.items()}))
        if a.trace:
            os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
            trace_path = os.path.join(
                ROOT, ".bench_out", f"trace-{a.workload}-{a.seed}.json")
            metrics = layers.per_layer(res, trace_path, expected)
            units = layers.UNITS
        else:
            metrics, units = e2e, UNITS
        print(json.dumps({
            "correct": not wrong and not threw,
            "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()}}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    # a SIGTERM unwinds through run_jvm's and main's cleanup, so the JVM
    # and the run directory go too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    main()
