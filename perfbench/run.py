#!/usr/bin/env python3
"""graft benchmark: the product path, end to end and layer by layer.

Usage (from the repository root):

    python3 perfbench/run.py --workload collect|analyze --seed N \
        --seconds S --trace 0|1

Builds the program and this package with sbt on first use (cached under
`.bench_build/`), makes every input from `--seed`, measures for
`--seconds`, checks the program's outputs, and prints as its last line
one JSON object: `{"correct", "attempted", "failed", "metrics"}`.
`--trace 0` reports the end-to-end metrics; `--trace 1` replays the same
inputs with tracing and reports the per-layer metrics. The line before it
holds the run metadata. See perfbench/README.md.
"""
import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
import traced  # noqa: E402
import workloads as wl  # noqa: E402
from harness import BenchError, Gateway, cores  # noqa: E402


def host_probe():
    """A fixed CPU-bound loop, timed: not a metric, it makes host-speed
    drift between sessions visible beside the numbers."""
    t0 = time.perf_counter()
    x = 0
    for i in range(3_000_000):
        x = (x * 31 + i) % 1_000_003
    return round(time.perf_counter() - t0, 4)


def metadata(args, cp):
    def out(cmd):
        try:
            r = subprocess.run(cmd, capture_output=True, text=True,
                               cwd=harness.ROOT, timeout=20)
            return (r.stdout + r.stderr).strip() if r.returncode == 0 else ""
        except (OSError, subprocess.SubprocessError):
            return ""
    spark = [os.path.basename(j) for j in cp.split(os.pathsep)
             if os.path.basename(j).startswith("spark-core_")]
    return {"seed": args.seed, "workload": args.workload,
            "seconds": args.seconds, "trace": args.trace,
            "git_commit": out(["git", "rev-parse", "HEAD"]) or "unknown",
            "nproc": os.cpu_count(), "spark_cores": cores(),
            "jvm": (out(["java", "-version"]) or "unknown").splitlines()[0],
            "spark": spark[0][len("spark-core_"):-4] if spark else "unknown",
            "python": platform.python_version(),
            "host_probe_s": host_probe()}


def launch(cp, work):
    """One gateway JVM over a fresh warehouse."""
    return Gateway(cp, os.path.join(work, "wh"), os.path.join(work, "tmp"),
                   os.path.join(work, "gateway.log"), cores=cores())


def run_collect(cp, work, args, meta):
    items = wl.collect_items(args.seed, 400)
    warm, items = items[:wl.WARM_ITEMS], items[wl.WARM_ITEMS:]
    gw = launch(cp, work)
    t0 = time.perf_counter()
    wlog = wl.Log()
    wl.collect_prepare(gw, warm, wlog)
    prepare_s = time.perf_counter() - t0
    log = wl.Log()
    wl.collect_drive(gw, items, args.seconds, log)
    bad = wl.collect_check(gw, wlog.rows + log.rows)
    gw.stop()
    reqs = [r for r in log.rows if r["kind"] != "poll"]
    batches = wl.latencies_ms([r for r in wl.steady(reqs)
                               if r["kind"] == "batch"])
    lags = wl.visible_lags_ms(log)
    meta.update(prepare_s=prepare_s, batch_samples=len(batches),
                batch_mean_ms=statistics.mean(batches),
                batch_p50_ms=wl.p(batches, 0.5), batch_p90_ms=wl.p(batches, 0.9),
                visible_lag_samples=len(lags),
                visible_lag_p50_ms=wl.p(lags, 0.5),
                user_ops_p50_ms=wl.p(wl.latencies_ms(log.of("user_ops")), 0.5),
                polls=len(log.of("poll")))
    return {
        "setup_s": ("s", gw.ready_s + prepare_s),
        "throughput_per_s": ("1/s", wl.steady_rate(reqs, lambda r: r["stored"])),
        "latency_mean_ms": ("ms", wl.closed_loop_latency_ms(reqs)),
    }, log, bad


def run_analyze(cp, work, args, meta):
    evs, bodies, ops, mix = wl.analyze_inputs(args.seed)
    gw = launch(cp, work)
    t0 = time.perf_counter()
    wl.analyze_prepare(gw, bodies, ops, mix)
    prepare_s = time.perf_counter() - t0
    log = wl.Log()
    wl.analyze_drive(gw, mix, args.seconds, log)
    gw.stop()
    bad = wl.analyze_check(log, evs, mix)
    lat = wl.latencies_ms(log.rows)
    meta.update(prepare_s=prepare_s, query_samples=len(lat),
                query_p50_ms=wl.p(lat, 0.5), query_p90_ms=wl.p(lat, 0.9),
                events_loaded=len(evs))
    return {
        "setup_s": ("s", gw.ready_s + prepare_s),
        "throughput_per_s": ("1/s", wl.steady_rate(log.rows, lambda r: 1)),
        "latency_mean_ms": ("ms", statistics.mean(lat)),
    }, log, bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["collect", "analyze"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="load the sf0.001 shape on analyze (smoke_test.py)")
    args = ap.parse_args()
    if args.smoke:
        wl.ANALYZE_EVENTS, wl.ANALYZE_USERS, wl.BULK = 1000, 15, 500

    work = os.path.join(harness.ROOT, ".bench_build", "perfbench")
    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    cp = harness.build(work)
    meta = metadata(args, cp)
    if args.trace:
        metrics, attempted, failed, bad = traced.run(cp, run_dir, args, meta)
    else:
        fn = run_collect if args.workload == "collect" else run_analyze
        metrics, log, bad = fn(cp, run_dir, args, meta)
        attempted = len(log.rows)
        failed = sum(1 for r in log.rows if r["status"] != 200)
    meta["check_failures"] = bad[:10]
    print(json.dumps({"metadata": meta}))
    print(json.dumps({
        "correct": not bad, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (u, v) in metrics.items()}}))


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))
    try:
        main()
    except BenchError as e:
        print("perfbench: %s" % e, file=sys.stderr)
        sys.exit(2)
    finally:
        harness.stop_all()
