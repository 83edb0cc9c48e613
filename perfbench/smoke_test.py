#!/usr/bin/env python3
"""Smoke test of the benchmark itself; run from the repository root:

    python3 perfbench/smoke_test.py

1. The same seed yields byte-identical generated inputs; another seed
   yields different ones.
2. Each workload, untraced and traced, on the sf0.001 shape (`--smoke`),
   emits every metric `BENCHMARK.json` names, with its unit, and passes
   its output checks.
"""
import hashlib
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import workloads as wl  # noqa: E402


def digest_inputs(seed):
    h = hashlib.sha256()
    for _, _, body, _ in wl.collect_items(seed, 40):
        h.update(body.encode())
    evs, bodies, ops, mix = wl.analyze_inputs(seed)
    for b in bodies + [ops, json.dumps(mix)]:
        h.update(b.encode())
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as d:
        gen.tables(seed, d)
        for f in sorted(os.listdir(d)):
            with open(os.path.join(d, f), "rb") as fh:
                h.update(f.encode() + fh.read())
    return h.hexdigest()


def main():
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    a, b, c = digest_inputs(7), digest_inputs(7), digest_inputs(8)
    assert a == b, "same seed gave different inputs"
    assert a != c, "different seeds gave the same inputs"
    print("inputs: deterministic per seed, distinct across seeds")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    wanted = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
              1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    failures = []
    for w in [x["name"] for x in bench["workloads"]]:
        for trace in (0, 1):
            r = subprocess.run(
                bench["command"] + ["--workload", w, "--seed", "1",
                                    "--seconds", "2", "--trace", str(trace),
                                    "--smoke"],
                cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or not lines:
                failures.append("%s trace=%d: exit %d %s" % (
                    w, trace, r.returncode, r.stderr[-300:]))
                continue
            res = json.loads(lines[-1])
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != wanted[trace]:
                failures.append("%s trace=%d: metrics differ: missing %s, "
                                "extra or wrong unit %s" % (
                                    w, trace,
                                    sorted(set(wanted[trace]) - set(got)),
                                    sorted(set(got.items()) -
                                           set(wanted[trace].items()))))
            if not res["correct"] or res["failed"]:
                failures.append("%s trace=%d: correct=%s failed=%d %s" % (
                    w, trace, res["correct"], res["failed"],
                    json.loads(lines[-2])["metadata"].get("check_failures")))
            print("%s trace=%d: %d metrics, correct=%s" % (
                w, trace, len(got), res["correct"]))
    if failures:
        print("\n".join(failures))
        sys.exit(1)
    print("ok")


if __name__ == "__main__":
    main()
