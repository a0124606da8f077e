#!/usr/bin/env python3
"""Smoke test of the lifecycle benchmark.

Run from the root of an engine checkout:

    python3 perfbench/smoke.py [--scale 0.05] [--seed 7]

Runs every workload at a tiny input size twice with the same seed, once
plain and once traced, and checks that

- both runs pass every correctness check and exit 0;
- both print the same output digest (the same seed gives the same output);
- where the traced run reports the digest of its traced copy's output
  (assemble, curate), it equals the plain run's digest;
- the plain run reports every end-to-end metric of BENCHMARK.json and the
  traced run every per-layer metric, each with its unit;
- the traced run's layer spans cover at least 90% of the time they should
  account for (per phase, the longer of the plain operation and its traced
  copy).

Exits non-zero on the first failure.
"""
import argparse
import json
import os
import subprocess
import sys

WORKLOADS = ("assemble", "serve", "supplement", "curate")


def run(workload, seed, trace, scale):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", "1", "--trace", str(trace), "--scale", str(scale)]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.stderr.write(p.stdout[-3000:] + p.stderr[-3000:])
        raise SystemExit(f"{workload} trace={trace}: exit {p.returncode}")
    return json.loads(lines[-2])["record"], json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", type=float, default=0.05)
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args()
    with open(os.path.join("BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    for w in WORKLOADS:
        plain_rec, plain = run(w, args.seed, 0, args.scale)
        traced_rec, traced = run(w, args.seed, 1, args.scale)
        problems = []
        for name, res in (("plain", plain), ("traced", traced)):
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{name} run failed checks: {res}")
        if plain_rec["digest"] != traced_rec["digest"]:
            problems.append(f"digests differ: {plain_rec['digest']} vs {traced_rec['digest']}")
        copy = traced_rec["traced_digest"]
        if copy and copy != plain_rec["digest"]:
            problems.append(f"traced copy digest {copy} != plain {plain_rec['digest']}")
        got = {k: v["unit"] for k, v in plain["metrics"].items()}
        if got != e2e:
            problems.append(f"end-to-end metrics {sorted(got)} != {sorted(e2e)}")
        got = {k: v["unit"] for k, v in traced["metrics"].items()}
        if got != layers:
            problems.append(f"per-layer metrics differ: {sorted(set(got) ^ set(layers))}")
        coverage = traced["metrics"].get("trace.span_coverage", {}).get("value", 0)
        if coverage < 0.9:
            problems.append(f"span coverage {coverage:.3f} < 0.9")
        status = "ok" if not problems else "FAIL"
        print(f"{w}: {status} digest={plain_rec['digest']} coverage={coverage:.3f} "
              f"overhead={traced['metrics']['trace.overhead_frac']['value']:.3f}", flush=True)
        if problems:
            for p in problems:
                print("  " + p)
            sys.exit(1)
    print("smoke: all workloads pass")


if __name__ == "__main__":
    main()
