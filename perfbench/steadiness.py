#!/usr/bin/env python3
"""Steadiness checks for the benchmark, run from the repository root.

    python3 perfbench/steadiness.py spread --workload neighbors --seeds 1,2,3,4,5
        Runs the workload once per seed and prints, for each end-to-end
        metric, the median and the quartile spread (Q3 - Q1) / median, next
        to the metric's bound from BENCHMARK.json.

    python3 perfbench/steadiness.py repeat --workload crop_tile --seed 7 --held-out 1009
        Runs one seed twice: every op both runs completed must have the same
        output digest, and each end-to-end metric of the second run must lie
        within the metric's bound of the first. Then runs a held-out seed,
        which must pass every output check.

Exits non-zero when a check fails. Records of every run are kept under
perfbench/.work/steadiness/.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
OUT_DIR = os.path.join(BENCH_DIR, ".work", "steadiness")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run(workload, seed, tag):
    """One untraced run; returns (result line, full record)."""
    s = spec()
    cmd = s["command"] + ["--workload", workload, "--seed", str(seed),
                          "--seconds", str(s["run_seconds"]), "--trace", "0"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: benchmark exited with {p.returncode}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    src = os.path.join(BENCH_DIR, ".work", "records", f"{workload}-seed{seed}-trace0.json")
    os.makedirs(OUT_DIR, exist_ok=True)
    dst = os.path.join(OUT_DIR, f"{workload}-seed{seed}-{tag}.json")
    shutil.copy(src, dst)
    with open(dst) as fh:
        record = json.load(fh)
    vals = " ".join(f"{k}={v['value']:.5g}" for k, v in result["metrics"].items())
    print(f"{workload} seed={seed} correct={result['correct']} attempted={result['attempted']} "
          f"failed={result['failed']} {vals}", flush=True)
    return result, record


def spread(args):
    bounds = {m["name"]: m["bound"] for m in spec()["end_to_end"]}
    results = [run(args.workload, int(s), "spread")[0] for s in args.seeds.split(",")]
    ok = all(r["correct"] and r["failed"] == 0 for r in results)
    for name, bound in bounds.items():
        vals = [r["metrics"][name]["value"] for r in results]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        print(f"{name:16s} median={med:.5g} spread={(q3 - q1) / med:.4f} bound={bound}")
    if not ok:
        raise SystemExit("an op failed its check")


def repeat(args):
    bounds = {m["name"]: (m["bound"], m["better"]) for m in spec()["end_to_end"]}
    (r1, rec1), (r2, rec2) = run(args.workload, args.seed, "a"), run(args.workload, args.seed, "b")
    errors = []
    common = set(rec1["digests"]) & set(rec2["digests"])
    differ = sorted(int(i) for i in common if rec1["digests"][i] != rec2["digests"][i])
    if not common:
        errors.append("no op completed in both runs")
    if differ:
        errors.append(f"ops {differ} gave different outputs for the same seed")
    for name, (bound, better) in bounds.items():
        a, b = r1["metrics"][name]["value"], r2["metrics"][name]["value"]
        worse = (b - a) / a if better == "lower" else (a - b) / a
        if worse > bound:
            errors.append(f"{name}: second run {b:.5g} is {worse:.1%} worse than {a:.5g} (bound {bound:.0%})")
    held, _ = run(args.workload, args.held_out, "held-out")
    if not held["correct"] or held["failed"]:
        errors.append(f"held-out seed {args.held_out}: {held['failed']} of {held['attempted']} ops failed")
    for e in errors:
        print("FAIL", e)
    if errors:
        raise SystemExit(1)
    print(f"{args.workload}: {len(common)} same-seed ops with identical digests; "
          f"metrics within bounds; held-out seed {args.held_out} correct")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(dest="mode", required=True)
    sp = sub.add_parser("spread")
    sp.add_argument("--workload", required=True)
    sp.add_argument("--seeds", required=True)
    rp = sub.add_parser("repeat")
    rp.add_argument("--workload", required=True)
    rp.add_argument("--seed", type=int, required=True)
    rp.add_argument("--held-out", type=int, required=True)
    args = ap.parse_args()
    spread(args) if args.mode == "spread" else repeat(args)


if __name__ == "__main__":
    main()
