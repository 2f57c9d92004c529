#!/usr/bin/env python3
"""Paired benchmark runs: a parent revision against the working tree.

    python3 scripts/bench_pairs.py --workload ingest_live --seeds 906-910
                                   [--parent HEAD] [--trace 0]

Run from the repository root. The parent revision is exported with
`git archive` into .bench_build/pairs/<sha> (its committed files only,
the way the benchmark is run on a commit) and reused by later calls, so
its build and class-data-sharing archive are made once. For every seed
the script runs `perfbench/run.py` once in the parent copy and once in
the working tree, for BENCHMARK.json's `run_seconds`, alternating which
side goes first from pair to pair so a drift in host load falls on both
sides. It never writes under perfbench/.

It prints, per metric, each side's median and quartiles, the ratio of
the medians (change / parent) and how many pairs the change won (ties
count for neither side). A metric is marked `gain` when the change won
at least 9 in 10 pairs and the medians differ by more than the
distance between the parent's quartiles; an end-to-end metric whose
ratio is worse than its BENCHMARK.json bound is marked `OUTSIDE BOUND`.
Exits 1 if any run was incorrect, failed an operation or produced no
result.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(spec):
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def export_parent(rev):
    sha = subprocess.run(["git", "rev-parse", rev], cwd=ROOT, check=True,
                         capture_output=True, text=True).stdout.strip()
    copy = os.path.join(ROOT, ".bench_build", "pairs", sha)
    marker = os.path.join(copy, ".exported")
    if not os.path.exists(marker):
        os.makedirs(copy, exist_ok=True)
        archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", copy], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            sys.exit(f"bench_pairs: git archive {sha} failed")
        open(marker, "w").close()
    return sha, copy


def run_once(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=checkout, stdin=subprocess.DEVNULL,
                         stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        return None
    ok = out.returncode == 0 and result.get("correct") and not result.get("failed")
    if not ok:
        return None
    # each metric prints as {"value", "unit"}
    result["metrics"] = {k: v["value"] for k, v in result["metrics"].items()}
    return result


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 906-910 or 901,903")
    ap.add_argument("--parent", default="HEAD", help="git revision to compare against")
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    args = ap.parse_args()

    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}
    sha, parent_dir = export_parent(args.parent)
    sides = {"parent": parent_dir, "change": ROOT}
    runs = {"parent": [], "change": []}
    bad = 0
    for i, seed in enumerate(parse_seeds(args.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            r = run_once(sides[side], args.workload, seed, bench["run_seconds"], args.trace)
            if r is None:
                bad += 1
                print(f"# seed {seed} {side}: incorrect, failed or no result", flush=True)
                continue
            runs[side].append({"seed": seed, **r})
            print(f"# seed {seed} {side}: " + ", ".join(
                f"{k}={r['metrics'][k]:.4g}" for k in e2e if k in r["metrics"]), flush=True)

    paired = {r["seed"]: r for r in runs["parent"]}
    pairs = [(paired[c["seed"]], c) for c in runs["change"] if c["seed"] in paired]
    print(f"\n{args.workload}: parent {sha[:10]} vs working tree, {len(pairs)} pairs, "
          f"trace={args.trace}")
    print(f"{'metric':36} {'parent q1 / med / q3':>30} {'change q1 / med / q3':>30} "
          f"{'ratio':>6} {'won':>6}")
    names = sorted({k for p, c in pairs for k in p["metrics"]} & {k for _, c in pairs for k in c["metrics"]},
                   key=lambda k: (k not in e2e, k))
    flagged = []
    for k in names:
        ps = [p["metrics"][k] for p, c in pairs if k in p["metrics"] and k in c["metrics"]]
        cs = [c["metrics"][k] for p, c in pairs if k in p["metrics"] and k in c["metrics"]]
        pm, cm = statistics.median(ps), statistics.median(cs)
        (p1, p3), (c1, c3) = quartiles(ps), quartiles(cs)
        ratio = cm / pm if pm else float("nan")
        sign = 1 if better.get(k, "lower") == "lower" else -1
        won = sum(1 for a, b in zip(ps, cs) if sign * (b - a) < 0)
        mark = ""
        if won >= 0.9 * len(ps) and abs(cm - pm) > p3 - p1:
            mark = "  gain"
        if k in e2e:
            bound = e2e[k]["bound"]
            if (sign > 0 and ratio > 1 + bound) or (sign < 0 and ratio < 1 - bound):
                mark = "  OUTSIDE BOUND"
                flagged.append(k)
        print(f"{k:36} {p1:9.4g} {pm:9.4g} {p3:9.4g}  {c1:9.4g} {cm:9.4g} {c3:9.4g}  "
              f"{ratio:6.3f} {won:>3}/{len(ps):<2}{mark}")
    if flagged:
        print("outside bound: " + ", ".join(flagged))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
