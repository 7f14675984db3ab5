#!/usr/bin/env python3
"""A/B the repo benchmark on two git revisions.

    python3 tools/bench_ab.py <base-rev> <change-rev> [--pairs 10] [--seed 1]
        [--workload <name> ...] [--seconds <s>] [--trace 0|1] [--keep]

Checks each revision out with `git worktree add --detach` into a fresh
directory (never a copy of a working checkout: sbt's incremental-compile
analysis stores absolute paths, and a copied `target/` makes one build
delete the other's classes), then runs `perfbench/run.py` in both
checkouts for N pairs per workload. Pair i uses seed `--seed + i` on both
sides; the base runs first in even pairs and second in odd ones, so drift
in host load hits both sides alike. Each run's metrics are printed as they
arrive, with its wall time (`wall_s`), and the number of whole cycles
(`cycles`) and latency samples (`op_samples`) from `run.py`'s
second-to-last line. At the end, per workload: each side's count of runs
that fitted 1, 2, ... cycles in the run length (a faster commit may fit
more, and each cycle adds op samples) and its wall-time range; then per
metric each side's median and quartiles, and how many pairs the change
won (ties count for neither), with the claim rule of the design guide:
wins >= 9/10 of the pairs and medians apart by more than the base's
interquartile distance.

Workloads default to those in the change's BENCHMARK.json, and the run
length to its `run_seconds`. The worktrees (and their build caches) are
removed at the end unless --keep is given.
"""
import argparse
import collections
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time


def git(*args, cwd=None):
    return subprocess.run(["git", *args], cwd=cwd, check=True, text=True,
                          capture_output=True).stdout.strip()


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def run_once(checkout, workload, seed, seconds, trace):
    """One run's metrics ({name: value}) with its `failed` checks, `cycles`,
    `op_samples` and `wall_s`, or None when the run failed."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.monotonic()
    proc = subprocess.run(cmd, cwd=checkout, text=True, capture_output=True)
    wall_s = round(time.monotonic() - t0, 1)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(proc.stderr[-4000:])
        return None
    shape, result = json.loads(lines[-2]), json.loads(lines[-1])
    if not result["correct"]:
        sys.stderr.write(proc.stderr[-4000:])
    return {"failed": result["failed"], "cycles": shape["cycles"],
            "op_samples": shape["op_samples"], "wall_s": wall_s,
            **{k: v["value"] for k, v in result["metrics"].items()}}


def summarize(runs, workloads, better, units):
    """Per workload: the runs' cycle counts and wall times per side, then
    each metric's quartiles per side, the change's wins and the claim.
    `runs[(workload, side)]` lists run_once results in pair order."""
    sides = ("base", "change")
    for w in workloads:
        pairs = [(b, c) for b, c in zip(runs[(w, "base")], runs[(w, "change")])
                 if b is not None and c is not None]
        failed = {s: sum(1 for m in runs[(w, s)] if m is None or m["failed"])
                  for s in sides}
        print(f"\n{w}: {len(pairs)} complete pairs; failed or incorrect runs: "
              f"base {failed['base']}, change {failed['change']}")
        for s in sides:
            done = [m for m in runs[(w, s)] if m is not None]
            if not done:
                continue
            fits = collections.Counter(m["cycles"] for m in done)
            walls = [m["wall_s"] for m in done]
            print(f"{s:6s} runs by cycles fitted: "
                  + ", ".join(f"{n} cycle(s) x{fits[n]}" for n in sorted(fits))
                  + f"; wall {min(walls):.1f}-{max(walls):.1f} s")
        print(f"{'metric':34s} {'base median [q1, q3]':>28s} "
              f"{'change median [q1, q3]':>28s} {'wins':>6s} claim")
        for name in better:
            if not pairs:
                break
            b = [p[0][name] for p in pairs]
            c = [p[1][name] for p in pairs]
            lower = better[name] == "lower"
            wins = sum(1 for x, y in zip(b, c) if (y < x if lower else y > x))
            bq, cq = quartiles(b), quartiles(c)
            gain = (bq[1] - cq[1]) if lower else (cq[1] - bq[1])
            claim = wins >= 0.9 * len(pairs) and gain > bq[2] - bq[0]
            fmt = lambda q: f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"
            print(f"{name + ' (' + units[name] + ')':34s} {fmt(bq):>28s} {fmt(cq):>28s} "
                  f"{wins:>3d}/{len(pairs):<2d} {'yes' if claim else 'no'}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    ap.add_argument("--workload", action="append")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the worktrees")
    args = ap.parse_args()

    root = git("rev-parse", "--show-toplevel")
    revs = {"base": git("rev-parse", "--verify", args.base + "^{commit}", cwd=root),
            "change": git("rev-parse", "--verify", args.change + "^{commit}", cwd=root)}
    top = tempfile.mkdtemp(prefix="bench_ab-")
    checkouts = {}
    try:
        for side, rev in revs.items():
            checkouts[side] = os.path.join(top, side)
            git("worktree", "add", "--detach", checkouts[side], rev, cwd=root)
            print(f"{side}: {rev[:12]} at {checkouts[side]}", file=sys.stderr)
        with open(os.path.join(checkouts["change"], "BENCHMARK.json")) as f:
            spec = json.load(f)
        workloads = args.workload or [w["name"] for w in spec["workloads"]]
        seconds = args.seconds or spec["run_seconds"]
        declared = spec["per_layer" if args.trace else "end_to_end"]
        better = {m["name"]: m["better"] for m in declared}
        units = {m["name"]: m["unit"] for m in declared}

        runs = {(w, side): [] for w in workloads for side in revs}
        for w in workloads:
            for i in range(args.pairs):
                order = ("base", "change") if i % 2 == 0 else ("change", "base")
                for side in order:
                    m = run_once(checkouts[side], w, args.seed + i, seconds, args.trace)
                    runs[(w, side)].append(m)
                    print(json.dumps({"workload": w, "pair": i, "seed": args.seed + i,
                                      "side": side, "metrics": m}), flush=True)

        summarize(runs, workloads, better, units)
    finally:
        if not args.keep:
            for path in checkouts.values():
                subprocess.run(["git", "worktree", "remove", "--force", path], cwd=root,
                               capture_output=True)
            git("worktree", "prune", cwd=root)
            if not os.listdir(top):
                os.rmdir(top)


if __name__ == "__main__":
    main()
