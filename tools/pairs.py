#!/usr/bin/env python3
"""Alternating parent/change pairs of the ledger benchmark, with verdicts.

    python3 tools/pairs.py --parent REV [--pairs 10] [--seconds 20] [--seed 1000]
                           [--workload W ...] [--parent-dir DIR] [--out FILE]

Run from the repository root. Each pair runs `perfbench/run.py --trace 0`
once in this checkout (the change) and once in a checkout of the parent
revision, with the same seed; pair i uses seed `--seed + i`, and the side
that runs first alternates from pair to pair. The parent checkout is a
`git worktree` of REV in a temporary directory, removed at the end, unless
`--parent-dir` names an existing checkout of it.

For every workload and end-to-end metric of BENCHMARK.json it prints each
side's median and interquartile range (IQR), how many pairs the change won
(ties count for neither side), and a verdict:

  gain          the change won at least 9 of every 10 pairs and its median
                beats the parent's by more than the parent's IQR;
  regression    the change's median is worse than the parent's by more
                than the metric's bound;
  unresolved    no regression, but a side's IQR over its median exceeds the
                bound and not every change run beats every parent run;
  within bound  none of the above.

It also reports failed operations (`failed / attempted`) per side, and runs
that printed no result. Uses the standard library only.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def iqr(xs):
    """Distance between the quartiles (inclusive method; 0 for one sample)."""
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[2] - q[0]


def wins(parent, change, better):
    """Pairs in which the change reads better; ties count for neither."""
    sign = 1 if better == "lower" else -1
    return sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)


def verdict(parent, change, better, bound):
    """Summary of one metric over paired samples (see the module doc)."""
    sign = 1 if better == "lower" else -1
    pm, cm = statistics.median(parent), statistics.median(change)
    p_iqr, c_iqr = iqr(parent), iqr(change)
    won = wins(parent, change, better)
    n = len(parent)
    if won * 10 >= 9 * n and sign * (pm - cm) > p_iqr:
        v = "gain"
    elif sign * (cm - pm) > bound * abs(pm):
        v = "regression"
    else:
        spread = max(p_iqr / abs(pm) if pm else 0.0, c_iqr / abs(cm) if cm else 0.0)
        every_better = (max(change) < min(parent)) if better == "lower" \
            else (min(change) > max(parent))
        v = "unresolved" if spread > bound and not every_better else "within bound"
    return {"parent_median": pm, "parent_iqr": p_iqr, "change_median": cm,
            "change_iqr": c_iqr, "wins": won, "pairs": n, "verdict": v}


def run_once(checkout, workload, seed, seconds):
    """One benchmark run; its result object, or None if it printed none."""
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith("{")]
    try:
        result = json.loads(lines[-1])
        return result if "metrics" in result else None
    except (IndexError, json.JSONDecodeError):
        sys.stderr.write(r.stderr[-2000:])
        return None


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="parent revision (any git rev)")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--seed", type=int, default=1000, help="seed of the first pair")
    ap.add_argument("--workload", action="append", help="default: every workload")
    ap.add_argument("--parent-dir", help="an existing checkout of --parent to use")
    ap.add_argument("--out", help="write every sample and verdict here as JSON")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    metrics = bench["end_to_end"]

    tmp = None
    parent_dir = args.parent_dir
    if parent_dir is None:
        tmp = tempfile.mkdtemp(prefix="pairs-parent-")
        parent_dir = os.path.join(tmp, "parent")
        subprocess.run(["git", "worktree", "add", "--detach", parent_dir, args.parent],
                       cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
    samples = {w: {"parent": [], "change": []} for w in workloads}
    ops = {side: {"failed": 0, "attempted": 0, "no_result": 0} for side in ("parent", "change")}
    try:
        for i in range(args.pairs):
            seed = args.seed + i
            for w in workloads:
                order = [("parent", parent_dir), ("change", ROOT)]
                if i % 2:
                    order.reverse()
                pair = {}
                for side, checkout in order:
                    res = run_once(checkout, w, seed, seconds)
                    if res is None:
                        ops[side]["no_result"] += 1
                        continue
                    ops[side]["failed"] += res["failed"]
                    ops[side]["attempted"] += res["attempted"]
                    pair[side] = {m: v["value"] for m, v in res["metrics"].items()}
                # a pair counts only when both sides produced a result
                if len(pair) == 2:
                    for side in ("parent", "change"):
                        samples[w][side].append(pair[side])
                print(f"[pairs] pair {i + 1}/{args.pairs} {w} seed {seed}: "
                      + ", ".join(f"{s} {pair[s].get('upload_s_p50', float('nan')):.3f}"
                                  for s in ("parent", "change") if s in pair),
                      file=sys.stderr, flush=True)
    finally:
        if tmp is not None:
            subprocess.run(["git", "worktree", "remove", "--force", parent_dir], cwd=ROOT)
            subprocess.run(["git", "worktree", "prune"], cwd=ROOT)
            shutil.rmtree(tmp, ignore_errors=True)

    report = {}
    print(f"| workload | metric | parent median (IQR) | change median (IQR) | wins | verdict |")
    print("| --- | --- | ---: | ---: | ---: | --- |")
    for w in workloads:
        report[w] = {}
        for m in metrics:
            p = [s[m["name"]] for s in samples[w]["parent"] if m["name"] in s]
            c = [s[m["name"]] for s in samples[w]["change"] if m["name"] in s]
            if not p or len(p) != len(c):
                continue
            v = verdict(p, c, m["better"], m["bound"])
            v["parent"], v["change"] = p, c
            report[w][m["name"]] = v
            print(f"| {w} | {m['name']} | {v['parent_median']:.4g} ({v['parent_iqr']:.3g}) "
                  f"| {v['change_median']:.4g} ({v['change_iqr']:.3g}) "
                  f"| {v['wins']}/{v['pairs']} | {v['verdict']} |")
    for side in ("parent", "change"):
        o = ops[side]
        print(f"{side}: failed operations {o['failed']}/{o['attempted']}, "
              f"runs without a result {o['no_result']}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"parent": args.parent, "seed": args.seed, "seconds": seconds,
                       "operations": ops, "metrics": report}, f, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
