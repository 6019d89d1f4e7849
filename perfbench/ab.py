#!/usr/bin/env python3
"""Paired A/B of two commits on one workload of the benchmark.

    python3 perfbench/ab.py --parent HEAD~1 --change HEAD \\
        --workload iterative --pairs 10 --work <scratch dir>

Exports each commit with `git archive` into `<work>/parent` and
`<work>/change` (committed files only, as a fresh checkout has them),
copies this checkout's `perfbench/` and `BENCHMARK.json` over both so the
two sides run identical benchmark code (each side builds on its first
run).  It then runs `--pairs` pairs, one run after the other (never side
by side: they would share the cores), alternating which side goes first;
both runs of a pair use the pair's seed.

For every end-to-end metric it prints each side's median and quartiles,
the pairs the change won (ties count for neither side), and whether the
gain rule holds: at least ten pairs, the change wins at least nine tenths
of them, the medians differ by more than the parent's interquartile
range, and the change fails no more gates than the parent.  A failed
gate drops out of a run's later passes, so without that last rule a
change that breaks a gate would read as faster.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402
from run import invoke  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def export(rev, dst):
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    archive = subprocess.run(["git", "archive", rev], cwd=REPO, check=True,
                             capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dst], input=archive, check=True)
    shutil.rmtree(os.path.join(dst, "perfbench"), ignore_errors=True)
    shutil.copytree(HERE, os.path.join(dst, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), dst)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--work", required=True, help="scratch directory for both sides")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1000, help="seed of the first pair")
    args = ap.parse_args()
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    sides = {"parent": os.path.join(args.work, "parent"),
             "change": os.path.join(args.work, "change")}
    for name, rev in (("parent", args.parent), ("change", args.change)):
        export(rev, sides[name])
    results = {"parent": [], "change": []}
    failed = {"parent": 0, "change": 0}
    for i in range(args.pairs):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for name in order:
            out, _ = invoke(sides[name], args.workload, args.seed + i,
                            bench["run_seconds"], 0, timeout=1200)
            failed[name] += out["failed"]
            results[name].append({k: v["value"] for k, v in out["metrics"].items()})
        print(f"pair {i + 1}/{args.pairs} done ({order[0]} first)", file=sys.stderr)

    print(f"workload {args.workload}, {args.pairs} pairs, {args.parent} -> {args.change}")
    print(f"failed gates over all runs: parent {failed['parent']}, change {failed['change']}")
    print(f"{'metric':16} {'side':7} {'q1':>10} {'median':>10} {'q3':>10}  wins")
    for m in bench["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        p = [r[name] for r in results["parent"]]
        c = [r[name] for r in results["change"]]
        wins = sum(1 for a, b in zip(p, c) if (b < a if lower else b > a))
        losses = sum(1 for a, b in zip(p, c) if (b > a if lower else b < a))
        pq, cq = stats.quartiles(p), stats.quartiles(c)
        gain = (args.pairs >= 10 and wins >= 0.9 * args.pairs
                and abs(cq[1] - pq[1]) > pq[2] - pq[0]
                and failed["change"] <= failed["parent"])
        for side, q in (("parent", pq), ("change", cq)):
            tail = f"  {wins} won, {losses} lost, gain={'yes' if gain else 'no'}" \
                if side == "change" else ""
            print(f"{name:16} {side:7} {q[0]:10.4g} {q[1]:10.4g} {q[2]:10.4g}{tail}")


if __name__ == "__main__":
    main()
