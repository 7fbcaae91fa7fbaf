"""Interleaved A/B of two commits, run with identical benchmark code.

    python3 perfbench/ab.py BASE CHANGE

Each commit is checked out with ``git worktree add --detach`` under
``.perfbench_runs/ab-<stamp>/`` (never ``git stash``: the working tree
is not touched), and this ``perfbench/`` directory is copied into both
checkouts.  For every workload, pair ``i`` of ``PAIRS`` runs both sides
with seed ``SEED0 + i`` for ``BENCHMARK.json``'s ``run_seconds``,
alternating which side goes first.  Prints, per workload and end-to-end
metric, each side's median and quartiles and how many pairs the change
won; the worktrees are removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import metrics  # noqa: E402

PAIRS = 10
SEED0 = 100


def _git(*args, cwd=None) -> str:
    return subprocess.run(["git", *args], cwd=cwd, check=True,
                          capture_output=True, text=True).stdout.strip()


def _run(tree: str, workload: str, seed: int, seconds: float) -> dict | None:
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=tree, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        print(p.stderr[-2000:], file=sys.stderr)
        return None
    return json.loads(p.stdout.strip().splitlines()[-1])


def _quartiles(xs):
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
    return q[0], statistics.median(xs), q[2]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base")
    ap.add_argument("change")
    args = ap.parse_args()

    repo = _git("rev-parse", "--show-toplevel")
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    root = os.path.join(repo, ".perfbench_runs", "ab-" + time.strftime("%Y%m%dT%H%M%S"))
    trees = {}
    try:
        for side, ref in (("base", args.base), ("change", args.change)):
            trees[side] = os.path.join(root, side)
            _git("worktree", "add", "--detach", trees[side], ref, cwd=repo)
            shutil.rmtree(os.path.join(trees[side], "perfbench"), ignore_errors=True)
            shutil.copytree(HERE, os.path.join(trees[side], "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
        for w in metrics.WORKLOADS:
            pairs = []  # (base metrics, change metrics) of pairs where both ran
            for i in range(PAIRS):
                order = ("base", "change") if i % 2 == 0 else ("change", "base")
                got = {}
                for side in order:
                    got[side] = _run(trees[side], w, SEED0 + i, seconds)
                    print(f"{w} pair {i} {side}: {got[side]}", file=sys.stderr, flush=True)
                if got["base"] and got["change"]:
                    pairs.append((got["base"]["metrics"], got["change"]["metrics"]))
            if not pairs:
                print(f"{w}: no pair completed")
                continue
            for name, (unit, better) in metrics.END_TO_END.items():
                a = [p[0][name]["value"] for p in pairs]
                b = [p[1][name]["value"] for p in pairs]
                wins = sum((y < x) if better == "lower" else (y > x) for x, y in zip(a, b))
                qa, qb = _quartiles(a), _quartiles(b)
                print(f"{w} {name} [{unit}, {better} is better] base q1/med/q3 "
                      f"{qa[0]:.4g}/{qa[1]:.4g}/{qa[2]:.4g}  change "
                      f"{qb[0]:.4g}/{qb[1]:.4g}/{qb[2]:.4g}  change won {wins}/{len(b)}")
    finally:
        for tree in trees.values():
            subprocess.run(["git", "worktree", "remove", "--force", tree], cwd=repo)
        shutil.rmtree(root, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
