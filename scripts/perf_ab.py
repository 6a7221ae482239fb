#!/usr/bin/env python3
"""A/B two git refs on one perfbench workload, in alternating-order pairs.

    python3 scripts/perf_ab.py BASE_REF CHANGE_REF --workload esg_batch --pairs 11

Each ref is `git archive`d into its own fresh tree under a temporary
directory and built there from source before the first pair. No build
output is copied between trees: zinc records absolute class paths, so a
target/ copied into a second tree is recompiled there and the first
tree's classes are deleted.

Pair i (1-based) runs seed `--first-seed + i - 1` on both trees as

    python3 perfbench/run.py --workload W --seed S --seconds 6 --trace 0

with the base first on odd pairs and the change first on even ones. For
each end-to-end metric that BENCHMARK.json declares, it prints both
sides' median and quartiles, and on how many pairs the change was
better in the metric's declared direction (ties are not wins). While it
runs, it logs every end-to-end metric of both sides after each pair. Run it
from a checkout of the repository; it reads and writes nothing in that
checkout.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile


def log(msg):
    print("[perf_ab] " + msg, file=sys.stderr, flush=True)


def archive(repo, ref, tree):
    """Extract the committed files of `ref` into the new directory `tree`."""
    os.makedirs(tree)
    git = subprocess.Popen(["git", "-C", repo, "archive", "--format=tar", ref], stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", tree], stdin=git.stdout, check=True)
    if git.wait() != 0:
        raise SystemExit("git archive %s failed" % ref)


def tree_env(tree):
    # perfbench keeps its build under $CARGO_TARGET_DIR: one per tree
    return dict(os.environ, CARGO_TARGET_DIR=os.path.join(tree, ".bench_build"))


def build(tree):
    """Build a tree through perfbench's own build step, without a run."""
    code = "import sys; sys.path.insert(0, 'perfbench'); import run; sys.exit(0 if run.classpath() else 1)"
    return subprocess.run([sys.executable, "-c", code], cwd=tree, env=tree_env(tree)).returncode == 0


def run_once(tree, workload, seed):
    """One perfbench run; its metrics as {name: value}, or None if it failed."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", "6", "--trace", "0"]
    p = subprocess.run(cmd, cwd=tree, env=tree_env(tree), stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        return None
    try:
        return {k: v["value"] for k, v in json.loads(lines[-1])["metrics"].items()}
    except (ValueError, KeyError, TypeError):
        return None


def side_value(metrics, name):
    """One side's value of one metric for the progress line."""
    if metrics is None:
        return "failed"
    return "%.4g" % metrics[name] if name in metrics else "-"


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (float("nan"), float("nan"))
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("base", help="git ref of the base side")
    ap.add_argument("change", help="git ref of the change side")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()

    repo = subprocess.run(["git", "rev-parse", "--show-toplevel"], stdout=subprocess.PIPE,
                          text=True, check=True).stdout.strip()
    work = tempfile.mkdtemp(prefix="perf_ab-")
    trees = {"base": os.path.join(work, "base"), "change": os.path.join(work, "change")}
    try:
        for side, ref in (("base", a.base), ("change", a.change)):
            archive(repo, ref, trees[side])
            log("building %s (%s) in %s" % (side, ref, trees[side]))
            if not build(trees[side]):
                raise SystemExit("build of %s failed" % ref)
        with open(os.path.join(trees["change"], "BENCHMARK.json")) as fh:
            end_to_end = json.load(fh)["end_to_end"]

        runs = []
        for i in range(a.pairs):
            seed = a.first_seed + i
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            pair = {}
            for side in order:
                pair[side] = run_once(trees[side], a.workload, seed)
            log("pair %d/%d seed %d (base -> change): %s" % (
                i + 1, a.pairs, seed, ", ".join("%s %s -> %s" % (
                    m["name"], side_value(pair["base"], m["name"]), side_value(pair["change"], m["name"]))
                    for m in end_to_end)))
            runs.append(pair)

        ok = [r for r in runs if r["base"] is not None and r["change"] is not None]
        print("%s: %s (base) vs %s (change), %d of %d pairs complete" % (
            a.workload, a.base, a.change, len(ok), len(runs)))
        print("%-12s %12s %25s %12s %25s %6s" % ("metric", "base p50", "base q1..q3", "change p50",
                                                 "change q1..q3", "wins"))
        for m in end_to_end:
            name, higher = m["name"], m["better"] == "higher"
            pairs = [(r["base"][name], r["change"][name]) for r in ok if name in r["base"] and name in r["change"]]
            if not pairs:
                continue
            b = [p[0] for p in pairs]
            c = [p[1] for p in pairs]
            wins = sum(1 for x, y in pairs if (y > x if higher else y < x))
            print("%-12s %12.4g %25s %12.4g %25s %6s" % (
                name, statistics.median(b), "%.4g..%.4g" % quartiles(b),
                statistics.median(c), "%.4g..%.4g" % quartiles(c), "%d/%d" % (wins, len(pairs))))
        return 0 if len(ok) == len(runs) else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
