#!/usr/bin/env python3
"""Paired A/B runs of the benchmark, and the tracing overhead.

Compare two commits with identical benchmark code:

    python3 perfbench/ab.py --parent REV --change REV [--pairs 10]
        [--workloads catalog,pairs] [--seed 1000]

Each side is exported with `git archive` into .bench_build/ab/, and the
benchmark of the working tree (BENCHMARK.json and perfbench/) is copied
over both, so only the program differs. Per workload, pair i runs both
sides with seed + i, alternating which side runs first. For every
end-to-end metric it prints each side's median and quartiles, the pairs
each side won (ties count for neither), the median gap against the
parent's IQR, and a verdict against the metric's bound: better, no
worse, worse or unresolved (benchstats.verdict).

Measure the tracing overhead of the working tree:

    python3 perfbench/ab.py --overhead [--pairs 5] [--workloads ...]

This alternates untraced and traced runs on the same seeds and compares
the untraced `run_s` with the traced `trace.run_s`.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import benchstats as bs  # noqa: E402

# A claim needs at least ten parent/change pairs.
MIN_PAIRS = 10


def git_root():
    return subprocess.check_output(
        ["git", "rev-parse", "--show-toplevel"], cwd=HERE, text=True).strip()


def export(root, side, rev, dest):
    """A source tree of `rev` with the working tree's benchmark on top."""
    sha = subprocess.check_output(["git", "rev-parse", rev], cwd=root,
                                  text=True).strip()
    path = os.path.join(dest, f"{side}-{sha[:12]}")
    if os.path.exists(path):
        shutil.rmtree(path)
    os.makedirs(path)
    archive = subprocess.Popen(["git", "archive", sha], cwd=root,
                               stdout=subprocess.PIPE)
    subprocess.check_call(["tar", "-x", "-C", path], stdin=archive.stdout)
    archive.stdout.close()
    if archive.wait() != 0:
        sys.exit(f"git archive {rev} failed")
    shutil.rmtree(os.path.join(path, "perfbench"), ignore_errors=True)
    shutil.copytree(os.path.join(root, "perfbench"),
                    os.path.join(path, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "__pycache__",
                                                  "project"))
    os.makedirs(os.path.join(path, "perfbench", "project"))
    shutil.copy(os.path.join(root, "perfbench", "project", "build.properties"),
                os.path.join(path, "perfbench", "project"))
    shutil.copy(os.path.join(root, "BENCHMARK.json"), path)
    return path, sha[:12]


def run(tree, workload, seed, seconds, trace):
    """One benchmark run in `tree`: its metrics, or None if it failed."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        res = None
    if p.returncode != 0 or not res or not res["correct"]:
        sys.stderr.write(f"run failed in {tree} ({workload}, seed {seed}):\n"
                         f"{p.stderr[-2000:]}\n")
        return None
    return {k: v["value"] for k, v in res["metrics"].items()}


def fmt(xs):
    q1, m, q3 = bs.quartiles(xs)
    return f"{m:.4g} [{q1:.4g}, {q3:.4g}]"


def compare(spec, workloads, parent, change, pairs, seed, seconds):
    report = {}
    for w in workloads:
        rows = {"parent": [], "change": []}
        for i in range(pairs):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            got = {}
            for side in order:
                tree = parent if side == "parent" else change
                got[side] = run(tree, w, seed + i, seconds, 0)
            if got["parent"] and got["change"]:
                rows["parent"].append(got["parent"])
                rows["change"].append(got["change"])
            print(f"{w} pair {i + 1}/{pairs} done", file=sys.stderr)
        n = len(rows["parent"])
        print(f"\n== {w}: {n} complete pairs of {pairs}")
        print(f"{'metric':<14} {'parent med [q1, q3]':<28} "
              f"{'change med [q1, q3]':<28} {'won c/p':<8} "
              f"{'gap':>10} {'parent IQR':>10}  verdict (bound)")
        report[w] = {}
        for m in spec["end_to_end"]:
            name = m["name"]
            if n == 0:
                print(f"{name:<14} no complete pairs")
                continue
            p = [r[name] for r in rows["parent"]]
            c = [r[name] for r in rows["change"]]
            won_c, won_p = bs.wins(p, c, m["better"])
            gap = bs.median(c) - bs.median(p)
            v = bs.verdict(p, c, m["better"], m["bound"]) if n >= MIN_PAIRS \
                else f"no verdict below {MIN_PAIRS} pairs"
            print(f"{name:<14} {fmt(p):<28} {fmt(c):<28} "
                  f"{won_c}/{won_p:<6} {gap:>10.4g} {bs.iqr(p):>10.4g}  "
                  f"{v} ({m['bound']})")
            report[w][name] = {"parent": p, "change": c, "verdict": v}
    return report


def overhead(workloads, pairs, seed, seconds, tree):
    report = {}
    for w in workloads:
        plain, traced = [], []
        for i in range(pairs):
            order = (0, 1) if i % 2 == 0 else (1, 0)
            got = {t: run(tree, w, seed + i, seconds, t) for t in order}
            if got[0] and got[1]:
                plain.append(got[0]["run_s"])
                traced.append(got[1]["trace.run_s"])
        if not plain:
            print(f"{w}: no complete pairs")
            continue
        ratio = bs.median(traced) / bs.median(plain) - 1
        print(f"{w}: run_s untraced {fmt(plain)}, traced {fmt(traced)}, "
              f"overhead {ratio:+.1%} over {len(plain)} pairs")
        report[w] = {"untraced": plain, "traced": traced, "overhead": ratio}
    return report


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent")
    ap.add_argument("--change")
    ap.add_argument("--overhead", action="store_true")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workloads")
    ap.add_argument("--seed", type=int, default=1000)
    ap.add_argument("--seconds", type=int)
    args = ap.parse_args()

    root = git_root()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = args.workloads.split(",") if args.workloads else \
        [w["name"] for w in spec["workloads"]]
    seconds = args.seconds or spec["run_seconds"]
    out = os.path.join(root, ".bench_build", "ab")
    os.makedirs(out, exist_ok=True)
    if args.overhead:
        report = overhead(workloads, args.pairs, args.seed, seconds, root)
    else:
        if not (args.parent and args.change):
            ap.error("--parent and --change are required (or --overhead)")
        parent, ps = export(root, "parent", args.parent, out)
        change, cs = export(root, "change", args.change, out)
        for tree in (parent, change):
            subprocess.check_call([sys.executable, "perfbench/run.py",
                                   "--build-only"], cwd=tree)
        print(f"parent {ps}, change {cs}, {args.pairs} pairs, "
              f"{seconds} s per run")
        report = compare(spec, workloads, parent, change, args.pairs,
                         args.seed, seconds)
    with open(os.path.join(out, "report.json"), "w") as f:
        json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
