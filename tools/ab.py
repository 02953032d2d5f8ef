#!/usr/bin/env python3
"""A/B check of the working tree against a parent revision on perfbench.

Usage (from the repository root):

    python3 tools/ab.py [--parent REV] [--pairs N] [--trace]

The parent is extracted with `git archive REV` into a temporary
directory, removed at the end. Each pair runs, for every workload W of
BENCHMARK.json,
`python3 perfbench/run.py --workload W --seed 1 --seconds S --trace 0`
once in the parent tree and once in the working tree, alternating which
side runs first; S is BENCHMARK.json's `run_seconds`. Each tree builds
itself on its first run. The script only reads: nothing under
perfbench/ and no bound in BENCHMARK.json changes.

For every workload and end-to-end metric of BENCHMARK.json it prints each
side's median and quartiles, the pairs each side won (ties count for
neither), and a verdict:
  unresolved  the parent's own quartile spread exceeds the metric's bound,
              and the change's runs do not all beat the parent's runs;
  better      every change run beats every parent run;
  WORSE       the change's median is worse than the parent's by more than
              the bound;
  ok          otherwise.
Failed operations are reported per side.

With --trace, one more run per side and workload uses `--trace 1`; the
per-layer metrics whose BENCHMARK.json unit is `count` (jobs, stages,
tasks, requests, retries, ...) are printed side by side, and any that
differ are flagged. Counts are exact where per-layer times spread, so one
traced run per side shows a job or request that a change added or
removed. --pairs 0 --trace runs the traced pair only.

The last line is one JSON object with every run, so a claim can cite all
of them.
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
SEED = 1


def log(msg):
    print(f"[ab] {msg}", file=sys.stderr, flush=True)


def perfbench(tree, workload, seconds, trace=0):
    """The last stdout line of one perfbench run in `tree`, parsed."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(SEED),
           "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
    return q1, statistics.median(xs), q3


def verdict(parent, change, bound, lower_better):
    def better(a, b):
        return a < b if lower_better else a > b
    q1, med, q3 = quartiles(parent)
    c_med = statistics.median(change)
    if all(better(c, p) for c in change for p in parent):
        return "better"
    if med and (q3 - q1) / abs(med) > bound:
        return "unresolved"
    worse_by = (c_med - med) / abs(med) if lower_better else (med - c_med) / abs(med)
    return "WORSE" if med and worse_by > bound else "ok"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", default="HEAD",
                    help="revision to compare the working tree against (default HEAD)")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--trace", action="store_true",
                    help="add one --trace 1 run per side and workload; compare its counts")
    a = ap.parse_args()
    if a.pairs < 0 or (a.pairs == 0 and not a.trace):
        ap.error("--pairs must be at least 1, or 0 with --trace")
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    workloads = [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]
    counts = [m["name"] for m in bench["per_layer"] if m["unit"] == "count"]
    traced = {w: {} for w in workloads}

    parent_dir = tempfile.mkdtemp(prefix="graft_ab_")
    runs = {w: {"parent": [], "change": []} for w in workloads}
    try:
        rev = subprocess.run(["git", "rev-parse", "--short", a.parent], cwd=ROOT,
                             stdout=subprocess.PIPE, text=True, check=True).stdout.strip()
        archive = subprocess.Popen(["git", "archive", rev], cwd=ROOT, stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", parent_dir], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            sys.exit(f"git archive {rev} failed")
        log(f"parent {rev} in {parent_dir}; working tree {ROOT}")
        for i in range(a.pairs):
            for w in workloads:
                sides = [("parent", parent_dir), ("change", ROOT)]
                for side, tree in (sides if i % 2 == 0 else sides[::-1]):
                    r = perfbench(tree, w, seconds)
                    runs[w][side].append(r)
                    log(f"pair {i + 1}/{a.pairs} {w} {side}: "
                        f"wall_s={r['metrics']['wall_s']['value']} failed={r['failed']}")
        for w in workloads if a.trace else []:
            for side, tree in (("parent", parent_dir), ("change", ROOT)):
                traced[w][side] = perfbench(tree, w, seconds, trace=1)
                log(f"traced {w} {side}: failed={traced[w][side]['failed']}")
    finally:
        shutil.rmtree(parent_dir, ignore_errors=True)

    if a.pairs:
        print(f"parent {rev} vs working tree, {a.pairs} pairs, seed {SEED}, "
              f"--seconds {seconds}, --trace 0")
        print("| workload | metric | parent median [q1, q3] | change median [q1, q3] "
              "| wins parent/change | bound | verdict |")
        print("|---|---|---|---|---|---|---|")
        for w in workloads:
            for m in bench["end_to_end"]:
                name, lower = m["name"], m["better"] == "lower"
                p = [r["metrics"][name]["value"] for r in runs[w]["parent"]]
                c = [r["metrics"][name]["value"] for r in runs[w]["change"]]
                pq, cq = quartiles(p), quartiles(c)
                wins_p = sum((x < y) if lower else (x > y) for x, y in zip(p, c))
                wins_c = sum((y < x) if lower else (y > x) for x, y in zip(p, c))
                print(f"| {w} | {name} ({m['unit']}) | {pq[1]:.4g} [{pq[0]:.4g}, {pq[2]:.4g}] "
                      f"| {cq[1]:.4g} [{cq[0]:.4g}, {cq[2]:.4g}] | {wins_p}/{wins_c} "
                      f"| {m['bound']:.0%} | {verdict(p, c, m['bound'], lower)} |")
            for side in ("parent", "change"):
                rs = runs[w][side]
                print(f"{w} {side}: failed {sum(r['failed'] for r in rs)} of "
                      f"{sum(r['attempted'] for r in rs)} attempted, "
                      f"correct in {sum(bool(r['correct']) for r in rs)} of {len(rs)} runs")
    if a.trace:
        print(f"parent {rev} vs working tree, one traced run each, seed {SEED}, --trace 1")
        print("| workload | count | parent | change | |")
        print("|---|---|---|---|---|")
        for w in workloads:
            p, c = (traced[w][side]["metrics"] for side in ("parent", "change"))
            for name in counts:
                pv, cv = p[name]["value"], c[name]["value"]
                print(f"| {w} | {name} | {pv:.6g} | {cv:.6g} | {'DIFFERS' if pv != cv else ''} |")
            for side in ("parent", "change"):
                r = traced[w][side]
                print(f"{w} traced {side}: failed {r['failed']} of {r['attempted']} attempted, "
                      f"correct {bool(r['correct'])}")
    print(json.dumps({"parent": rev, "pairs": a.pairs, "seed": SEED, "runs": runs,
                      "traced": traced}))


if __name__ == "__main__":
    main()
