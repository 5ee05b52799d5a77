#!/usr/bin/env python3
"""Same-host A/B of the repository benchmark: a parent revision against the
working tree.

    python3 tools/ab.py --parent <rev> --workload <name> --pairs N --seed0 S
        [--out runs.json]

`git archive`s <rev> into a temporary directory, then for each seed
S .. S+N-1 runs `perfbench/run.py --workload <name> --seed <seed> --trace 0
--seconds 20` once in the parent tree and once in the working tree. The
order alternates per seed: odd seeds run the parent first, even seeds the
change. Nothing under perfbench/ or BENCHMARK.json is written; each tree
builds into its own .bench_build/. Before every run, the tree's
.bench_build/work/inputs (perfbench's staged inputs, kept per seed) is
deleted in both trees, so neither side skips staging by reusing the inputs
of an earlier run.

Prints every run's `failed` count, then for each end-to-end metric of
BENCHMARK.json: every value, the median, the min, the interquartile range,
in how many pairs the change was better (by the metric's `better`), and a
verdict line. The metric's `bound` is relative to the parent's median:
  regressed   the change's median is worse than the parent's by more than
              the bound;
  unresolved  the parent's IQR is wider than the bound (relative to its
              median), unless every change run beats every parent run;
  ok          otherwise.
Exits non-zero if any run failed a check or produced no result.
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


def run_bench(tree, workload, seed):
    """One perfbench run in `tree`, with no staged inputs left from an earlier
    run; return its final JSON record or None."""
    shutil.rmtree(os.path.join(tree, ".bench_build", "work", "inputs"), ignore_errors=True)
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", "20", "--trace", "0"]
    r = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
    if not lines:
        sys.stderr.write(r.stderr[-4000:])
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def verdict(parent, change, bound, lower):
    """`regressed`, `unresolved` or `ok` for one metric's runs (see above)."""
    pm, cm = statistics.median(parent), statistics.median(change)
    worse = (cm - pm) / pm if lower else (pm - cm) / pm
    if worse > bound:
        return "regressed"
    q1, q3 = quartiles(parent)
    beats_all = max(change) < min(parent) if lower else min(change) > max(parent)
    if (q3 - q1) / pm > bound and not beats_all:
        return "unresolved"
    return "ok"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="git revision to compare against")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, required=True)
    ap.add_argument("--out", help="write every run's record to this JSON file")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    parent = tempfile.mkdtemp(prefix="ab-parent-")
    archive = subprocess.run(["git", "archive", a.parent], cwd=ROOT, stdout=subprocess.PIPE,
                             check=True).stdout
    subprocess.run(["tar", "x", "-C", parent], input=archive, check=True)
    print(f"parent {a.parent} in {parent}; change = {ROOT}", flush=True)

    runs = []  # (seed, side, record)
    try:
        for seed in range(a.seed0, a.seed0 + a.pairs):
            order = [("parent", parent), ("change", ROOT)]
            if seed % 2 == 0:
                order.reverse()
            for side, tree in order:
                rec = run_bench(tree, a.workload, seed)
                runs.append((seed, side, rec))
                failed = "no result" if rec is None else rec["failed"]
                vals = "" if rec is None else " ".join(
                    f"{k}={v['value']:.4g}" for k, v in rec["metrics"].items())
                print(f"seed {seed} {side:6s} failed={failed} {vals}", flush=True)
    finally:
        if a.out:
            with open(a.out, "w") as f:
                json.dump([{"seed": s, "side": side, "record": r} for s, side, r in runs], f, indent=1)
        shutil.rmtree(parent, ignore_errors=True)

    def values(side, name):
        return {s: r["metrics"][name]["value"] for s, sd, r in runs
                if sd == side and r is not None and name in r["metrics"]}

    bad = sum(1 for _, _, r in runs if r is None or r["failed"] != 0)
    print(f"\n{a.workload}: {a.pairs} pairs, seeds {a.seed0}..{a.seed0 + a.pairs - 1}, "
          f"runs with failures or no result: {bad}")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        p, c = values("parent", name), values("change", name)
        seeds = sorted(set(p) & set(c))
        if not seeds:
            continue
        wins = sum(1 for s in seeds if (c[s] < p[s] if lower else c[s] > p[s]))
        print(f"\n{name} ({m['unit']}, {m['better']} is better, bound {m['bound']})")
        for side, v in (("parent", p), ("change", c)):
            xs = [v[s] for s in seeds]
            q1, q3 = quartiles(xs)
            print(f"  {side:6s} " + " ".join(f"{x:.4g}" for x in xs))
            print(f"         median {statistics.median(xs):.4g}  min {min(xs):.4g}  "
                  f"IQR {q3 - q1:.4g} ({q1:.4g}..{q3:.4g})")
        pm, cm = statistics.median(p[s] for s in seeds), statistics.median(c[s] for s in seeds)
        print(f"  change won {wins} of {len(seeds)} pairs; median {100 * (cm - pm) / pm:+.1f}%")
        v = verdict([p[s] for s in seeds], [c[s] for s in seeds], m["bound"], lower)
        print(f"  verdict {name}: {v} (bound {m['bound']:.0%} of the parent's median)")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
