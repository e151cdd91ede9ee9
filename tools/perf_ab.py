#!/usr/bin/env python3
"""Alternating parent/change A/B over the repo benchmark (perfbench).

Run from anywhere inside the repository:

    python3 tools/perf_ab.py --base HEAD --seeds 41-50     # uncommitted change
    python3 tools/perf_ab.py --base HEAD~1 --seeds 41-50   # committed change

The parent side is `--base` cloned into a temporary directory, which
builds into its own `target/`; the change side is this working tree,
uncommitted edits included. When the working tree does not differ from
`--base` both sides would run the same code, so the tool exits 2. For
every workload BENCHMARK.json declares, pair i runs both sides on seed i
for its `run_seconds` with `perfbench/run.py --trace 0`, alternating which
side runs first. Both sides use their own `perfbench/` files unchanged;
every run is logged to stderr.

For every end-to-end metric BENCHMARK.json declares, it prints each side's
median and quartiles over the complete pairs, the change's wins (a pair
with a failed or incorrect run counts as no win, but still counts as a
pair run) and a verdict:

  gain        the change wins at least 9/10 of at least ten pairs run, the
              medians differ by more than the parent's interquartile range
              and no more change runs failed than parent runs
  worse       the change's median is worse than the parent's by more than
              the metric's bound (a fraction of the parent's median)
  unresolved  either side's spread (the parent's or the change's
              interquartile range) is wider than the bound and not every
              change run beats every parent run
  holds       none of the above

Exit code 2 when both sides are the same code, 1 when a run failed or a
metric is worse, else 0.
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


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run_once(root, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True,
                       stdin=subprocess.DEVNULL)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        return None, "exit %d, no result line" % p.returncode
    if p.returncode != 0 or not res.get("correct") or res.get("failed"):
        return None, "exit %d, correct=%s, failed=%s" % (
            p.returncode, res.get("correct"), res.get("failed"))
    return {k: v["value"] for k, v in res["metrics"].items()}, None


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def cell(xs):
    return "%.4g [%.4g-%.4g]" % ((statistics.median(xs),) + quartiles(xs))


def verdict(base, change, better, bound, n_run, change_failed_more):
    """(wins, verdict) for one metric over the complete pairs of `n_run` run."""
    sign = 1 if better == "higher" else -1
    wins = sum(1 for b, c in zip(base, change) if sign * (c - b) > 0)
    mb, mc = statistics.median(base), statistics.median(change)
    q1, q3 = quartiles(base)
    c1, c3 = quartiles(change)
    every = (min(change) > max(base)) if sign > 0 else (max(change) < min(base))
    if wins >= 0.9 * n_run and sign * (mc - mb) > q3 - q1 and not change_failed_more:
        return wins, "gain" if n_run >= 10 else "gain, under 10 pairs"
    if sign * (mc - mb) < -bound * abs(mb):
        return wins, "worse"
    if max(q3 - q1, c3 - c1) > bound * abs(mb) and not every:
        return wins, "unresolved"
    return wins, "holds"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True,
                    help="git revision of the parent side: HEAD for an "
                         "uncommitted change, HEAD~1 for a committed one")
    ap.add_argument("--seeds", required=True, help="e.g. 41-50 or 41,43,47")
    args = ap.parse_args()

    if subprocess.run(["git", "-C", ROOT, "diff", "--quiet", args.base]).returncode == 0:
        print("perf_ab: the working tree equals %s, so both sides would run the "
              "same code; for a committed change pass --base HEAD~1" % args.base,
              file=sys.stderr)
        sys.exit(2)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seeds = seeds_of(args.seeds)
    tmp = tempfile.mkdtemp(prefix="perf_ab_")
    base_root = os.path.join(tmp, "base")
    subprocess.run(["git", "clone", "--quiet", "--no-checkout", ROOT, base_root], check=True)
    subprocess.run(["git", "-C", base_root, "checkout", "--quiet", args.base], check=True)
    sides = {"base": base_root, "change": ROOT}
    failed_any, worse = 0, 0
    try:
        for w in (wl["name"] for wl in bench["workloads"]):
            pairs, failed = [], {"base": 0, "change": 0}
            for i, seed in enumerate(seeds):
                order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
                got = {}
                for side in order:
                    m, err = run_once(sides[side], w, seed, bench["run_seconds"])
                    print("%s seed %d %-6s %s" % (w, seed, side, err or json.dumps(m)),
                          file=sys.stderr, flush=True)
                    failed[side] += err is not None
                    got[side] = m
                if got["base"] and got["change"]:
                    pairs.append(got)
            failed_any += failed["base"] + failed["change"]
            print("\n%s: %d of %d pairs complete, seeds %s, failed runs parent %d / change %d"
                  % (w, len(pairs), len(seeds), args.seeds, failed["base"], failed["change"]))
            if not pairs:
                continue
            print("%-20s %-32s %-32s %6s  %s" % ("metric", "parent median [q1-q3]",
                                                 "change median [q1-q3]", "wins", "verdict"))
            for e in bench["end_to_end"]:
                name = e["name"]
                b = [p["base"][name] for p in pairs]
                c = [p["change"][name] for p in pairs]
                wins, v = verdict(b, c, e["better"], e["bound"], len(seeds),
                                  failed["change"] > failed["base"])
                worse += v == "worse"
                print("%-20s %-32s %-32s %3d/%-2d  %s" % (name, cell(b), cell(c), wins, len(seeds), v))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    sys.exit(1 if failed_any or worse else 0)


if __name__ == "__main__":
    main()
