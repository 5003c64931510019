#!/usr/bin/env python3
"""Interleaved A/B of the perfbench facade benchmark over two checkouts.

    python3 tools/perfbench_ab.py <parent-checkout> <change-checkout> \\
        <workload> <seeds> [--seconds 6] [--trace 0|1]

`seeds` is a range `731-740` or a list `731,733,735`. Each seed is one
pair: both checkouts run `perfbench/run.py` on it, the parent first on
even pairs and the change first on odd ones, so drift over the run
lands on both sides alike. Every run is printed as it finishes; at the
end, per metric: each side's median and quartiles, the change's wins
per pair (ties count for neither side) and the verdict of the rule for
claiming a gain — the change wins at least nine tenths of the pairs and
the medians differ by more than the parent's interquartile range.

Each checkout builds and runs from its own `.bench_build/`. A run whose
JVM log says `Unable to use shared archive` ran without the
class-data-sharing archive (for instance a checkout copied together with
another checkout's `.bench_build/`): it is flagged with `CDS!`, because
such runs set up about a second slower and bias the comparison.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

CDS_MISS = "Unable to use shared archive"


def parse_seeds(text):
    if "-" in text:
        lo, hi = text.split("-", 1)
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",") if s]


def directions(checkout):
    """metric name -> 'lower' | 'higher', from the checkout's BENCHMARK.json."""
    path = os.path.join(checkout, "BENCHMARK.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        bench = json.load(f)
    return {m["name"]: m.get("better", "lower")
            for key in ("end_to_end", "per_layer") for m in bench.get(key, [])}


def run_once(checkout, workload, seed, seconds, trace):
    """One benchmark run; returns (result dict or None, flags)."""
    cmd = [sys.executable, os.path.join("perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    flags = []
    log = os.path.join(checkout, ".bench_build", "perfbench", "logs",
                       "%s-%d-t%d.log" % (workload, seed, trace))
    text = proc.stdout + proc.stderr
    if os.path.exists(log):
        with open(log, errors="replace") as f:
            text += f.read()
    if CDS_MISS in text:
        flags.append("CDS!")
    result = None
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            pass
    if proc.returncode != 0 or result is None:
        flags.append("exit %d" % proc.returncode)
    elif not result.get("correct", False):
        flags.append("incorrect")
    return result, flags


def values(result):
    if not result:
        return {}
    return {k: v["value"] for k, v in result.get("metrics", {}).items()
            if isinstance(v, dict) and isinstance(v.get("value"), (int, float))}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("workload")
    ap.add_argument("seeds")
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    sides = {"parent": os.path.abspath(a.parent),
             "change": os.path.abspath(a.change)}
    builds = {os.path.realpath(os.path.join(p, ".bench_build"))
              for p in sides.values()}
    if len(builds) < 2:
        print("perfbench_ab: both checkouts share one .bench_build/",
              file=sys.stderr)
        return 2
    better = directions(sides["parent"])
    runs = {"parent": [], "change": []}
    flagged = 0
    for i, seed in enumerate(parse_seeds(a.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            result, flags = run_once(sides[side], a.workload, seed,
                                     a.seconds, a.trace)
            flagged += bool(flags)
            vals = values(result)
            runs[side].append(vals)
            shown = " ".join("%s=%.4g" % (k, vals[k]) for k in sorted(vals))
            print("pair %2d seed %d %-6s %s %s" % (
                i, seed, side, shown, " ".join(flags)), flush=True)

    names = sorted(set().union(*runs["parent"], *runs["change"]))
    pairs = len(runs["parent"])
    print("\n%-34s %28s %28s %6s %s" % (
        "metric", "parent median [q1, q3]", "change median [q1, q3]",
        "wins", "verdict"))
    for name in names:
        ps = [r[name] for r in runs["parent"] if name in r]
        cs = [r[name] for r in runs["change"] if name in r]
        if not ps or not cs:
            continue
        sign = -1 if better.get(name, "lower") == "higher" else 1
        wins = sum(1 for p, c in zip(runs["parent"], runs["change"])
                   if name in p and name in c and sign * (c[name] - p[name]) < 0)
        (p1, pm, p3), (c1, cm, c3) = quartiles(ps), quartiles(cs)
        gain = wins * 10 >= 9 * pairs and sign * (cm - pm) < 0 \
            and abs(cm - pm) > (p3 - p1)
        print("%-34s %10.4g [%6.4g, %6.4g] %10.4g [%6.4g, %6.4g] %3d/%-2d %s" % (
            name, pm, p1, p3, cm, c1, c3, wins, pairs,
            "gain" if gain else "-"))
    if flagged:
        print("\n%d run(s) flagged (CDS! = ran without the class-data-sharing "
              "archive)" % flagged)
    return 0


if __name__ == "__main__":
    sys.exit(main())
