#!/usr/bin/env python3
"""Interleaved A/B of perfbench between two checkouts.

    python3 tools/ab_perfbench.py <parent-dir> <change-dir> <workload> <pairs> <first-seed>

Each pair runs `python3 perfbench/run.py --workload W --seed S --seconds 8
--trace 0` once in each checkout, with a fresh seed per pair (first-seed,
first-seed + 1, ...) and the side that goes first alternating. It prints
each pair's gated end-to-end metrics (BENCHMARK.json's `end_to_end`, read
from the parent) and per-query medians, then each side's median and
quartiles per metric, the pairs the change wins (ties count for neither)
and whether that shows a gain: at least nine tenths of the pairs won and
the medians further apart than the parent's quartile spread.
"""
import json
import os
import re
import statistics
import subprocess
import sys

QUERY_LINE = re.compile(r"^\s+(\S+)\s+median\s+([0-9.]+) s")


def run(checkout, workload, seed):
    """One perfbench run: (metrics dict, per-query medians, correct), or
    None for a run that failed, with its output tail on stderr."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "8", "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = proc.stdout.splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = None
    if proc.returncode != 0 or result is None:
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        return None
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    queries = {m.group(1): float(m.group(2))
               for m in map(QUERY_LINE.match, lines) if m}
    return metrics, queries, result.get("correct")


def spread(xs):
    """(median, first quartile, third quartile)."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q2, q1, q3


def main(argv):
    if len(argv) != 6:
        sys.exit(__doc__.strip().splitlines()[2].strip())
    parent, change = (os.path.abspath(d) for d in argv[1:3])
    workload, pairs, first = argv[3], int(argv[4]), int(argv[5])
    with open(os.path.join(parent, "BENCHMARK.json")) as fh:
        gated = json.load(fh)["end_to_end"]
    sides = {"parent": parent, "change": change}
    done = []  # (seed, {side: (metrics, queries, correct)})
    for i in range(pairs):
        seed = first + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        got = {side: run(sides[side], workload, seed) for side in order}
        print("pair %d  seed %d  first %s" % (i + 1, seed, order[0]))
        for side in ("parent", "change"):
            if got[side] is None:
                print("  %-6s  FAILED" % side)
                continue
            metrics, queries, correct = got[side]
            print("  %-6s  %s  correct=%s" % (side, "  ".join(
                "%s %.3f" % (m["name"], metrics[m["name"]]) for m in gated), correct))
            print("          " + "  ".join(
                "%s %.3f" % q for q in sorted(queries.items())))
        sys.stdout.flush()
        if all(got.values()):
            done.append((seed, got))
    print("\n%s: %d of %d pairs complete" % (workload, len(done), pairs))
    if not done:
        return
    for m in gated:
        name, lower = m["name"], m["better"] == "lower"
        vals = {s: [g[s][0][name] for _, g in done] for s in sides}
        (pm, p1, p3), (cm, c1, c3) = spread(vals["parent"]), spread(vals["change"])
        wins = sum((c < p) if lower else (c > p)
                   for p, c in zip(vals["parent"], vals["change"]))
        gain = wins >= 0.9 * len(done) and abs(cm - pm) > p3 - p1 and \
            ((cm < pm) if lower else (cm > pm))
        print("%-16s parent %.3f [%.3f, %.3f]  change %.3f [%.3f, %.3f]  "
              "(%+.1f%%)  change better in %d of %d  gain shown: %s" % (
                  name, pm, p1, p3, cm, c1, c3, 100 * (cm - pm) / pm,
                  wins, len(done), "yes" if gain else "no"))
    for q in sorted(done[0][1]["parent"][1]):
        meds = {s: statistics.median(g[s][1].get(q, float("nan")) for _, g in done)
                for s in sides}
        print("  %-28s median of per-run medians: parent %.3f  change %.3f" % (
            q, meds["parent"], meds["change"]))


if __name__ == "__main__":
    main(sys.argv)
