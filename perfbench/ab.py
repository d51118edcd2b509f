#!/usr/bin/env python3
"""Compare two sets of benchmark runs: a parent (A) and a change (B).

Usage (from the repository root):

    python3 perfbench/ab.py A.jsonl B.jsonl

Each file holds one run record per line, as perfbench/run.py appends
them to perfbench/.work/results.jsonl; copy that file aside after
running each side. Runs pair up in file order, so run the two sides
alternately (A, B, A, B, ...) with the same seeds.

For every workload and end-to-end metric the reader prints each side's
median and quartiles, the share of pairs B wins (ties count for
neither side) and a verdict against the metric's bound from
BENCHMARK.json:

  worse       B's runs fail a larger share of their jobs than A's (a
              failed job skips its work, so its times cannot count as
              a gain), or B's median is worse than A's by more than
              the bound
  improved    B wins at least 9 of 10 pairs and the medians differ by
              more than A's own quartile distance
  unresolved  either side's quartile distance is wider than the bound,
              unless every run of B reads better than every run of A
  flat        otherwise

From traced runs (--trace 1) it prints the per-layer self times and
the other per-layer metrics that moved, A's median against B's.
"""
import json
import os
import statistics
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    runs = defaultdict(list)
    with open(path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                runs[(r["workload"], r["trace"])].append(r)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def values(runs, name):
    """The metric's values; a run that measured none (it failed) gives none."""
    return [r["metrics"][name]["value"] for r in runs
            if r["metrics"].get(name, {}).get("value") is not None]


def failures(runs):
    """(failed, attempted) summed over runs."""
    return sum(r["failed"] for r in runs), sum(r["attempted"] for r in runs)


def verdict(a, b, lower_better, bound, more_failures=False):
    a1, am, a3 = quartiles(a)
    b1, bm, b3 = quartiles(b)
    sign = 1 if lower_better else -1
    pairs = list(zip(a, b))
    wins = sum(1 for x, y in pairs if sign * (x - y) > 0)
    share = wins / len(pairs) if pairs else 0.0
    worse_by = sign * (bm - am) / am if am else 0.0
    every_better = all(sign * (x - y) > 0 for x in a for y in b)
    if more_failures or worse_by > bound:
        v = "worse"
    elif share >= 0.9 and abs(bm - am) > a3 - a1:
        v = "improved"
    elif max((a3 - a1) / am if am else 0, (b3 - b1) / bm if bm else 0) > bound and not every_better:
        v = "unresolved"
    else:
        v = "flat"
    return (a1, am, a3), (b1, bm, b3), share, len(pairs), worse_by, v


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    a, b = load(sys.argv[1]), load(sys.argv[2])
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    print(f"{'workload':<16} {'metric':<14} {'A q1/med/q3':>30} {'B q1/med/q3':>30} "
          f"{'B wins':>9} {'change':>8}  verdict")
    for w in [x["name"] for x in bench["workloads"]]:
        ra, rb = a[(w, 0)], b[(w, 0)]
        if not ra or not rb:
            print(f"{w:<16} (no untraced runs on {'A' if not ra else 'B'})")
            continue
        (fail_a, tried_a), (fail_b, tried_b) = failures(ra), failures(rb)
        more_failures = fail_b / tried_b > fail_a / tried_a
        print(f"{w:<16} {'failed':<14} {f'{fail_a}/{tried_a}':>30} {f'{fail_b}/{tried_b}':>30}"
              f"{'  (B fails more: every metric reads worse)' if more_failures else ''}")
        for name, m in e2e.items():
            xa, xb = values(ra, name), values(rb, name)
            if not xa or not xb:
                continue
            qa, qb, share, n, worse_by, v = verdict(xa, xb, m["better"] == "lower", m["bound"],
                                                    more_failures)
            fa = "/".join(f"{x:.4g}" for x in qa)
            fb = "/".join(f"{x:.4g}" for x in qb)
            print(f"{w:<16} {name:<14} {fa:>30} {fb:>30} {share:>6.0%}/{n:<2} "
                  f"{-worse_by:>+8.1%}  {v}")
    print()
    print("per-layer medians from traced runs (A -> B), self times first")
    for w in [x["name"] for x in bench["workloads"]]:
        ra, rb = a[(w, 1)], b[(w, 1)]
        if not ra or not rb:
            continue
        names = sorted(set(ra[0]["metrics"]) & set(rb[0]["metrics"]),
                       key=lambda k: (not k.startswith("self."), k))
        for k in names:
            xa, xb = values(ra, k), values(rb, k)
            if not xa or not xb:
                continue
            ma, mb = statistics.median(xa), statistics.median(xb)
            if k.startswith("self.") or ma != mb:
                rel = f"{(mb - ma) / ma:+.1%}" if ma else "n/a"
                print(f"  {w:<16} {k:<40} {ma:>12.4f} -> {mb:<12.4f} {mb - ma:>+12.4f} ({rel})")


if __name__ == "__main__":
    main()
