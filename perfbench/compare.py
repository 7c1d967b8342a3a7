#!/usr/bin/env python3
"""Compare benchmark runs of a parent commit and a change.

    python3 perfbench/compare.py <parent.jsonl> <change.jsonl>

Each file holds one JSON object per line, as run.py appends them to
perfbench/.work/runs.jsonl: {"workload", "seed", "trace", "metrics", ...}.
Runs pair up by workload, trace mode and seed, in file order. For each
workload x metric the script prints both sides' median and quartiles,
the fraction of pairs the change wins, and a verdict:

- improved: the change wins at least 9/10 of the pairs (ties count for
  neither side) and the medians differ by more than the parent's own
  spread (the distance between its quartiles);
- worse: the change's median is worse than the parent's by more than the
  metric's bound in BENCHMARK.json (metrics without a bound: the parent
  wins at least 9/10 of the pairs and the medians differ by more than
  the parent's spread);
- unresolved: the parent's spread is wider than the bound, and not
  every change run beats every parent run;
- unchanged: none of the above.
"""
import json
import os
import statistics
import sys
from collections import defaultdict

BENCH = os.path.dirname(os.path.abspath(__file__))


def load_spec():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}


def load_runs(path):
    runs = defaultdict(list)
    with open(path) as fh:
        for line in fh:
            if line.strip():
                r = json.loads(line)
                runs[(r["workload"], r["trace"])].append(r)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(parent, change, spec):
    lower = spec.get("better", "lower") == "lower"
    bound = spec.get("bound")
    p1, pm, p3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    spread = p3 - p1
    sign = -1 if lower else 1
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    losses = sum(1 for p, c in pairs if sign * (c - p) < 0)
    win_frac = wins / len(pairs) if pairs else 0.0
    loss_frac = losses / len(pairs) if pairs else 0.0
    delta = sign * (cm - pm)
    if win_frac >= 0.9 and delta > spread:
        return "improved", win_frac
    if bound is not None:
        if -delta > bound * abs(pm):
            return "worse", win_frac
        if spread > bound * abs(pm):
            all_better = all(sign * (c - p) > 0 for c in change for p in parent)
            return ("unchanged" if all_better else "unresolved"), win_frac
    elif loss_frac >= 0.9 and -delta > spread:
        return "worse", win_frac
    return "unchanged", win_frac


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    spec = load_spec()
    parent, change = load_runs(sys.argv[1]), load_runs(sys.argv[2])
    rows = []
    for key in sorted(set(parent) & set(change)):
        pr, cr = parent[key], change[key]
        # pair by seed, in order of appearance
        by_seed = defaultdict(list)
        for r in cr:
            by_seed[r["seed"]].append(r)
        pairs = [(p, by_seed[p["seed"]].pop(0)) for p in pr
                 if by_seed.get(p["seed"])]
        if not pairs:
            continue
        metrics = sorted(set.intersection(*(set(r["metrics"])
                                            for pair in pairs for r in pair)))
        for m in metrics:
            pv = [p["metrics"][m]["value"] for p, _ in pairs]
            cv = [c["metrics"][m]["value"] for _, c in pairs]
            v, wf = verdict(pv, cv, spec.get(m, {}))
            rows.append((key[0], key[1], m, quartiles(pv), quartiles(cv), wf,
                         len(pairs), v))
    print(f"{'workload':<20} {'t':>1} {'metric':<34} {'parent q1/med/q3':>32} "
          f"{'change q1/med/q3':>32} {'win':>5} {'n':>3}  verdict")
    for w, t, m, pq, cq, wf, n, v in rows:
        fmt = "{:.4g}/{:.4g}/{:.4g}"
        print(f"{w:<20} {t:>1} {m:<34} {fmt.format(*pq):>32} "
              f"{fmt.format(*cq):>32} {wf:>5.2f} {n:>3}  {v}")
    worse = [r for r in rows if r[7] == "worse"]
    sys.exit(1 if worse else 0)


if __name__ == "__main__":
    main()
