#!/usr/bin/env python3
"""Compare two sets of benchmark runs, or summarise one set.

    python3 perfbench/compare.py BASE_DIR [HEAD_DIR]

Each directory holds the run records that run.py keeps in perfbench/out/
(one JSON file per run). Untraced runs give the end-to-end metrics, traced
runs the per-layer ones. Every workload is reported in its own rows.

With one set, each metric gets its median, quartiles and spread (the
distance between the first and third quartile as a share of the median).

With two sets:
  - metrics listed as exact in perfbench/exact.json (counts, recall, degree
    stats) must be identical in every run of the same seed, within and
    across the sets: "same" or "DIFFERS";
  - end-to-end metrics are compared against their bound in BENCHMARK.json:
    "WORSE" when HEAD's median is worse than BASE's by more than the bound,
    "better" when it is better by more than the bound, "within" otherwise;
    when either side's spread is wider than the bound the result is
    "unresolved", unless every HEAD run beats (or loses to) every BASE run;
  - per-layer times are listed with their medians and change, no verdict;
  - the tracing overhead is the traced runs' timed wall minus the
    untraced runs' timed wall.
Exit status is 1 if any exact metric differs or any end-to-end metric is
worse, else 0.
"""
import glob
import json
import os
import statistics
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))


def load_runs(d):
    runs = []
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(f) as fh:
            r = json.load(fh)
        if "workload" in r and "e2e" in r:
            runs.append(r)
    return runs


def flat_detail(r):
    """Numeric leaves of a run's detail layers, under their own names."""
    out = {}

    def walk(prefix, v):
        if isinstance(v, dict):
            for k, x in v.items():
                walk(f"{prefix}.{k}" if prefix else k, x)
        elif isinstance(v, (int, float)) and not isinstance(v, bool):
            out[prefix] = v
    walk("", r.get("detail", {}).get("layers", {}))
    return out


def values(runs, workload, traced):
    """metric name -> list of (seed, value) over the runs of one workload."""
    vals = {}
    for r in runs:
        if r["workload"] != workload or bool(r.get("traced")) != traced:
            continue
        if traced:
            src = {k: v["value"] for k, v in r["layer"].items()}
        else:
            src = dict(r["e2e"])
            src["timed_s"] = r["detail"]["timed_s"]
        src.update(flat_detail(r))
        for k, v in src.items():
            if isinstance(v, (int, float)):
                vals.setdefault(k, []).append((r["seed"], v))
    return vals


def same_per_seed(pairs):
    """True if every seed's runs read exactly the same value."""
    by_seed = {}
    for seed, v in pairs:
        by_seed.setdefault(seed, set()).add(v)
    return all(len(vs) == 1 for vs in by_seed.values())


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    q1, med, q3 = quartiles(xs)
    return (q3 - q1) / abs(med) if med else float("inf")


def worse_by(base, head, better):
    """Signed share by which head is worse than base (negative = better)."""
    return (head - base) / abs(base) * (1 if better == "lower" else -1)


def main(argv):
    if len(argv) not in (2, 3):
        print(__doc__)
        return 2
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    with open(os.path.join(BENCH, "exact.json")) as fh:
        exact = set(json.load(fh)["exact"])
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    sets = [load_runs(d) for d in argv[1:]]
    bad = False
    for w in [x["name"] for x in spec["workloads"]]:
        for traced in (False, True):
            per_set = [values(s, w, traced) for s in sets]
            counts = [len([r for r in s if r["workload"] == w and bool(r.get("traced")) == traced])
                      for s in sets]
            if not any(counts):
                continue
            kind = "traced" if traced else "untraced"
            print(f"\n== {w} ({kind}; runs: {' vs '.join(map(str, counts))})")
            names = sorted(set().union(*[v.keys() for v in per_set]),
                           key=lambda n: (n not in e2e, n))
            for n in names:
                pairs = [v.get(n, []) for v in per_set]
                xs = [[x for _, x in p] for p in pairs]
                if not all(xs):
                    print(f"  {n:44s} missing in a set")
                    continue
                meds = [statistics.median(x) for x in xs]
                if len(sets) == 1:
                    q1, med, q3 = quartiles(xs[0])
                    note = ""
                    if n in e2e and n != "setup_s":
                        b = e2e[n]["bound"]
                        note = "ok" if spread(xs[0]) <= b / 3 else (
                            "within bound" if spread(xs[0]) <= b else "SPREAD > BOUND")
                    if n in exact:
                        note = "exact per seed" if same_per_seed(pairs[0]) else "NOT EXACT"
                    print(f"  {n:44s} median {med:<14.6g} q1 {q1:<12.6g} q3 {q3:<12.6g} "
                          f"spread {spread(xs[0]):6.3f} {note}")
                    continue
                if n in exact:
                    same = same_per_seed(pairs[0] + pairs[1])
                    bad |= not same
                    print(f"  {n:44s} {'same' if same else 'DIFFERS'} per seed "
                          f"(seeds {sorted({sd for sd, _ in pairs[0] + pairs[1]})})")
                elif n in e2e:
                    m = e2e[n]
                    wb = worse_by(meds[0], meds[1], m["better"])
                    sp = max(spread(xs[0]), spread(xs[1]))
                    sign = 1 if m["better"] == "lower" else -1
                    all_better = max(x * sign for x in xs[1]) < min(x * sign for x in xs[0])
                    all_worse = min(x * sign for x in xs[1]) > max(x * sign for x in xs[0])
                    if sp > m["bound"] and not (all_better or all_worse):
                        verdict = "unresolved"
                    elif wb > m["bound"]:
                        verdict = "WORSE"
                    elif wb < -m["bound"]:
                        verdict = "better"
                    else:
                        verdict = "within"
                    bad |= verdict == "WORSE"
                    print(f"  {n:44s} {meds[0]:<12.6g} -> {meds[1]:<12.6g} worse by {wb:+7.3f} "
                          f"(bound {m['bound']}, spread {sp:.3f}) {verdict}")
                else:
                    ch = (meds[1] - meds[0]) / abs(meds[0]) if meds[0] else float("nan")
                    print(f"  {n:44s} {meds[0]:<12.6g} -> {meds[1]:<12.6g} change {ch:+7.3f}")
        for i, s in enumerate(sets):
            t = [x for _, x in values(s, w, True).get("trace.timed_s", [])]
            u = [x for _, x in values(s, w, False).get("timed_s", [])]
            if t and u:
                print(f"  tracing overhead (set {i + 1}): "
                      f"{statistics.median(t) - statistics.median(u):+.3f} s on a "
                      f"{statistics.median(u):.3f} s timed wall")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
