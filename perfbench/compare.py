#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

Usage: python3 perfbench/compare.py BEFORE AFTER

BEFORE and AFTER are results files (JSON lines as perfbench/run.py appends
them to perfbench/out/results.jsonl, one {"workload", "seed", "trace",
"result"} object per line) or directories holding such a results.jsonl.
For each workload x end-to-end metric it prints the median and quartiles of
both sets and flags a move past the metric's bound in BENCHMARK.json; for
each workload it names the per-layer metric that moved most.
"""
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402


def load(path):
    if os.path.isdir(path):
        path = os.path.join(path, "results.jsonl")
    runs = []
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if line:
                runs.append(json.loads(line))
    return runs


def samples(runs, trace):
    """{workload: {metric: [values]}} over the runs of one trace mode."""
    out = {}
    for r in runs:
        if r["trace"] != trace:
            continue
        m = out.setdefault(r["workload"], {})
        for k, v in r["result"]["metrics"].items():
            m.setdefault(k, []).append(v["value"])
    return out


def worse_by(before, after, better):
    """Relative change of the median in the worse direction (positive = worse)."""
    b, a = stats.median(before), stats.median(after)
    if b == 0:
        return 0.0
    change = (a - b) / abs(b)
    return change if better == "lower" else -change


def compare(before_runs, after_runs, spec):
    """Rows of (workload, metric, before quartiles, after quartiles, worse
    share, flagged) and per workload the per-layer metric that moved most."""
    rows, moved = [], {}
    b0, a0 = samples(before_runs, 0), samples(after_runs, 0)
    for w in sorted(set(b0) & set(a0)):
        for m in spec["end_to_end"]:
            name = m["name"]
            if name not in b0[w] or name not in a0[w]:
                continue
            bq, aq = stats.quartiles(b0[w][name]), stats.quartiles(a0[w][name])
            worse = worse_by(b0[w][name], a0[w][name], m["better"])
            rows.append((w, name, bq, aq, worse, worse > m["bound"]))
    b1, a1 = samples(before_runs, 1), samples(after_runs, 1)
    for w in sorted(set(b1) & set(a1)):
        best = None
        for name in sorted(set(b1[w]) & set(a1[w])):
            if name.startswith("sentinel."):
                continue
            b, a = stats.median(b1[w][name]), stats.median(a1[w][name])
            if b == 0 and a == 0:
                continue
            rel = abs(a - b) / max(abs(b), abs(a))
            if best is None or rel > best[1]:
                best = (name, rel, b, a)
        if best:
            moved[w] = best
    return rows, moved


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    rows, moved = compare(load(argv[1]), load(argv[2]), spec)
    flagged = 0
    print(f"{'workload':<13} {'metric':<23} {'before q1/med/q3':>30} {'after q1/med/q3':>30} {'worse':>8}")
    for w, name, bq, aq, worse, flag in rows:
        fmt = lambda q: "/".join(f"{x:.4g}" for x in q)  # noqa: E731
        mark = "  REGRESSION" if flag else ""
        flagged += flag
        print(f"{w:<13} {name:<23} {fmt(bq):>30} {fmt(aq):>30} {worse:>+8.1%}{mark}")
    for w, (name, rel, b, a) in sorted(moved.items()):
        print(f"{w}: per-layer metric that moved most: {name} {b:.4g} -> {a:.4g} ({rel:.0%})")
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
