#!/usr/bin/env python3
"""Compare or check the steadiness of benchmark result sets.

    compare.py seeds --workload W [--runs 10] [--first-seed 1] [--out FILE]
        Runs the benchmark here once per seed and prints, per end-to-end
        metric, the median, the quartiles and the spread (interquartile
        distance over the median) against the metric's bound.
    compare.py spread FILE...
        The same table over saved result sets (files written by `seeds`
        or `pairs --out`, or run.py's files under .bench_build/results/).
    compare.py pairs --a DIR --b DIR --workload W [--pairs 10] [--out FILE]
        Runs alternating pairs of two checkouts A (the parent) and B (the
        change) on the same seeds, A first in even pairs, and prints the
        `ab` table.
    compare.py ab --a FILE... --b FILE...
        Per (workload, end-to-end metric): each side's median and
        quartiles, B's win ratio over the pairs (ties count for neither),
        and a verdict. "unresolved" when A's spread is wider than the
        bound and B does not beat every A run; "regression" when B's
        median is worse than A's by more than the bound; "gain" when B
        wins at least 9 of 10 pairs and the medians differ by more than
        A's interquartile distance; otherwise "no change".

Bounds and directions come from BENCHMARK.json next to this directory.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m for m in json.load(fh)["end_to_end"]}


def load(paths):
    """Results as dicts {workload, seed, correct, metrics}, in file order."""
    out = []
    for p in paths:
        with open(p) as fh:
            d = json.load(fh)
        for r in (d if isinstance(d, list) else [d]):
            if "report" in r:  # a run.py result file
                r = {"workload": r["report"]["workload"], "seed": r["report"]["seed"],
                     "correct": not r["report"]["failures"], "metrics": r["metrics"]}
            out.append(r)
    return out


def run_once(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
    try:
        res = json.loads(last)
    except ValueError:
        res = {}
    res.update(workload=workload, seed=seed)
    res.setdefault("metrics", {})
    res["correct"] = p.returncode == 0 and res.get("correct", False)
    print(f"  {os.path.basename(os.path.abspath(checkout))} {workload} seed {seed}: "
          f"exit {p.returncode}, correct {res['correct']}", file=sys.stderr)
    return res


def values(results, workload, metric):
    return [r["metrics"][metric]["value"] for r in results
            if r["workload"] == workload and metric in r["metrics"]]


def summary(xs):
    med = statistics.median(xs)
    q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0], 0, xs[0])
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def spread_table(results):
    bounds = spec()
    ok = True
    print(f"{'workload':14} {'metric':18} {'n':>3} {'median':>10} {'q1':>10} {'q3':>10}"
          f" {'spread':>7} {'bound':>6}  verdict")
    for w in sorted({r["workload"] for r in results}):
        bad = [r["seed"] for r in results if r["workload"] == w and not r["correct"]]
        if bad:
            ok = False
            print(f"{w:14} incorrect runs for seeds {bad}")
        for name, m in bounds.items():
            xs = values(results, w, name)
            if not xs:
                continue
            med, q1, q3, sp = summary(xs)
            # set-up time's own spread is not bounded; its median is
            verdict = ("-" if name == "setup_s" else
                       "ok" if sp < m["bound"] / 3 else "within bound" if sp <= m["bound"]
                       else "TOO WIDE")
            ok &= verdict != "TOO WIDE"
            print(f"{w:14} {name:18} {len(xs):3d} {med:10.4f} {q1:10.4f} {q3:10.4f}"
                  f" {sp:7.3f} {m['bound']:6.2f}  {verdict}")
    return ok


def ab_table(a, b):
    bounds = spec()
    print(f"{'workload':14} {'metric':18} {'A median':>10} {'A q1-q3':>21} {'B median':>10}"
          f" {'B q1-q3':>21} {'B wins':>7}  verdict")
    regress = False
    for w in sorted({r["workload"] for r in a} & {r["workload"] for r in b}):
        for name, m in bounds.items():
            xa, xb = values(a, w, name), values(b, w, name)
            if not xa or not xb:
                continue
            lower = m["better"] == "lower"
            ma, qa1, qa3, spa = summary(xa)
            mb, qb1, qb3, _ = summary(xb)
            better = (lambda x, y: x < y) if lower else (lambda x, y: x > y)
            pairs = list(zip(xa, xb))
            wins = sum(better(y, x) for x, y in pairs)
            worse = ((mb - ma) if lower else (ma - mb)) / ma
            if spa > m["bound"] and not all(better(y, x) for x in xa for y in xb):
                verdict = "unresolved"
            elif worse > m["bound"]:
                verdict, regress = "regression", True
            elif pairs and wins >= 0.9 * len(pairs) and abs(mb - ma) > qa3 - qa1:
                verdict = "gain"
            else:
                verdict = "no change"
            print(f"{w:14} {name:18} {ma:10.4f} {qa1:10.4f}-{qa3:<10.4f} {mb:10.4f}"
                  f" {qb1:10.4f}-{qb3:<10.4f} {wins:3d}/{len(pairs):<3d}  {verdict}")
    return not regress


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("seeds")
    s.add_argument("--workload", required=True)
    s.add_argument("--runs", type=int, default=10)
    s.add_argument("--first-seed", type=int, default=1)
    s.add_argument("--out")
    p = sub.add_parser("spread")
    p.add_argument("files", nargs="+")
    q = sub.add_parser("pairs")
    q.add_argument("--a", required=True)
    q.add_argument("--b", required=True)
    q.add_argument("--workload", required=True)
    q.add_argument("--pairs", type=int, default=10)
    q.add_argument("--first-seed", type=int, default=1)
    q.add_argument("--out")
    c = sub.add_parser("ab")
    c.add_argument("--a", nargs="+", required=True)
    c.add_argument("--b", nargs="+", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]

    if args.cmd == "seeds":
        res = [run_once(ROOT, args.workload, args.first_seed + i, seconds)
               for i in range(args.runs)]
        if args.out:
            with open(args.out, "w") as fh:
                json.dump(res, fh)
        ok = spread_table(res)
    elif args.cmd == "spread":
        ok = spread_table(load(args.files))
    elif args.cmd == "pairs":
        a, b = [], []
        for i in range(args.pairs):
            seed = args.first_seed + i
            order = [(a, args.a), (b, args.b)]
            for side, checkout in (order if i % 2 == 0 else order[::-1]):
                side.append(run_once(checkout, args.workload, seed, seconds))
        if args.out:
            with open(args.out, "w") as fh:
                json.dump({"a": a, "b": b}, fh)
        ok = ab_table(a, b)
    else:
        ok = ab_table(load(args.a), load(args.b))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
