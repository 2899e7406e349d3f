#!/usr/bin/env python3
"""Alternating A/B pairs of the repository benchmark in two checkouts.

    python3 scripts/ab_pairs.py PARENT CHANGE [--workloads csv_landing,...]
        [--seeds 601-610] [--seconds 5] [--trace 0|1] [--json out.json]

For each seed and workload it runs `python3 perfbench/run.py` once in
each checkout (a directory holding the repository), the parent first on
even seeds and the change first on odd ones, and reads only the last
line of each run's stdout. It then prints, per workload and metric, the
median and quartiles of each side, the pairs the change won, and
whether the gain rule holds: the change is better in at least nine of
ten pairs, and its median is better than the parent's by more than the
parent's interquartile range. Each end-to-end metric with a `bound`
also gets the no-regression state a no-gain change is judged on:

    ok          the change's median is no worse than the parent's by
                more than bound × the parent's median
    unresolved  the parent's IQR / median exceeds the bound (the runs
                spread too widely to tell), unless every change run is
                better than every parent run
    worse       otherwise

A metric's better direction and bound come from BENCHMARK.json in the
change checkout. The same checkout may be passed twice (an A/A control).
The first run in a checkout also builds it. Nothing under perfbench/ is
written here; run.py writes its build under each checkout's
.bench_build/.
"""
import argparse
import json
import math
import statistics
import subprocess
import sys
from pathlib import Path


def seeds_of(spec: str) -> list:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run(checkout: Path, workload: str, seed: int, seconds: float,
        trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"{checkout}: {' '.join(cmd)} exited {p.returncode}\n"
                 f"{p.stderr[-2000:]}")
    return json.loads(lines[-1])


def quartiles(xs: list) -> tuple:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def value(run: dict, metric: str) -> float:
    """A metric of run.py's last line: {"value": v, "unit": u}."""
    v = run["metrics"][metric]
    return v["value"] if isinstance(v, dict) else v


def ratio(x: float, base: float) -> float:
    return x / abs(base) if base else (0.0 if x == 0 else math.inf)


def no_regression(a: list, b: list, sign: int, bound: float) -> str:
    """The state of change runs `b` against parent runs `a` (module
    docstring); `sign` is 1 when lower is better."""
    qa, qb = quartiles(a), quartiles(b)
    if ratio(qa[2] - qa[0], qa[1]) > bound:
        dominates = all(sign * (x - y) > 0 for x in a for y in b)
        return "ok" if dominates else "unresolved"
    return "ok" if ratio(sign * (qb[1] - qa[1]), qa[1]) <= bound \
        else "worse"


def summarize(pairs: list, better: dict, bounds: dict) -> list:
    """One row per metric present in every run of both sides."""
    names = set.intersection(*(set(a["metrics"]) & set(b["metrics"])
                               for a, b in pairs))
    rows = []
    for m in sorted(names):
        a = [value(p, m) for p, _ in pairs]
        b = [value(c, m) for _, c in pairs]
        sign = 1 if better.get(m, "lower") == "lower" else -1
        wins = sum(1 for x, y in zip(a, b) if sign * (x - y) > 0)
        qa, qb = quartiles(a), quartiles(b)
        gap = sign * (qa[1] - qb[1])
        holds = (wins >= math.ceil(0.9 * len(pairs))
                 and gap > qa[2] - qa[0])
        state = (no_regression(a, b, sign, bounds[m]) if m in bounds
                 else None)
        rows.append({"metric": m, "parent": qa, "change": qb,
                     "wins": wins, "pairs": len(pairs), "rule": holds,
                     "no_regression": state})
    return rows


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent", type=Path)
    ap.add_argument("change", type=Path)
    ap.add_argument("--workloads", default="csv_landing")
    ap.add_argument("--seeds", default="601-610")
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--json", type=Path,
                    help="also write the summary and every run's last line")
    a = ap.parse_args()
    bench = json.loads((a.change / "BENCHMARK.json").read_text())
    better = {m["name"]: m["better"]
              for m in bench["end_to_end"] + bench["per_layer"]}
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]
              if "bound" in m}
    report = {}
    for w in a.workloads.split(","):
        pairs = []
        for seed in seeds_of(a.seeds):
            sides = {"parent": a.parent, "change": a.change}
            order = ["parent", "change"] if seed % 2 == 0 \
                else ["change", "parent"]
            res = {side: run(sides[side], w, seed, a.seconds, a.trace)
                   for side in order}
            pairs.append((res["parent"], res["change"]))
            wrong = [s for s, r in res.items() if not r.get("correct")]
            if wrong:
                print(f"{w} seed {seed}: incorrect results in "
                      f"{', '.join(wrong)}", file=sys.stderr)
        rows = summarize(pairs, better, bounds)
        report[w] = {"seeds": seeds_of(a.seeds), "summary": rows,
                     "runs": [{"parent": p, "change": c} for p, c in pairs]}
        print(f"== {w} ({len(pairs)} pairs; median [q1, q3])")
        for r in rows:
            pa, ch = r["parent"], r["change"]
            print(f"{r['metric']:28s} parent {pa[1]:10.4g} "
                  f"[{pa[0]:.4g}, {pa[2]:.4g}]  change {ch[1]:10.4g} "
                  f"[{ch[0]:.4g}, {ch[2]:.4g}]  wins {r['wins']}/"
                  f"{r['pairs']}  rule {'holds' if r['rule'] else 'fails'}"
                  + (f"  {r['no_regression']}" if r["no_regression"]
                     else ""))
    if a.json:
        a.json.write_text(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
