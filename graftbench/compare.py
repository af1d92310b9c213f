#!/usr/bin/env python3
"""Collects and compares sets of benchmark runs.

    # run a set: every workload of BENCHMARK.json (or --workloads) on each seed
    python3 graftbench/compare.py run --seeds 1-10 --out setA.jsonl [--trace 0|1]

    # steadiness of one set: spread (IQR / median) against each bound
    python3 graftbench/compare.py steady setA.jsonl

    # two sets, e.g. parent and change: per workload x end-to-end metric
    python3 graftbench/compare.py diff setA.jsonl setB.jsonl

A set is a JSON-lines file, one run per line:
{"workload": ..., "seed": ..., "trace": 0|1, "wall_s": ..., "result": <run.py output>}.

`diff` prints, for each workload and end-to-end metric, each side's median,
quartiles and spread, the pairs (same seed) B won, and a verdict: `worse`
when B's median is worse than A's by more than the bound, `unresolved` when
either side's spread exceeds the bound (unless B won every pair), else `ok`.
With traced and untraced runs in one set, it also prints the tracing
overhead, 1 - trace.ops_per_s / ops_per_s.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(xs, n=4) gives them."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else float("inf")


def values(runs, workload, metric, trace=0):
    return {r["seed"]: r["result"]["metrics"][metric]["value"] for r in runs
            if r["workload"] == workload and r.get("trace", 0) == trace
            and r.get("result") and metric in r["result"]["metrics"]}


def cmd_run(a):
    b = bench()
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in b["workloads"]]
    secs = str(a.seconds or b["run_seconds"])
    for s in seeds(a.seeds):
        for w in names:
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(s), "--seconds", secs, "--trace", str(a.trace)],
                cwd=ROOT, stdout=subprocess.PIPE, text=True)
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
            rec = {"workload": w, "seed": s, "trace": a.trace,
                   "wall_s": round(time.time() - t0, 1), "result": res}
            with open(a.out, "a") as f:
                f.write(json.dumps(rec) + "\n")
            print(json.dumps(rec), flush=True)


def fmt(x):
    return f"{x:.4g}"


def cmd_steady(a):
    b = bench()
    runs = load(a.set)
    bad = 0
    print(f"{'workload':<12} {'metric':<14} {'n':>3} {'median':>10} {'q1':>10} "
          f"{'q3':>10} {'spread':>7} {'bound':>6}  verdict")
    for w in sorted({r["workload"] for r in runs}):
        failed = [r for r in runs if r["workload"] == w and
                  (not r.get("result") or not r["result"]["correct"])]
        if failed:
            print(f"{w}: {len(failed)} runs failed or were incorrect")
            bad += 1
        for m in b["end_to_end"]:
            xs = list(values(runs, w, m["name"]).values())
            if not xs:
                continue
            q1, q2, q3 = quartiles(xs)
            sp = spread(xs)
            ok = sp <= m["bound"]
            bad += not ok
            note = "ok" if sp <= m["bound"] / 3 else ("within bound" if ok else "TOO NOISY")
            print(f"{w:<12} {m['name']:<14} {len(xs):>3} {fmt(q2):>10} {fmt(q1):>10} "
                  f"{fmt(q3):>10} {sp:>7.3f} {m['bound']:>6}  {note}")
    overhead(runs)
    walls = [r["wall_s"] for r in runs if "wall_s" in r]
    if walls:
        print(f"run wall time: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    sys.exit(1 if bad else 0)


def overhead(runs):
    for w in sorted({r["workload"] for r in runs}):
        plain = list(values(runs, w, "ops_per_s", 0).values())
        traced = list(values(runs, w, "trace.ops_per_s", 1).values())
        if plain and traced:
            print(f"{w}: tracing overhead "
                  f"{1 - statistics.median(traced) / statistics.median(plain):+.3f}")


def cmd_diff(a):
    b = bench()
    ra, rb = load(a.a), load(a.b)
    worse = 0
    print(f"{'workload':<12} {'metric':<14} {'A median':>10} {'A q1..q3':>21} {'A sprd':>7} "
          f"{'B median':>10} {'B q1..q3':>21} {'B sprd':>7} {'change':>8} {'B won':>7}  verdict")
    for w in sorted({r["workload"] for r in ra} & {r["workload"] for r in rb}):
        for m in b["end_to_end"]:
            va, vb = values(ra, w, m["name"]), values(rb, w, m["name"])
            if not va or not vb:
                continue
            xa, xb = list(va.values()), list(vb.values())
            (a1, a2, a3), (b1, b2, b3) = quartiles(xa), quartiles(xb)
            sign = 1 if m["better"] == "lower" else -1
            change = (b2 - a2) / a2
            pairs = [(va[s], vb[s]) for s in va if s in vb]
            won = sum(1 for x, y in pairs if sign * (y - x) < 0)
            everyb = all(sign * (y - x) < 0 for x in xa for y in xb)
            if sign * change > m["bound"]:
                verdict = "worse"
                worse += 1
            elif max(spread(xa), spread(xb)) > m["bound"] and not everyb:
                verdict = "unresolved"
            else:
                verdict = "ok"
            print(f"{w:<12} {m['name']:<14} {fmt(a2):>10} {fmt(a1) + '..' + fmt(a3):>21} "
                  f"{spread(xa):>7.3f} {fmt(b2):>10} {fmt(b1) + '..' + fmt(b3):>21} "
                  f"{spread(xb):>7.3f} {change:>+8.3f} {f'{won}/{len(pairs)}':>7}  {verdict}")
    sys.exit(1 if worse else 0)


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    r.add_argument("--out", required=True)
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    r.add_argument("--workloads")
    r.add_argument("--seconds", type=int)
    s = sub.add_parser("steady")
    s.add_argument("set")
    d = sub.add_parser("diff")
    d.add_argument("a")
    d.add_argument("b")
    a = ap.parse_args()
    {"run": cmd_run, "steady": cmd_steady, "diff": cmd_diff}[a.cmd](a)


if __name__ == "__main__":
    main()
