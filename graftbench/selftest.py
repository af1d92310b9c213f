#!/usr/bin/env python3
"""Self-test of the benchmark's own checks.

    python3 graftbench/selftest.py [workload ...]

For each workload (default: all three) it runs run.py with --perturb, which
breaks one reference after warm-up (vt_churn: the shadow model skips a
delete; ml_curate: the exact top-k scores shift by 0.01; olap_read: one
DuckDB oracle keeps a single row), and asserts that the run reports
`correct: false` with failed ops. It also checks the comparison tool's
quartiles against statistics.quantiles. Exits non-zero on any miss.
"""
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import compare  # noqa: E402


def perturbed(workload):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", "7", "--seconds", "1",
                        "--trace", "0", "--perturb"],
                       cwd=os.path.dirname(HERE), stdout=subprocess.PIPE, text=True)
    if p.returncode != 0:
        return f"{workload}: perturbed run exited {p.returncode}"
    r = json.loads(p.stdout.strip().splitlines()[-1])
    if r["correct"] or r["failed"] == 0:
        return f"{workload}: perturbed reference not caught: {r}"
    print(f"{workload}: perturbed reference caught "
          f"({r['failed']} of {r['attempted']} ops failed)")
    return None


def main():
    errors = []
    xs = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.0, 3.5, 8.0, 7.0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    if compare.quartiles(xs) != (q1, q2, q3) or compare.spread(xs) != (q3 - q1) / q2:
        errors.append("compare.quartiles disagrees with statistics.quantiles")
    for w in sys.argv[1:] or ["vt_churn", "ml_curate", "olap_read"]:
        e = perturbed(w)
        if e:
            errors.append(e)
    for e in errors:
        print("FAIL", e)
    sys.exit(1 if errors else 0)


if __name__ == "__main__":
    main()
