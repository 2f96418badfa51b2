"""Steadiness tool: repeat one workload and summarise the spread, or compare
two such sets against the bounds in BENCHMARK.json.

    python3 enginebench/steady.py run --workload olap --runs 10 --seed0 100 \\
        --out .bench_work/steady/olap-a.json
    python3 enginebench/steady.py compare .bench_work/steady/olap-a.json \\
        .bench_work/steady/olap-b.json

``run`` calls run.py once per seed (seed0, seed0+1, ...) with the run length
from BENCHMARK.json and prints, per end-to-end metric, the median, the
quartiles (``statistics.quantiles(values, n=4)``) and the relative IQR
(quartile distance over the median), flagged when it exceeds the metric's
bound or a third of it. ``compare`` prints, per metric, how far the second
set's median is worse than the first's, flagged when beyond the bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def do_run(a) -> int:
    spec = bench_spec()
    seconds = spec["run_seconds"]
    rows = []
    for i in range(a.runs):
        seed = a.seed0 + i
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: rc={p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        ctx = json.loads(lines[-2])["context"] if len(lines) > 1 else {}
        rows.append({"seed": seed, "result": res, "context": ctx})
        vals = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']} {vals}", flush=True)
    if a.out:
        os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "seconds": seconds, "runs": rows}, f)
    report(a.workload, rows, spec)
    return 0


def values_of(rows: list[dict], name: str) -> list[float]:
    return [r["result"]["metrics"][name]["value"] for r in rows]


def report(workload: str, rows: list[dict], spec: dict) -> None:
    print(f"{workload}: {len(rows)} runs")
    for m in spec["end_to_end"]:
        med, q1, q3, rel = spread(values_of(rows, m["name"]))
        flag = "OVER-BOUND" if rel > m["bound"] else ("over-third" if rel > m["bound"] / 3 else "ok")
        print(f"  {m['name']:<18} median {med:10.4f} q1 {q1:10.4f} q3 {q3:10.4f} "
              f"rel-IQR {rel:6.3f} bound {m['bound']:.2f} {flag}")


def do_compare(a) -> int:
    spec = bench_spec()
    with open(a.first) as f:
        first = json.load(f)
    with open(a.second) as f:
        second = json.load(f)
    report(first["workload"] + " (first)", first["runs"], spec)
    report(second["workload"] + " (second)", second["runs"], spec)
    bad = 0
    for m in spec["end_to_end"]:
        m1 = statistics.median(values_of(first["runs"], m["name"]))
        m2 = statistics.median(values_of(second["runs"], m["name"]))
        worse = (m2 - m1) / m1 if m["better"] == "lower" else (m1 - m2) / m1
        ok = worse <= m["bound"]
        bad += not ok
        print(f"  {m['name']:<18} {m1:10.4f} -> {m2:10.4f} worse by {worse:+.3f} "
              f"(bound {m['bound']:.2f}) {'ok' if ok else 'BEYOND-BOUND'}")
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--runs", type=int, default=10)
    r.add_argument("--seed0", type=int, default=1)
    r.add_argument("--out", default="")
    c = sub.add_parser("compare")
    c.add_argument("first")
    c.add_argument("second")
    a = ap.parse_args()
    return do_run(a) if a.cmd == "run" else do_compare(a)


if __name__ == "__main__":
    sys.exit(main())
