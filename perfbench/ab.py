#!/usr/bin/env python3
"""Two sets of benchmark runs of this tree, interleaved run by run, and
whether they agree.

    python3 perfbench/ab.py

For run i (i = 1..10) of each workload in ``BENCHMARK.json``, set A and
set B both run seed i for ``run_seconds``; which set goes first alternates
with i, so host drift falls on both sets alike. For every end-to-end
metric the report gives each set's median and quartiles, the spread
(quartile distance over median) and the change of B's median against A's
in the worse direction. A metric is

- ``agree`` when that change and both spreads are within its bound;
- ``unresolved`` when the change is within the bound but a spread is not:
  the runs do not repeat closely enough to tell a change of that size
  from noise;
- ``disagree`` when the change is beyond the bound.

The share of failed operations must be identical in both sets. The full
report is also written to ``.bench_results/ab-<time>.json``; the exit
code is 0 only if every metric of every workload agrees.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = 10


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} exited {p.returncode}")
    return dict(json.loads(lines[-1]), run_wall_s=wall)


def summarize(values: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med, "n": len(values)}


def compare(bench: dict, runs: dict) -> list[dict]:
    """Rows of (workload, metric) with both sets' statistics and status."""
    rows = []
    for wl, sets in runs.items():
        shares = {s: sum(r["failed"] for r in rs) / sum(r["attempted"] for r in rs) for s, rs in sets.items()}
        correct = all(r["correct"] for rs in sets.values() for r in rs)
        for m in bench["end_to_end"]:
            a, b = (summarize([r["metrics"][m["name"]]["value"] for r in sets[s]]) for s in ("A", "B"))
            sign = 1 if m["better"] == "lower" else -1
            worse = sign * (b["median"] - a["median"]) / a["median"]
            if worse > m["bound"]:
                status = "disagree"
            elif max(a["spread"], b["spread"]) > m["bound"]:
                status = "unresolved"
            else:
                status = "agree"
            rows.append({"workload": wl, "metric": m["name"], "unit": m["unit"], "bound": m["bound"],
                         "A": a, "B": b, "b_worse_by": worse, "status": status,
                         "failed_share": shares, "correct": correct})
    return rows


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [w["name"] for w in bench["workloads"]]
    runs = {w: {"A": [], "B": []} for w in names}
    for i in range(1, RUNS + 1):
        for w in names:
            for s in ("AB" if i % 2 else "BA"):
                r = run_once(w, i, bench["run_seconds"])
                runs[w][s].append(r)
                print(f"run {i} {w} {s}: {json.dumps(r)}", file=sys.stderr, flush=True)
    rows = compare(bench, runs)
    for r in rows:
        a, b = r["A"], r["B"]
        print(f"{r['workload']:14s} {r['metric']:12s} A {a['median']:10.4f} [{a['q1']:.4f}, {a['q3']:.4f}] "
              f"spread {a['spread']:.3f} | B {b['median']:10.4f} [{b['q1']:.4f}, {b['q3']:.4f}] "
              f"spread {b['spread']:.3f} | B worse by {r['b_worse_by']:+.3f} (bound {r['bound']}) {r['status']}")
    same_share = all(len(set(rows_[0]["failed_share"].values())) == 1
                     for rows_ in ([r for r in rows if r["workload"] == w] for w in names))
    correct = all(r["correct"] for r in rows)
    ok = same_share and correct and all(r["status"] == "agree" for r in rows)
    print("failed share:", {r["workload"]: r["failed_share"] for r in rows})
    print("every check passed:", correct)
    print("verdict:", "sets agree within bounds" if ok else "sets do NOT agree on every metric")
    out = os.path.join(ROOT, ".bench_results", f"ab-{time.strftime('%Y%m%dT%H%M%S')}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump({"rows": rows, "runs": runs, "agree": ok}, fh, indent=1)
    print(f"report: {out}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
