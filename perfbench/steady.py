#!/usr/bin/env python3
"""Steadiness check: run the benchmark twice over and say whether the two
sets agree within the bounds ``BENCHMARK.json`` fixes.

    python3 perfbench/steady.py [--runs 10] [--sets 2] [--workloads a,b] [--out results.json]

Each set runs every workload ``--runs`` times with seeds 1..runs. For every
end-to-end metric and workload it prints each set's median and spread (the
distance between the first and third quartile as a share of the median),
and whether (a) every set's spread is within the metric's bound and (b) no
later set's median differs from the first set's, better or worse, by more
than the bound. Exits 1 if any pairing disagrees or any run failed.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys


def run_once(cmd: list[str], workload: str, seed: int, seconds: int) -> dict:
    out = subprocess.run(
        cmd + ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True, timeout=600,
    )
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited {out.returncode}: {out.stderr[-2000:]}")
    return json.loads(lines[-1])


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--out", default="", help="also write every run's result here (JSON)")
    a = ap.parse_args()

    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    if a.workloads:
        names = [n for n in a.workloads.split(",") if n in names]
    ok = True
    raw: dict = {}
    for name in names:
        sets = []
        for s in range(a.sets):
            results = []
            for seed in range(1, a.runs + 1):
                r = run_once(bench["command"], name, seed, bench["run_seconds"])
                if not r["correct"] or r["failed"]:
                    print(f"{name} set {s} seed {seed}: NOT CORRECT ({r['failed']}/{r['attempted']} failed)")
                    ok = False
                results.append(r)
            sets.append(results)
        raw[name] = sets
        for m in bench["end_to_end"]:
            vals = [[r["metrics"][m["name"]]["value"] for r in rs] for rs in sets]
            meds = [statistics.median(v) for v in vals]
            spreads = [spread(v) for v in vals]
            spread_ok = all(x <= m["bound"] for x in spreads)
            drift = max((abs(x - meds[0]) / meds[0] for x in meds[1:]), default=0.0)
            agree = spread_ok and drift <= m["bound"]
            ok &= agree
            print(f"{name:20s} {m['name']:15s} bound {m['bound']:.2f} "
                  f"medians {' '.join(f'{x:.4g}' for x in meds)} "
                  f"spreads {' '.join(f'{x:.3f}' for x in spreads)} "
                  f"drift {drift:.3f} {'AGREE' if agree else 'DISAGREE'}", flush=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(raw, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
