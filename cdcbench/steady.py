#!/usr/bin/env python3
"""Steadiness check: run one workload untraced once per seed, for
BENCHMARK.json's ``run_seconds``, and print, for each metric, the median,
the quartiles and the quartile distance as a share of the median — the
figure each end-to-end bound in BENCHMARK.json is set against (it should
stay below a third of the bound).

    python3 cdcbench/steady.py --workload tail_mor --seeds 101-110 --out runs.json
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seed_list(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="e.g. 101-110 or 1,2,3")
    p.add_argument("--out", help="write every run's result and context here")
    args = p.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as f:
        seconds = str(json.load(f)["run_seconds"])
    runs, values = [], {}
    for seed in seed_list(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", seconds, "--trace", "0"],
            cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=600,
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or len(lines) < 2:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", flush=True)
            continue
        res, ctx = json.loads(lines[-1]), json.loads(lines[-2])["context"]
        runs.append({"seed": seed, "elapsed_s": time.perf_counter() - t0, "result": res, "context": ctx})
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: {time.perf_counter() - t0:.0f}s correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']} steal={ctx['steal_pct']:.2f}% "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    if args.out:
        with open(args.out, "w", encoding="utf-8") as f:
            json.dump(runs, f, indent=1)
    if len(runs) >= 2:
        print(f"{'metric':38s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'iqr/median':>10s}")
        for name, vs in values.items():
            s = stats.spread(vs)
            share = "n/a" if s["iqr_share"] is None else f"{s['iqr_share']:.3f}"
            print(f"{name:38s} {s['median']:12.4g} {s['q1']:12.4g} {s['q3']:12.4g} {share:>10s}")
    return 0 if runs else 1


if __name__ == "__main__":
    sys.exit(main())
