#!/usr/bin/env python3
"""Steadiness tool: run one workload K times, each in a fresh process
with its own seed, and print every metric's median, quartiles and
relative spread (interquartile distance over median).

    python3 perfbench/steady.py --workload sql_session --runs 5
    python3 perfbench/steady.py --workload datapipe_ml --curve 6

``--trace 1`` summarizes the per-layer metrics instead. ``--curve P``
skips the warm-up and prints the per-pass warm-up curve of P passes from
a cold session, which is what the fixed warm-up length is chosen from.
Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402

RUN = os.path.join(HERE, "run.py")


def one(workload: str, seed: int, seconds: float, trace: int, cores: int) -> dict:
    out = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace), "--cores", str(cores)],
        capture_output=True, text=True, timeout=600, check=True,
    ).stdout.strip().splitlines()
    summary = next((json.loads(line[8:]) for line in out
                    if line.startswith("summary ")), {})
    return {"result": json.loads(out[-1]), "summary": summary}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=5)
    p.add_argument("--seed", type=int, default=1, help="first seed")
    p.add_argument("--seconds", type=float, default=24)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=2)
    p.add_argument("--curve", type=int, default=0)
    args = p.parse_args()

    if args.curve:
        subprocess.run(
            [sys.executable, RUN, "--workload", args.workload, "--seed",
             str(args.seed), "--seconds", "0", "--cores", str(args.cores),
             "--curve", str(args.curve)],
            check=True, timeout=1200,
        )
        return 0

    values: dict[str, list[float]] = {}
    units: dict[str, str] = {}
    for k in range(args.runs):
        seed = args.seed + k
        r = one(args.workload, seed, args.seconds, args.trace, args.cores)
        res = r["result"]
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} " + " ".join(
                  f"{n}={m['value']:.4g}" for n, m in res["metrics"].items()),
              flush=True)
        for n, m in res["metrics"].items():
            values.setdefault(n, []).append(m["value"])
            units[n] = m["unit"]
        for n, v in r["summary"].items():
            if isinstance(v, (int, float)):
                values.setdefault("summary." + n, []).append(v)
                units.setdefault("summary." + n, "")
    print(f"{'metric':40s} {'unit':6s} {'q1':>12s} {'median':>12s} {'q3':>12s} spread")
    for n, vs in values.items():
        if len(vs) < 2:
            continue
        q1, q2, q3 = stats.quartiles(vs)
        print(f"{n:40s} {units[n]:6s} {q1:12.4g} {q2:12.4g} {q3:12.4g} "
              f"{stats.rel_spread(vs):.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
