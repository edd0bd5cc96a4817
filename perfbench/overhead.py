"""Tracing overhead: run one workload untraced and traced with the same
seed and print how far each end-to-end metric moved.

    python3 perfbench/overhead.py --workload cdc --seed 1 --seconds 8

The traced run records its own end-to-end figures in its record line
(``end_to_end_traced``); the difference to the untraced run is the
cost of tracing.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _run(a, trace: int) -> list:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
         "--trace", str(trace)],
        capture_output=True, text=True, timeout=900,
    )
    if p.returncode != 0:  # e.g. 3: an invalid run, reported nothing
        sys.exit(f"{a.workload} trace={trace}: exit {p.returncode}: "
                 f"{p.stderr.strip().splitlines()[-1]}")
    return [json.loads(x) for x in p.stdout.strip().splitlines()[-2:]]


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    a = p.parse_args()
    _, plain = _run(a, 0)
    rec, _ = _run(a, 1)
    traced = rec["record"]["end_to_end_traced"]
    out = {}
    for name, m in plain["metrics"].items():
        base, t = m["value"], traced[name]
        out[name] = {"untraced": base, "traced": t, "diff": t - base,
                     "rel": (t - base) / base, "unit": m["unit"]}
        print(f"{name}: untraced {base:.4g} traced {t:.4g} {m['unit']} "
              f"({(t - base) / base:+.1%})")
    print(json.dumps({"tracing_overhead": out}))


if __name__ == "__main__":
    main()
