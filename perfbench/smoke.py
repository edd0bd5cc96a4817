"""Smoke self-test of the benchmark: a tiny run of every workload
(``--small``: sf0.001, a few seconds), untraced and traced.

    python3 perfbench/smoke.py

Asserts that every metric named in BENCHMARK.json is reported with its
unit, that no operation failed, that the traced run's span file parses
with non-negative self times, and that every count of a layer the
workload loads is above 0. Exits non-zero on the first violation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402

SEED = 7
SECONDS = 3


def run_once(workload: str, trace: int) -> tuple:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(SEED), "--seconds", str(SECONDS),
         "--trace", str(trace), "--small"],
        capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise SystemExit(f"{workload} trace={trace}: exit {p.returncode}\n"
                         f"{p.stderr[-3000:]}")
    return json.loads(lines[-2])["record"], json.loads(lines[-1])


def check(workload: str, trace: int, spec: dict) -> None:
    record, res = run_once(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
    want = spec["per_layer" if trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in want}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == units, f"metrics differ from BENCHMARK.json: {got}"
    assert all(isinstance(v["value"], (int, float))
               for v in res["metrics"].values())
    assert res["failed"] == 0 and res["correct"], record["failures"]
    assert res["attempted"] >= 1
    if trace:
        with open(record["trace_file"]) as f:
            spans = [json.loads(line) for line in f]
        assert spans, "empty trace"
        bad = {s_id: t for s_id, t in common.self_times(spans).items()
               if t < -1e-9}
        assert not bad, f"negative self times: {bad}"
        assert all(v["value"] >= 0 for k, v in res["metrics"].items()
                   if k.endswith("_s")), "negative layer time"
        idle = [k for k, v in res["metrics"].items()
                if v["unit"] == "count" and v["value"] <= 0
                and k not in record["bypassed_layers"]]
        assert not idle, f"loaded layers counted nothing: {idle}"
    print(f"ok {workload} trace={trace}: {res['attempted']} attempted",
          flush=True)


def main() -> None:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        for trace in (0, 1):
            check(w["name"], trace, spec)


if __name__ == "__main__":
    main()
