"""The repo benchmark: one workload per run, end-to-end metrics by
default, per-layer metrics with ``--trace 1``.

    python3 perfbench/run.py --workload cdc --seed 1 --seconds 15 --trace 0

Run from the repository root (the engine package is imported from
there, and metric names and units come from ``BENCHMARK.json``). Scratch
files go under ``.perfbench_run/`` and are removed at exit; a traced run
keeps its spans in ``.perfbench_run/traces/``. Stdout ends with a
human-readable summary, one ``{"record": ...}`` line describing the run,
and last the result line
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]  # benchmark, then the repo

import common  # noqa: E402  (takes the process clock origin first)

CPU_AT_START = common.cpu_times()
LOAD_AT_START = list(os.getloadavg())


class Context:
    """What a workload gets: the session, the tracer, and the sinks for
    metrics, settings, failures and set-up timing."""

    def __init__(self, args, work: str) -> None:
        self.workload, self.seed = args.workload, args.seed
        self.seconds, self.work = args.seconds, work
        self.small = args.small
        self.tracer = common.Tracer(bool(args.trace))
        self.attempted = self.failed = 0
        self.failures: list = []
        self.e2e_values: dict = {}
        self.layer_values: dict = {}
        self.record: dict = {"workload": self.workload, "seed": self.seed,
                             "seconds": self.seconds, "trace": args.trace}
        self.spark, session_s = common.start_spark(work)
        self.layer("session.start_s", session_s)
        self.tracer.add("setup.session", common.PROCESS_START, time.time())
        self._gc_mark = common.gc_ms(self.spark)
        self.anchor_s = self._anchor_s = 0.0

    # -- set-up ----------------------------------------------------------

    def anchor(self, parquet: str) -> None:
        """Time the DuckDB yardstick over this run's own ``parquet``
        (left out of setup_s)."""
        t = time.time()
        self.anchor_s = common.duckdb_anchor(parquet)
        self._anchor_s = time.time() - t

    def fixture(self, build) -> None:
        """Build the workload's inputs, timed as setup.fixture_s."""
        t = time.time()
        build()
        self.layer("setup.fixture_s", time.time() - t)
        self.tracer.add("setup.fixture", t, time.time())

    def setup_done(self) -> None:
        """The workload is ready: setup_s runs from process start to
        here, less the DuckDB anchor measured along the way."""
        self.e2e(setup_s=time.time() - common.PROCESS_START - self._anchor_s)
        self.phase_gc("setup")

    def phase_gc(self, phase: str) -> None:
        now = common.gc_ms(self.spark)
        self.layer(f"jvm.gc_ms_{phase}", now - self._gc_mark)
        self._gc_mark = now

    # -- results ---------------------------------------------------------

    def e2e(self, **kw) -> None:
        self.e2e_values.update(kw)

    def layer(self, name: str, value) -> None:
        self.layer_values[name] = float(value)

    def settings(self, **kw) -> None:
        self.record.setdefault("settings", {}).update(kw)

    def fail(self, msg: str, count: int = 1) -> None:
        self.failed += count
        if len(self.failures) < 20:
            self.failures.append(msg)


def _load_spec() -> dict:
    try:
        with open("BENCHMARK.json") as f:
            return json.load(f)
    except FileNotFoundError:
        sys.exit("run from the repository root: BENCHMARK.json not found")


def _metrics(names_units, values: dict, bypassed=()) -> dict:
    """Every named metric with its unit; a metric in ``bypassed`` (a
    layer the workload does not load) that was not measured reads 0."""
    out = {}
    for m in names_units:
        v = values.get(m["name"])
        if v is None:
            if m["name"] not in bypassed:
                raise RuntimeError(f"metric {m['name']} was not measured")
            v = 0.0
        out[m["name"]] = {"value": v, "unit": m["unit"]}
    return out


def _summary(ctx, units: dict) -> str:
    parts = [f"{k}={v:.6g} {units.get(k, '')}".rstrip()
             for k, v in ctx.e2e_values.items()]
    s = ctx.record.get("settings", {})
    if "burst" in s:
        parts.append("drain_changes_per_s="
                     f"{s['burst'] / ctx.e2e_values['suite_s']:.6g} changes/s")
    for k, v in ctx.record.get("consumers", {}).items():
        parts.append(f"{k}={v:.6g} s")
    parts.append(f"failed_frac={ctx.failed / max(ctx.attempted, 1):.6g} "
                 f"ratio ({ctx.failed} of {ctx.attempted})")
    return f"{ctx.workload} seed={ctx.seed}: " + ", ".join(parts)


def main() -> int:
    spec = _load_spec()
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=[w["name"] for w in spec["workloads"]])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--small", action="store_true",
                   help="tiny inputs for the smoke self-test")
    args = p.parse_args()
    try:
        import speculare_pgcdc_spark  # noqa: F401
    except ImportError as ex:
        print(f"engine package not importable from {os.getcwd()}: {ex}",
              file=sys.stderr)
        return 2
    os.environ["TZ"] = "UTC"
    time.tzset()

    root = os.path.abspath(".perfbench_run")
    work = os.path.join(root, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    ctx = None
    try:
        ctx = Context(args, work)
        mod = __import__(f"wl_{args.workload}")
        mod.run(ctx)
        ctx.record["host"] = common.host_record(ctx.spark, ctx.anchor_s)
        ctx.record["host"]["loadavg_start"] = LOAD_AT_START
        steal = common.steal_frac(CPU_AT_START)
        ctx.record["host"]["steal_frac"] = steal
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        summary = _summary(ctx, units) + f", steal_frac={steal:.4f}"
        ctx.record["failures"] = ctx.failures
        if args.trace:
            ctx.record["end_to_end_traced"] = ctx.e2e_values
            traces = os.path.join(root, "traces")
            os.makedirs(traces, exist_ok=True)
            path = os.path.join(
                traces, f"{args.workload}-seed{args.seed}.jsonl")
            ctx.tracer.write(path)
            ctx.record["trace_file"] = os.path.relpath(path)
            bypassed = sorted(m["name"] for m in spec["per_layer"]
                              if not m["name"].startswith(mod.LAYERS))
            ctx.record["bypassed_layers"] = bypassed
            metrics = _metrics(spec["per_layer"], ctx.layer_values,
                               bypassed)
        else:
            metrics = _metrics(spec["end_to_end"], ctx.e2e_values)
        print(summary)
        print(json.dumps({"record": ctx.record}, default=str))
        print(json.dumps({
            "correct": ctx.failed == 0,
            "attempted": max(ctx.attempted, 1),
            "failed": ctx.failed,
            "metrics": metrics,
        }))
        return 0
    except common.InvalidRun as ex:
        print(f"invalid run, not reported: {ex}", file=sys.stderr)
        return 3
    finally:
        if ctx is not None:
            common.stop_spark(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
