"""Pieces every workload shares: the Spark session, microbatch progress
capture, the span recorder, and small statistics helpers."""

from __future__ import annotations

import bisect
import json
import os
import subprocess
import threading
import time
from contextlib import contextmanager
from datetime import datetime

#: one process-wide clock origin, taken before anything heavy is
#: imported: setup_s counts from here
PROCESS_START = time.time()


#: a generator that ran this far behind its schedule invalidates the run
LATE_LIMIT_S = 0.5


class InvalidRun(Exception):
    """The run cannot be reported: the generator fell behind its
    schedule, so the load was not the open loop it claims to be."""


def check_late(late_s: float) -> None:
    if late_s > LATE_LIMIT_S:
        raise InvalidRun(f"generator ran {late_s:.3f}s behind schedule")


def pct(values, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    v = sorted(values)
    if not v:
        raise ValueError("percentile of no samples")
    k = (len(v) - 1) * q / 100
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def median(values) -> float:
    return pct(values, 50)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: str):
    """The engine's own session (``session.get_spark``) at
    local[nproc], with every scratch path inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ["TMPDIR"] = tmp
    # no JVM perf-counter files in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    # Python workers (the wal_poll source runner among them) import the
    # engine package from the repository root, wherever they start
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    from speculare_pgcdc_spark.session import get_spark

    t = time.time()
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.time() - t


def gc_ms(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return float(sum(b.getCollectionTime() for b in beans))


def pinned(spark):
    """(count, MB) of RDDs currently persisted or locally checkpointed."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    mb = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
    return len(infos), mb


def duckdb_anchor(parquet: str, reps: int = 5) -> float:
    """Median time of one fixed DuckDB aggregation over ``parquet``:
    a same-run yardstick for how fast the machine is right now."""
    import duckdb

    if os.path.isdir(parquet):
        parquet = os.path.join(parquet, "*.parquet")
    con = duckdb.connect()
    con.execute("PRAGMA threads=%d" % cpus())
    sql = (
        "SELECT event_type, user_id % 97 AS b, COUNT(*), SUM(value) "
        "FROM read_parquet(?) GROUP BY ALL ORDER BY ALL"
    )
    times = []
    for _ in range(reps):
        t = time.time()
        con.execute(sql, [parquet]).fetchall()
        times.append(time.time() - t)
    con.close()
    return median(times)


def cpu_times() -> list:
    """The machine-wide jiffy counters of /proc/stat's ``cpu`` line."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(start: list) -> float:
    """Share of CPU time the hypervisor took from this machine since
    ``start`` (a :func:`cpu_times` reading)."""
    d = [b - a for a, b in zip(start, cpu_times())]
    return d[7] / max(sum(d), 1)


def host_record(spark, anchor_s: float) -> dict:
    import duckdb
    import pyspark

    return {
        "cpus": cpus(),
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "duckdb_anchor_s": anchor_s,
        "loadavg_end": list(os.getloadavg()),
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "duckdb": duckdb.__version__,
    }


class Progress:
    """Collects every StreamingQueryProgress of the session through a
    StreamingQueryListener (Spark's per-microbatch monitoring
    interface)."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events = []
        lock = self._lock = threading.Lock()

        class _L(StreamingQueryListener):
            def onQueryStarted(self, e):
                pass

            def onQueryProgress(self, e):
                p = json.loads(e.progress.json)
                with lock:
                    events.append(p)

            def onQueryIdle(self, e):
                pass

            def onQueryTerminated(self, e):
                pass

        self._listener = _L()
        spark.streams.addListener(self._listener)
        self._spark = spark

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)

    def batches(self, run_id: str) -> list:
        """Data-carrying microbatches of one query run, in order, each
        as a dict with its LSN range and end time."""
        with self._lock:
            evs = [p for p in self.events if p["runId"] == run_id]
        out = []
        for p in evs:
            if not p.get("numInputRows"):
                continue
            src = p["sources"][0]
            start = _lsn(src.get("startOffset"))
            end = _lsn(src.get("endOffset"))
            t_start = _ts(p["timestamp"])
            d = p["durationMs"]
            out.append({
                "batch_id": p["batchId"],
                "start_lsn": start,
                "end_lsn": end,
                "rows": p["numInputRows"],
                "t_start": t_start,
                "t_end": t_start + d.get("triggerExecution", 0) / 1000,
                "durations": d,
                "observed": p.get("observedMetrics") or {},
            })
        out.sort(key=lambda b: b["batch_id"])
        return out

    def wait_for_lsn(self, query, lsn: int, timeout: float) -> None:
        """Block until a batch of ``query`` ends at or past ``lsn``;
        raise if the query dies or the time runs out."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            b = self.batches(query.runId)
            if b and b[-1]["end_lsn"] >= lsn:
                return
            if not query.isActive:
                raise RuntimeError(f"{query.name} stopped: "
                                   f"{query.exception()}")
            time.sleep(0.05)
        raise RuntimeError(f"{query.name}: no batch reached LSN {lsn} "
                           f"within {timeout:.0f}s")


def _lsn(off) -> int:
    if off is None:
        return 0
    if isinstance(off, str):
        off = json.loads(off)
    return int(off["lsn"])


def _ts(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class Coverage:
    """Maps a WAL position to the microbatch that carried it."""

    def __init__(self, batches: list) -> None:
        self.batches = batches
        self._ends = [b["end_lsn"] for b in batches]

    def of(self, lsn: int):
        i = bisect.bisect_left(self._ends, lsn)
        if i == len(self.batches):
            return None
        b = self.batches[i]
        return b if b["start_lsn"] < lsn <= b["end_lsn"] else None


class Tracer:
    """In-memory spans (name, start, end, parent, attrs), written as
    JSONL when the run ends. A no-op when tracing is off, so the
    untraced run pays nothing for it."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list = []
        self._ids = iter(range(1, 1 << 62))
        self._lock = threading.Lock()

    def add(self, name: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int:
        if not self.enabled:
            return 0
        with self._lock:
            sid = next(self._ids)
            self.spans.append({"id": sid, "name": name, "start": start,
                               "end": end, "parent": parent, **attrs})
        return sid

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        t = time.time()
        box = {"id": 0}
        try:
            yield box
        finally:
            box["id"] = self.add(name, t, time.time(), parent, **attrs)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def self_times(spans: list) -> dict:
    """Span id -> duration minus the union of its children's
    intervals (clipped to the parent)."""
    kids: dict = {}
    for s in spans:
        if s.get("parent"):
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        iv = sorted(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in kids.get(s["id"], [])
        )
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def timed(fn, reps: int = 1):
    """Median wall time of ``fn()`` over ``reps`` calls."""
    times = []
    for _ in range(reps):
        t = time.time()
        fn()
        times.append(time.time() - t)
    return median(times)


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
