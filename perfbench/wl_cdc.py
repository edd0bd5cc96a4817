"""``cdc``: the live change-data-capture service, open loop, with both of
the engine's consumers reading one WAL.

Seeded wal2json v1 transactions go into SQLite WAL tables, one feed per
consumer (as each would own a replication slot). The generator process
commits fan-out changes at ``RATE`` changes/s for the measuring time
and then, after a quiet gap, a ``BURST`` of fan-out changes at once;
when the fan-out consumer has drained it, the main process commits an
``APPLY_BURST`` to the apply feed at once. Two streaming queries poll
them:

- fan-out (the reference's serving path): ``Engine.watch_db`` parses,
  normalizes and routes every change to 32 subscriptions and
  ``fanout_auto`` writes each subscriber's outbox;
  ``WsSidecar.for_engine`` pushes three subscribers' lines to the
  generator's WebSocket clients as frames.
- apply (the state-maintenance consumer): ``start_matview_query`` over
  ``normalize_hypertables(parse_wal2json(wal_poll, seq_col="lsn",
  delete_keys=True))`` keeps a 100k-row snapshot keyed by ``event_id``
  and a count/sum view by ``event_type``.

End to end, each steady-phase change routed to a WebSocket subscriber
is timed from its scheduled commit to its frame's arrival; the apply
feed is quiet then, so the apply consumer's snapshot rewrites do not
land inside that latency. Each burst is timed from its commit until its
consumer has ended the last microbatch carrying it (from the batches'
progress events: the source's ack trails one batch, so it is not used),
and the two drains, which never overlap, add up to ``suite_s``.
"""

from __future__ import annotations

import asyncio
import json
import os
import subprocess
import sys
import threading
import time
from collections import Counter
from decimal import Decimal

import common
import reference
import streams

#: steady rate of the fan-out feed, so batches stay small and
#: per-microbatch fixed cost dominates: about a sixth of the 3.7k
#: changes/s the fan-out consumer drained on a 4-core box while the
#: apply consumer drained beside it (at a quarter, batch sizes followed
#: the machine's slow stretches and the latency spread doubled)
RATE = 600.0
#: fan-out burst: about 9k transactions, under the source's
#: 10k-message batch limit, so it drains in one microbatch whose ~120k
#: routed rows pass fanout.AUTO_DRIVER_MAX_ROWS (100k) and take the
#: executor-side fanout_partitions path; steady batches take the
#: driver-side fanout_batch path
BURST = 36_000
#: apply burst, committed once the fan-out burst has drained, so each
#: consumer's drain shows in suite_s on its own
APPLY_BURST = 12_000
WARMUP = 1_000
WARMUP_BATCHES = 2
#: repetitions of each prefix in a traced run (median kept)
PREFIX_REPS = 2
#: per-layer metric name prefixes this workload measures; the others
#: (the query layer) it bypasses
LAYERS = ("wal_source.", "microbatch.", "pipeline.", "fanout.",
          "ws_sidecar.", "apply.", "session.", "setup.", "jvm.")


class Sidecar:
    """The WebSocket sidecar on its own event-loop thread."""

    def __init__(self, engine, out_dir: str) -> None:
        from speculare_pgcdc_spark.service.ws_sidecar import WsSidecar

        self.loop = asyncio.new_event_loop()
        self.thread = threading.Thread(target=self.loop.run_forever,
                                       daemon=True)
        self.thread.start()
        self.ws = WsSidecar.for_engine(engine, out_dir)
        self.port = self._call(self.ws.start())

    def _call(self, coro, timeout: float = 30):
        return asyncio.run_coroutine_threadsafe(coro, self.loop).result(
            timeout)

    def stop(self) -> None:
        self._call(self.ws.stop())

        async def cancel_rest():
            rest = [t for t in asyncio.all_tasks()
                    if t is not asyncio.current_task()]
            for t in rest:
                t.cancel()
            await asyncio.gather(*rest, return_exceptions=True)

        self._call(cancel_rest())
        self.loop.call_soon_threadsafe(self.loop.stop)
        self.thread.join(10)
        self.loop.close()


def _deliver_recorder(out_dir: str, log: str):
    """The engine's default outbox adapter, wrapped to time each call
    (traced runs only). Each call appends ``[sub_id, batch_id, start,
    end, lines, bytes]`` to the file ``log``, so calls made on the
    executors (fanout_partitions) are recorded too."""
    from speculare_pgcdc_spark.streaming.fanout import outbox_deliver

    inner = outbox_deliver(out_dir)

    def deliver(sub_id, payloads, batch_id=-1):
        t = time.time()
        inner(sub_id, payloads, batch_id)
        rec = [sub_id, batch_id, t, time.time(), len(payloads),
               sum(len(p) + 1 for p in payloads)]
        with open(log, "a") as f:
            f.write(json.dumps(rec) + "\n")

    return deliver


def _read_deliveries(log: str) -> list:
    if not os.path.exists(log):
        return []
    with open(log) as f:
        return [json.loads(ln) for ln in f if ln.strip()]


def _aggs():
    from pyspark.sql import functions as F

    return [F.count(F.lit(1)).alias("n"), F.sum("value").alias("total")]


def _apply_changes(spark, src, lookup):
    from speculare_pgcdc_spark.cdc.pipeline import (
        normalize_hypertables, parse_wal2json)

    return normalize_hypertables(
        parse_wal2json(src, seq_col="lsn", delete_keys=True), lookup)


def _seed_snapshot(seed: int, n: int, path: str) -> dict:
    """Write the apply consumer's starting snapshot (rows of the
    seeded ``events`` table) and return it as key -> row."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from fixtures import events_table

    ev = events_table(seed, n)
    cents = Decimal("0.01")
    vals = [Decimal(repr(v)).quantize(cents)
            for v in ev.column("value").to_pylist()]
    t = pa.table({
        "event_id": ev.column("event_id"),
        "user_id": ev.column("user_id"),
        "event_type": ev.column("event_type"),
        "value": pa.array(vals, pa.decimal128(12, 2)),
    })
    os.makedirs(path)
    pq.write_table(t, os.path.join(path, "part-seed.parquet"))
    return {k: (u, e, v) for k, u, e, v in zip(
        t.column("event_id").to_pylist(), t.column("user_id").to_pylist(),
        t.column("event_type").to_pylist(), vals)}


def _seed_view(rows: dict, path: str) -> None:
    """Write the view over the seed snapshot, typed as Spark types the
    view's aggregates (count bigint, sum of decimal(12,2) as
    decimal(22,2))."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    groups = sorted(reference.group_view(rows).items())
    t = pa.table({
        "event_type": pa.array([e for e, _ in groups], pa.string()),
        "n": pa.array([n for _, (n, _s) in groups], pa.int64()),
        "total": pa.array([s for _, (_n, s) in groups], pa.decimal128(22, 2)),
    })
    os.makedirs(path)
    pq.write_table(t, os.path.join(path, "part-seed.parquet"))


def run(ctx) -> None:
    from speculare_pgcdc_spark.cdc.apply import start_matview_query
    from speculare_pgcdc_spark.engine import Engine
    from speculare_pgcdc_spark.streaming import wal_source

    spark, tr = ctx.spark, ctx.tracer
    rate, burst, apply_burst, warm, n_keys = (
        (RATE / 10, BURST // 10, APPLY_BURST // 10, WARMUP // 5, 2_000)
        if ctx.small
        else (RATE, BURST, APPLY_BURST, WARMUP, streams.SEED_ROWS))
    sched = streams.Schedule(rate, ctx.seconds, burst, apply_burst, warm)
    w = ctx.work
    db, db_apply = os.path.join(w, "fanout.db"), os.path.join(w, "apply.db")
    out = os.path.join(w, "out")
    snap, view = os.path.join(w, "snapshot"), os.path.join(w, "view")
    progress = common.Progress(spark)
    lookup = spark.createDataFrame(streams.LOOKUP, "idx int, table_name string")
    engine = Engine(spark, tables=streams.TABLES)
    for i, dsl in enumerate(streams.ENGINE_SUBS):
        engine.subscribe(streams.ENGINE_SUB_BASE + i, dsl)
    txns: list = []
    seed_rows: dict = {}

    def inputs():
        txns[:] = streams.cdc_stream(ctx.seed, sched, n_keys)
        seed_rows.update(_seed_snapshot(ctx.seed, n_keys, snap))
        wal_source.ensure_wal_tables(db)
        wal_source.ensure_wal_tables(db_apply)

    ctx.fixture(inputs)
    ctx.anchor(snap)
    t_start = time.time()
    _seed_view(seed_rows, view)
    deliver_log = os.path.join(w, "deliveries.jsonl")
    fq = engine.watch_db(
        db, out, os.path.join(w, "ckpt-fanout"), lookup=lookup,
        deliver=_deliver_recorder(out, deliver_log) if tr.enabled else None)
    tr.add("setup.fanout_query", t_start, time.time())
    src = spark.readStream.format("wal_poll").option("path", db_apply) \
        .load().select("lsn", "payload")
    aq = start_matview_query(
        _apply_changes(spark, src, lookup), snap, view,
        os.path.join(w, "ckpt-apply"), "event_id", streams.APPLY_COLUMNS,
        "event_type", _aggs, tables=[streams.APPLY_TABLE])
    queries = ((fq, streams.FANOUT), (aq, streams.APPLY))

    sidecar = gen = None
    try:
        import gen as gen_mod

        tr.add("setup.queries", t_start, time.time())
        # warm-up in chunks, one microbatch each, so the JIT has settled
        # before the schedule starts
        t_warm = time.time()
        warm_txns = [t for t in txns if t.phase == streams.WARMUP]
        con = gen_mod.open_wal(db, db_apply)
        for k in range(WARMUP_BATCHES):
            chunk = warm_txns[k * len(warm_txns) // WARMUP_BATCHES:
                              (k + 1) * len(warm_txns) // WARMUP_BATCHES]
            gen_mod.commit(con, chunk)
            for q, feed in queries:
                end = max((t.lsn for t in chunk if t.feed == feed), default=0)
                if end:
                    progress.wait_for_lsn(q, end, 90)
        con.close()
        tr.add("setup.warmup", t_warm, time.time())
        if os.path.exists(deliver_log):
            os.remove(deliver_log)
        sidecar = Sidecar(engine, out)
        gen_out = os.path.join(w, "gen.json")
        t_gen = time.time()
        gen = subprocess.Popen(
            [sys.executable, gen_mod.__file__, "--seed", str(ctx.seed),
             "--db", db, "--rate", str(rate),
             "--steady-s", str(ctx.seconds), "--burst", str(burst),
             "--apply-burst", str(apply_burst), "--warmup", str(warm),
             "--seed-keys", str(n_keys), "--ws-port", str(sidecar.port),
             "--out", gen_out],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        if gen.stdout.readline().strip() != "ready":
            raise RuntimeError("generator did not connect")
        tr.add("setup.generator", t_gen, time.time())
        ctx.setup_done()
        t_go = time.time()
        gen.stdin.write("go\n")
        gen.stdin.flush()
        time.sleep(max(0.0, t_go + 0.2 + ctx.seconds - time.time()))
        ctx.phase_gc("measure")
        progress.wait_for_lsn(fq, max(t.lsn for t in txns
                                      if t.feed == streams.FANOUT), 90)
        # the apply burst goes in once the fan-out burst has drained
        con = gen_mod.open_wal(db, db_apply)
        apply_committed = gen_mod.commit(con, [
            t for t in txns
            if t.phase == streams.BURST and t.feed == streams.APPLY])
        con.close()
        progress.wait_for_lsn(aq, max(t.lsn for t in txns
                                      if t.feed == streams.APPLY), 90)
        ctx.phase_gc("burst")
        gen.wait(timeout=streams.BURST_GAP_S + 90)
        if gen.returncode != 0:
            raise RuntimeError(f"generator exited {gen.returncode}")
        pinned = common.pinned(spark)
    finally:
        if gen is not None and gen.poll() is None:
            gen.kill()
            gen.wait()
        for q, _feed in queries:
            q.stop()
        if sidecar is not None:
            sidecar.stop()
        progress.close()
    with open(gen_out) as f:
        g = json.load(f)
    common.check_late(g["late_max_s"])

    t0 = g["t0"]
    measured = [t for t in txns if t.phase != streams.WARMUP]
    due = {streams.change_id(c): t0 + t.due for t in measured
           for c in t.changes}
    steady = [t for t in measured if t.phase == streams.STEADY]
    steady_cids = {streams.change_id(c) for t in steady for c in t.changes}
    fan = common.Coverage(progress.batches(fq.runId))
    app = common.Coverage(progress.batches(aq.runId))

    fan_txns = [t for t in txns if t.feed == streams.FANOUT]
    app_txns = [t for t in txns if t.feed == streams.APPLY]
    # the sidecar hands out ids 1, 2, 3 in the clients' connect order
    ws_ids = {i + 1: dsl for i, dsl in enumerate(streams.WS_SUBS)}
    with tr.span("check"):
        want = _check_fanout(ctx, fan_txns, ws_ids, out, g)
        _check_apply(ctx, app_txns, seed_rows, snap, view)

    lat = [t_recv - due[cid] for fr in g["frames"]
           for t_recv, cid in fr if cid in steady_cids]
    fan_drain = _drain(fan, fan_txns, g["burst_commit_end"])
    app_drain = _drain(app, app_txns, apply_committed)
    ctx.e2e(latency_p50_s=common.median(lat),
            latency_p99_s=common.pct(lat, 99),
            suite_s=fan_drain + app_drain)
    ctx.settings(
        steady_rate=rate, burst=burst + apply_burst, fanout_burst=burst,
        apply_burst=apply_burst, warmup=warm, seed_rows=n_keys,
        steady_s=ctx.seconds, burst_gap_s=streams.BURST_GAP_S,
        warmup_apply_share=streams.APPLY_SHARE, subscriptions=32,
        ws_clients=3, latency_samples=len(lat), loop="open")
    ctx.record["gen"] = {"late_max_s": g["late_max_s"], "ticks": g["ticks"]}
    ctx.record["consumers"] = {"fanout_drain_s": fan_drain,
                               "apply_drain_s": app_drain}
    if not tr.enabled:
        return
    ctx.layer("fanout.drain_s", fan_drain)
    ctx.layer("apply.drain_s", app_drain)
    ctx.layer("apply.pinned_rdds", pinned[0])
    ctx.layer("apply.pinned_mb", pinned[1])
    _fanout_layers(ctx, g, fan_txns, fan, _read_deliveries(deliver_log), due,
                   steady_cids, want)
    _apply_layers(ctx, app, app_txns)
    _prefixes(ctx, fan_txns, app_txns, db, db_apply, lookup, snap, view)


def _drain(cov, feed_txns, committed: float) -> float:
    """Seconds one consumer spent on its share of the burst: from the
    commit, or from the end of the consumer's previous batch if that
    was later (a consumer still busy with the steady tail cannot start
    sooner), to the end of the last batch carrying it."""
    burst = [t for t in feed_txns if t.phase == streams.BURST]
    first = cov.of(burst[0].lsn)
    i = cov.batches.index(first)
    free = cov.batches[i - 1]["t_end"] if i else committed
    return cov.of(burst[-1].lsn)["t_end"] - max(committed, free)


# -- correctness ------------------------------------------------------------


def _outbox_cids(out: str, sid: int) -> list:
    path = os.path.join(out, str(sid), "outbox.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [streams.change_id(json.loads(ln)) for ln in f if ln.strip()]


def _check_fanout(ctx, txns, ws_ids, out, g) -> dict:
    """Each subscriber's delivered multiset equals the reference
    router's, in WAL order. The WebSocket clients connected after the
    warm-up, so they are owed only the measured changes."""
    look = dict(streams.LOOKUP)
    measured = [t for t in txns if t.phase != streams.WARMUP]
    engine_subs = {streams.ENGINE_SUB_BASE + i: d
                   for i, d in enumerate(streams.ENGINE_SUBS)}
    want = reference.route_stream(txns, engine_subs, look)
    want.update(reference.route_stream(measured, ws_ids, look))
    got = {sid: _outbox_cids(out, sid) for sid in engine_subs}
    got.update({i + 1: [c for _t, c in fr] for i, fr in
                enumerate(g["frames"])})
    pos = {streams.change_id(c): (t.lsn, i) for t in txns
           for i, c in enumerate(t.changes)}
    for sid, routes in want.items():
        ctx.attempted += len(routes)
        w = Counter(streams.change_id(c) for *_x, c in routes)
        d = Counter(got[sid])
        missing, extra = sum((w - d).values()), sum((d - w).values())
        order = [pos[c] for c in got[sid] if c in pos]
        unordered = sum(1 for a, b in zip(order, order[1:]) if b <= a)
        if missing or extra or unordered:
            ctx.fail(f"sub {sid}: {missing} missing, {extra} unexpected or "
                     f"duplicated, {unordered} out of WAL order",
                     missing + extra + unordered)
    return want


def _check_apply(ctx, txns, seed_rows, snap, view) -> None:
    """The final snapshot and view equal an in-order replay of every
    committed change over the seed rows; a key present twice counts as
    a failure."""
    import pyarrow.parquet as pq

    rows = reference.replay_apply(seed_rows, txns, dict(streams.LOOKUP),
                                  {streams.APPLY_TABLE})
    n_changes = sum(len(t.changes) for t in txns)
    got = pq.read_table(snap).to_pydict()
    have: dict = {}
    dupes = 0
    for k, u, e, v in zip(got["event_id"], got["user_id"],
                          got["event_type"], got["value"]):
        dupes += k in have
        have[k] = (u, e, v)
    bad = dupes + sum(1 for k in rows.keys() | have.keys()
                      if rows.get(k) != have.get(k))
    want_view = reference.group_view(rows)
    v = pq.read_table(view).to_pydict()
    got_view = {e: (n, s) for e, n, s in zip(v["event_type"], v["n"],
                                              v["total"])}
    bad_view = sum(1 for e in want_view.keys() | got_view.keys()
                   if want_view.get(e) != got_view.get(e))
    ctx.attempted += n_changes + len(want_view)
    if bad or bad_view:
        ctx.fail(f"apply: {bad} snapshot keys differ ({dupes} duplicated), "
                 f"{bad_view} view groups differ", bad + bad_view)


# -- per-layer (traced runs) ------------------------------------------------


def _steady_batches(cov, txns):
    warm_end = max(t.lsn for t in txns if t.phase == streams.WARMUP)
    steady_end = max(t.lsn for t in txns if t.phase == streams.STEADY)
    measured = [b for b in cov.batches if b["end_lsn"] > warm_end]
    steady = [b for b in measured if b["end_lsn"] <= steady_end]
    return measured, steady or measured


def _fanout_layers(ctx, g, txns, cov, deliveries, due, steady_cids,
                   want) -> None:
    """Source, microbatch, deliver and frame figures of the fan-out
    query, from its progress events, the wrapped deliver calls and the
    clients' receipt times."""
    import bisect

    tr = ctx.tracer
    t0 = g["t0"]
    measured, steady = _steady_batches(cov, txns)

    def med_ms(*keys):
        return common.median([sum(b["durations"].get(k, 0) for k in keys)
                              for b in steady]) / 1000

    ctx.layer("wal_source.poll_s", med_ms("latestOffset"))
    ctx.layer("wal_source.rows_per_batch",
              common.median([b["rows"] for b in steady]))
    st = [t for t in txns if t.phase == streams.STEADY]
    dues = [t0 + t.due for t in st]
    lsns = [t.lsn for t in st]
    ctx.layer("wal_source.backlog_max_msgs", max(
        bisect.bisect_right(dues, b["t_end"])
        - bisect.bisect_right(lsns, b["end_lsn"]) for b in steady))
    ctx.layer("microbatch.trigger_s", med_ms("triggerExecution"))
    ctx.layer("microbatch.planning_s", med_ms("queryPlanning"))
    ctx.layer("microbatch.add_batch_s", med_ms("addBatch"))
    ctx.layer("microbatch.commit_s", med_ms("walCommit", "commitOffsets"))
    ctx.layer("microbatch.batches", len(measured))
    for k in ("changes", "inserts", "updates", "deletes"):
        ctx.layer(f"pipeline.observed_{k}", sum(
            b["observed"]["cdc_metrics"][f"n_{k}"] for b in measured))

    steady_id = tr.add("phase.steady", t0, t0 + ctx.seconds)
    burst_id = tr.add("phase.burst", g["burst_commit_end"],
                      cov.of(txns[-1].lsn)["t_end"])
    steady_end = max(t.lsn for t in st)
    mb_id = {
        b["batch_id"]: tr.add(
            "microbatch", b["t_start"], b["t_end"],
            steady_id if b["end_lsn"] <= steady_end else burst_id,
            query="fanout", batch_id=b["batch_id"], rows=b["rows"])
        for b in measured
    }
    ret = {}
    for sid, bid, ts, te, n, nbytes in deliveries:
        tr.add("fanout.deliver", ts, te, mb_id.get(bid), sub_id=sid,
               batch_id=bid, lines=n, bytes=nbytes)
        ret[(sid, bid)] = te
    for i, fr in enumerate(g["frames"]):
        for t_recv, cid in fr:
            tr.add("ws_sidecar.frame", t_recv, t_recv, sub_id=i + 1, cid=cid)
    ctx.layer("fanout.deliver_calls", len(deliveries))
    ctx.layer("fanout.deliver_s", sum(d[3] - d[2] for d in deliveries))
    ctx.layer("fanout.lines", sum(d[4] for d in deliveries))
    ctx.layer("fanout.bytes", sum(d[5] for d in deliveries))

    lsn_of = {streams.change_id(c): t.lsn for t in txns for c in t.changes}

    def returned(sid, cid):
        b = cov.of(lsn_of[cid])
        return ret.get((sid, b["batch_id"])) if b else None

    sink, tail = [], []
    for sid, routes in want.items():
        for *_x, c in routes:
            cid = streams.change_id(c)
            r = returned(sid, cid) if cid in steady_cids else None
            if r is not None:
                sink.append(r - due[cid])
    for i, fr in enumerate(g["frames"]):
        for t_recv, cid in fr:
            r = returned(i + 1, cid) if cid in steady_cids else None
            if r is not None:
                tail.append(t_recv - r)
    ctx.layer("fanout.sink_lag_p50_s", common.median(sink))
    ctx.layer("ws_sidecar.tail_lag_p50_s", common.median(tail))
    ctx.layer("ws_sidecar.tail_lag_p99_s", common.pct(tail, 99))
    ctx.layer("ws_sidecar.frames", sum(len(fr) for fr in g["frames"]))


def _apply_layers(ctx, cov, txns) -> None:
    warm_end = max(t.lsn for t in txns if t.phase == streams.WARMUP)
    measured = [b for b in cov.batches if b["end_lsn"] > warm_end]
    ctx.layer("apply.batches", len(measured))
    for b in measured:
        ctx.tracer.add("microbatch", b["t_start"], b["t_end"], query="apply",
                       batch_id=b["batch_id"], rows=b["rows"])


def _captured_burst(spark, txns, db):
    """The feed's burst as a static, cached (lsn, payload) frame."""
    from speculare_pgcdc_spark.streaming.wal_source import SqliteWalBackend

    burst = [t for t in txns if t.phase == streams.BURST]
    rows = SqliteWalBackend(db).fetch_range(burst[0].lsn - 1, burst[-1].lsn)
    df = spark.createDataFrame(rows, "lsn bigint, payload string").cache()
    df.count()
    return df


def _prefixes(ctx, fan_txns, app_txns, db, db_apply, lookup, snap,
              view) -> None:
    """Self times from cumulative prefixes over each feed's captured
    burst, a static frame read back with
    ``SqliteWalBackend.fetch_range``:

    - CDC: parse_wal2json -> +normalize_hypertables -> +route ->
      fanout_auto (to a scratch outbox), each to the noop sink;
    - apply: latest_changes -> apply_latest -> touched_groups_latest +
      refresh_aggregates -> parquet writes, each step materialized the
      way the consumer materializes it, so a prefix's cost is the sum
      of its steps."""
    from pyspark.sql import functions as F
    from speculare_pgcdc_spark.cdc.apply import (
        apply_latest, latest_changes, refresh_aggregates,
        touched_groups_latest)
    from speculare_pgcdc_spark.cdc.pipeline import (
        normalize_hypertables, parse_wal2json, route, subscriptions_df)
    from speculare_pgcdc_spark.streaming.fanout import fanout_auto

    spark, tr = ctx.spark, ctx.tracer
    payloads = _captured_burst(spark, fan_txns, db)
    subs = subscriptions_df(spark, [
        *((streams.ENGINE_SUB_BASE + i, d)
          for i, d in enumerate(streams.ENGINE_SUBS)),
        *((i + 1, d) for i, d in enumerate(streams.WS_SUBS)),
    ], streams.TABLES).cache()
    subs.count()

    def normalized():
        return normalize_hypertables(
            parse_wal2json(payloads, seq_col="lsn"), lookup)

    def routed():
        return route(normalized(), subs)

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    cum = []
    for name, fn in (
        ("pipeline.parse",
         lambda: noop(parse_wal2json(payloads, seq_col="lsn"))),
        ("pipeline.normalize", lambda: noop(normalized())),
        ("pipeline.route", lambda: noop(routed())),
    ):
        t = time.time()
        cum.append(common.timed(fn, PREFIX_REPS))
        tr.add(f"prefix.{name}", t, time.time(), cumulative_s=cum[-1])
    self_s = [cum[0]] + [max(0.0, b - a) for a, b in zip(cum, cum[1:])]
    ctx.layer("pipeline.parse_s", self_s[0])
    ctx.layer("pipeline.normalize_s", self_s[1])
    ctx.layer("pipeline.route_s", self_s[2])

    # the full prefix through fanout_auto, less the wall time its
    # deliver calls cover (they may run in parallel on the executors)
    log = os.path.join(ctx.work, "prefix-deliveries.jsonl")
    deliver = _deliver_recorder(os.path.join(ctx.work, "prefix-out"), log)
    fan = []
    for _ in range(PREFIX_REPS):
        if os.path.exists(log):
            os.remove(log)
        t = time.time()
        fanout_auto(routed(), deliver)
        end = time.time()
        pid = tr.add("prefix.fanout", t, end)
        spans = [{"id": 1, "start": t, "end": end, "parent": None}]
        for i, d in enumerate(_read_deliveries(log)):
            spans.append({"id": i + 2, "start": d[2], "end": d[3],
                          "parent": 1})
            tr.add("fanout.deliver", d[2], d[3], pid, sub_id=d[0],
                   lines=d[4], bytes=d[5])
        fan.append(common.self_times(spans)[1])
    ctx.layer("fanout.self_s", max(0.0, common.median(fan) - cum[2]))
    n_changes = normalized().count()
    r = routed()
    n_routed = r.count()
    n_routable = r.select("seq", "chg_idx").distinct().count()
    ctx.layer("pipeline.changes", n_changes)
    ctx.layer("pipeline.routed_rows", n_routed)
    ctx.layer("pipeline.fanout_factor", n_routed / n_changes)
    ctx.layer("pipeline.unroutable_frac", 1 - n_routable / n_changes)

    # apply steps over the same captured batch
    key, cols = "event_id", streams.APPLY_COLUMNS
    tables = [streams.APPLY_TABLE]

    apply_payloads = _captured_burst(spark, app_txns, db_apply)

    def changes():
        return _apply_changes(spark, apply_payloads, lookup)

    base = spark.read.parquet(snap)
    mv_old = spark.read.parquet(view)
    scratch = os.path.join(ctx.work, "prefix-apply")
    step = {}

    def steps():
        t = time.time()
        noop(changes())
        step["parse"] = time.time() - t
        t = time.time()
        lat = latest_changes(changes(), key, cols[key], tables) \
            .localCheckpoint(eager=True)
        step["latest"] = time.time() - t - step["parse"]
        t = time.time()
        new = apply_latest(base, lat, key, cols).localCheckpoint(eager=True)
        step["merge"] = time.time() - t
        t = time.time()
        groups = touched_groups_latest(base, lat, key, "event_type")
        mv_new = refresh_aggregates(mv_old, new, groups, "event_type",
                                    _aggs()).localCheckpoint(eager=True)
        step["refresh"] = time.time() - t
        t = time.time()
        new.write.mode("overwrite").parquet(os.path.join(scratch, "snap"))
        mv_new.write.mode("overwrite").parquet(os.path.join(scratch, "view"))
        step["write"] = time.time() - t
        step["keys"] = lat.count()
        step["groups"] = groups.count()

    t = time.time()
    steps()
    tr.add("prefix.apply", t, time.time(), **{
        k: v for k, v in step.items() if k not in ("keys", "groups")})
    n_apply = changes().filter(F.col("table_name").isin(tables)).count()
    ctx.layer("apply.latest_s", max(0.0, step["latest"]))
    ctx.layer("apply.merge_s", step["merge"])
    ctx.layer("apply.refresh_s", step["refresh"])
    ctx.layer("apply.write_s", step["write"])
    ctx.layer("apply.changes", n_apply)
    ctx.layer("apply.keys_touched", step["keys"])
    ctx.layer("apply.collapse_ratio", step["keys"] / n_apply)
    ctx.layer("apply.groups_touched", step["groups"])
    ctx.layer("apply.bytes_written", sum(
        os.path.getsize(os.path.join(d, f))
        for d, _s, fs in os.walk(scratch) for f in fs))
    for df in (payloads, subs, apply_payloads):
        df.unpersist()
