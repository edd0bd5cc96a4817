"""Seeded change streams for the open-loop workloads.

Both the generator process (which commits them) and the benchmark's
main process (which checks the engine's outputs against a reference) rebuild
the same stream from the workload seed, so nothing but the seed crosses
between them. Standard library only: the generator must not import
Spark.

A stream is a list of wal2json v1 transactions, one WAL row each:
``Txn(lsn, due, phase, changes)``. ``due`` is the scheduled commit time
in seconds after the schedule starts; latency is measured from it, not
from the actual commit, so a stalled commit counts against the engine
the way it would for a real writer.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field

#: phases, in schedule order. ``warmup`` is committed by the main
#: process before the generator starts and is never timed.
WARMUP, STEADY, BURST = "warmup", "steady", "burst"

#: quiet gap between the steady phase and the burst, so the burst is
#: committed into an idle pipeline and its drain time is not a
#: function of where the last steady batch happened to be
BURST_GAP_S = 2.0


#: the two feeds: each consumer polls its own WAL table, as each
#: would hold its own replication slot
FANOUT, APPLY = "fanout", "apply"


@dataclass
class Txn:
    lsn: int
    due: float
    phase: str
    feed: str
    changes: list = field(default_factory=list)

    def payload(self) -> str:
        return json.dumps({"xid": self.lsn, "change": self.changes})


@dataclass(frozen=True)
class Schedule:
    """How many changes each phase holds and when they are due."""

    rate: float  # steady changes per second
    steady_s: float
    burst: int  # fan-out changes committed at once after the steady phase
    apply_burst: int  # apply changes committed once the fan-out burst drained
    warmup: int  # changes committed by the main process before timing

    @property
    def burst_due(self) -> float:
        return self.steady_s + BURST_GAP_S


def _cell(v):
    return "text" if isinstance(v, str) else (
        "bigint" if isinstance(v, int) else "numeric"
    )


def _row_change(kind, table, names, values):
    return {
        "kind": kind,
        "schema": "public",
        "table": table,
        "columnnames": names,
        "columntypes": [_cell(v) for v in values],
        "columnvalues": values,
    }


def _delete_change(table, keynames, keyvalues):
    return {
        "kind": "delete",
        "schema": "public",
        "table": table,
        "oldkeys": {
            "keynames": keynames,
            "keytypes": [_cell(v) for v in keyvalues],
            "keyvalues": keyvalues,
        },
    }


def _phased(sched: Schedule, make_txn, rng: random.Random) -> list:
    """Lay transactions out over the phases (``make_txn(size, feed)``
    returns the changes). Warm-up transactions go to either feed, the
    steady phase to the fan-out feed; the burst is the fan-out feed's
    share followed by the apply feed's. Steady transactions are due
    when the schedule has emitted ``changes_before / rate`` seconds'
    worth of changes; every burst transaction is due at the same
    instant. LSNs rise across both feeds, as in one server's WAL."""
    txns: list[Txn] = []
    lsn = 1000

    def fill(phase, n_changes, due_of, feed_of):
        nonlocal lsn
        emitted = 0
        while emitted < n_changes:
            size = min(rng.randint(1, 7), n_changes - emitted)
            lsn += rng.randint(1, 64) * 8  # byte-position-like gaps
            feed = feed_of()
            txns.append(Txn(lsn, due_of(emitted), phase, feed,
                            make_txn(size, feed)))
            emitted += size

    fill(WARMUP, sched.warmup, lambda _n: 0.0,
         lambda: APPLY if rng.random() < APPLY_SHARE else FANOUT)
    fill(STEADY, int(sched.rate * sched.steady_s),
         lambda n: n / sched.rate, lambda: FANOUT)
    fill(BURST, sched.burst, lambda _n: sched.burst_due, lambda: FANOUT)
    fill(BURST, sched.apply_burst, lambda _n: sched.burst_due, lambda: APPLY)
    return txns


# -- the cdc stream ----------------------------------------------------

#: hypertable catalog (idx -> base table); idx 9 is deliberately absent,
#: so ``_hyper_9_*`` chunks keep their raw name and route nowhere
LOOKUP = [(1, "events_a"), (2, "events_b"), (3, "metrics"), (4, "events")]
TABLES = ["events_a", "events_b", "metrics", "audit"]
#: the table the apply consumer maintains as a snapshot + view
APPLY_TABLE = "events"
#: share of warm-up transactions on the apply feed; the steady phase
#: is fan-out only, so the apply consumer's snapshot rewrites do not
#: land inside the fan-out latency being measured
APPLY_SHARE = 0.5

#: 32 subscriptions: table-only, kind-filtered, eq and in predicates.
#: ``user_id`` cells are JSON numbers, so the two user_id filters can
#: never match (eq/in compare string cells only); ``event_type`` is a
#: number in a share of the changes, which must not match "7" either.
WS_SUBS = [
    "*:events_a",
    "insert,update:events_b:event_type.in.click,purchase",
    "*:metrics:region.eq.eu",
]
ENGINE_SUBS = [
    "*:events_a",
    "*:events_b",
    "*:metrics",
    "insert:events_a",
    "update:events_a",
    "delete:events_a",
    "insert,update:events_b",
    "delete:events_b",
    "insert:metrics",
    "update,delete:metrics",
    "*:audit",
    "*:events_a:event_type.eq.click",
    "*:events_a:event_type.eq.view",
    "insert:events_a:event_type.eq.purchase",
    "update:events_b:event_type.eq.signup",
    "*:events_b:region.eq.us",
    "*:metrics:region.eq.ap",
    "insert,update:metrics:event_type.eq.7",
    "*:events_a:user_id.eq.42",
    "*:events_a:event_type.in.click,view,error",
    "insert:events_b:event_type.in.signup,error",
    "*:events_b:region.in.eu,ap",
    "update:metrics:region.in.us,eu",
    "*:metrics:event_type.in.7,click",
    "delete:events_a:event_type.eq.click",
    "insert:events_b:user_id.in.1,2,3",
    "*:events_b:event_type.eq.purchase",
    "insert,update:events_a:region.eq.us",
    "*:metrics:user_id.eq.7",
]
#: engine-registered subscription ids start here, clear of the ids the
#: WebSocket sidecar hands out (1, 2, 3, ...)
ENGINE_SUB_BASE = 100

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
REGIONS = ["eu", "us", "ap"]

#: the snapshot the apply consumer maintains (key first)
APPLY_COLUMNS = {
    "event_id": "bigint",
    "user_id": "bigint",
    "event_type": "string",
    "value": "decimal(12,2)",
}
SEED_ROWS = 100_000


class _Keys:
    """Live keys of the apply table. Picks are skewed toward a small
    hot set, so a key often changes several times inside one
    microbatch."""

    def __init__(self, n: int, rng: random.Random) -> None:
        self.live = list(range(n))
        self.pos = {k: i for i, k in enumerate(self.live)}
        self.next = n
        self.rng = rng

    def pick(self) -> int:
        # power-law over the live list: index ~ n * u^4
        return self.live[int(len(self.live) * self.rng.random() ** 4)]

    def add(self) -> int:
        k = self.next
        self.next += 1
        self.pos[k] = len(self.live)
        self.live.append(k)
        return k

    def drop(self, k: int) -> None:
        i = self.pos.pop(k)
        last = self.live.pop()
        if i < len(self.live):
            self.live[i] = last
            self.pos[last] = i


def cdc_stream(seed: int, sched: Schedule, seed_keys: int = SEED_ROWS):
    """Transactions for both feeds. The fan-out feed changes the
    dispatch tables (a share on unknown hypertable chunks or with
    number-typed cells); the apply feed upserts and deletes rows of
    the apply table over its ``seed_keys`` seeded rows, where some
    deletes hit a key the same transaction just updated."""
    rng = random.Random(seed)
    keys = _Keys(seed_keys, rng)
    cid = 0

    def table():
        r = rng.random()
        if r < 0.08:
            return f"_hyper_9_{rng.randint(1, 6)}_chunk"  # unroutable
        if r < 0.11:
            return "audit"
        idx = rng.choice((1, 1, 2, 2, 3))
        return f"_hyper_{idx}_{rng.randint(1, 6)}_chunk"

    def dispatch_change():
        t = table()
        rowid = rng.randint(1, 50_000)
        r = rng.random()
        if r < 0.15:
            return _delete_change(t, ["id", "cid"], [rowid, cid])
        kind = "insert" if r < 0.6 else "update"
        etype = 7 if rng.random() < 0.1 else rng.choice(EVENT_TYPES)
        return _row_change(
            kind, t, ["id", "cid", "event_type", "user_id", "region", "value"],
            [rowid, cid, etype, rng.randint(1, 2000), rng.choice(REGIONS),
             round(rng.uniform(0, 500), 2)])

    def upsert(kind, k):
        return _row_change(
            kind, f"_hyper_4_{k % 8}_chunk",
            ["event_id", "cid", "user_id", "event_type", "value"],
            [k, cid, rng.randint(1, 1500), rng.choice(EVENT_TYPES),
             rng.randint(0, 56000) / 100])

    def apply_change(updated: list):
        r = rng.random()
        if r < 0.25:
            return upsert("insert", keys.add())
        if r < 0.88 or not keys.live:
            k = keys.pick()
            updated.append(k)
            return upsert("update", k)
        k = updated.pop() if updated and rng.random() < 0.5 else keys.pick()
        if k not in keys.pos:  # already deleted in this transaction
            return upsert("insert", keys.add())
        keys.drop(k)
        return _delete_change(f"_hyper_4_{k % 8}_chunk", ["event_id", "cid"],
                              [k, cid])

    def make_txn(size, feed):
        nonlocal cid
        updated: list = []
        out = []
        for _ in range(size):
            cid += 1
            out.append(apply_change(updated) if feed == APPLY
                       else dispatch_change())
        return out

    return _phased(sched, make_txn, rng)


def change_id(change: dict) -> int:
    """The ``cid`` every change carries, from a change as generated or
    as delivered (the engine's canonical JSON)."""
    if change.get("columnnames"):
        return int(change["columnvalues"][change["columnnames"].index("cid")])
    ok = change["oldkeys"]
    return int(ok["keyvalues"][ok["keynames"].index("cid")])
