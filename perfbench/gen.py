"""Open-loop change generator: a process of its own, separate from the
engine under test.

It rebuilds the workload's stream from the seed and commits the
fan-out feed into its SQLite WAL table on the stream's schedule, which
never waits for the engine: steady transactions are committed in ticks
of ``TICK_S`` as they fall due, the fan-out burst all at once. It also
holds the three WebSocket clients and time-stamps every frame they
receive. It talks to the engine only through those WAL rows and
WebSocket connects; the benchmark's main process (run.py) tells it when
to start over stdin, and commits the warm-up and the apply feed's burst
itself.

    python3 perfbench/gen.py --seed 1 --db fanout.db --rate 600 \
        --steady-s 10 --burst 36000 --apply-burst 12000 --warmup 1500 \
        --ws-port 8765 --out gen.json

Prints ``ready`` once connected, starts the schedule on a ``go`` line,
and writes its record to ``--out``.
"""

from __future__ import annotations

import argparse
import asyncio
import base64
import json
import os
import sqlite3
import sys
import time
from urllib.parse import quote

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import reference  # noqa: E402
import streams  # noqa: E402

#: commit granularity of the steady phase (group commit, as a busy
#: writer would); lateness beyond it is reported as gen.late_max_s
TICK_S = 0.005
#: how long to wait for outstanding frames after the burst
FRAME_WAIT_S = 60.0


class WsClient:
    """Minimal RFC 6455 client: upgrade, read unmasked server frames,
    send one masked close."""

    def __init__(self, port: int, dsl: str) -> None:
        self.port, self.dsl = port, dsl
        self.frames: list = []  # (t_recv, raw payload bytes)

    async def connect(self) -> None:
        self.reader, self.writer = await asyncio.open_connection(
            "127.0.0.1", self.port, limit=1 << 22
        )
        key = base64.b64encode(os.urandom(16)).decode()
        self.writer.write((
            f"GET /ws?query={quote(self.dsl, safe='')} HTTP/1.1\r\n"
            f"Host: 127.0.0.1:{self.port}\r\nUpgrade: websocket\r\n"
            "Connection: Upgrade\r\n"
            f"Sec-WebSocket-Key: {key}\r\nSec-WebSocket-Version: 13\r\n\r\n"
        ).encode())
        await self.writer.drain()
        head = await self.reader.readuntil(b"\r\n\r\n")
        if b" 101 " not in head.split(b"\r\n", 1)[0]:
            raise RuntimeError(f"upgrade refused: {head[:200]!r}")

    async def receive(self) -> None:
        r = self.reader
        try:
            while True:
                b1, b2 = await r.readexactly(2)
                n = b2 & 0x7F
                if n == 126:
                    n = int.from_bytes(await r.readexactly(2), "big")
                elif n == 127:
                    n = int.from_bytes(await r.readexactly(8), "big")
                data = await r.readexactly(n)
                if b1 & 0x0F == 0x8:
                    return
                if b1 & 0x0F == 0x1:
                    self.frames.append((time.time(), data))
        except (asyncio.IncompleteReadError, ConnectionResetError):
            return

    async def close(self) -> None:
        mask = os.urandom(4)
        body = (1000).to_bytes(2, "big")
        self.writer.write(bytes([0x88, 0x80 | len(body)]) + mask + bytes(
            c ^ mask[i % 4] for i, c in enumerate(body)))
        try:
            await self.writer.drain()
        except ConnectionError:
            pass
        self.writer.close()


def open_wal(fanout_db: str, apply_db: str | None = None):
    """One connection to the fan-out feed, with the apply feed attached
    when given."""
    con = sqlite3.connect(fanout_db, timeout=30)
    con.execute("PRAGMA journal_mode=WAL")
    con.execute("PRAGMA busy_timeout=30000")
    if apply_db:
        con.execute("ATTACH DATABASE ? AS apply", (apply_db,))
        con.execute("PRAGMA apply.journal_mode=WAL")
    return con


def commit(con: sqlite3.Connection, txns) -> float:
    """Commit ``txns`` to their feeds in one transaction; returns the
    time the commit ended."""
    for feed, table in ((streams.FANOUT, "main.wal"),
                        (streams.APPLY, "apply.wal")):
        rows = [(t.lsn, t.payload()) for t in txns if t.feed == feed]
        if rows:
            con.executemany(f"INSERT INTO {table} VALUES (?, ?)", rows)
    con.commit()
    return time.time()


async def run(a) -> dict:
    sched = streams.Schedule(a.rate, a.steady_s, a.burst, a.apply_burst,
                             a.warmup)
    txns = [t for t in streams.cdc_stream(a.seed, sched, a.seed_keys)
            if t.phase != streams.WARMUP and t.feed == streams.FANOUT]
    clients = []
    # connect one at a time so the sidecar hands out ids 1, 2, 3
    for dsl in streams.WS_SUBS:
        c = WsClient(a.ws_port, dsl)
        await c.connect()
        clients.append(c)
    receivers = [asyncio.create_task(c.receive()) for c in clients]
    owed = [len(reference.route_stream(txns, {0: dsl},
                                       dict(streams.LOOKUP))[0])
            for dsl in streams.WS_SUBS]
    print("ready", flush=True)
    loop = asyncio.get_running_loop()
    if (await loop.run_in_executor(None, sys.stdin.readline)).strip() != "go":
        raise SystemExit("generator: expected 'go'")

    con = open_wal(a.db)
    t0 = time.time() + 0.2
    late_max = 0.0
    ticks = 0
    steady = [t for t in txns if t.phase == streams.STEADY]
    burst = [t for t in txns if t.phase == streams.BURST]
    i = 0
    while i < len(steady):
        now = time.time() - t0
        first_due = steady[i].due
        if first_due > now:
            await asyncio.sleep(min(TICK_S, first_due - now))
            continue
        j = i
        while j < len(steady) and steady[j].due <= now:
            j += 1
        done = commit(con, steady[i:j])
        late_max = max(late_max, done - t0 - first_due)
        ticks += 1
        i = j
    burst_due = t0 + sched.burst_due
    while time.time() < burst_due:
        await asyncio.sleep(min(TICK_S, burst_due - time.time()))
    burst_start = time.time()
    burst_end = commit(con, burst) if burst else burst_start
    late_max = max(late_max, burst_start - burst_due)
    con.close()

    deadline = time.time() + FRAME_WAIT_S
    while time.time() < deadline and any(
        len(c.frames) < n for c, n in zip(clients, owed)
    ):
        await asyncio.sleep(0.02)
    # linger briefly so a duplicate or surplus frame is seen too
    await asyncio.sleep(0.3)
    for c in clients:
        await c.close()
    for r in receivers:
        try:
            await asyncio.wait_for(r, 5)
        except asyncio.TimeoutError:
            r.cancel()
    return {
        "t0": t0,
        "ticks": ticks,
        "late_max_s": late_max,
        "burst_commit_start": burst_start,
        "burst_commit_end": burst_end,
        "frames": [
            [[t, streams.change_id(json.loads(raw))] for t, raw in c.frames]
            for c in clients
        ],
    }


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--db", required=True, help="fan-out feed")
    p.add_argument("--rate", type=float, required=True)
    p.add_argument("--steady-s", type=float, required=True)
    p.add_argument("--burst", type=int, required=True)
    p.add_argument("--apply-burst", type=int, required=True)
    p.add_argument("--warmup", type=int, required=True)
    p.add_argument("--seed-keys", type=int, default=streams.SEED_ROWS)
    p.add_argument("--ws-port", type=int, required=True)
    p.add_argument("--out", required=True)
    a = p.parse_args()
    rec = asyncio.run(run(a))
    with open(a.out, "w") as f:
        json.dump(rec, f)


if __name__ == "__main__":
    main()
