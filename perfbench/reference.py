"""Reference computations the benchmark checks the engine against.

Written from the reference service's rules, sharing no code with the
engine under test: a per-change router (forwarder/mod.rs routing plus
the specific_filter quirk that eq/in match only string-typed cells) and
an in-order apply replay. Standard library only, so the generator can
use the router to know how many frames each WebSocket client is owed.
"""

from __future__ import annotations

import re
from decimal import Decimal

_FLAGS = {"insert": 2, "update": 4, "delete": 8}
_HYPER = re.compile(r"^_hyper_(\d+)_")


def parse_sub(dsl: str):
    """``kinds:table[:col.(eq|in).v[,v]*]`` -> (table, flag, col, vals).
    An unknown operator drops the filter, as the reference does."""
    parts = dsl.split(":")
    flag = 0
    for k in parts[0].split(","):
        flag |= 14 if k == "*" else _FLAGS.get(k, 0)
    col = vals = None
    if len(parts) >= 3:
        f = parts[2].split(".", 2)
        if len(f) == 3 and f[1] in ("eq", "in"):
            col = f[0]
            vals = (f[2],) if f[1] == "eq" else tuple(f[2].split(","))
    return parts[1], flag, col, vals


def base_table(raw: str, lookup: dict) -> str:
    m = _HYPER.match(raw)
    if m and int(m.group(1)) in lookup:
        return lookup[int(m.group(1))]
    return raw


def matches(change: dict, table: str, sub) -> bool:
    s_table, flag, col, vals = sub
    if table != s_table or not (_FLAGS.get(change["kind"], 0) & flag):
        return False
    if col is None:
        return True
    names = change.get("columnnames")
    if not names or col not in names:
        return False
    cell = change["columnvalues"][names.index(col)]
    return isinstance(cell, str) and cell in vals


def route_stream(txns, subs: dict, lookup: dict) -> dict:
    """sub_id -> [(lsn, chg_idx, change)] in WAL order, for every
    change a subscription should receive."""
    parsed = {sid: parse_sub(d) for sid, d in subs.items()}
    out: dict = {sid: [] for sid in subs}
    for t in txns:
        for i, ch in enumerate(t.changes):
            table = base_table(ch["table"], lookup)
            for sid, sub in parsed.items():
                if matches(ch, table, sub):
                    out[sid].append((t.lsn, i, ch))
    return out


def replay_apply(seed_rows: dict, txns, lookup: dict, tables) -> dict:
    """key -> row after applying every change in WAL order, each
    insert/update replacing the row and each delete removing it."""
    rows = dict(seed_rows)
    for t in txns:
        for ch in t.changes:
            if base_table(ch["table"], lookup) not in tables:
                continue
            if ch["kind"] == "delete":
                ok = ch["oldkeys"]
                rows.pop(int(ok["keyvalues"][ok["keynames"].index(
                    "event_id")]), None)
                continue
            r = dict(zip(ch["columnnames"], ch["columnvalues"]))
            rows[int(r["event_id"])] = (
                int(r["user_id"]), str(r["event_type"]),
                Decimal(repr(r["value"])).quantize(Decimal("0.01")),
            )
    return rows


def group_view(rows: dict) -> dict:
    """event_type -> (count, sum(value)) over a replayed snapshot."""
    view: dict = {}
    for _uid, etype, value in rows.values():
        n, s = view.get(etype, (0, Decimal(0)))
        view[etype] = (n + 1, s + value)
    return view
