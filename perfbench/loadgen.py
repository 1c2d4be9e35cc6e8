"""Seeded load generator for the bus CDC workloads, run as its own process.

It plays the RestBus → NiFi → MySQL → Debezium → Kafka leg. Every bus in
the fleet reports its position once per 30 s cycle, as in the reference,
in a slot of the cycle of its own. Each *tick* is one poll of the agency's
vehicle feed, SLICES polls per cycle, and returns the buses that reported
since the previous poll. Each report becomes a Debezium insert envelope
with a new `record_id` (the reference's AUTO_INCREMENT key). A tick also
carries, in proportion to its reports, the change kinds the reference
never produces but the table exists to handle: later-`event_time`
updates, lower-`event_time` late re-deliveries of an earlier insert (these
must lose the precombine unless the key was deleted in an earlier batch),
deletes, and malformed lines. `event_time` is unique
per record and per vehicle, so the precombine never sees a tie and the
oracle is exact. perfbench/METRICS.md gives the source of every traffic
figure below.

Each tick is one JSONL file in the spool directory, written atomically (a
hidden temp file, then a rename), so the file stream source never sees a
partial tick. The generator keeps a ledger of every envelope (one JSON line
per tick) for the benchmark's oracles; the program under test sees only
the spool files.

Protocol when run as a process (``python3 loadgen.py ...``):

1. writes ``--backlog-ticks`` ticks at once (the backlog a restarted
   pipeline must drain), prints ``backlog <seconds>`` and flushes;
2. if ``--live-seconds`` > 0, waits for a ``go <t0>`` line on stdin, then
   writes one tick every ``--interval`` seconds on a schedule anchored at
   t0 that never slows down when the consumer does, and prints
   ``live <json summary>`` when done. Any other line, or end of input,
   ends it instead.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time

#: routes in the feed. The reference polls route 510 and its sample row is
#: on route 7; the other ids stand for the rest of the agency's routes.
N_ROUTES = 32
ROUTES = (510, 7) + tuple(range(11, 11 + N_ROUTES - 2))
#: mean buses per route: the reference's one route has single-digit buses
VEHICLES_PER_ROUTE = 8
#: buses per route fall off as 1/rank (plain Zipf), route 510 the busiest
ZIPF_S = 1.0
#: share of a tick's envelopes that are the poll's inserts
INSERT_SHARE = 0.80
#: the other change kinds -> share of a tick's envelopes
OTHER_SHARES = (("update", 0.08), ("late", 0.05), ("delete", 0.04), ("malformed", 0.03))
CYCLE_MS = 30_000  # the reference's poll interval: each bus reports once per cycle
#: polls per cycle; event_time advances CYCLE_MS / SLICES per tick
SLICES = 5
BASE_MS = 1_656_980_233_000  # the reference sample envelope's event_time


def route_sizes(n_vehicles: int) -> list[int]:
    """Buses per route (in ROUTES order): Zipf weights, every route at least
    one bus, rounding remainders to the busiest routes."""
    w = [1.0 / (k + 1) ** ZIPF_S for k in range(N_ROUTES)]
    sizes = [max(1, int(n_vehicles * x / sum(w))) for x in w]
    for k in range(n_vehicles - sum(sizes)):
        sizes[k % N_ROUTES] += 1
    return sizes


class Fleet:
    """Deterministic envelope source; all randomness comes from `seed`."""

    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed)
        routes = [r for r, n in zip(ROUTES, route_sizes(N_ROUTES * VEHICLES_PER_ROUTE))
                  for _ in range(n)]
        self.vehicles = [(8000 + i, r, self.rng.randint(0, 1)) for i, r in enumerate(routes)]
        self.by_id = {v[0]: v for v in self.vehicles}
        order = self.vehicles[:]
        self.rng.shuffle(order)
        self.slots = [order[k::SLICES] for k in range(SLICES)]  # who reports in which poll
        self.polls = 0
        self.next_record = 1
        self.clock = BASE_MS
        self.rows: dict[int, dict] = {}  # record_id -> latest known row
        self.first_time: dict[int, int] = {}
        self.live: list[int] = []  # record ids not deleted, insertion order
        self.live_pos: dict[int, int] = {}
        self.used_times: set[tuple[int, int]] = set()  # (vehicle, event_time)

    def poll(self) -> list[tuple[str, dict | None]]:
        """One tick: the reports of the buses in this poll's slot, plus the
        other kinds in proportion, in seeded order."""
        self.clock += CYCLE_MS // SLICES
        buses = self.slots[self.polls % SLICES]
        self.polls += 1
        todo = [("insert", v) for v in buses]
        for kind, share in OTHER_SHARES:
            todo += [(kind, None)] * round(len(buses) * share / INSERT_SHARE)
        self.rng.shuffle(todo)
        return [self.envelope(kind, v) for kind, v in todo]

    def _tick_time(self) -> int:
        self.clock += self.rng.randint(1, 5)
        return self.clock

    def _stamp(self, vehicle: int, t: int) -> int:
        while (vehicle, t) in self.used_times:
            t -= 1
        self.used_times.add((vehicle, t))
        return t

    def _ping(self, record_id: int, vehicle: tuple[int, int, int], t: int) -> dict:
        vid, route, direction = vehicle
        r = self.rng
        return {
            "record_id": record_id,
            "id": vid,
            "routeId": route,
            "directionId": f"{route}_{direction}_{route}",
            "predictable": r.randint(0, 1),
            "secsSinceReport": r.randint(0, 30),
            "kph": r.randint(0, 80),
            "heading": r.randint(0, 359),
            "lat": round(43.6 + r.random() * 0.2, 6),
            "lon": round(-79.6 + r.random() * 0.4, 6),
            "leadingVehicleId": r.choice(self.vehicles)[0] if r.random() < 0.1 else None,
            "event_time": self._stamp(vid, t),
        }

    def _drop_live(self, rid: int) -> None:
        i = self.live_pos.pop(rid)
        last = self.live.pop()
        if last != rid:
            self.live[i] = last
            self.live_pos[last] = i

    def _pick_live(self) -> int:
        # recent records are the ones still being updated
        lo = max(0, len(self.live) - 4000)
        return self.live[self.rng.randrange(lo, len(self.live))]

    def envelope(self, kind: str, vehicle: tuple[int, int, int] | None) -> tuple[str, dict | None]:
        """Return (json line, ledger row) for one change of `kind`; an
        insert is `vehicle`'s report. The ledger row is the row image the
        table keys on (after-image, or before-image for a delete) plus
        `_op`; None for a malformed line."""
        if kind in ("update", "delete", "late") and not self.live:
            kind = "insert"
        vehicle = vehicle or self.rng.choice(self.vehicles)
        t = self._tick_time()
        if kind == "insert":
            rid = self.next_record
            self.next_record += 1
            row = self._ping(rid, vehicle, t)
            self.rows[rid] = row
            self.first_time[rid] = row["event_time"]
            self.live_pos[rid] = len(self.live)
            self.live.append(rid)
            return _env("c", None, row, t), {**row, "_op": "c"}
        if kind == "update":
            rid = self._pick_live()
            old = self.rows[rid]
            row = self._ping(rid, self.by_id[old["id"]], t)
            row["directionId"] = old["directionId"]
            self.rows[rid] = row
            return _env("u", old, row, t), {**row, "_op": "u"}
        if kind == "delete":
            rid = self._pick_live()
            # the tombstone carries its own, later, change time
            before = {**self.rows[rid], "event_time": self._stamp(self.rows[rid]["id"], t)}
            self._drop_live(rid)
            self.rows[rid] = before
            return _env("d", before, None, t), {**before, "_op": "d"}
        if kind == "late":
            rid = self.rng.randrange(1, self.next_record)
            orig = self.rows[rid]
            late_t = self.first_time[rid] - self.rng.randint(1, 60_000)
            row = {**orig, "kph": self.rng.randint(0, 80),
                   "event_time": self._stamp(orig["id"], late_t)}
            return _env("c", None, row, t), {**row, "_op": "c"}
        # malformed: a valid envelope cut short
        full = _env("c", None, self._ping(0, vehicle, t), t)
        line = full[: self.rng.randint(10, len(full) - 10)]
        try:
            json.loads(line)
            line = line + "{"
        except ValueError:
            pass
        return line, None


def _env(op: str, before: dict | None, after: dict | None, ts_ms: int) -> str:
    source = {
        "version": "1.9.5.Final", "connector": "mysql", "name": "dbserver1",
        "ts_ms": ts_ms, "snapshot": "false", "db": "demo", "sequence": None,
        "table": "bus_status", "server_id": 1, "gtid": None,
        "file": "mysql-bin.000003", "pos": ts_ms % 1_000_000, "row": 0,
        "thread": None, "query": None,
    }
    payload = {"before": before, "after": after, "source": source, "op": op,
               "ts_ms": ts_ms, "transaction": None}
    return json.dumps({"payload": payload}, separators=(",", ":"))


class TickWriter:
    """Writes ticks into `spool` atomically and appends them to the ledger."""

    def __init__(self, fleet: Fleet, spool: str, ledger_path: str) -> None:
        self.fleet = fleet
        self.spool = spool
        self.tick = 0
        os.makedirs(spool, exist_ok=True)
        self.ledger = open(ledger_path, "a", encoding="utf-8")

    def write(self, due: float, phase: str, mtime: float | None = None) -> float:
        name = f"tick-{self.tick:06d}.jsonl"
        lines, rows, malformed = [], [], 0
        for line, row in self.fleet.poll():
            lines.append(line)
            if row is None:
                malformed += 1
            else:
                rows.append(row)
        tmp = os.path.join(self.spool, f".{name}.tmp")
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write("\n".join(lines) + "\n")
        if mtime is not None:
            os.utime(tmp, (mtime, mtime))
        os.rename(tmp, os.path.join(self.spool, name))
        created = time.time()
        self.ledger.write(json.dumps({
            "tick": self.tick, "file": name, "phase": phase, "due": due,
            "created": created, "lines": len(lines), "malformed": malformed,
            "rows": rows,
        }) + "\n")
        self.tick += 1
        return created

    def close(self) -> None:
        self.ledger.close()


def read_ledger(path: str) -> list[dict]:
    with open(path, encoding="utf-8") as fh:
        return [json.loads(line) for line in fh]


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--spool", required=True)
    ap.add_argument("--ledger", required=True)
    ap.add_argument("--backlog-ticks", type=int, required=True)
    ap.add_argument("--live-seconds", type=float, default=0.0)
    ap.add_argument("--interval", type=float, default=0.1)
    args = ap.parse_args(argv)

    writer = TickWriter(Fleet(args.seed), args.spool, args.ledger)
    try:
        t0 = time.time()
        base = t0 - args.backlog_ticks * 0.001
        for i in range(args.backlog_ticks):
            # distinct, ordered mtimes so the source drains in tick order
            writer.write(t0, "backlog", mtime=base + i * 0.001)
        writer.ledger.flush()
        print(f"backlog {time.time() - t0:.6f}", flush=True)
        if args.live_seconds <= 0:
            return 0
        cmd = sys.stdin.readline().split()
        if not cmd or cmd[0] != "go":
            return 0
        start = float(cmd[1])
        n = int(round(args.live_seconds / args.interval))
        late = []
        for i in range(n):
            due = start + i * args.interval
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            created = writer.write(due, "live")
            late.append((created - due) * 1000.0)
        writer.ledger.flush()
        late.sort()
        summary = {
            "ticks": n,
            "late_ms_p50": late[len(late) // 2],
            "late_ms_p90": late[min(n - 1, int(0.9 * n))],
        }
        print("live " + json.dumps(summary), flush=True)
        return 0
    finally:
        writer.close()


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
