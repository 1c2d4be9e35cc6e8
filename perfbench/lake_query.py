"""The lake table's read side (the Athena/Superset queries), as the traced
`bus_ingest` run probes it.

`build` streams generator ticks through `run_cdc_pipeline` into a
`ManifestUpsertTable` (partitioned by routeId, event_time zone maps, a
record_id bloom filter), so the object layout is the one ingest really
produces: a write-side change that fragments objects shows up here.
`serve` runs one closed-loop client with a seeded mix of point lookups
(`read_keys`), event_time ranges (`read_where`), SQL aggregates over
`read()` registered as a view, and latest position per vehicle; no merge
runs in the timed path. `check` compares every result with the same query
run in DuckDB over the state an independent replay of the ledger expects.
"""

from __future__ import annotations

import itertools
import os
import random
import time

import duckdb
import pyarrow as pa

from buskafkasparkstreaming_spark.cdc.manifest_table import ManifestUpsertTable
from buskafkasparkstreaming_spark.cdc.upsert import latest_state

import oracle
from cdcflow import drain
from common import median
from eventlog import OP_PROPERTY
from proxies import TableProxy

#: the probe builds its table in two batches
BUILD_FILES_PER_TRIGGER = 25
#: the client's fixed class order (8 lookups, 5 ranges, 4 aggregates and 3
#: latest-per-vehicle in 20); parameters are drawn from the seed. A fixed
#: order keeps the class mix of a short window the same on every seed.
CYCLE = ("lookup", "range", "agg", "lookup", "latest", "range", "lookup", "agg",
         "lookup", "range", "latest", "lookup", "agg", "range", "lookup",
         "latest", "lookup", "agg", "range", "lookup")
KINDS = ("lookup", "range", "agg", "latest")
LATEST_COLS = ("id", "record_id", "routeId", "lat", "lon", "event_time")


def _table(spark, path: str) -> ManifestUpsertTable:
    return ManifestUpsertTable(
        spark, path, "record_id", "event_time", partition_col="routeId",
        stats_cols=["event_time"], bloom_col="record_id",
    )


class Client:
    """Runs one query through the table's public read calls and returns
    (rows, read-resolve seconds). Rows are tuples in a canonical order so
    they compare directly with DuckDB's."""

    def __init__(self, spark, table: ManifestUpsertTable, tracer) -> None:
        self.spark, self.table, self.tracer = spark, table, tracer

    def run(self, kind: str, arg, parent: int | None) -> tuple[list[tuple], float]:
        t, tr = self.table, self.tracer
        with tr.span("cdc.manifest_table.resolve", parent) as sp:
            if kind == "lookup":
                df = t.read_keys(arg)
            elif kind == "range":
                df = t.read_where("event_time", arg[0], arg[1])
            else:
                df = t.read()
        if kind in ("lookup", "range"):
            df = df.select(*oracle.COLUMNS)
        elif kind == "agg":
            df.createOrReplaceTempView("bus_lake")
            df = self.spark.sql(
                "SELECT routeId, count(*) AS n, sum(kph) AS s_kph, "
                "max(event_time) AS mx, min(event_time) AS mn "
                f"FROM bus_lake WHERE kph >= {int(arg)} GROUP BY routeId"
            )
        else:
            df = latest_state(df, "id", "event_time").select(*LATEST_COLS)
        return sorted(tuple(r) for r in df.collect()), sp.seconds


def duck_sql(kind: str, arg) -> str:
    cols = ", ".join(f'"{c}"' for c in oracle.COLUMNS)
    if kind == "lookup":
        return f"SELECT {cols} FROM t WHERE record_id IN ({', '.join(map(str, arg))})"
    if kind == "range":
        return f"SELECT {cols} FROM t WHERE event_time BETWEEN {arg[0]} AND {arg[1]}"
    if kind == "agg":
        return ('SELECT "routeId", count(*), sum(kph), max(event_time), min(event_time) '
                f"FROM t WHERE kph >= {int(arg)} GROUP BY \"routeId\"")
    latest = ", ".join(f'"{c}"' for c in LATEST_COLS)
    return (f"SELECT {latest} FROM (SELECT *, row_number() OVER (PARTITION BY id "
            "ORDER BY event_time DESC) AS rn FROM t) WHERE rn = 1")


def _queries(seed: int, expected: dict[int, dict]):
    """Endless seeded query stream drawn from the expected state."""
    rng = random.Random(seed ^ 0x1A4E)
    max_record = max(expected)
    times = sorted(r["event_time"] for r in expected.values())
    for i in itertools.count():
        kind = CYCLE[i % len(CYCLE)]
        if kind == "lookup":
            # mostly live keys, some deleted or never-written ones
            yield kind, sorted(rng.sample(range(1, max_record + 50), rng.randint(1, 5)))
        elif kind == "range":
            lo = rng.randrange(len(times))
            hi = min(len(times) - 1, lo + rng.randint(10, 300))
            yield kind, (times[lo], times[hi])
        elif kind == "agg":
            yield kind, rng.randint(0, 70)
        else:
            yield kind, None


def build(ctx, spool: str, ledger: list[dict], work: str):
    """Stream every tick in `spool` through the pipeline into a fresh lake
    table. Returns (table, merge proxy, expected state)."""
    table = _table(ctx.spark, os.path.join(work, "table"))
    proxy = TableProxy(table, "cdc.manifest_table", ctx.tracer, ctx.traced)
    ckpt = os.path.join(work, "ckpt")
    drain(ctx.spark, spool, proxy, ckpt, os.path.join(work, "quarantine"),
          BUILD_FILES_PER_TRIGGER, "lake-build")
    expected, info = oracle.replay_checkpoint(ckpt, ledger)
    files = [f for b in info["batches"].values() for f in b["files"]]
    ctx.res.gate("every_tick_committed", sorted(files) == sorted(t["file"] for t in ledger))
    return table, proxy, expected


def serve(ctx, table, expected: dict[int, dict], seconds: float):
    """One closed-loop client for `seconds` after one untimed warm-up query
    per class (the first of each pays one-off JIT work). Returns the timed
    queries as (kind, arg, rows, seconds), the read-resolve times and the
    warm-up queries."""
    client = Client(ctx.spark, table, ctx.tracer)
    sc = ctx.spark.sparkContext
    stream = _queries(ctx.seed, expected)
    cycle = [next(stream) for _ in range(len(CYCLE))]
    warm = []
    for kind in KINDS:
        arg = next(a for k, a in cycle if k == kind)
        warm.append((kind, arg, client.run(kind, arg, None)[0], 0.0))
    timed, resolve = [], []
    t_start = time.time()
    while time.time() - t_start < seconds:
        kind, arg = next(stream)
        sc.setLocalProperty(OP_PROPERTY, f"q{len(timed)}")
        with ctx.tracer.span(f"lake.{kind}") as sp:
            rows, r_s = client.run(kind, arg, sp.sid)
        sc.setLocalProperty(OP_PROPERTY, None)
        timed.append((kind, arg, rows, sp.seconds))
        resolve.append(r_s)
    return timed, resolve, warm


def check(res, queries, expected: dict[int, dict]) -> None:
    """Every query result against DuckDB over the expected state."""
    con = duckdb.connect()
    con.register("t", pa.Table.from_pylist(
        list(expected.values()),
        schema=pa.schema([(c, pa.float64() if c in ("lat", "lon") else
                           pa.string() if c == "directionId" else pa.int64())
                          for c in oracle.COLUMNS]),
    ))
    for kind, arg, rows, _ in queries:
        want = sorted(tuple(r) for r in con.execute(duck_sql(kind, arg)).fetchall())
        ok = rows == want
        res.op(ok)
        if not ok:
            res.notes.append(f"{kind} {arg}: {len(rows)} rows != oracle {len(want)}")
    con.close()


def layers(ctx, table, proxy, timed, resolve) -> None:
    """Per-layer numbers of the lake table for a traced run."""
    layer = ctx.res.layer
    merges = [c["end"] - c["start"] for c in proxy.calls]
    layer["cdc.manifest_table.merge_s_p50"] = median(merges)
    layer["cdc.manifest_table.merge_s_total"] = sum(merges)
    b0 = time.time()
    kept_all, skipped = table.select_objects("event_time", float("-inf"), float("inf"))
    n_objects = len(kept_all) + len(skipped)
    lookups = [a for k, a, _, _ in timed if k == "lookup"]
    ranges = [a for k, a, _, _ in timed if k == "range"]
    kept = [len(table.select_objects_bloom(a)[0]) for a in lookups]
    kept_r = [len(table.select_objects("event_time", lo, hi)[0]) for lo, hi in ranges]
    ctx.bookkeeping_s += proxy.bookkeeping_s + time.time() - b0
    layer["cdc.manifest_table.objects_live"] = n_objects
    layer["cdc.manifest_table.lookup_kept_ratio"] = sum(kept) / max(1, len(kept) * n_objects)
    layer["cdc.manifest_table.range_kept_ratio"] = sum(kept_r) / max(1, len(kept_r) * n_objects)
    layer["cdc.manifest_table.read_resolve_s_p50"] = median(resolve)
    for k in KINDS:
        v = [q[3] for q in timed if q[0] == k]
        if v:
            layer[f"lake.{k}_p50_s"] = median(v)
