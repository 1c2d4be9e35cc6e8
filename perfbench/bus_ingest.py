"""bus_ingest: the paper's pipeline, Debezium envelopes → parse → keyed
upsert into a COW table partitioned by routeId, in two phases that split
two costs. One streaming query (default trigger, `maxFilesPerTrigger`)
runs both, as a restarted pipeline does:

* drain ("restart after downtime"): the backlog written during set-up
  comes in DRAIN_BATCHES large batches, where per-row cost weighs most.
  The first WARM_BATCHES pay most of the fresh JVM's first-use costs and
  count as set-up; the drain is reported as the envelopes of the other
  batches over the time from the last warm-up merge's end to the last
  drain merge's end.
* live: once the backlog is in, the generator writes one tick (one poll
  of the fleet) per fixed interval on an open-loop schedule, and the same
  query takes them into the now-large table; per-batch fixed cost
  dominates. Reported as freshness: from a tick's scheduled creation time
  to the end of the `merge` call that commits it.

perfbench/METRICS.md gives the source of each traffic figure.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass
from datetime import datetime

from buskafkasparkstreaming_spark.cdc.envelope import parse_envelopes, route_ops
from buskafkasparkstreaming_spark.cdc.upsert import UpsertTable
from buskafkasparkstreaming_spark.sources.files import (
    read_envelope_jsonl,
    stream_envelope_jsonl,
)
from buskafkasparkstreaming_spark.streaming.pipeline import run_cdc_pipeline

import lake_query
import oracle
from cdcflow import QUERY_TIMEOUT_S, Generator, drain
from common import fresh_dir, median, quantile
from eventlog import batch_of_query, progress_metrics, progress_rows
from loadgen import SLICES, read_ledger
from proxies import TableProxy

# Sizes in 30 s report cycles of the fleet, SLICES ticks each.
#: files per trigger: six cycles, well above what a live batch gathers
BATCH_TICKS = 6 * SLICES
#: the backlog's batches: WARM_BATCHES warm-up batches (set-up), then the
#: timed drain
WARM_BATCHES = 2
DRAIN_BATCHES = 6
BACKLOG_TICKS = DRAIN_BATCHES * BATCH_TICKS
#: live: one cycle every 2 s of wall time, the reference's 30 s compressed 15x.
#: A live batch's time grows with the rows it takes, so the nearer the rate
#: is to what the pipeline sustains, the more a slow host lengthens every
#: batch and the more it inflates freshness; this rate keeps that small.
LIVE_INTERVAL_S = 2.0 / SLICES
LAKE_PROBE_TICKS = 10 * SLICES
LAKE_PROBE_SECONDS = 4.0
#: the single-core baseline drains this many of the backlog's batches
ONE_CORE_BATCHES = 2


@dataclass
class Phases:
    """What the drain and live phases left behind for the metrics."""

    spool: str
    ledger: list[dict]
    proxy: TableProxy
    info: dict
    #: phase -> (start, end) wall-clock seconds
    walls: dict[str, tuple[float, float]]
    progress: list[dict]
    live_end: float
    generator: dict

    @property
    def calls(self) -> list[dict]:
        return self.proxy.calls

    @property
    def batch_of(self) -> dict[str, int]:
        return {f: b for b, v in self.info["batches"].items() for f in v["files"]}

    def ticks(self, kind: str) -> list[dict]:
        """Ledger ticks written as `kind` ("backlog" or "live")."""
        return [t for t in self.ledger if t["phase"] == kind]

    def batches(self, phase: str) -> list[int]:
        """Batch ids merged in `phase` ("warm", "drain" or "live"); merge
        call i is batch i (a correctness gate checks it)."""
        return [i for i, c in enumerate(self.calls) if c["phase"] == phase]

    def lines(self, batch: int) -> int:
        """Envelope lines (malformed ones too) in one batch's ticks."""
        by_file = {t["file"]: t for t in self.ledger}
        return sum(by_file[f]["lines"] for f in self.info["batches"][batch]["files"])

    def phase_lines(self, phase: str) -> int:
        return sum(self.lines(b) for b in self.batches(phase))

    def wall(self, phase: str) -> float:
        t0, t1 = self.walls[phase]
        return t1 - t0


def _table(spark, path: str) -> UpsertTable:
    return UpsertTable(spark, path, "record_id", "event_time", partition_col="routeId")


def _ts(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _wait(event: threading.Event, q, what: str) -> None:
    deadline = time.time() + QUERY_TIMEOUT_S
    while not event.wait(0.1):
        if not q.isActive:
            raise RuntimeError(f"query stopped before {what}: {q.exception()}")
        if time.time() > deadline:
            raise RuntimeError(f"no {what} within {QUERY_TIMEOUT_S} s")


def run(ctx) -> float:
    """Run the workload, fill ctx.res, and return the set-up seconds spent
    after the session started."""
    res, spark, tracer = ctx.res, ctx.spark, ctx.tracer
    work = fresh_dir("bus_ingest", "main")
    spool = os.path.join(work, "spool")
    ckpt = os.path.join(work, "ckpt")
    quarantine = os.path.join(work, "quarantine")

    gen = Generator(ctx.seed, spool, os.path.join(work, "ledger.jsonl"),
                    BACKLOG_TICKS, ctx.seconds, LIVE_INTERVAL_S)
    ctx.rss.exclude.add(gen.proc.pid)
    try:
        table = _table(spark, os.path.join(work, "table"))
        proxy = TableProxy(table, "cdc.upsert", tracer, ctx.traced)
        span_of = {p: tracer.new_id() for p in ("warm", "drain", "live")}
        warmed, drained = threading.Event(), threading.Event()

        def after_merge(n: int) -> None:
            # runs in the foreachBatch callback, before the next batch starts
            if n == WARM_BATCHES:
                proxy.phase, proxy.phase_span = "drain", span_of["drain"]
                warmed.set()
            elif n == DRAIN_BATCHES:
                proxy.phase, proxy.phase_span = "live", span_of["live"]
                drained.set()

        proxy.phase, proxy.phase_span = "warm", span_of["warm"]
        proxy.after_merge = after_merge
        t_start = time.time()
        q = run_cdc_pipeline(
            stream_envelope_jsonl(spark, spool, max_files_per_trigger=BATCH_TICKS),
            proxy, ckpt, quarantine_path=quarantine, available_now=False,
            query_name="bus-ingest")
        try:
            _wait(warmed, q, "the warm-up batches")
            setup_s = gen.backlog_s + time.time() - t_start
            _wait(drained, q, "the end of the drain")
            live_t0 = time.time() + 0.5
            summary = gen.go(live_t0)
            q.processAllAvailable()
        finally:
            q.stop()
        if q.exception() is not None:
            raise RuntimeError(f"bus-ingest query failed: {q.exception()}")
        t_end = time.time()
    finally:
        gen.close()

    ends = [c["end"] for c in proxy.calls]
    walls = {"warm": (t_start, ends[WARM_BATCHES - 1]),
             "drain": (ends[WARM_BATCHES - 1], ends[DRAIN_BATCHES - 1]),
             "live": (live_t0, t_end)}
    for phase, (t0, t1) in walls.items():
        tracer.record(f"streaming.pipeline.{phase}", t0, t1, sid=span_of[phase])
    ctx.op_of = batch_of_query(q.id)
    ledger = read_ledger(gen.ledger_path)
    expected, info = oracle.replay_checkpoint(ckpt, ledger)
    ph = Phases(spool, ledger, proxy, info, walls, progress_rows(q),
                live_t0 + ctx.seconds, summary)

    # -- correctness gates ------------------------------------------------------
    committed = info["committed"]
    res.gate("one_merge_per_batch", committed == list(range(len(ph.calls))),
             f"({len(ph.calls)} merges, batches {committed[:3]}..)")
    for _ in ph.calls:
        res.op(True)
    res.gate("every_tick_committed", set(ph.batch_of) == {t["file"] for t in ledger})
    res.gate("backlog_in_full_batches",
             all(len(info["batches"][b]["files"]) == BATCH_TICKS
                 for b in range(DRAIN_BATCHES)))
    ok, why = oracle.rows_equal([r.asDict() for r in table.read().collect()], expected)
    res.gate("table_equals_ledger_replay", ok, why)
    malformed = sum(t["malformed"] for t in ledger)
    quarantined = spark.read.parquet(quarantine).count()
    res.gate("quarantine_equals_malformed", quarantined == malformed,
             f"({quarantined} != {malformed})")

    # -- end-to-end metrics -----------------------------------------------------
    # the timed drain batches' envelopes over their whole span (listing,
    # planning, quarantine write, merge and commit of each); a total, not a
    # median of a few batches, so it averages over the host's short stalls
    drain_rows_per_s = ph.phase_lines("drain") / ph.wall("drain")
    rates = [ph.lines(b) / (ends[b] - ends[b - 1]) for b in ph.batches("drain")]
    res.notes.append("drain batch rows/s: " + " ".join(f"{r:.0f}" for r in rates))
    end_of = {f: ph.calls[b]["end"] for f, b in ph.batch_of.items()}
    live_ticks = ph.ticks("live")
    fresh = [end_of[t["file"]] - t["due"] for t in live_ticks]
    generated = sum(t["lines"] for t in live_ticks if t["created"] <= ph.live_end)
    committed_by_end = sum(t["lines"] for t in live_ticks if end_of[t["file"]] <= ph.live_end)

    res.e2e["op_p50_s"] = median(fresh)
    res.e2e["ops_per_s"] = drain_rows_per_s
    res.show("drain_rows_per_s", drain_rows_per_s, "rows/s")
    res.show("freshness_p50_s", median(fresh), "s")
    # the tail: the highest percentile with at least ten ticks beyond it
    tail_pct = 100 * (len(fresh) - 10) // len(fresh)
    if tail_pct > 50:
        res.show(f"freshness_p{tail_pct}_s", quantile(fresh, tail_pct / 100), "s")
    else:
        res.notes.append(f"no freshness percentile above p50 has ten ticks beyond it "
                         f"({len(fresh)} ticks)")
    res.show("live_ticks", len(fresh), "count")
    res.show("live_batches", len(ph.batches("live")), "count")
    res.show("live_commit_ratio", committed_by_end / max(1, generated), "ratio")
    res.show("generator.late_ms_p90", summary["late_ms_p90"], "ms")

    if ctx.traced:
        _layers(ctx, ph)
        _lake_probe(ctx, ph)
        ctx.after_stop.append(lambda: _one_core_drain(ctx, ph))
    return setup_s


def _phase_layers(prefix: str, ph: Phases, phase: str) -> dict[str, float]:
    ids = ph.batches(phase)
    calls = [ph.calls[i] for i in ids]
    merge = [c["end"] - c["start"] for c in calls]
    rows_in = sum(ph.info["batches"][b]["rows_in"] for b in ids)
    rewritten = sum(c["rows_written"] for c in calls)
    return {
        f"{prefix}.merge_s_p50": median(merge),
        f"{prefix}.merge_s_p90": quantile(merge, 0.9),
        f"{prefix}.merge_s_total": sum(merge),
        f"{prefix}.commit_s_total": sum(c["commit_s"] for c in calls),
        f"{prefix}.rows_in": rows_in,
        f"{prefix}.rows_rewritten": rewritten,
        f"{prefix}.rewrite_amplification": rewritten / max(1, rows_in),
        f"{prefix}.bytes_written_per_row_in":
            sum(c["bytes_written"] for c in calls) / max(1, rows_in),
    }


def _layers(ctx, ph: Phases) -> None:
    """Per-layer numbers of the traced run."""
    spark, layer = ctx.spark, ctx.res.layer
    merge_s = {i: c["end"] - c["start"] for i, c in enumerate(ph.calls)}
    bookkeeping_s = {i: c["bookkeeping_s"] for i, c in enumerate(ph.calls)}
    layer["generator.late_ms_p90"] = ph.generator["late_ms_p90"]
    for phase in ("drain", "live"):
        ids = set(ph.batches(phase))
        progress = [p for p in ph.progress if p["batchId"] in ids]
        scanned = sum(p.get("numInputRows", 0) for p in progress)
        layer[f"sources.files.rows_scanned_per_row.{phase}"] = (
            scanned / max(1, ph.phase_lines(phase)))
        layer.update(progress_metrics(f"streaming.pipeline.{phase}", progress,
                                      ph.wall(phase), merge_s, bookkeeping_s))
        layer.update(_phase_layers(f"cdc.upsert.{phase}", ph, phase))
    layer["cdc.upsert.files_live"] = ph.calls[-1]["files_live"]

    live_ids = set(ph.batches("live"))
    live_prog = [p for p in ph.progress
                 if p["batchId"] in live_ids and p.get("numInputRows", 0) > 0]
    offs = [float(p["durationMs"].get("latestOffset", 0)) for p in live_prog]
    layer["sources.files.latest_offset_ms_p50"] = median(offs)
    layer["sources.files.latest_offset_ms_p90"] = quantile(offs, 0.9)
    live_ticks, batch_of = ph.ticks("live"), ph.batch_of
    waiting = []
    for p in live_prog:
        ts = _ts(p["timestamp"])
        arrived = sum(1 for t in live_ticks if t["created"] <= ts)
        done = sum(1 for t in live_ticks if batch_of[t["file"]] < p["batchId"])
        waiting.append(float(arrived - done))
    layer["sources.files.backlog_files_p50"] = median(waiting)
    layer["sources.files.backlog_files_max"] = max(waiting)

    # envelope parse throughput and op routing, batch mode over the backlog
    backlog = ph.ticks("backlog")
    paths = [os.path.join(ph.spool, t["file"]) for t in backlog]
    with ctx.tracer.span("cdc.envelope.parse") as sp:
        upserts, deletes, corrupt = route_ops(parse_envelopes(read_envelope_jsonl(spark, paths)))
        by_op = {r["_op"]: r["count"] for r in upserts.groupBy("_op").count().collect()}
        n_d, n_bad = deletes.count(), corrupt.count()
    want = {"c": 0, "u": 0, "d": 0}
    for t in backlog:
        for r in t["rows"]:
            want[r["_op"]] += 1
    got = {"c": by_op.get("c", 0), "u": by_op.get("u", 0), "d": n_d}
    bad_want = sum(t["malformed"] for t in backlog)
    ctx.res.gate("parse_op_counts", got == want and n_bad == bad_want,
                 f"({got} {n_bad} != {want} {bad_want})")
    layer["cdc.envelope.parse_rows_per_s"] = sum(t["lines"] for t in backlog) / sp.seconds
    for op in ("c", "u", "d"):
        layer[f"cdc.envelope.ops_{op}"] = got[op]
    layer["cdc.envelope.corrupt_rows"] = n_bad
    ctx.bookkeeping_s += ph.proxy.bookkeeping_s


def _linked_backlog(ph: Phases, name: str, files: list[str]) -> tuple[str, str]:
    """A fresh work dir whose spool hard-links the given backlog ticks."""
    d = fresh_dir("bus_ingest", name)
    spool = os.path.join(d, "spool")
    os.makedirs(spool)
    for f in files:
        os.link(os.path.join(ph.spool, f), os.path.join(spool, f))
    return d, spool


def _lake_probe(ctx, ph: Phases) -> None:
    """The lake table's layer numbers on the first ticks of this run's
    backlog: build a ManifestUpsertTable from them through the same pipeline
    and serve a short closed loop of lake queries, each checked against
    DuckDB."""
    backlog = ph.ticks("backlog")[:LAKE_PROBE_TICKS]
    d, spool = _linked_backlog(ph, "lake", [t["file"] for t in backlog])
    table, proxy, expected = lake_query.build(ctx, spool, backlog, d)
    timed, resolve, warm = lake_query.serve(ctx, table, expected, LAKE_PROBE_SECONDS)
    lake_query.check(ctx.res, warm + timed, expected)
    lake_query.layers(ctx, table, proxy, timed, resolve)


def _one_core_drain(ctx, ph: Phases) -> None:
    """Single-core baseline: the backlog's first ONE_CORE_BATCHES batches
    (same batch size) drained on local[1] in a fresh session; only those,
    so the traced run stays well inside its time limit."""
    spark = ctx.start_session("local[1]", event_log=False)
    ticks = ph.ticks("backlog")[: ONE_CORE_BATCHES * BATCH_TICKS]
    d, spool = _linked_backlog(ph, "one_core", [t["file"] for t in ticks])
    wall, _ = drain(spark, spool, _table(spark, os.path.join(d, "table")),
                    os.path.join(d, "ckpt"), os.path.join(d, "quarantine"),
                    BATCH_TICKS, "bus-drain-1core")
    ctx.res.layer["streaming.pipeline.drain_rows_per_s_1core"] = (
        sum(t["lines"] for t in ticks) / wall)
    ctx.res.op(True)
