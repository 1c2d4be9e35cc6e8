"""Pieces the CDC workload and its lake probe share: the generator
subprocess and one availableNow run of the paper's pipeline (file source →
envelope parse → foreachBatch merge)."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

from buskafkasparkstreaming_spark.sources.files import stream_envelope_jsonl
from buskafkasparkstreaming_spark.streaming.pipeline import run_cdc_pipeline

from eventlog import progress_rows

LOADGEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "loadgen.py")
QUERY_TIMEOUT_S = 120


class Generator:
    """The load generator process. Writes the backlog on start; `go()`
    starts its open-loop live phase."""

    def __init__(self, seed: int, spool: str, ledger: str, backlog_ticks: int,
                 live_seconds: float, interval: float) -> None:
        t0 = time.time()
        cmd = [
            sys.executable, LOADGEN, "--seed", str(seed), "--spool", spool,
            "--ledger", ledger, "--backlog-ticks", str(backlog_ticks),
            "--live-seconds", str(live_seconds), "--interval", str(interval),
        ]
        self.proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        self.ledger_path = ledger
        line = self.proc.stdout.readline().split()
        if not line or line[0] != "backlog":
            self.close()
            raise RuntimeError("load generator failed to write its backlog")
        self.backlog_s = time.time() - t0

    def go(self, t0: float) -> dict:
        self.proc.stdin.write(f"go {t0!r}\n")
        self.proc.stdin.flush()
        line = self.proc.stdout.readline()
        if not line.startswith("live "):
            raise RuntimeError("load generator failed in its live phase")
        return json.loads(line[len("live "):])

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.proc.stdin.write("stop\n")
                self.proc.stdin.flush()
            except OSError:
                pass
        self.proc.stdin.close()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait(timeout=10)
        self.proc.stdout.close()


def drain(spark, spool: str, table, checkpoint: str, quarantine: str,
          max_files: int, name: str) -> tuple[float, list[dict]]:
    """Run the pipeline over everything in `spool` (availableNow, at most
    `max_files` files per batch); return (wall seconds, progress)."""
    t0 = time.time()
    q = run_cdc_pipeline(
        stream_envelope_jsonl(spark, spool, max_files_per_trigger=max_files),
        table, checkpoint, quarantine_path=quarantine, available_now=True,
        query_name=name,
    )
    try:
        if not q.awaitTermination(QUERY_TIMEOUT_S):
            raise RuntimeError(f"{name} did not finish within {QUERY_TIMEOUT_S} s")
    finally:
        if q.isActive:
            q.stop()
    wall = time.time() - t0
    if q.exception() is not None:
        raise RuntimeError(f"{name} failed: {q.exception()}")
    return wall, progress_rows(q)
