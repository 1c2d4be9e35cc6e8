"""Shared plumbing for the benchmark workloads: the work directory, the
Spark session lifecycle, process-tree RSS sampling, percentiles, the span
tracer and the result accumulator that becomes the final JSON line.

Everything the benchmark writes lives under ``<checkout>/.bench_work``;
Spark's scratch, the JVM temp dir and Python's tempfile are pointed there
too, so a run reads and writes only inside its checkout.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import signal
import subprocess
import threading
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")


def ncores() -> int:
    return len(os.sched_getaffinity(0))


def fresh_dir(*parts: str) -> str:
    path = os.path.join(WORK, *parts)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def pin_scratch_dirs() -> str:
    """Point every temp-file user (Python, Spark, the JVM) into WORK."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the small JVM spark-submit runs first to build the command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["BSS_WAREHOUSE_DIR"] = os.path.join(WORK, "warehouse")
    return tmp


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile (q in [0, 1]) of a non-empty sample."""
    if not values:
        raise ValueError("quantile of an empty sample")
    s = sorted(values)
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


# -- Spark session -----------------------------------------------------------


def start_spark(master: str, event_log_dir: str | None = None):
    """Start a session through the engine's own factory. The JVM heap is
    pinned small because the benchmark shares its machine; the event log is
    on only in the traced run."""
    from buskafkasparkstreaming_spark import get_spark

    tmp = os.environ["TMPDIR"]
    conf = {
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(app_name="perfbench", master=master, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Close the py4j gateway, wait for the JVM it launched to exit, then
    for the JVM's own children (Python workers), which outlive it briefly."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else []
    try:
        gateway.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        deadline = time.time() + 10
        while workers and time.time() < deadline:
            workers = [p for p in workers if os.path.exists(f"/proc/{p}")]
            time.sleep(0.1)
        for pid in workers:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


# -- process-tree RSS --------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared between processes (Python
    workers forked from one daemon) are split among them, not counted
    once per process as RSS would."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> list[int]:
    kids, out, todo = _children_map(), [], [root]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


class RssSampler:
    """Peak resident memory (as PSS) of this process plus its descendants
    (the JVM and Python workers), sampled every `period` seconds. Descendant trees rooted at a
    pid in `exclude` (the load generator) are not counted."""

    def __init__(self, period: float = 0.2) -> None:
        self.period = period
        self.exclude: set[int] = set()
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        kids = _children_map()
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            if pid in self.exclude:
                continue
            total += _pss_kb(pid)
            todo.extend(kids.get(pid, []))
        self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# -- spans -------------------------------------------------------------------


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None


class Tracer:
    """In-memory span recorder. Spans are kept in a list and written out
    once, at the end of the run. A disabled tracer still hands out ids so
    call sites need no branches, but records nothing."""

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._next = 0
        self._lock = threading.Lock()

    def new_id(self) -> int:
        with self._lock:
            self._next += 1
            return self._next

    def record(self, name: str, start: float, end: float,
               parent: int | None = None, sid: int | None = None) -> int:
        sid = self.new_id() if sid is None else sid
        if self.enabled:
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent))
        return sid

    def span(self, name: str, parent: int | None = None) -> "_SpanCtx":
        return _SpanCtx(self, name, parent)

    def self_times(self) -> dict[str, float]:
        """Σ over spans of each name of (duration − time covered by its
        direct children), in seconds."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cursor = 0.0, s.start
            for c in sorted(children.get(s.sid, []), key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(
                {
                    "run_id": self.run_id,
                    "spans": [
                        {"id": s.sid, "name": s.name, "start": s.start,
                         "end": s.end, "parent": s.parent}
                        for s in self.spans
                    ],
                },
                fh,
            )


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, parent: int | None) -> None:
        self.tracer, self.name, self.parent = tracer, name, parent
        self.sid: int | None = None
        self.start = 0.0
        self.end = 0.0

    def __enter__(self) -> "_SpanCtx":
        self.sid = self.tracer.new_id()
        self.start = time.time()
        return self

    def __exit__(self, *exc) -> None:
        self.end = time.time()
        self.tracer.record(self.name, self.start, self.end, self.parent, sid=self.sid)

    @property
    def seconds(self) -> float:
        return self.end - self.start


# -- results -----------------------------------------------------------------


@dataclass
class Result:
    """What one run reports. Every operation and correctness gate counts as
    attempted; any failure makes the run incorrect. `named` are the
    workload's metrics under their per-workload names, printed for humans
    before the JSON line."""

    attempted: int = 0
    failed: int = 0
    e2e: dict[str, float] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    named: list[tuple[str, float, str]] = field(default_factory=list)
    notes: list[str] = field(default_factory=list)

    def op(self, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1

    def gate(self, name: str, ok: bool, detail: str = "") -> None:
        self.op(ok)
        if not ok:
            self.notes.append(f"gate {name} failed {detail}".rstrip())

    def show(self, name: str, value: float, unit: str) -> None:
        self.named.append((name, float(value), unit))

    @property
    def correct(self) -> bool:
        return self.failed == 0
