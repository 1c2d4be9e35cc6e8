"""Benchmark-side proxies around the table layer's public calls.

`TableProxy` stands in for an `UpsertTable` or `ManifestUpsertTable` when
handed to `run_cdc_pipeline`: it times every `merge` (the end of that call
is when a batch becomes visible, the freshness end point) and, when
tracing, diffs the table directory around the call and reads the new
parquet footers to count rows and bytes rewritten. That bookkeeping runs
inside the pipeline's `foreachBatch`, so each call records its duration
(and a `trace.bookkeeping` span) for the progress metrics to subtract. For an `UpsertTable` it
also wraps the `LocalFSCommitter` so commit time is a child span of the
merge. The program's own code is not modified.
"""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq


def parquet_files(root: str) -> dict[str, int]:
    """Live parquet files under a table directory (hidden staging, trash
    and manifest directories excluded) -> size in bytes."""
    out: dict[str, int] = {}
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        for f in filenames:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                p = os.path.join(dirpath, f)
                out[p] = os.path.getsize(p)
    return out


class _CommitterProxy:
    def __init__(self, inner, owner: "TableProxy") -> None:
        self._inner = inner
        self._owner = owner

    def commit(self, staging, staged, emptied) -> None:
        t0 = time.time()
        try:
            self._inner.commit(staging, staged, emptied)
        finally:
            t1 = time.time()
            self._owner.commit_s += t1 - t0
            self._owner.tracer.record(
                f"{self._owner.layer}.commit", t0, t1, parent=self._owner.current
            )

    def __getattr__(self, name):
        return getattr(self._inner, name)


class TableProxy:
    def __init__(self, table, layer: str, tracer, traced: bool) -> None:
        self.table = table
        self.layer = layer
        self.tracer = tracer
        self.traced = traced
        self.phase = "setup"
        self.phase_span: int | None = None
        self.current: int | None = None
        self.commit_s = 0.0
        self.bookkeeping_s = 0.0
        #: the table's files after the last merge: the next merge's "before"
        self._last_files: dict[str, int] | None = None
        self.calls: list[dict] = []
        #: called with the number of merges done after each one returns
        self.after_merge = None
        if traced and hasattr(table, "committer"):
            table.committer = _CommitterProxy(table.committer, self)

    def merge(self, batch, delete_col=None):
        self.current = self.tracer.new_id()
        self.commit_s = 0.0
        spent = 0.0
        if self.traced:
            b0 = time.time()
            before = self._last_files
            if before is None:
                before = parquet_files(self.table.path)
            spent += self._bookkeeping(b0)
        t0 = time.time()
        self.table.merge(batch, delete_col=delete_col)
        t1 = time.time()
        self.tracer.record(f"{self.layer}.merge", t0, t1, parent=self.phase_span, sid=self.current)
        call = {"phase": self.phase, "start": t0, "end": t1, "commit_s": self.commit_s}
        if self.traced:
            b0 = time.time()
            after = parquet_files(self.table.path)
            new = [p for p in after if p not in before]
            call["bytes_written"] = sum(after[p] for p in new)
            call["rows_written"] = sum(pq.read_metadata(p).num_rows for p in new)
            call["files_live"] = len(after)
            self._last_files = after
            spent += self._bookkeeping(b0)
        call["bookkeeping_s"] = spent
        self.calls.append(call)
        if self.after_merge is not None:
            self.after_merge(len(self.calls))

    def _bookkeeping(self, b0: float) -> float:
        """Close a stretch of the proxy's own work that began at `b0`: a
        child span of the phase, so the phase's self time leaves it out."""
        b1 = time.time()
        self.tracer.record("trace.bookkeeping", b0, b1, parent=self.phase_span)
        self.bookkeeping_s += b1 - b0
        return b1 - b0

    def __getattr__(self, name):
        return getattr(self.table, name)
