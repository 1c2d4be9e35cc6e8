"""Independent oracles for the CDC workloads.

The table under test keeps, per `record_id`, the change with the greatest
`event_time` (an incoming row beats a stored one on a tie) and drops a key
whose winner is a delete. The replay below applies that rule batch by
batch, in the order the stream actually committed them: the batch → file
mapping is read back from the stream checkpoint's file-source log, so
delete-then-late-insert across batches is modelled exactly as the table
defines it.
"""

from __future__ import annotations

import json
import os

COLUMNS = (
    "record_id", "id", "routeId", "directionId", "predictable",
    "secsSinceReport", "kph", "heading", "lat", "lon", "leadingVehicleId",
    "event_time",
)


def source_batches(checkpoint: str) -> dict[int, list[str]]:
    """batch id -> spool file names, from the checkpoint's source log
    (plain and compacted entries alike)."""
    log_dir = os.path.join(checkpoint, "sources", "0")
    out: dict[int, set[str]] = {}
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name), encoding="utf-8") as fh:
            lines = fh.read().splitlines()
        for line in lines[1:]:  # first line is the log format version
            if not line.strip():
                continue
            entry = json.loads(line)
            out.setdefault(int(entry["batchId"]), set()).add(os.path.basename(entry["path"]))
    return {b: sorted(files) for b, files in sorted(out.items())}


def committed_batches(checkpoint: str) -> list[int]:
    d = os.path.join(checkpoint, "commits")
    return sorted(int(n) for n in os.listdir(d) if n.isdigit())


def replay(batches: list[list[dict]]) -> dict[int, dict]:
    """Apply change batches (ledger rows carrying `_op`) in order to an
    empty record_id -> row state with the table's precombine rule. The
    generator never repeats an event_time within a record, so no tie-break
    inside a batch is needed."""
    state: dict[int, dict] = {}
    for rows in batches:
        best: dict[int, dict] = {}
        for r in rows:
            cur = best.get(r["record_id"])
            if cur is None or r["event_time"] > cur["event_time"]:
                best[r["record_id"]] = r
        for rid, r in best.items():
            old = state.get(rid)
            if old is not None and old["event_time"] > r["event_time"]:
                continue  # the stored row wins; an incoming row wins a tie
            if r["_op"] == "d":
                state.pop(rid, None)
            else:
                state[rid] = {c: r[c] for c in COLUMNS}
    return state


def replay_checkpoint(checkpoint: str, ledger: list[dict]) -> tuple[dict[int, dict], dict]:
    """Replay every committed batch of a stream; also return each batch's
    files and valid change rows, and the committed batch ids."""
    by_file = {t["file"]: t for t in ledger}
    files = source_batches(checkpoint)
    committed = committed_batches(checkpoint)
    info = {"batches": {}, "committed": committed}
    ordered = []
    for b in committed:
        ticks = [by_file[f] for f in files.get(b, [])]
        rows = [r for t in ticks for r in t["rows"]]
        ordered.append(rows)
        info["batches"][b] = {"files": [t["file"] for t in ticks], "rows_in": len(rows)}
    return replay(ordered), info


def rows_equal(actual: list[dict], expected: dict[int, dict]) -> tuple[bool, str]:
    """Exact comparison of a table snapshot against the expected state."""
    got: dict[int, dict] = {}
    for r in actual:
        rid = r["record_id"]
        if rid in got:
            return False, f"record_id {rid} appears twice"
        got[rid] = {c: r[c] for c in COLUMNS}
    if got.keys() != expected.keys():
        missing = sorted(expected.keys() - got.keys())[:5]
        extra = sorted(got.keys() - expected.keys())[:5]
        return False, f"key sets differ: missing {missing} extra {extra}"
    for rid, row in expected.items():
        if got[rid] != row:
            return False, f"record_id {rid}: table {got[rid]} != expected {row}"
    return True, ""
