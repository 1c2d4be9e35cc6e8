"""Spark-side numbers for the traced run: the event log (jobs, tasks,
shuffle bytes, GC, task skew per operation) and `StreamingQueryProgress`
(per-trigger durations and input rows)."""

from __future__ import annotations

import json
import os

from common import median, quantile

#: local property the benchmark sets around each query / catalog entry
OP_PROPERTY = "perfbench.op"
#: local properties Spark sets on every job of a micro-batch
BATCH_PROPERTY = "streaming.sql.batchId"
QUERY_PROPERTY = "sql.streaming.queryId"


def tagged_op(props: dict) -> str | None:
    """The operation a job belongs to when the benchmark tagged it."""
    return props.get(OP_PROPERTY)


def batch_of_query(query_id: str):
    """Map a job to its micro-batch when it ran for streaming query
    `query_id`, else None."""

    def op(props: dict) -> str | None:
        if props.get(QUERY_PROPERTY) != query_id:
            return None
        return props.get(BATCH_PROPERTY)

    return op


def spark_metrics(event_dir: str, op_of) -> dict[str, float]:
    """Per-operation job/task counts, shuffle bytes, GC time and task skew.
    `op_of` maps a job's properties to its operation (a micro-batch, a
    query, a catalog entry) or None for jobs that are not counted."""
    job_op: dict[int, str] = {}
    stage_op: dict[int, str] = {}
    stage_tasks: dict[int, list[float]] = {}
    shuffle = gc = 0.0
    names = [n for n in os.listdir(event_dir) if not n.startswith(".")]
    for name in names:
        with open(os.path.join(event_dir, name), encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    op = op_of(props)
                    if op is None:
                        continue
                    job_op[ev["Job ID"]] = op
                    for sid in ev.get("Stage IDs", []):
                        stage_op[sid] = op
                elif kind == "SparkListenerTaskEnd":
                    sid = ev.get("Stage ID")
                    if sid not in stage_op:
                        continue
                    info = ev.get("Task Info") or {}
                    stage_tasks.setdefault(sid, []).append(
                        float(info.get("Finish Time", 0) - info.get("Launch Time", 0))
                    )
                    tm = ev.get("Task Metrics") or {}
                    gc += float(tm.get("JVM GC Time", 0))
                    sw = tm.get("Shuffle Write Metrics") or {}
                    shuffle += float(sw.get("Shuffle Bytes Written", 0))
    ops = set(job_op.values())
    n_ops = max(1, len(ops))
    skews = [
        max(t) / max(median(t), 1.0)
        for t in stage_tasks.values()
        if len(t) >= 4
    ]
    return {
        "spark.jobs_per_op": len(job_op) / n_ops,
        "spark.tasks_per_op": sum(len(t) for t in stage_tasks.values()) / n_ops,
        "spark.shuffle_write_bytes": shuffle,
        "spark.gc_ms": gc,
        "spark.task_skew": median(skews) if skews else 1.0,
    }


def progress_rows(query) -> list[dict]:
    """The query's recent progress reports as plain dicts."""
    return [json.loads(p.json) for p in query.recentProgress]


def progress_metrics(prefix: str, progress: list[dict], wall_s: float,
                     merge_s_by_batch: dict[int, float],
                     bookkeeping_s_by_batch: dict[int, float]) -> dict[str, float]:
    """Per-trigger durations (p50/p90), batch size, busy ratio and the
    per-batch overhead outside the merge call. The benchmark's own
    bookkeeping inside `foreachBatch` is taken out of `addBatch` and the
    trigger time first, so these are the program's figures."""
    progress = [p for p in progress if p.get("numInputRows", 0) > 0]
    out: dict[str, float] = {}
    if not progress:
        return out

    def dur(key: str) -> list[float]:
        return [float(p["durationMs"].get(key, 0)) for p in progress]

    def net(key: str) -> list[float]:
        return [float(p["durationMs"].get(key, 0))
                - 1000.0 * bookkeeping_s_by_batch.get(p["batchId"], 0.0)
                for p in progress]

    for key, name in (("triggerExecution", "trigger_ms"), ("addBatch", "add_batch_ms")):
        vals = net(key)
        out[f"{prefix}.{name}_p50"] = median(vals)
        out[f"{prefix}.{name}_p90"] = quantile(vals, 0.9)
    for key, name in (("walCommit", "wal_commit_ms"), ("commitOffsets", "commit_offsets_ms"),
                      ("queryPlanning", "query_planning_ms")):
        out[f"{prefix}.{name}_p50"] = median(dur(key))
    out[f"{prefix}.batch_rows_p50"] = median([float(p["numInputRows"]) for p in progress])
    out[f"{prefix}.busy_ratio"] = sum(net("triggerExecution")) / 1000.0 / wall_s
    over = [
        add - 1000.0 * merge_s_by_batch[p["batchId"]]
        for p, add in zip(progress, net("addBatch"))
        if p["batchId"] in merge_s_by_batch
    ]
    out[f"{prefix}.batch_overhead_ms_p50"] = median(over) if over else 0.0
    return out
