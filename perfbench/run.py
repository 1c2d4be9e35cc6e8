"""Benchmark entry point.

    python3 perfbench/run.py --workload {bus_ingest,catalog_batch}
                             --seed N --seconds S --trace {0,1}

Run from the repository root. Builds its inputs from --seed, measures for
about --seconds, checks every output against an independent oracle, and
prints one JSON line last: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones (and the spans are written to .bench_work/spans-*.json).
Exits 1 if any correctness gate fails, 2 if the engine cannot be imported.
See perfbench/METRICS.md for what each metric means.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time
import traceback

from eventlog import spark_metrics, tagged_op
from common import (
    ROOT, WORK, Result, RssSampler, Tracer, fresh_dir, ncores, pin_scratch_dirs,
    shutdown_jvm, start_spark,
)

WORKLOADS = ("bus_ingest", "catalog_batch")


class Context:
    """What a workload gets: the session, the run parameters, and where to
    put results."""

    def __init__(self, args, res: Result, tracer: Tracer, rss: RssSampler) -> None:
        self.seed = args.seed
        self.seconds = float(args.seconds)
        self.traced = bool(args.trace)
        self.res, self.tracer, self.rss = res, tracer, rss
        self.spark = None
        self.event_dir: str | None = None
        self.bookkeeping_s = 0.0
        self.after_stop: list = []
        #: maps a Spark job's properties to the operation it served
        self.op_of = tagged_op

    def start_session(self, master: str, event_log: bool):
        if event_log:
            self.event_dir = fresh_dir("eventlog")
        self.spark = start_spark(master, self.event_dir if event_log else None)
        self.spark.range(1).count()  # the first job pays lazy JVM set-up
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            spark, self.spark = self.spark, None
            spark.stop()


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description="bus CDC benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.append(ROOT)
    try:
        import buskafkasparkstreaming_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2

    os.makedirs(WORK, exist_ok=True)
    pin_scratch_dirs()
    res = Result()
    run_id = f"{args.workload}-{args.seed}-{int(time.time())}"
    tracer = Tracer(bool(args.trace), run_id)
    ctx = Context(args, res, tracer, RssSampler())
    mod = importlib.import_module(args.workload)
    wall0 = time.time()
    try:
        with ctx.rss:
            try:
                t0 = time.time()
                ctx.start_session(f"local[{ncores()}]", event_log=bool(args.trace))
                session_s = time.time() - t0
                setup_s = session_s + mod.run(ctx)
                ctx.stop_session()
                main_wall = time.time() - wall0
                if args.trace:
                    res.layer.update(spark_metrics(ctx.event_dir, ctx.op_of))
                    for hook in ctx.after_stop:
                        hook()
            finally:
                ctx.stop_session()
                shutdown_jvm()
    except Exception:
        traceback.print_exc()
        res.op(False)
        print(json.dumps({"correct": False, "attempted": res.attempted,
                          "failed": res.failed, "metrics": {}}))
        return 1

    res.e2e["setup_s"] = setup_s
    for name, value, unit in res.named:
        print(f"{args.workload} {name} = {value:.6g} {unit}", file=sys.stderr)
    print(f"{args.workload} setup_s = {setup_s:.6g} s", file=sys.stderr)
    print(f"{args.workload} peak_rss_mb = {ctx.rss.peak_mb:.6g} MB", file=sys.stderr)
    print(f"{args.workload} failed_ops_ratio = {res.failed / max(1, res.attempted):.6g} "
          f"ratio ({res.failed}/{res.attempted})", file=sys.stderr)
    for note in res.notes:
        print(f"{args.workload} {note}", file=sys.stderr)

    if args.trace:
        res.layer["session.start_s"] = session_s
        res.layer["process.peak_rss_mb"] = ctx.rss.peak_mb
        res.layer["trace.bookkeeping_s"] = ctx.bookkeeping_s
        res.layer["trace.overhead_share"] = ctx.bookkeeping_s / main_wall
        for k in ("op_p50_s", "ops_per_s"):
            res.layer[f"trace.{k}"] = res.e2e[k]
        for name, secs in tracer.self_times().items():
            res.layer[f"self_s.{name}"] = secs
        for name in sorted(res.layer):
            print(f"{args.workload} layer {name} = {res.layer[name]:.6g}", file=sys.stderr)
        spans_path = os.path.join(WORK, f"spans-{run_id}.json")
        tracer.dump(spans_path)
        print(f"{args.workload} spans written to {spans_path}", file=sys.stderr)
        values, kind = res.layer, "per_layer"
    else:
        values, kind = res.e2e, "end_to_end"
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        declared = {m["name"]: m["unit"] for m in json.load(fh)[kind]}
    # a per-layer metric of a layer this workload does not touch reads 0
    metrics = {
        n: {"value": float(values[n] if kind == "end_to_end" else values.get(n, 0.0)), "unit": u}
        for n, u in declared.items()
    }
    undeclared = sorted(n for n in set(values) - set(declared) if not n.startswith("self_s."))
    if undeclared:
        print(f"{args.workload} measured but not declared: {undeclared}", file=sys.stderr)
    print(json.dumps({"correct": res.correct, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0 if res.correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
