"""catalog_batch: one pass over a fixed list of `__spark_entry__` catalog
entries on seeded synthetic tables, in a fresh session, as a scheduled
batch job runs it. An untimed warm-up job first reads a parquet table and
collects it to pandas, so the session's one-off first-use costs (parquet
reader, code generation, Arrow) land in set-up, not on the first entry.
The pass is a fixed amount of work, so its length, not --seconds, sets the
measured window.

It bypasses the CDC table path entirely, so it is the no-change control
for ingest and lake-table optimisations (and they are its control). The
list holds one entry per `operators/*` module, TPC-H q1/q3/q5, and one
streaming-window and one stateful-streaming entry. Every result is
checked against the entry's `oracle_sql()` DuckDB twin once per run,
after the timed pass.
"""

from __future__ import annotations

import os
import time

import duckdb
import pandas as pd

import catalog_data
from common import fresh_dir, median
from eventlog import OP_PROPERTY

#: entry -> the layer it exercises (the operators module, or the TPC-H /
#: streaming surface it stands for)
ENTRIES = {
    "q1_pricing_summary": "tpch",
    "q3_shipping_priority": "tpch",
    "q5_local_supplier_volume": "tpch",
    "dedup_exact": "operators.dedup",
    "export_shard_stats": "operators.export",
    "graph_bfs_reachability": "operators.graph",
    "q_asof_next_purchase": "operators.joins",
    "layout_zorder_events": "operators.layout",
    "multimodal_bytes_meta": "operators.multimodal",
    "pack_token_budget": "operators.packing",
    "rollup_incremental": "operators.rollup",
    "sample_stratified_lang": "operators.sampling",
    "ann_quantize_int8": "operators.similarity",
    "sketch_hll_distinct": "operators.stats",
    "text_token_count": "operators.text",
    "q_twap_hourly": "operators.timeseries",
    "q_skyline_parts": "operators.windows_fn",
    "streaming_tumbling_counts": "streaming.windows",
    "streaming_cohort_retention": "streaming.state",
}


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]").astype(str).mask(s.isna(), "None")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype(object).astype(str)
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
        else:
            df[c] = s.astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def frames_equal(a: pd.DataFrame, b: pd.DataFrame) -> tuple[bool, str]:
    """Order-insensitive exact equality (columns by name, rows sorted)."""
    if sorted(a.columns) != sorted(b.columns):
        return False, f"columns {sorted(a.columns)} != {sorted(b.columns)}"
    if len(a) != len(b):
        return False, f"{len(a)} rows != {len(b)}"
    na, nb = _normalize(a), _normalize(b)
    for c in na.columns:
        x, y = na[c], nb[c]
        if x.dtype != y.dtype:
            return False, f"column {c}: dtype {x.dtype} != {y.dtype}"
        same = (x == y) | (x.isna() & y.isna())
        if not same.all():
            i = int((~same).idxmax())
            return False, f"column {c} row {i}: {x[i]!r} != {y[i]!r}"
    return True, ""


def _warm_up(spark, data: str) -> None:
    """One cheap job of the pass's shape: read parquet, aggregate, collect to
    pandas. Its result is not used."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(os.path.join(data, "lineitem.parquet"))
    df.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("q")).toPandas()


def run(ctx) -> float:
    import __spark_entry__ as catalog

    res, tracer, spark = ctx.res, ctx.tracer, ctx.spark
    data = os.path.join(fresh_dir("catalog_batch"), "data")
    t0 = time.time()
    catalog_data.generate(data, ctx.seed)
    _warm_up(spark, data)
    setup_s = time.time() - t0
    fns = catalog.queries()
    oracles = catalog.oracle_sql()
    missing = [e for e in ENTRIES if e not in fns or e not in oracles]
    if missing:
        raise RuntimeError(f"catalog entries missing: {missing}")

    sc = spark.sparkContext

    def run_entry(name: str, parent: int | None) -> tuple[float, pd.DataFrame]:
        sc.setLocalProperty(OP_PROPERTY, name)
        with tracer.span(f"{ENTRIES[name]}.entry", parent) as sp:
            out = fns[name](spark, data).toPandas()
        sc.setLocalProperty(OP_PROPERTY, None)
        return sp.seconds, out

    # one timed pass in the fresh session, as a scheduled batch job runs it
    times: dict[str, float] = {}
    results: dict[str, pd.DataFrame] = {}
    with tracer.span("catalog.pass") as sp:
        for name in ENTRIES:
            times[name], results[name] = run_entry(name, sp.sid)

    # every result against its DuckDB oracle, outside the timed pass
    t_check = time.time()
    con = duckdb.connect()
    for t in catalog_data.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    for name, out in results.items():
        ok, why = frames_equal(out, con.execute(oracles[name]).df())
        res.gate(f"oracle:{name}", ok, why)
    con.close()
    res.notes.append(f"oracle checks took {time.time() - t_check:.1f} s")

    # the operation is the pass: its wall time, and entries per second of it.
    # Both come from the one pass (the median entry's latency, shown below,
    # moves with whichever entry sits in the middle and is too unsteady to
    # gate).
    res.e2e["op_p50_s"] = sp.seconds
    res.e2e["ops_per_s"] = len(times) / sp.seconds
    res.show("catalog_pass_s", sp.seconds, "s")
    res.show("entries_per_s", len(times) / sp.seconds, "1/s")
    res.show("entry_p50_s", median(list(times.values())), "s")

    if ctx.traced:
        for name, layer in ENTRIES.items():
            res.layer[f"{layer}.{name}_s"] = times[name]
        res.layer["tpch.sum_s"] = sum(t for n, t in times.items() if ENTRIES[n] == "tpch")
        res.layer["operators.sum_s"] = sum(
            t for n, t in times.items() if ENTRIES[n].startswith("operators."))
    return setup_s
