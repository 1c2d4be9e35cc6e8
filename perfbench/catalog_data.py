"""Seeded synthetic tables for the catalog workload: the TPC-H-ish star
schema plus `events`, `documents` and `embeddings`, with the column names,
types and value domains the `__spark_entry__` catalog reads. Row counts are
fixed per table (about TPC-H scale factor 0.001); values come from --seed.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
ROWS = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
        "events": 1000, "documents": 500, "embeddings": 500}
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("small", "large", "red", "blue", "hot", "cold", "old", "new")
PART_NOUN = ("widget", "gear", "bolt", "ring", "rod", "plate", "gizmo", "anvil")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = (("en", 0.44), ("zh", 0.15), ("es", 0.14), ("de", 0.14), ("fr", 0.13))
WORDS = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window")


def _money(rng, lo: float, hi: float, n: int) -> list[float]:
    return [round(float(x), 2) for x in rng.uniform(lo, hi, n)]


def generate(out_dir: str, seed: int) -> None:
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def write(name: str, cols: dict, schema: pa.Schema) -> None:
        pq.write_table(pa.table(cols, schema=schema), os.path.join(out_dir, f"{name}.parquet"))

    write("region", {"r_regionkey": list(range(5)), "r_name": list(REGIONS)},
          pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))
    write("nation", {"n_nationkey": list(range(25)),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": [i % 5 for i in range(25)]},
          pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                     ("n_regionkey", pa.int32())]))

    nc = ROWS["customer"]
    write("customer", {
        "c_custkey": list(range(nc)),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).tolist(),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc).tolist(),
    }, pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                  ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                  ("c_mktsegment", pa.string())]))

    ns = ROWS["supplier"]
    write("supplier", {
        "s_suppkey": list(range(ns)),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).tolist(),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    }, pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                  ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]))

    npart = ROWS["part"]
    write("part", {
        "p_partkey": list(range(npart)),
        "p_name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}" for _ in range(npart)],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PART_TYPES, npart).tolist(),
        "p_size": rng.integers(1, 51, npart).tolist(),
        "p_retailprice": [round(900 + (k % 1000) / 10, 1) for k in range(npart)],
    }, pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                  ("p_brand", pa.string()), ("p_type", pa.string()),
                  ("p_size", pa.int32()), ("p_retailprice", pa.float64())]))

    no = ROWS["orders"]
    day0 = datetime(1995, 1, 1)
    odates = [day0 + timedelta(days=int(d)) for d in rng.integers(0, 2404, no)]
    write("orders", {
        "o_orderkey": list(range(no)),
        "o_custkey": rng.integers(0, nc, no).tolist(),
        "o_orderstatus": rng.choice(("F", "O", "P"), no).tolist(),
        "o_totalprice": _money(rng, 1000, 500000, no),
        "o_orderdate": odates,
        "o_orderpriority": rng.choice(PRIORITIES, no).tolist(),
    }, pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                  ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                  ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string())]))

    li: dict[str, list] = {k: [] for k in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate")}
    for ok in range(no):
        for line in range(1, int(rng.integers(1, 8)) + 1):
            qty = float(rng.integers(1, 51))
            li["l_orderkey"].append(ok)
            li["l_partkey"].append(int(rng.integers(0, npart)))
            li["l_suppkey"].append(int(rng.integers(0, ns)))
            li["l_linenumber"].append(line)
            li["l_quantity"].append(qty)
            li["l_extendedprice"].append(round(qty * float(rng.uniform(900, 2100)), 2))
            li["l_discount"].append(int(rng.integers(0, 11)) / 100)
            li["l_tax"].append(int(rng.integers(0, 9)) / 100)
            li["l_returnflag"].append(str(rng.choice(("A", "N", "R"))))
            li["l_linestatus"].append(str(rng.choice(("F", "O"))))
            li["l_shipdate"].append(odates[ok] + timedelta(days=int(rng.integers(1, 122))))
    write("lineitem", li, pa.schema([
        ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
        ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()),
        ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()),
        ("l_tax", pa.float64()), ("l_returnflag", pa.string()),
        ("l_linestatus", pa.string()), ("l_shipdate", pa.timestamp("us"))]))

    ne = ROWS["events"]
    ts0 = datetime(2024, 1, 1)
    offsets = np.sort(rng.uniform(0, 30 * 86400, ne))
    write("events", {
        "event_id": list(range(ne)),
        "ts": [ts0 + timedelta(microseconds=int(s * 1e6)) for s in offsets],
        "user_id": rng.integers(0, 150, ne).tolist(),
        "event_type": rng.choice(EVENT_TYPES, ne).tolist(),
        "value": [max(0.01, round(float(v), 2)) for v in rng.exponential(50, ne)],
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
    }, pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                  ("user_id", pa.int64()), ("event_type", pa.string()),
                  ("value", pa.float64()), ("props", pa.string())]))

    nd = ROWS["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    langs, shares = zip(*LANGS)
    write("documents", {
        "doc_id": list(range(nd)),
        "text": texts,
        "lang": rng.choice(langs, nd, p=shares).tolist(),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": [len(t) for t in texts],
    }, pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                  ("source", pa.string()), ("n_chars", pa.int64())]))

    nv = ROWS["embeddings"]
    vecs = rng.normal(size=(nv, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": list(range(nv)),
        "embedding": [v.tolist() for v in vecs],
        "label": rng.integers(0, 10, nv).tolist(),
    }, pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                  ("label", pa.int32())]))
