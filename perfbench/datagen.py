"""Seeded synthetic tables for the benchmark.

The schemas, value ranges and measured distributions (language mix,
near- and exact-duplicate documents, embedding near-copies) are those of
the repository's own generator, ``tools/gen_testdata.py``, whose
constants and document generator are imported here. This module adds
only the seed and the scale factor, and writes only the tables that the
graph and the benchmark's operator entries read (no ``part`` or
``lineitem``).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tools.gen_testdata import (EVENT_TYPES, LANG_P, LANGS, PRIORITIES,
                                SEGMENTS, STATUSES, _texts)

# TPC-H scale factor of the generated tables (README.md, "Scale").
SF = 0.01
N_CUST = int(150_000 * SF)
N_SUPP = int(10_000 * SF)
N_ORD = int(1_500_000 * SF)
N_EV = int(1_000_000 * SF)
N_DOC = int(50_000 * SF)
N_EMB = int(20_000 * SF)

TABLES = ["region", "nation", "customer", "supplier", "orders",
          "events", "documents", "embeddings"]


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i:02d}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(range(N_CUST), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUST)],
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUST), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-1000, 10_000, N_CUST), 2),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, N_CUST)],
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(N_SUPP), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPP)],
            "s_nationkey": pa.array(rng.integers(0, 25, N_SUPP), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-1000, 10_000, N_SUPP), 2),
        }),
    }
    odate = np.datetime64("1995-01-01") + rng.integers(0, 2400, N_ORD).astype(
        "timedelta64[D]")
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(N_ORD), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUST, N_ORD), pa.int64()),
        "o_orderstatus": [STATUSES[i] for i in rng.integers(0, 3, N_ORD)],
        "o_totalprice": np.round(rng.uniform(900, 500_000, N_ORD), 2),
        "o_orderdate": pa.array(odate.astype("datetime64[us]")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, N_ORD)],
    })
    ev_ts = np.sort(np.datetime64("2024-01-01") + rng.integers(
        0, 30 * 86_400_000, N_EV).astype("timedelta64[ms]"))
    out["events"] = pa.table({
        "event_id": pa.array(range(N_EV), pa.int64()),
        "ts": pa.array(ev_ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, N_CUST // 10, N_EV), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, N_EV)],
        "value": np.round(rng.exponential(50, N_EV), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, N_EV)],
    })
    texts = _texts(rng, N_DOC)
    out["documents"] = pa.table({
        "doc_id": pa.array(range(N_DOC), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, N_DOC, p=LANG_P)],
        "source": [f"src{int(s)}" for s in rng.integers(0, 20, N_DOC)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    emb = rng.normal(0, 0.15, (N_EMB, 64)).astype(np.float32)
    for i in range(20, N_EMB):
        if rng.random() < 0.02:
            emb[i] = emb[int(rng.integers(0, i))] + rng.normal(
                0, 0.001, 64).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(N_EMB), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_EMB).astype(np.int32)),
    })
    return out


def write_tables(tabs: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tabs.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
