"""Seeded tables for the store workload, in the shape of the repo's
TPC-H-ish testdata (same table names, columns and types), so the
``__spark_entry__`` queries and their DuckDB twins run on them unchanged.
One parquet file per table, like the testdata directories.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "view", "purchase", "error"]
WORDS = (
    "key agg row scan slow fast table value part hash merge batch spark a the line sort "
    "window order data column join small customer query big stream filter group"
).split()
LANGS = ["en", "es", "fr", "de", "zh"]

# row counts: about a fifth of the sf0.1 testdata, so one read is a
# small scan and a run holds enough reads for a p90
N_CUSTOMER = 3_000
N_ORDERS = 30_000
LINES_PER_ORDER = 4
N_EVENTS = 20_000
N_USERS = 1_000
N_DOCS = 1_000
N_VECS = 500
DIM = 64
T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00 UTC


def _str(values) -> pa.Array:
    return pa.array(values, pa.string())


def store_tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    region = pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _str(REGIONS)})
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": _str([f"NATION{i:02d}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
            "c_name": _str([f"Customer#{i:09d}" for i in range(N_CUSTOMER)]),
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
            "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, N_CUSTOMER), 2)),
            "c_mktsegment": _str(rng.choice(SEGMENTS, N_CUSTOMER)),
        }
    )
    order_days = rng.integers(0, 2_500, N_ORDERS)
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
            "o_orderstatus": _str(rng.choice(["F", "O", "P"], N_ORDERS)),
            "o_totalprice": pa.array(np.round(rng.uniform(900, 500_000, N_ORDERS), 2)),
            "o_orderdate": pa.array(
                (np.datetime64("1993-01-01") + order_days).astype("datetime64[us]"), pa.timestamp("us")
            ),
            "o_orderpriority": _str(rng.choice(PRIORITIES, N_ORDERS)),
        }
    )
    n_lines = N_ORDERS * LINES_PER_ORDER
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(np.repeat(np.arange(N_ORDERS), LINES_PER_ORDER), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 20_000, n_lines), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 1_000, n_lines), pa.int64()),
            "l_linenumber": pa.array(np.tile(np.arange(1, LINES_PER_ORDER + 1), N_ORDERS), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_lines).astype(float)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 100_000, n_lines), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_lines) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_lines) / 100.0),
            "l_returnflag": _str(rng.choice(["A", "N", "R"], n_lines)),
            "l_linestatus": _str(rng.choice(["F", "O"], n_lines)),
            "l_shipdate": pa.array(
                (np.datetime64("1993-01-01") + rng.integers(0, 2_600, n_lines)).astype("datetime64[us]"),
                pa.timestamp("us"),
            ),
        }
    )
    ts = np.sort(T0_US + rng.integers(0, 30 * 86_400_000_000, N_EVENTS))
    events = pa.table(
        {
            "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
            "event_type": _str(rng.choice(EVENT_TYPES, N_EVENTS)),
            "value": pa.array(np.round(rng.uniform(0, 50, N_EVENTS), 2)),
            "props": _str([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
    }


def curation_tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    """Documents with planted exact and near duplicates, and clustered
    embeddings — inputs on which the dedup and similarity operators find
    something."""
    texts = [" ".join(rng.choice(WORDS, rng.integers(8, 80))) for _ in range(N_DOCS)]
    for i in rng.choice(N_DOCS, N_DOCS // 10, replace=False):
        texts[i] = texts[rng.integers(0, N_DOCS)]  # exact copy
    for i in rng.choice(N_DOCS, N_DOCS // 10, replace=False):
        words = texts[rng.integers(0, N_DOCS)].split()
        words[rng.integers(0, len(words))] = str(rng.choice(WORDS))
        texts[i] = " ".join(words)  # near copy
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
            "text": _str(texts),
            "lang": _str(rng.choice(LANGS, N_DOCS)),
            "source": _str([f"src{i % 20}" for i in range(N_DOCS)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    labels = rng.integers(0, 10, N_VECS)
    centers = rng.normal(size=(10, DIM))
    vecs = (centers[labels] + 0.3 * rng.normal(size=(N_VECS, DIM))).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return {"documents": documents, "embeddings": embeddings}


def write_tables(tables: dict[str, pa.Table], sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
