"""Seeded synthetic inputs for the benchmark workloads.

Tables follow the engine's TPC-H-ish fixture schemas (column names and
parquet types match the bundled scripts and oracles) at the sf0.1 row
counts. Every value is a function of the seed alone, so one seed always
yields byte-identical tables.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_ORDERS = 150_000
N_CUSTOMER = 15_000
N_PART = 20_000
N_SUPPLIER = 1_000
N_EVENTS = 100_000
N_EMBED = 20_000
EMBED_DIM = 64

NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
           "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
           "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
           "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
           "UNITED STATES"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

# Tables each workload reads.
TABLES = {
    "pig_etl": ["lineitem", "orders", "customer", "part", "events"],
    "lake_churn": ["orders"],
    "fed_pigout": ["orders", "customer", "nation", "lineitem"],
    "ann_serve": ["embeddings"],
}


def _ts(start, end, n, rng):
    """n naive timestamps (whole seconds) uniform in [start, end)."""
    lo = int(start.replace(tzinfo=datetime.timezone.utc).timestamp())
    hi = int(end.replace(tzinfo=datetime.timezone.utc).timestamp())
    secs = rng.integers(lo, hi, n, dtype=np.int64)
    return pa.array(secs * 1_000_000, type=pa.timestamp("us"))


def _choice(values, n, rng, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    type=pa.string())


def _money(lo, hi, n, rng):
    return np.round(rng.uniform(lo, hi, n), 2)


def orders(rng):
    n = N_ORDERS
    return pa.table({
        "o_orderkey": pa.array(np.arange(1, n + 1, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(1, N_CUSTOMER + 1, n, dtype=np.int64)),
        "o_orderstatus": _choice(["F", "O", "P"], n, rng, p=[0.49, 0.49, 0.02]),
        "o_totalprice": pa.array(_money(900.0, 500_000.0, n, rng)),
        "o_orderdate": _ts(datetime.datetime(1992, 1, 1), datetime.datetime(1998, 8, 2), n, rng),
        "o_orderpriority": _choice(PRIORITIES, n, rng),
    })


def lineitem(rng):
    lines = rng.integers(1, 8, N_ORDERS)  # 1..7 lines per order, ~600k rows
    n = int(lines.sum())
    okey = np.repeat(np.arange(1, N_ORDERS + 1, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lnum = (np.arange(n) - starts + 1).astype(np.int32)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(1, N_PART + 1, n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(1, N_SUPPLIER + 1, n, dtype=np.int64)),
        "l_linenumber": pa.array(lnum),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _choice(["A", "N", "R"], n, rng),
        "l_linestatus": _choice(["F", "O"], n, rng),
        "l_shipdate": _ts(datetime.datetime(1995, 1, 2), datetime.datetime(2001, 11, 4), n, rng),
    })


def customer(rng):
    n = N_CUSTOMER
    keys = np.arange(1, n + 1, dtype=np.int64)
    return pa.table({
        "c_custkey": pa.array(keys),
        "c_name": pa.array([f"Customer#{k:09d}" for k in keys], type=pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(_money(-999.99, 9999.99, n, rng)),
        "c_mktsegment": _choice(SEGMENTS, n, rng),
    })


def part(rng):
    n = N_PART
    keys = np.arange(1, n + 1, dtype=np.int64)
    brands = [f"Brand#{a}{b}" for a in range(1, 6) for b in range(1, 6)]
    types = [f"{a} {b}" for a in ("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY")
             for b in ("TIN", "NICKEL", "BRASS", "STEEL", "COPPER")]
    return pa.table({
        "p_partkey": pa.array(keys),
        "p_name": pa.array([f"part {k}" for k in keys], type=pa.string()),
        "p_brand": _choice(brands, n, rng),
        "p_type": _choice(types, n, rng),
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": pa.array(_money(900.0, 2100.0, n, rng)),
    })


def nation(rng):
    return pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array(NATIONS, type=pa.string()),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })


def events(rng):
    n = N_EVENTS
    return pa.table({
        "event_id": pa.array(np.arange(1, n + 1, dtype=np.int64)),
        "ts": _ts(datetime.datetime(2024, 1, 1), datetime.datetime(2024, 1, 30), n, rng),
        "user_id": pa.array(rng.integers(1, 20_001, n, dtype=np.int64)),
        "event_type": _choice(EVENT_TYPES, n, rng, p=[0.4, 0.05, 0.1, 0.05, 0.4]),
        "value": pa.array(np.round(rng.uniform(0.0, 1000.0, n), 3)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], type=pa.string()),
    })


def embeddings(rng):
    """Clustered unit-ish vectors: 64 Gaussian blobs, so nearest
    neighbours are meaningful and IVF cells are uneven, as in real
    embedding corpora."""
    n, d = N_EMBED, EMBED_DIM
    centers = rng.normal(0.0, 1.0, (64, d))
    label = rng.integers(0, 64, n)
    vecs = (centers[label] + rng.normal(0.0, 0.6, (n, d))).astype(np.float32)
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, n * d + 1, d, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array((label % 10).astype(np.int32)),
    })


def generate(workload, seed, out_dir):
    """Write the workload's tables as `<name>.parquet` under out_dir;
    return {table: {"rows": n, "bytes": b}}."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for i, name in enumerate(TABLES[workload]):
        rng = np.random.default_rng([seed, i])
        table = globals()[name](rng)
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        sizes[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    return sizes
