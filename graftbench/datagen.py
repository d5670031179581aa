"""Seeded star-schema generator for the benchmark.

Writes the eight tables the reference queries read (region, nation,
customer, supplier, part, orders, lineitem, events) as one parquet file
each, with the column names, types and value domains of the project's
test data: TPC-H-shaped keys, ``timestamp[us]`` without a zone, 2-dp
money values. Row counts scale with ``sf`` (sf=1 means 6M lineitem rows).

The worker's fact stream (serve_mixed) is generated the same way and cut on
``l_orderkey`` into one parquet file per batch, so a fold reads only its
own batch.

Everything is a pure function of (seed, sf): the same seed gives
byte-identical tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "old", "red", "small", "new", "hot", "large", "cold"]
NOUN = ["widget", "gizmo", "bolt", "plate", "anvil", "rod", "ring", "gear"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]

DAY_US = 86_400_000_000


def _us(date):
    return int(np.datetime64(date, "us").astype(np.int64))


def _days(rng, n, start, end):
    """Whole-day timestamps uniformly in [start, end]."""
    lo, hi = _us(start) // DAY_US, _us(end) // DAY_US
    return pa.array(rng.integers(lo, hi + 1, n) * DAY_US, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _sizes(sf):
    return dict(customer=int(150_000 * sf), supplier=max(10, int(10_000 * sf)),
                part=int(200_000 * sf), orders=int(1_500_000 * sf),
                events=int(1_000_000 * sf))


def lineitem_table(rng, sf):
    n = _sizes(sf)
    rows = 4 * n["orders"]
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], rows), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], rows), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], rows), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, rows), pa.int32()),
        "l_quantity": rng.integers(1, 51, rows).astype(np.float64),
        "l_extendedprice": _money(rng, rows, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, rows) / 100.0,
        "l_tax": rng.integers(0, 9, rows) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], rows),
        "l_linestatus": _pick(rng, ["F", "O"], rows),
        "l_shipdate": _days(rng, rows, "1995-01-02", "2001-11-04"),
    })


def star_schema(seed, sf, out_dir):
    """Write the eight tables under ``out_dir``; returns ``out_dir``."""
    rng = np.random.default_rng([seed, 1])
    n = _sizes(sf)
    os.makedirs(out_dir, exist_ok=True)
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    c = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, c, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, c)})
    s = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(rng, s, -999.99, 9999.99)})
    p = n["part"]
    keys = np.arange(p)
    tables["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": _pick(rng, TYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})
    o = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], o),
        "o_totalprice": _money(rng, o, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, o, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, PRIORITIES, o)})
    tables["lineitem"] = lineitem_table(rng, sf)
    e = n["events"]
    t0 = _us("2024-01-01")
    ts = np.sort(rng.integers(t0, t0 + 30 * DAY_US, e))
    tables["events"] = pa.table({
        "event_id": pa.array(range(e), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, c // 10), e), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, e),
        "value": np.round(rng.exponential(20.0, e) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def fold_batches(seed, sf, batches, out_dir):
    """Cut a generated lineitem on ``l_orderkey`` into ``batches``
    consecutive key ranges of equally many orders, one parquet file per
    batch. Returns the per-batch row counts, indexed by batch id."""
    rng = np.random.default_rng([seed, 2])
    li = lineitem_table(rng, sf)
    order = np.argsort(li["l_orderkey"].to_numpy(), kind="stable")
    li = li.take(pa.array(order))
    keys = li["l_orderkey"].to_numpy()
    orders_per_batch = -(-_sizes(sf)["orders"] // batches)
    n_batches = int(keys.max()) // orders_per_batch + 1
    bounds = np.searchsorted(keys, np.arange(n_batches + 1) * orders_per_batch)
    os.makedirs(out_dir, exist_ok=True)
    counts = []
    for b in range(n_batches):
        part = li.slice(bounds[b], bounds[b + 1] - bounds[b])
        pq.write_table(part, os.path.join(out_dir, f"batch-{b:05d}.parquet"))
        counts.append(part.num_rows)
    return counts
