"""Deterministic synthetic corpora for the benchmark.

The tables are the ones the benchmark's workloads read, with the
engine's test schema (a TPC-H-like star schema, an `events` click
stream and an `embeddings` table): same names, column types and value
domains, sized by a scale factor whose 0.1 gives 150,000 orders and
600,000 line items. The
corpora depend only on the scale and a fixed seed, never on the
workload seed, so every run of a checkout reads the same bytes.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 20240101
VERSION = 2

# Rows per table at scale factor 0.1; `part` and `supplier` are only
# the key domains of the line items' foreign keys.
ROWS_AT_SF01 = {
    "customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
    "lineitem": 600000, "events": 100000, "embeddings": 2000,
}
# Random stream of each generated table.
STREAM = {"customer": 0, "embeddings": 2, "events": 3, "lineitem": 4, "orders": 5}
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _days(lo, hi, n, rng):
    lo, hi = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    return (lo + rng.integers(0, (hi - lo).astype(int) + 1, n)).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf, which=None):
    """Yield (name, pyarrow.Table) for the requested tables."""
    n = {k: max(1, int(round(v * sf / 0.1))) for k, v in ROWS_AT_SF01.items()}
    n_users = max(10, n["customer"] // 10)

    def rng(name):
        return np.random.default_rng([CORPUS_SEED, STREAM[name]])

    def want(name):
        return which is None or name in which

    if want("region"):
        yield "region", pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    if want("nation"):
        yield "nation", pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    if want("customer"):
        r, m = rng("customer"), n["customer"]
        yield "customer", pa.table({
            "c_custkey": pa.array(np.arange(m), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(m)],
            "c_nationkey": pa.array(r.integers(0, 25, m), pa.int32()),
            "c_acctbal": _money(r, -999.99, 9999.99, m),
            "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, m)]})
    if want("orders"):
        r, m = rng("orders"), n["orders"]
        yield "orders", pa.table({
            "o_orderkey": pa.array(np.arange(m), pa.int64()),
            "o_custkey": pa.array(r.integers(0, n["customer"], m), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, m)],
            "o_totalprice": _money(r, 1000.0, 500000.0, m),
            "o_orderdate": _days("1995-01-01", "2001-08-01", m, r),
            "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, m)]})
    if want("lineitem"):
        r, m = rng("lineitem"), n["lineitem"]
        yield "lineitem", pa.table({
            "l_orderkey": pa.array(r.integers(0, n["orders"], m), pa.int64()),
            "l_partkey": pa.array(r.integers(0, n["part"], m), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n["supplier"], m), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, m), pa.int32()),
            "l_quantity": r.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": _money(r, 900.0, 105000.0, m),
            "l_discount": r.integers(0, 11, m) / 100.0,
            "l_tax": r.integers(0, 9, m) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, m)],
            "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, m)],
            "l_shipdate": _days("1995-01-02", "2001-11-04", m, r)})
    if want("events"):
        r, m = rng("events"), n["events"]
        start = np.datetime64("2024-01-01T00:00:00", "us")
        ts = np.sort(r.integers(0, 30 * 86400 * 10**6, m))
        yield "events", pa.table({
            "event_id": pa.array(np.arange(m), pa.int64()),
            "ts": pa.array(start + ts.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, n_users, m), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, m)],
            "value": np.round(r.exponential(50.0, m), 2),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, m)]})
    if want("embeddings"):
        r, m = rng("embeddings"), n["embeddings"]
        labels = r.integers(0, 10, m)
        centers = r.normal(0.0, 0.12, (10, 64))
        vecs = (centers[labels] + r.normal(0.0, 0.08, (m, 64))).astype(np.float32)
        yield "embeddings", pa.table({
            "vec_id": pa.array(np.arange(m), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32())})


def write(out_dir, sf, which=None, files=1):
    """Write the tables as `<name>.parquet` (a directory of `files`
    parts when files > 1, so scans split across cores)."""
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, t in tables(sf, which):
        if files == 1 or t.num_rows < 10000:
            pq.write_table(t, os.path.join(tmp, f"{name}.parquet"))
        else:
            d = os.path.join(tmp, f"{name}.parquet")
            os.makedirs(d)
            step = -(-t.num_rows // files)
            for k in range(files):
                pq.write_table(t.slice(k * step, step), os.path.join(d, f"part-{k:05d}.parquet"))
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
