"""Generate the benchmark's input tables as parquet files.

The tables are graft's harness test data: a TPC-H-like star (region, nation,
customer, supplier, part, orders, lineitem) plus the `events` metric stream,
drawn from one numpy generator with seed 42. The draws below, in this order,
give the same rows as the harness tables at every scale factor (0.1 is the
17 MB set the benchmark runs on; `compare` checks a generated directory
against a copy of the harness tables). The workload seed only picks
operation order and delta slices over these tables.

    python3 perfbench/gen_data.py <out_dir> [scale]
    python3 perfbench/gen_data.py --compare <generated_dir> <reference_dir>

`scale` 0.1 gives 600k lineitem and 100k event rows.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_SEED = 42
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events")
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
PART_ADJECTIVES = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
PART_NOUNS = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
DAY_US = 86_400_000_000


def _days(start, n_days, rng, size):
    """Naive microsecond timestamps at whole days from `start`."""
    base = np.datetime64(start, "us").astype(np.int64)
    return base + rng.integers(0, n_days, size) * DAY_US


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, size):
    return np.round(rng.uniform(lo, hi, size), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out, scale):
    rng = np.random.default_rng(GENERATOR_SEED)
    os.makedirs(out, exist_ok=True)
    n_cust = max(int(150_000 * scale), 10)
    n_supp = max(int(10_000 * scale), 10)
    n_part = max(int(200_000 * scale), 10)
    n_ord = max(int(1_500_000 * scale), 10)
    n_line = max(int(6_000_000 * scale), 10)
    n_ev = max(int(1_000_000 * scale), 10)
    n_users = max(int(15_000 * scale), 10)

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    ck = np.arange(n_cust, dtype=np.int64)
    _write(out, "customer", {
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})

    sk = np.arange(n_supp, dtype=np.int64)
    _write(out, "supplier", {
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})

    pk = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pk,
        "p_name": np.char.add(
            np.char.add(np.array(PART_ADJECTIVES)[rng.integers(0, 8, n_part)], " "),
            np.array(PART_NOUNS)[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})

    ok = np.arange(n_ord, dtype=np.int64)
    _write(out, "orders", {
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(_days("1995-01-01", 2405, rng, n_ord)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})

    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": _money(rng, 0.0, 0.1, n_line),
        "l_tax": _money(rng, 0.0, 0.08, n_line),
        "l_returnflag": rng.choice(np.array(["R", "A", "N"]), n_line),
        "l_linestatus": rng.choice(np.array(["O", "F"]), n_line),
        "l_shipdate": _ts(_days("1995-01-02", 2499, rng, n_line))})

    # events: a month of samples in time order, at microsecond resolution
    # (seconds drawn as doubles, truncated through nanoseconds), five event
    # types, exponential values with two decimals and a small JSON payload
    secs = np.sort(rng.uniform(0, 30 * 86_400, n_ev))
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(start + (secs * 1e9).astype(np.int64) // 1000),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(np.array(EVENT_TYPES), n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})


def compare(got, want):
    """Row-by-row comparison of two table directories; returns the number
    of tables that differ in schema or content."""
    differ = 0
    for name in TABLES:
        a = pq.read_table(os.path.join(got, f"{name}.parquet"))
        b = pq.read_table(os.path.join(want, f"{name}.parquet"))
        same = a.schema.equals(b.schema) and a.equals(b)
        print(f"{name}: {a.num_rows} rows, {'identical' if same else 'DIFFERENT'}")
        differ += not same
    return differ


if __name__ == "__main__":
    if len(sys.argv) == 4 and sys.argv[1] == "--compare":
        sys.exit(1 if compare(sys.argv[2], sys.argv[3]) else 0)
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    generate(sys.argv[1], float(sys.argv[2]) if len(sys.argv) == 3 else 0.1)
