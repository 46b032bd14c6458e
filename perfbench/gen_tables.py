"""Seeded generator for the benchmark's sf-scaled input tables.

Writes `orders.parquet`, `lineitem.parquet` and `events.parquet` with the
column names, physical types and value domains of the project's sf-scaled
test tables, each as one row group (the layout the queries' scan-parallelism
rule is tuned for):

- orders: dense keys 0..n-1, n = 1.5M * sf;
- lineitem: 6M * sf lines over those orders;
- events: 1M * sf events in January 2024 over 15k * sf users.

The same seed and scale give the same rows.

    python3 perfbench/gen_tables.py OUT_DIR --seed 7 --sf 0.1 [--tables orders,events]
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("orders", "lineitem", "events")


def _days(rng, start, span, n):
    d = rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return np.datetime64(start, "us") + d


def orders(rng, sf):
    n, n_cust = int(1_500_000 * sf), int(150_000 * sf)
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n), 2)),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2405, n), type=pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                              "5-LOW"])[rng.integers(0, 5, n)]),
    })


def lineitem(rng, sf):
    n, n_orders = int(6_000_000 * sf), int(1_500_000 * sf)
    keys = np.sort(rng.integers(0, n_orders, n)).astype(np.int64)
    first = np.searchsorted(keys, keys, side="left")
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(keys),
        "l_partkey": pa.array(rng.integers(0, int(200_000 * sf), n).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, int(10_000 * sf), n).astype(np.int64)),
        "l_linenumber": pa.array((np.arange(n) - first + 1).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2499, n), type=pa.timestamp("us")),
    })


def events(rng, sf):
    n = int(1_000_000 * sf)
    ts = np.datetime64("2024-01-01", "us") + rng.integers(0, 30 * 86_400_000_000, n).astype(
        "timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, int(15_000 * sf), n).astype(np.int64)),
        "event_type": pa.array(np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.uniform(0, 560, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def generate(out, seed, sf, tables=("orders",)):
    """Write `tables` for `seed` and `sf` under `out`; each table draws from
    its own stream, so a table's rows do not depend on which others are made.
    """
    os.makedirs(out, exist_ok=True)
    for name in tables:
        rng = np.random.default_rng([seed, TABLES.index(name)])
        t = globals()[name](rng, sf)
        pq.write_table(t, os.path.join(out, f"{name}.parquet"), row_group_size=t.num_rows)


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--tables", default="orders")
    a = ap.parse_args()
    generate(a.out, a.seed, a.sf, a.tables.split(","))
