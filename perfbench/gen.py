"""Seeded input generation.

Writes TPC-H-shaped parquet tables (`lineitem`, `supplier`, `orders`)
into a directory the benchmark owns. The same (seed, scale) always
produces the same bytes; different seeds produce same-sized tables with
independent values, so timings are comparable across seeds.

The tables follow the engine's test fixtures, not TPC-H dbgen: in the
fixtures every column is drawn on its own, uniformly, over the ranges
below. `l_suppkey` does not depend on `l_partkey`, the return flag and
line status do not depend on the dates, and all six
(l_returnflag, l_linestatus) pairs occur about equally often.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_DAY_MS = 86_400_000
_EPOCH_1995 = 788_918_400_000  # 1995-01-01T00:00:00Z in ms


def _dates(rng: np.random.Generator, n: int, first: int, last: int) -> pa.Array:
    """Midnights of days `first`..`last` after 1995-01-01, uniformly."""
    ms = _EPOCH_1995 + rng.integers(first, last + 1, n) * _DAY_MS
    return pa.array(ms, type=pa.timestamp("ms"))


def _pick(rng: np.random.Generator, choices: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)],
                    type=pa.string())


def _write(table: pa.Table, path: str) -> None:
    # one row group per file, like the fixtures the engine is tested on
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


def generate(out_dir: str, seed: int, sf: float,
             tables: tuple[str, ...] = ("lineitem", "supplier", "orders")) -> dict:
    """Generate `tables` at scale factor `sf` under `out_dir`.

    Returns {table: row count}. Cardinalities follow TPC-H: 6M lineitem,
    1.5M orders, 10k suppliers, 150k customers and 200k parts per unit
    of scale.
    """
    os.makedirs(out_dir, exist_ok=True)
    n_line = int(6_000_000 * sf)
    n_orders = max(int(1_500_000 * sf), 1)
    n_supp = max(int(10_000 * sf), 50)
    n_cust = max(int(150_000 * sf), 1)
    n_part = max(int(200_000 * sf), 1)
    rows = {}
    # independent streams per table: adding a table never shifts another
    streams = dict(zip(("lineitem", "supplier", "orders"),
                       np.random.SeedSequence(seed).spawn(3)))
    if "lineitem" in tables:
        rng = np.random.default_rng(streams["lineitem"])
        n = n_line
        _write(pa.table({
            "l_orderkey": rng.integers(0, n_orders, n),
            "l_partkey": rng.integers(0, n_part, n),
            "l_suppkey": rng.integers(0, n_supp, n),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": _dates(rng, n, 1, 2499),
        }), os.path.join(out_dir, "lineitem.parquet"))
        rows["lineitem"] = n
    if "supplier" in tables:
        rng = np.random.default_rng(streams["supplier"])
        n = n_supp
        keys = np.arange(n, dtype=np.int64)
        _write(pa.table({
            "s_suppkey": keys,
            "s_name": pa.array([f"Supplier#{k:09d}" for k in keys]),
            "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        }), os.path.join(out_dir, "supplier.parquet"))
        rows["supplier"] = n
    if "orders" in tables:
        rng = np.random.default_rng(streams["orders"])
        n = n_orders
        _write(pa.table({
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
            "o_totalprice": np.round(rng.uniform(800.0, 500_000.0, n), 2),
            "o_orderdate": _dates(rng, n, 0, 2404),
            "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                           "4-NOT SPECIFIED", "5-LOW"], n),
        }), os.path.join(out_dir, "orders.parquet"))
        rows["orders"] = n
    return rows
