"""Seeded benchmark input, written as parquet in the library's table layout.

The library reads its tables with ``sources.datasets.load_table(spark,
sf_dir, name)``, so the benchmark writes ``lineitem.parquet`` into a
directory and passes that directory as ``sf_dir``. The same seed always
gives the same table.

The shape follows the TPC-H-like ``lineitem`` the registry was written
against, with ``l_extendedprice = l_quantity * unit_price(l_partkey)``, so
the regression label ``extendedprice * (1 - discount)`` and the multiclass
unit-price bucket (``< 1350``, ``< 3125``, rest) are both learnable from the
assembled features (quantity, discount, tax, partkey, suppkey). A holdout
can therefore be checked against the no-information baseline.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_PARTS = 2000


def write_lineitem(out_dir: str, seed: int, n: int) -> None:
    rng = np.random.default_rng(seed)
    unit = 600.0 + 3.0 * np.arange(N_PARTS) + rng.uniform(-300.0, 300.0, N_PARTS)
    partkey = rng.integers(0, N_PARTS, n)
    quantity = rng.integers(1, 51, n).astype(np.float64)
    ship = np.datetime64("1995-01-01") + rng.integers(0, 1200, n).astype("timedelta64[D]")
    table = pa.table(
        {
            "l_orderkey": np.arange(n, dtype=np.int64) // 4,
            "l_partkey": partkey.astype(np.int64),
            "l_suppkey": rng.integers(0, 100, n).astype(np.int64),
            "l_linenumber": (np.arange(n) % 4 + 1).astype(np.int32),
            "l_quantity": quantity,
            "l_extendedprice": np.round(quantity * unit[partkey], 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
            "l_linestatus": rng.choice(np.array(["F", "O"]), n),
            "l_shipdate": ship.astype("datetime64[us]"),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "lineitem.parquet"))
