"""Seeded benchmark input: a TPC-H-shaped ``lineitem`` table.

The program derives every transcript turn from ``lineitem`` (one
conversation per ``l_orderkey``, one turn per row; see
``prec_spark/transcripts.py``), so that is the only table staged.

The base table is fixed for a scale factor: its columns are drawn from
one fixed generator seed with the value ranges of the TPC-H-style test
tables (``l_orderkey`` uniform over ``[0, 1.5M * sf)``, hence about four
lines per order; part, supplier, line number, quantity, price and ship
date uniform over their ranges).  The workload seed then replaces
``l_orderkey`` through a seed-keyed permutation of its own value range.
That changes every conversation id, and with it hash placement, while
keeping each conversation's turns together -- every size and count the
program produces is the same for every seed; only digests differ.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: generator seed of the base table (never the workload seed)
BASE_SEED = 20261016

#: rows of lineitem at scale factor 1
ROWS_PER_SF = 6_000_000

_DAY_US = 86_400 * 1_000_000
_SHIP_FIRST = np.datetime64("1995-01-02", "us").astype(np.int64)
_SHIP_DAYS = 2498  # 1995-01-02 .. 2001-11-04


def base_lineitem(sf: float) -> pa.Table:
    """The fixed (seed-independent) lineitem table at scale factor ``sf``."""
    n = round(ROWS_PER_SF * sf)
    orders, parts, supps = round(1_500_000 * sf), round(200_000 * sf), round(10_000 * sf)
    rng = np.random.default_rng(BASE_SEED)
    return pa.table(
        {
            "l_orderkey": rng.integers(0, orders, n, dtype=np.int64),
            "l_partkey": rng.integers(0, parts, n, dtype=np.int64),
            "l_suppkey": rng.integers(0, supps, n, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": rng.integers(90_000, 10_500_000, n) / 100.0,
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
            "l_shipdate": pa.array(
                _SHIP_FIRST + rng.integers(0, _SHIP_DAYS, n) * _DAY_US,
                type=pa.timestamp("us"),
            ),
        }
    )


def seeded_lineitem(sf: float, seed: int) -> pa.Table:
    """``base_lineitem(sf)`` with ``l_orderkey`` replaced through a
    permutation of ``[0, orders)`` keyed by ``seed``."""
    t = base_lineitem(sf)
    orders = round(1_500_000 * sf)
    perm = np.random.default_rng([seed, BASE_SEED]).permutation(orders)
    keys = perm[t.column("l_orderkey").to_numpy()]
    return t.set_column(0, "l_orderkey", pa.array(keys, type=pa.int64()))


def stage_input(sf: float, seed: int, out_dir: str) -> str:
    """Write the seeded table as ``<out_dir>/lineitem.parquet`` (one
    file, one row group, like the test tables) and return ``out_dir`` --
    the only thing the program receives."""
    os.makedirs(out_dir, exist_ok=True)
    t = seeded_lineitem(sf, seed)
    pq.write_table(t, os.path.join(out_dir, "lineitem.parquet"), row_group_size=len(t))
    return out_dir
