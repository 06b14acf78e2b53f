"""Seeded source generator: TPC-H-shaped ``orders`` / ``lineitem`` /
``customer`` tables in the repository's fixture layout (one parquet file
per table, the column names and Arrow types of the sf* fixtures).

The same seed gives the same rows. ``lineitem.l_orderkey`` and
``l_linenumber`` are drawn independently, as in the fixtures, so the
child table holds duplicate (l_orderkey, l_linenumber) pairs.

For the incremental workload, :func:`generate` also picks a seeded
``changed`` set of orders scattered across the key space and dates them
after :data:`BOOKMARK`. ``variant`` (0, 1 or 2) selects the values those
orders and their line items carry; every other row is identical across
variants, so a refresh from one variant to another updates exactly the
changed orders.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_START = datetime(1995, 1, 1)
BOOKMARK = datetime(2001, 6, 1)      # incremental lastRun; changed rows sit after it
DAY_US = 86_400 * 1_000_000
LINES_PER_ORDER = 4
CHANGED_FRAC = 0.01                  # share of orders dated after BOOKMARK
_STATUS = np.array(["O", "F", "P"])
_PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_SEGMENT = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_FLAG = np.array(["A", "N", "R"])
_LSTATUS = np.array(["O", "F"])


def _us(dt: datetime) -> int:
    return int((dt - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


@dataclass
class Source:
    """Generated tables (Arrow) plus the facts the checks need."""

    orders: pa.Table
    lineitem: pa.Table
    customer: pa.Table
    changed: np.ndarray          # order keys dated after BOOKMARK

    def write(self, directory: str) -> str:
        os.makedirs(directory, exist_ok=True)
        for name in ("orders", "lineitem", "customer"):
            pq.write_table(getattr(self, name),
                           os.path.join(directory, f"{name}.parquet"))
        return directory

    @property
    def n_rows(self) -> int:
        return self.orders.num_rows + self.lineitem.num_rows + self.customer.num_rows


def generate(seed: int, n_orders: int, variant: int = 0) -> Source:
    """Build one seeded source. ``variant`` only changes the values of
    the ``changed`` orders and their line items."""
    rng = np.random.default_rng(seed)
    n_cust = max(1, n_orders // 10)
    n_lines = n_orders * LINES_PER_ORDER
    lo, hi = _us(EPOCH_START), _us(BOOKMARK)

    okey = np.arange(n_orders, dtype=np.int64)
    odate = lo + rng.integers(0, (hi - lo) // DAY_US, n_orders) * DAY_US
    n_changed = max(1, round(n_orders * CHANGED_FRAC))
    changed = np.sort(rng.choice(n_orders, n_changed, replace=False))
    odate[changed] = hi + rng.integers(0, 30, n_changed) * DAY_US
    ocust = rng.integers(0, n_cust, n_orders, dtype=np.int64)
    si = rng.integers(0, 3, n_orders)
    oprice = np.round(rng.uniform(900.0, 500_000.0, n_orders), 2)
    oprio = _PRIORITY[rng.integers(0, 5, n_orders)]

    lkey = rng.integers(0, n_orders, n_lines, dtype=np.int64)
    lpart = rng.integers(0, 20_000, n_lines, dtype=np.int64)
    lsupp = rng.integers(0, 1_000, n_lines, dtype=np.int64)
    lnum = rng.integers(1, 8, n_lines).astype(np.int32)
    lqty = rng.integers(1, 51, n_lines).astype(np.float64)
    lprice = np.round(lqty * rng.uniform(900.0, 2_000.0, n_lines), 2)
    ldisc = rng.integers(0, 11, n_lines) / 100.0
    ltax = rng.integers(0, 9, n_lines) / 100.0
    fi = rng.integers(0, 3, n_lines)
    lstat = _LSTATUS[rng.integers(0, 2, n_lines)]
    lship = odate[lkey] + rng.integers(1, 122, n_lines) * DAY_US

    # variant values for the changed orders and their line items: the
    # status/flag codes shift by ``variant`` (mod 3), so variants 0, 1
    # and 2 differ pairwise on every changed row; prices move as well
    if variant:
        vr = np.random.default_rng([seed, variant])
        si[changed] = (si[changed] + variant) % 3
        oprice[changed] = np.round(oprice[changed] + vr.uniform(1.0, 100.0, n_changed), 2)
        hit = np.isin(lkey, changed)
        fi[hit] = (fi[hit] + variant) % 3
        lprice[hit] = np.round(lprice[hit] + vr.uniform(1.0, 100.0, hit.sum()), 2)

    ts = pa.timestamp("us")
    orders = pa.table({
        "o_orderkey": okey, "o_custkey": ocust, "o_orderstatus": _STATUS[si],
        "o_totalprice": oprice, "o_orderdate": pa.array(odate, ts),
        "o_orderpriority": oprio,
    })
    lineitem = pa.table({
        "l_orderkey": lkey, "l_partkey": lpart, "l_suppkey": lsupp,
        "l_linenumber": lnum, "l_quantity": lqty, "l_extendedprice": lprice,
        "l_discount": ldisc, "l_tax": ltax, "l_returnflag": _FLAG[fi],
        "l_linestatus": lstat, "l_shipdate": pa.array(lship, ts),
    })
    ckey = np.arange(n_cust, dtype=np.int64)
    customer = pa.table({
        "c_custkey": ckey,
        "c_name": [f"Customer#{k:09d}" for k in ckey],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9_999.99, n_cust), 2),
        "c_mktsegment": _SEGMENT[rng.integers(0, 5, n_cust)],
    })
    return Source(orders, lineitem, customer, changed)
