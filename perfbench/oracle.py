"""Correctness oracle: DuckDB digests of staged tables against the same
digests of the expected rows computed from the generated source.

A digest is (row count, sum of a per-row hash over the non-audit
columns), so it ignores row order and file layout. Timestamps hash as
epoch microseconds, so a naive source timestamp and the UTC-adjusted one
Spark writes compare equal; every other value hashes as its text.
"""

from __future__ import annotations

import os

import duckdb

NON_DATA = {"extractionid", "extractiontimestamputc", "_load_date"}


class Oracle:
    def __init__(self):
        self.con = duckdb.connect(config={"threads": 2})

    def close(self) -> None:
        self.con.close()

    def digest(self, relation: str) -> tuple[int, int]:
        cols = self.con.execute(f"DESCRIBE {relation}").fetchall()
        exprs = [
            f'epoch_us("{n}")' if t.startswith("TIMESTAMP") else f'CAST("{n}" AS VARCHAR)'
            for n, t, *_ in sorted(cols) if n not in NON_DATA
        ]
        n, h = self.con.execute(
            f"SELECT count(*), coalesce(sum(hash({', '.join(exprs)})), 0) "
            f"FROM ({relation})").fetchone()
        return int(n), int(h)

    def staged(self, table_dir: str) -> tuple[int, int]:
        if not os.path.isdir(table_dir):
            return 0, 0
        return self.digest(
            f"SELECT * FROM read_parquet('{table_dir}/**/*.parquet', "
            "hive_partitioning = true, union_by_name = true)")


def parquet(path: str) -> str:
    return f"read_parquet('{path}')"


def elt_expected(src_dir: str) -> dict[str, str]:
    """Relations the two-entity config stages from ``src_dir``: all orders
    (the full-load lower bound precedes every order date), their line
    items keyed by ``o_orderkey``, and every customer."""
    orders, lineitem = (parquet(os.path.join(src_dir, f"{t}.parquet"))
                        for t in ("orders", "lineitem"))
    return {
        "stg_orders": f"SELECT * FROM {orders}",
        "stg_lineitem": (
            f"SELECT l.* EXCLUDE (l_orderkey), l.l_orderkey AS o_orderkey "
            f"FROM {lineitem} l SEMI JOIN {orders} o ON l.l_orderkey = o.o_orderkey"),
        "stg_customer": f"SELECT * FROM {parquet(os.path.join(src_dir, 'customer.parquet'))}",
    }
