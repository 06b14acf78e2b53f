"""Parquet fixture source.

Parquet is self-describing, so the scan uses the file footer schema —
column pruning and predicate pushdown reach the reader for free (check:
``PushedFilters`` / ``ReadSchema`` in ``df.explain('formatted')``). The
explicit catalog (catalog.SCHEMAS) is asserted against the footer in tests
so drift is caught, mirroring the reference's discovered-schema-is-
authoritative stance without ever sampling data.

Scale note: one ``spark.read.parquet(dir)`` over a 100 TB table splits
into ``maxPartitionBytes``-sized file slices; no driver-side
materialization ever happens here.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_log = logging.getLogger(__name__)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table (O1's Spark analog: a partitioned columnar scan).

    ``events.ts`` is TIMESTAMP(NANOS) in parquet — Spark has no ns
    timestamp type, so it's read as long (``nanosAsLong``) and truncated
    to µs here, matching DuckDB's ``CAST(ts AS TIMESTAMP)``.

    The nanosAsLong conf is self-provisioned (runtime-settable) so the
    scan works under ANY SparkSession, not just the builder's
    ``get_spark()`` — callers may hand us a vanilla session.
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Self-tune ONLY local-mode sessions still at the untouched 200
    # default: single-node, 200 shuffle partitions is pure task overhead
    # (a 16-row join inherits 200-task stages). Guarded on the master URL
    # so a cluster session is NEVER touched — there the default must stay
    # high (AQE coalesces down, never up) — and a caller's explicit
    # setting on a local session is indistinguishable from the default
    # only at exactly 200, the one value nobody sets deliberately for
    # local work.
    try:
        if (
            spark.conf.get("spark.master", "").startswith("local")
            and spark.conf.get("spark.sql.shuffle.partitions") == "200"
        ):
            # session-global rewrite: announce it so a caller who DID mean
            # 200 on a local session can see (and pin) their choice
            _log.info(
                "load_table: local session at default shuffle.partitions=200; "
                "self-tuning to 32 (set any non-200 value to opt out)"
            )
            spark.conf.set("spark.sql.shuffle.partitions", "32")
    except Exception:
        pass  # conf may be unreadable on exotic sessions; never fail a scan
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        # conversion is conditional on the read dtype — the fixture writer
        # has shipped three variants across rounds: TIMESTAMP(NANOS)
        # (→ bigint under nanosAsLong), timestamp[us] without the UTC flag
        # (→ timestamp_ntz), and plain µs timestamps. Normalize all three
        # to a session-zone TIMESTAMP so downstream unix_millis/window
        # functions see one type. NTZ→LTZ cast reinterprets the wall clock
        # in the session zone, which is pinned to UTC (session.py).
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        df = df.select("event_id", "ts", "user_id", "event_type", "value", "props")
    return df
