"""The three lifecycle workloads. Each op is one call into the public API,
made the way a user makes it: a fresh ``PipelineRunner`` (fresh
extraction id) or a fresh ``odata_like`` read per op, so plans are
rebuilt and codegen is paid every time.

A workload exposes ``setup`` (timed, repeated), ``prepare`` (untimed,
before each op), ``op`` (timed) and ``check`` (untimed, after each op).
"""

from __future__ import annotations

import os
import shutil
import uuid
from dataclasses import dataclass, field
from datetime import datetime, timezone

import numpy as np

import gen
from odata_stub import EntitySet, ODataStub
from oracle import Oracle, elt_expected
from spans import table_layout

from priority_data_pipeline_azure_sql_db_spark.config import ExtractionConfig
from priority_data_pipeline_azure_sql_db_spark.operators.flatten import (
    explode_subform,
    parent_without_subforms,
)
from priority_data_pipeline_azure_sql_db_spark.operators.normalize import (
    add_audit_columns,
    lowercase_columns,
)
from priority_data_pipeline_azure_sql_db_spark.operators.watermark import watermark_filter
from priority_data_pipeline_azure_sql_db_spark.pipeline import PipelineRunner, StagingStore
from priority_data_pipeline_azure_sql_db_spark.sources.odata_like import register

ELT_ORDERS = 30_000          # + 120k line items + 3k customers
ODATA_ORDERS = 10_000        # served; the watermark keeps ~53% of them
ODATA_BOUND = datetime(1998, 1, 1)
ODATA_PAGE = 1_000
ODATA_USER, ODATA_PASSWORD = "bench", "bench-secret"
SUBFORM = "lineitem_subform"
ELT_TABLES = ("stg_orders", "stg_lineitem", "stg_customer")


def elt_config(last_run: str | None = None) -> ExtractionConfig:
    return ExtractionConfig.from_dict({
        "datasourceName": "erp", "systemTimezone": "UTC",
        "entities": [
            {"EntityID": "orders", "filterFlag": True, "filterField": "o_orderdate",
             "expand": ["lineitem"], "expandKeys": {"o_orderkey": "l_orderkey"},
             "dataStartDate": "1990-01-01 00:00:00", "lastRun": last_run},
            {"EntityID": "customer", "filterFlag": False},
        ],
    })


def run_errors(results) -> str | None:
    errs = [f"{r.entity}: {r.error or r.cdc_error}" for r in results
            if r.error or r.cdc_error]
    return "; ".join(errs) or None


def utc_today():
    return datetime.now(timezone.utc).date()


@dataclass
class Outcome:
    error: str | None = None
    staged_rows: int = 0
    staged_bytes: int = 0
    cdc_rows: dict = field(default_factory=dict)   # audit rows per table


class Workload:
    name = ""
    warmup_ops = 1
    tables = ELT_TABLES

    def __init__(self, spark, root: str, seed: int, cpus: int):
        self.spark, self.root, self.seed, self.cpus = spark, root, seed, cpus
        self.oracle = Oracle()
        self.store = StagingStore(os.path.join(root, "stg"))
        self.rows = 0                  # source rows one op stages
        self.delta_rows: dict[str, int] = {}   # per merged table, for write amp
        self.reseeds = 0
        self._expected: dict[str, dict] = {}
        self.init()

    def init(self) -> None:
        pass

    def setup(self) -> None:
        pass

    def prepare(self) -> None:
        pass

    def odata_stats(self) -> dict | None:
        return None

    def close(self) -> None:
        self.oracle.close()

    def compare(self, key: str, relations: dict[str, str]) -> Outcome:
        """Digest every staged table against its expected relation."""
        if key not in self._expected:
            self._expected[key] = {t: self.oracle.digest(r) for t, r in relations.items()}
        out = Outcome()
        bad = []
        for table, want in self._expected[key].items():
            path = self.store.path(table)
            got = self.oracle.staged(path)
            out.staged_rows += got[0]
            out.staged_bytes += table_layout(path)[0]
            if got != want:
                bad.append(f"{table}: staged {got[0]} rows/hash {got[1]}, "
                           f"expected {want[0]} rows/hash {want[1]}")
        out.error = "; ".join(bad) or None
        return out


class FullLoad(Workload):
    """EP3 ``reset_data_platform`` (drop + EP2 full load) of the
    two-entity config."""

    name = "elt_full_load"
    warmup_ops = 2

    def init(self):
        self.src = gen.generate(self.seed, ELT_ORDERS)
        self.src_dir = os.path.join(self.root, "src")
        self.rows = self.src.n_rows

    def setup(self):
        shutil.rmtree(self.src_dir, ignore_errors=True)
        self.src.write(self.src_dir)

    def op(self):
        runner = PipelineRunner(self.spark, elt_config(), self.store, self.src_dir)
        return runner.reset_data_platform()["load"]

    def check(self, results) -> Outcome:
        out = self.compare(self.src_dir, elt_expected(self.src_dir))
        out.error = run_errors(results) or out.error
        return out


class IncrementalRefresh(Workload):
    """EP1 ``refresh_data(incremental=True, cdc_audit=True)`` against a
    standing store. Ops alternate between two source copies that differ
    only in the changed orders, with ``lastRun`` reset to the bookmark."""

    name = "elt_incremental_refresh"

    def init(self):
        self.srcs = [gen.generate(self.seed, ELT_ORDERS, variant=v) for v in (1, 2)]
        self.dirs = [s.write(os.path.join(self.root, f"src{v}"))
                     for v, s in zip((1, 2), self.srcs)]
        src = self.srcs[0]
        self.changed = len(src.changed)
        lines = int(np.isin(src.lineitem.column("l_orderkey").to_numpy(), src.changed).sum())
        self.delta_rows = {"stg_orders": self.changed, "stg_lineitem": lines,
                           "stg_customer": src.customer.num_rows}
        self.rows = sum(self.delta_rows.values())
        self.current = 0
        self.seeded_on = None

    def setup(self):
        self.store.drop_all()
        runner = PipelineRunner(self.spark, elt_config(), self.store, self.dirs[0])
        err = run_errors(runner.initial_data_load())
        if err:
            raise RuntimeError(f"seeding the standing store failed: {err}")
        self.current, self.seeded_on = 0, utc_today()

    def prepare(self):
        # the staging partition key is the extraction date: a refresh on a
        # later UTC day than the seed would split the store, so reseed
        if utc_today() != self.seeded_on:
            self.setup()
            self.reseeds += 1

    def op(self):
        self.current ^= 1
        runner = PipelineRunner(
            self.spark, elt_config(gen.BOOKMARK.strftime("%Y-%m-%d %H:%M:%S")),
            self.store, self.dirs[self.current])
        return runner.refresh_data(incremental=True, cdc_audit=True)

    def check(self, results) -> Outcome:
        d = self.dirs[self.current]
        out = self.compare(d, elt_expected(d))
        cdc = results[0].cdc.get("stg_orders")
        out.cdc_rows = {t: sum(c.values()) for r in results for t, c in r.cdc.items()}
        if cdc != {"updated": self.changed}:
            out.error = f"stg_orders CDC {cdc}, expected {{'updated': {self.changed}}}"
        out.error = run_errors(results) or out.error
        return out


class ODataExtract(Workload):
    """``odata_like`` over HTTP from the in-process stub with the watermark
    ``$filter`` pushed down and ``$expand=LINEITEM_SUBFORM``; split into
    parent and child, audit columns added, both overwritten in staging."""

    name = "odata_http_extract"
    tables = ELT_TABLES[:2]

    def init(self):
        src = gen.generate(self.seed, ODATA_ORDERS)
        self.orders, self.lineitem = src.orders, src.lineitem
        self.oracle.con.register("odata_orders", self.orders)
        self.oracle.con.register("odata_lineitem", self.lineitem)
        bound = f"TIMESTAMP '{ODATA_BOUND:%Y-%m-%d %H:%M:%S}'"
        self.relations = {
            "stg_orders": f"SELECT * FROM odata_orders WHERE o_orderdate >= {bound}",
            "stg_lineitem": (
                "SELECT o.o_orderkey, l.* FROM odata_orders o JOIN odata_lineitem l "
                f"ON l.l_orderkey = o.o_orderkey WHERE o.o_orderdate >= {bound}"),
        }
        self.rows = sum(self.oracle.digest(r)[0] for r in self.relations.values())
        register(self.spark)
        self.stub = None

    def setup(self):
        if self.stub is not None:
            self.stub.close()
        self.stub = ODataStub(
            EntitySet("ORDERS", self.orders, ["o_orderkey"]),
            EntitySet("LINEITEM", self.lineitem, ["l_orderkey", "l_linenumber"]),
            "l_orderkey", ODATA_USER, ODATA_PASSWORD, max_concurrency=self.cpus)
        self.payload_bytes = None

    def odata_stats(self):
        if self.payload_bytes is None:
            # one unpaged response holding the whole extract: the bytes an
            # op needs at least (rendered directly, so not counted as served)
            bound = ODATA_BOUND.strftime("%Y-%m-%dT%H:%M:%SZ")
            self.payload_bytes = len(self.stub.render(
                f"/ORDERS?%24filter=O_ORDERDATE%20ge%20{bound}&%24expand=LINEITEM_SUBFORM",
                self.stub.auth)[2])
        stats = self.stub.take_stats()
        stats["payload_bytes"] = self.payload_bytes
        return stats

    def op(self):
        nested = (
            self.spark.read.format("odata_like")
            .option("uri", self.stub.uri).option("entity", "ORDERS")
            .option("expand", "LINEITEM").option("pagesize", str(ODATA_PAGE))
            .option("user", ODATA_USER).option("password", ODATA_PASSWORD)
            .load())
        nested = watermark_filter(nested, "o_orderdate", ODATA_BOUND)
        run_id = str(uuid.uuid4())
        run_ts = datetime.now(timezone.utc).replace(tzinfo=None)
        parent = parent_without_subforms(nested, [SUBFORM])
        child = explode_subform(nested, ["o_orderkey"], SUBFORM)
        return {
            "stg_orders": self.store.overwrite(
                add_audit_columns(lowercase_columns(parent), run_id, run_ts),
                "stg_orders", pk=["o_orderkey"]),
            "stg_lineitem": self.store.overwrite(
                add_audit_columns(lowercase_columns(child), run_id, run_ts),
                "stg_lineitem", pk=["o_orderkey", "l_linenumber"]),
        }

    def check(self, counts) -> Outcome:
        return self.compare("odata", self.relations)

    def close(self):
        if self.stub is not None:
            self.stub.close()
        super().close()


WORKLOADS = {w.name: w for w in (FullLoad, IncrementalRefresh, ODataExtract)}
