"""End-to-end pipeline lifecycle tests (EP1/EP2, SURVEY.md §3)."""

import tempfile

import pytest

from priority_data_pipeline_azure_sql_db_spark.config import ExtractionConfig, parse_bool
from priority_data_pipeline_azure_sql_db_spark.pipeline import PipelineRunner, StagingStore


def make_config(last_run="1999-01-01 00:00:00", with_bad_entity=True):
    ents = [
        {"EntityID": "orders", "filterFlag": True, "filterField": "o_orderdate",
         "expand": ["lineitem"], "lastRun": last_run,
         "dataStartDate": "1990-01-01 00:00:00"},
        # case-insensitive keys + string bool (accepted forms)
        {"entityID": "nation", "filterFlag": "false", "filterField": "", "expand": []},
    ]
    if with_bad_entity:
        ents.append({"EntityID": "no_such_table", "filterFlag": False,
                     "filterField": "", "expand": []})
    return ExtractionConfig.from_dict(
        {"datasourceName": "fx", "systemTimezone": "Israel", "entities": ents}
    )


@pytest.fixture(scope="module")
def loaded_store(spark, sf_dir):
    store = StagingStore(tempfile.mkdtemp(prefix="stg_t_"))
    runner = PipelineRunner(spark, make_config(), store, sf_dir)
    results = runner.initial_data_load()
    return store, results


def test_full_load_counts(spark, loaded_store, sf_dir):
    store, results = loaded_store
    by_entity = {r.entity: r for r in results}
    assert by_entity["orders"].tables["stg_orders"] == 1500
    assert by_entity["orders"].tables["stg_lineitem"] == 6000
    assert by_entity["nation"].tables["stg_nation"] == 25


def test_fail_soft_entity(loaded_store):
    _, results = loaded_store
    bad = [r for r in results if r.entity == "no_such_table"][0]
    assert bad.error and "PATH_NOT_FOUND" in bad.error
    # other entities still loaded (O22 fail-soft)
    assert [r for r in results if r.entity == "nation"][0].error is None


def test_audit_and_lowercase(spark, loaded_store):
    store, _ = loaded_store
    cols = store.read(spark, "stg_lineitem").columns
    assert "extractionid" in cols and "extractiontimestamputc" in cols
    assert all(c == c.lower() for c in cols)


def test_child_carries_parent_pk(spark, loaded_store):
    store, _ = loaded_store
    li = store.read(spark, "stg_lineitem")
    assert "o_orderkey" in li.columns  # meta=pk propagation
    assert li.filter(li.o_orderkey.isNull()).count() == 0


def test_incremental_overlap_idempotent(spark, loaded_store, sf_dir):
    store, _ = loaded_store
    before_o = store.read(spark, "stg_orders").count()
    before_li = store.read(spark, "stg_lineitem").count()
    runner = PipelineRunner(spark, make_config(), store, sf_dir)
    results = runner.refresh_data(incremental=True)
    assert all(r.error is None for r in results if r.entity == "orders")
    assert store.read(spark, "stg_orders").count() == before_o
    assert store.read(spark, "stg_lineitem").count() == before_li


def test_bookmark_advances_only_on_success(spark, sf_dir):
    store = StagingStore(tempfile.mkdtemp(prefix="stg_b_"))
    cfg = make_config()
    runner = PipelineRunner(spark, cfg, store, sf_dir)
    runner.refresh_data(incremental=False)
    assert cfg.entities[0].last_run != "1999-01-01 00:00:00"  # advanced
    # failing entity keeps its (absent) bookmark untouched
    assert cfg.entities[2].last_run is None


def test_strict_bool_parse():
    assert parse_bool("true") and parse_bool("1") and parse_bool(True)
    assert not parse_bool("false") and not parse_bool("")
    with pytest.raises(ValueError):
        parse_bool("rue")  # the reference's substring bug must NOT pass


def test_timezone_bookmark_roundtrip():
    cfg = make_config()
    utc = cfg.to_utc("2026-01-15 12:00:00")  # Israel is UTC+2 in January
    assert utc.hour == 10
    assert cfg.format_bookmark(utc) == "2026-01-15 12:00:00"
    # DST edge: July is UTC+3
    utc_summer = cfg.to_utc("2026-07-15 12:00:00")
    assert utc_summer.hour == 9
    assert cfg.format_bookmark(utc_summer) == "2026-07-15 12:00:00"


def test_ddl_rules():
    from priority_data_pipeline_azure_sql_db_spark.catalog import primary_key, schema_for
    from priority_data_pipeline_azure_sql_db_spark.ddl import create_table_ddl, jdbc_column_types

    ddl = create_table_ddl("ORDERS", schema_for("orders"), primary_key("orders"),
                           dialect="azuresql")
    assert ddl.startswith("CREATE TABLE IF NOT EXISTS orders (")
    assert "o_orderkey VARCHAR(255)" in ddl          # PK→varchar(255) rule
    assert "extractionid VARCHAR(36)" in ddl          # audit columns
    assert "PRIMARY KEY (o_orderkey)" in ddl
    jt = jdbc_column_types(schema_for("orders"), primary_key("orders"))
    assert "o_orderkey VARCHAR(255)" in jt and "MAX" not in jt


_EDMX_FIXTURE = """<?xml version="1.0" encoding="utf-8"?>
<edmx:Edmx xmlns:edmx="http://docs.oasis-open.org/odata/ns/edmx" Version="4.0">
  <edmx:DataServices>
    <Schema xmlns="http://docs.oasis-open.org/odata/ns/edm" Namespace="Priority.OData">
      <EntityType Name="ABILITIES">
        <Key><PropertyRef Name="ABILITYCODE"/></Key>
        <Property Name="ABILITYCODE" Type="Edm.String" Nullable="false">
          <Annotation Term="Org.OData.Display.V1.Description" String="ability code"/>
        </Property>
        <Property Name="ABILITYDES" Type="Edm.String">
          <Annotation Term="Org.OData.Display.V1.Description" String="ability description"/>
        </Property>
        <Property Name="ABILITY" Type="Edm.Int64"/>
        <Annotation Term="Org.OData.Display.V1.Description" String="abilities"/>
      </EntityType>
      <EntityType Name="ORDERITEMS">
        <Key>
          <PropertyRef Name="ORDNAME"/>
          <PropertyRef Name="LINE"/>
        </Key>
        <Property Name="ORDNAME" Type="Edm.String"/>
        <Property Name="LINE" Type="Edm.Int64"/>
        <Property Name="PRICE" Type="Edm.Decimal"/>
        <Property Name="DUEDATE" Type="Edm.DateTimeOffset"/>
      </EntityType>
      <EntityType Name="LOGLINE">
        <Property Name="MESSAGE" Type="Edm.String"/>
      </EntityType>
    </Schema>
  </edmx:DataServices>
</edmx:Edmx>"""


def test_merge_rewrites_only_touched_partitions(spark, tmp_path):
    """Incremental MERGE into the date-partitioned staging store must leave
    untouched partitions' files unmodified (path, size, mtime, content) and
    must not leave stale versions behind when an update moves a PK across
    partitions."""
    import datetime

    from pyspark.sql import functions as F

    from priority_data_pipeline_azure_sql_db_spark.pipeline import PARTITION_COL, StagingStore

    store = StagingStore(root=str(tmp_path / "stg"))

    def batch(rows, day):
        return spark.createDataFrame(
            [(pk, v) for pk, v in rows], "pk bigint, v string"
        ).withColumn("extractionid", F.lit(f"run-{day}")).withColumn(
            "extractiontimestamputc", F.lit(f"2026-01-0{day} 12:00:00").cast("timestamp")
        )

    def snapshot(day):
        d = tmp_path / "stg" / "t" / f"{PARTITION_COL}=2026-01-0{day}"
        return sorted(
            (p.name, p.stat().st_size, p.stat().st_mtime_ns, p.read_bytes())
            for p in d.glob("*.parquet")
        )

    store.overwrite(batch([(1, "a"), (2, "b")], 1), "t")
    day1_before = snapshot(1)
    assert day1_before  # partitioned layout exists

    # disjoint delta on day 2: day-1 partition must be byte-identical after
    store.merge(spark, batch([(3, "c")], 2), "t", ["pk"])
    assert snapshot(1) == day1_before
    got = {(r.pk, r.v) for r in store.read(spark, "t").collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}
    assert PARTITION_COL not in store.read(spark, "t").columns

    # update pk=2 on day 3: moves partitions, no stale duplicate left behind
    day2_before = snapshot(2)
    store.merge(spark, batch([(2, "b2")], 3), "t", ["pk"])
    assert snapshot(2) == day2_before  # day-2 partition untouched
    got = {(r.pk, r.v) for r in store.read(spark, "t").collect()}
    assert got == {(1, "a"), (2, "b2"), (3, "c")}
    rows = store.read(spark, "t").groupBy("pk").count().filter("count > 1").count()
    assert rows == 0


def test_merge_partition_stats_prune_and_crash_safety(spark, tmp_path):
    """Round 13 (VERDICT r12 ask #2): the merge's old-version probe
    prunes with exact per-partition pk zone maps folded from the live
    footers — pure-insert deltas above every standing range scan ZERO
    old partitions. The footers change only with the files, so a crash
    mid-swap (``test_commit_crash_rolls_forward``) cannot leave zone
    maps that mis-prune."""
    import os

    from pyspark.sql import functions as F

    from priority_data_pipeline_azure_sql_db_spark.pipeline import StagingStore

    def batch(rows, day):
        return spark.createDataFrame(
            rows, "pk bigint, v string"
        ).withColumn("extractionid", F.lit(f"run-{day}")).withColumn(
            "extractiontimestamputc",
            F.lit(f"2026-01-0{day} 12:00:00").cast("timestamp"),
        )

    store = StagingStore(root=str(tmp_path / "stg"))

    def zone_map(table):
        return StagingStore._fold_footers(store.path(table), ["pk"])[0]

    n = store.overwrite(batch([(1, "a"), (2, "b")], 1), "t")
    assert n == 2
    sub1 = "_load_date=2026-01-01"
    assert zone_map("t")[sub1] == {
        "rows": 2, "min": 1, "max": 2, "null": False}

    # driver-side pruning unit: inserts above every range prune all;
    # a value INSIDE a range keeps exactly that partition; unknown
    # bounds / null-bearing deltas stay conservative
    parts = {
        "a": {"rows": 2, "min": 1, "max": 5, "null": False},
        "b": {"rows": 2, "min": 10, "max": 20, "null": True},
        "c": {"rows": 1, "min": None, "max": None, "null": False},
    }
    prune = StagingStore._prune_candidates

    def prof(dvals, drange, dnull):
        return [("pk", dvals, drange, dnull)]

    assert prune(parts, prof([100], None, False)) == ["c"]
    assert prune(parts, prof([3, 100], None, False)) == ["a", "c"]
    assert prune(parts, prof([6, 9], None, False)) == ["c"]  # between
    assert prune(parts, prof([], None, True)) == ["b", "c"]  # null pk
    assert prune(parts, prof(None, (15, 30), False)) == ["b", "c"]  # range
    assert prune(parts, prof(None, None, False)) == ["a", "b", "c"]  # none

    # pure-insert merge: day-1 zone map [1,2] excludes pk=3 → day-1
    # never touched; counts come from the footers, not a full count
    day1 = sorted(os.listdir(os.path.join(store.path("t"), sub1)))
    assert store.merge(spark, batch([(3, "c")], 2), "t", ["pk"]) == 3
    assert sorted(os.listdir(os.path.join(store.path("t"), sub1))) == day1
    zm = zone_map("t")
    assert zm[sub1]["rows"] == 2
    assert zm["_load_date=2026-01-02"] == {
        "rows": 1, "min": 3, "max": 3, "null": False}

    # update inside day-1's range: found via the pruned probe, old row
    # removed, day-1's zone map recomputed from the rewritten bytes
    assert store.merge(spark, batch([(2, "b2")], 3), "t", ["pk"]) == 3
    assert zone_map("t")[sub1] == {
        "rows": 1, "min": 1, "max": 1, "null": False}
    got = {(r.pk, r.v) for r in store.read(spark, "t").collect()}
    assert got == {(1, "a"), (2, "b2"), (3, "c")}

    # a later update in day 1 still finds its old version
    assert store.merge(spark, batch([(1, "a2")], 4), "t", ["pk"]) == 3
    got = {(r.pk, r.v) for r in store.read(spark, "t").collect()}
    assert got == {(1, "a2"), (2, "b2"), (3, "c")}

    # EMPTY delta merge: a no-op that keeps totals and stats (the tmp
    # dir lands zero parquet files — the stats read-back must not wedge)
    assert store.merge(spark, batch([], 5).limit(0), "t", ["pk"]) == 3
    assert {(r.pk, r.v) for r in store.read(spark, "t").collect()} == got

    # float-NaN pk: never pruned wrongly. NaN bounds read as unknown
    # (always-candidate) and NaN delta keys leave the bisect value set,
    # so a NaN-keyed update still finds and replaces its old version.
    def fbatch(rows, day):
        return spark.createDataFrame(
            rows, "pk double, v string"
        ).withColumn("extractionid", F.lit(f"run-{day}")).withColumn(
            "extractiontimestamputc",
            F.lit(f"2026-01-0{day} 12:00:00").cast("timestamp"),
        )

    nan = float("nan")
    store.overwrite(fbatch([(1.0, "a"), (nan, "n1")], 1), "tf")
    assert zone_map("tf")["_load_date=2026-01-01"]["max"] is None  # NaN
    store.merge(spark, fbatch([(nan, "n2")], 2), "tf", ["pk"])
    vals = sorted(r.v for r in store.read(spark, "tf").collect())
    assert vals == ["a", "n2"], "NaN old version must be found and replaced"


def test_stale_meta_file_is_ignored(spark, tmp_path):
    """A ``<table>.__meta__.json`` left by a version that kept a stats
    copy there is not read: a stale one whose zone maps hold no
    partition must not prune day 1, so an update to a day-1 key
    replaces its old row instead of adding a duplicate."""
    import json

    from pyspark.sql import functions as F

    from priority_data_pipeline_azure_sql_db_spark.pipeline import StagingStore

    def batch(rows, day):
        return spark.createDataFrame(rows, "pk bigint, v string").withColumn(
            "extractiontimestamputc",
            F.lit(f"2026-01-0{day} 12:00:00").cast("timestamp"))

    store = StagingStore(root=str(tmp_path / "stg"))
    day1 = batch([(1, "a"), (2, "b")], 1)
    store.overwrite(day1, "t")
    with open(store.path("t") + ".__meta__.json", "w") as fh:
        json.dump({"pk": ["pk"], "parts": {},
                   "schema": store._with_partition(day1).schema.jsonValue()}, fh)
    assert store.merge(spark, batch([(2, "b2")], 2), "t", ["pk"]) == 2
    assert sorted((r.pk, r.v) for r in store.read(spark, "t").collect()) == [
        (1, "a"), (2, "b2")]


def test_composite_pk_zone_maps_prune_beyond_first_key(spark, tmp_path):
    """Round 17 (VERDICT r16 ask #5): zone maps cover the FULL
    composite key. The fixture is the shape first-key-only pruning
    cannot touch — every partition holds the same tenant range
    (uninformative pk[0]) while seq (pk[1]) is partition-aligned — so
    the measured win is direct: composite zone maps read 1 of 3
    partitions where first-key-only pruning reads all 3, and the
    composite checks stay conservative on every column."""
    from pyspark.sql import functions as F

    from priority_data_pipeline_azure_sql_db_spark.pipeline import StagingStore

    def batch(rows, day):
        return spark.createDataFrame(
            rows, "tenant bigint, seq bigint, v string"
        ).withColumn("extractionid", F.lit(f"run-{day}")).withColumn(
            "extractiontimestamputc",
            F.lit(f"2026-01-0{day} 12:00:00").cast("timestamp"),
        )

    pk = ["tenant", "seq"]
    store = StagingStore(root=str(tmp_path / "stg"))
    # three partitions, identical tenant range {1..4}, disjoint seq bands
    day_rows = {
        d: [(t, (d - 1) * 100 + i, f"d{d}-t{t}-{i}")
            for t in (1, 2, 3, 4) for i in (0, 50, 99)]
        for d in (1, 2, 3)
    }
    store.overwrite(batch(day_rows[1], 1), "t")
    store.merge(spark, batch(day_rows[2], 2), "t", pk)
    store.merge(spark, batch(day_rows[3], 3), "t", pk)

    parts = StagingStore._fold_footers(store.path("t"), pk)[0]
    sub2 = "_load_date=2026-01-02"
    assert parts[sub2]["min"] == 1  # pk[0]'s stats sit in the entry
    assert parts[sub2]["cols"]["seq"] == {
        "min": 100, "max": 199, "null": False}

    # a key whose tenant fits EVERY partition but whose seq fits only
    # day 2: composite pruning must read exactly one partition
    keys = spark.createDataFrame([(2, 150)], "tenant bigint, seq bigint")
    got = store.read_for_keys(spark, "t", keys, pk,
                              profile=store._delta_profile(keys, pk))
    read_parts = {f.split("_load_date=")[1].split("/")[0]
                  for f in got.inputFiles()}
    assert read_parts == {"2026-01-02"}, read_parts
    # superset contract: every row matching the key is present
    assert {(r.tenant, r.seq) for r in
            got.join(keys, on=pk, how="left_semi").collect()} == {(2, 150)}

    # a second-column UPDATE must still find its old version through
    # the pruned probe (merge correctness)
    assert store.merge(
        spark, batch([(2, 150, "UPDATED")], 2), "t", pk) == 36
    got = {(r.tenant, r.seq): r.v for r in store.read(spark, "t").collect()}
    assert got[(2, 150)] == "UPDATED"
    assert len(got) == 36
    # null-bearing second column stays conservative: a (tenant, NULL)
    # delta key cannot be range-pruned on seq anywhere seq has no nulls,
    # but tenant still prunes; no partition with a matching range is lost
    nkeys = spark.createDataFrame([(99, None)], "tenant bigint, seq bigint")
    got_n = store.read_for_keys(spark, "t", nkeys, pk,
                                profile=store._delta_profile(nkeys, pk))
    assert got_n.count() == 0  # tenant 99 outside every range → all pruned


def test_delta_profile_single_action_and_semantics(
        spark, tmp_path, monkeypatch):
    """``_delta_profile`` collects the delta's distinct pk tuples once
    (with their load date when the delta is stamped), capped at CAP+1,
    and builds each column's profile and the delta's own partition subs
    on the driver. At most CAP tuples: ONE action whatever the pk
    width, complete value lists (nulls and NaN out) and has-null flags.
    More than CAP tuples: exactly two actions (that collect, then one
    agg) and the range fallback, with None ranges for
    driver-uncomparable types (NaN maxima, timestamps)."""
    import math
    from datetime import datetime

    from pyspark.sql import functions as F

    from priority_data_pipeline_azure_sql_db_spark.pipeline import StagingStore

    store = StagingStore(root=str(tmp_path / "stg"))
    ts = datetime(2026, 1, 1, 12, 0, 0)
    pk = ["a", "b", "c", "d"]
    # 5 distinct tuples (the repeated first row collapses)
    delta = spark.createDataFrame(
        [(1, 10, 1.0, ts), (2, 20, float("nan"), ts), (None, 30, 2.0, ts),
         (1, 40, 2.0, ts), (2, 50, 1.0, ts), (1, 10, 1.0, ts)],
        "a bigint, b bigint, c double, d timestamp",
    )

    calls = []
    # patch the CONCRETE DataFrame class (pyspark 4: pyspark.sql.DataFrame
    # is an abstract base; instances override collect on the subclass)
    df_cls = type(delta)
    orig = df_cls.collect

    def counted(self):
        calls.append(1)
        return orig(self)

    monkeypatch.setattr(df_cls, "collect", counted)

    def profile(cap, cols):
        monkeypatch.setattr(StagingStore, "_DELTA_VALS_CAP", cap)
        calls.clear()
        prof = store._delta_profile(delta, cols)
        assert prof.subs is None  # no audit timestamp: no partitions
        return len(calls), {c: (dv, dr, dn) for c, dv, dr, dn in prof.cols}

    # at the cap: one action for a 1-column and for a 4-column pk
    assert profile(5, ["a"])[0] == 1
    n, prof = profile(5, pk)
    assert n == 1, f"{n} actions for a 4-column pk under the cap"
    dvals, drange, dn = prof["a"]
    assert set(dvals) == {1, 2} and None not in dvals
    assert drange is None and dn is True
    dvals, drange, dn = prof["b"]
    assert sorted(dvals) == [10, 20, 30, 40, 50] and dn is False
    dvals, drange, dn = prof["c"]  # NaN out of the value list
    assert set(dvals) == {1.0, 2.0} and dn is False
    assert not any(math.isnan(v) for v in dvals)
    # timestamps are driver-uncomparable against the (None) partition
    # bounds, so their value list is harmless
    dvals, drange, dn = prof["d"]
    assert set(dvals) == {ts} and drange is None and dn is False

    # over the cap: the capped collect, then one agg for the ranges
    n, prof = profile(4, pk)
    assert n == 2, f"{n} actions over the cap"
    assert prof["a"] == (None, (1, 2), True)
    assert prof["b"] == (None, (10, 50), False)
    assert prof["c"] == (None, None, False)  # max is NaN: no range
    assert prof["d"] == (None, None, False)  # timestamp: no range

    # a stamped delta: the same actions also yield the partition subs
    # it writes, a null stamp landing in the default partition
    stamped = delta.withColumn("extractiontimestamputc", F.when(
        F.col("b") != 30, F.col("d")))
    for cap, actions in ((5, 1), (4, 2)):
        monkeypatch.setattr(StagingStore, "_DELTA_VALS_CAP", cap)
        calls.clear()
        prof = store._delta_profile(stamped, pk)
        assert len(calls) == actions
        assert prof.subs == ["_load_date=2026-01-01",
                             "_load_date=__HIVE_DEFAULT_PARTITION__"]


def test_merge_group_replace_semantics(spark, tmp_path):
    """The merge is GROUP-replace on the key (round-11 review, resolved
    against the blanket-dedup 'fix' that test_incremental_overlap_
    idempotent caught destroying child rows): a delta carrying several
    rows per key replaces the target's key-group with ALL of them —
    the child-table (parent-keyed lineitem) contract — and a re-sent
    identical group is idempotent. Row-identified callers dedup with
    operators.merge.dedup_within BEFORE merging; that path keeps a
    deterministic content-hash winner."""
    from pyspark.sql import functions as F

    from priority_data_pipeline_azure_sql_db_spark.operators.merge import dedup_within
    from priority_data_pipeline_azure_sql_db_spark.pipeline import StagingStore

    def batch(rows):
        return spark.createDataFrame(
            rows, "pk bigint, v string"
        ).withColumn("extractionid", F.lit("run-1")).withColumn(
            "extractiontimestamputc",
            F.lit("2026-01-01 12:00:00").cast("timestamp"),
        )

    store = StagingStore(root=str(tmp_path / "stg"))
    store.overwrite(batch([(1, "a"), (2, "old")]), "t")
    # key 2's group (2 children) replaces the single old row wholesale
    store.merge(spark, batch([(2, "x"), (2, "y"), (3, "c")]), "t", ["pk"])
    got = sorted((r.pk, r.v) for r in store.read(spark, "t").collect())
    assert got == [(1, "a"), (2, "x"), (2, "y"), (3, "c")]
    # re-sending the same group is idempotent (overlap re-fetch)
    store.merge(spark, batch([(2, "x"), (2, "y")]), "t", ["pk"])
    assert sorted((r.pk, r.v) for r in store.read(spark, "t").collect()) == got

    # the row-identified path: caller dedups first, deterministically
    d = dedup_within(batch([(2, "x"), (2, "y")]), ["pk"])
    d2 = dedup_within(batch([(2, "y"), (2, "x")]).repartition(3), ["pk"])
    assert d.collect()[0].v == d2.collect()[0].v  # order/partition-invariant


def test_cdc_audit_sees_schema_evolution(spark, tmp_path):
    """Round-11 review fix: the CDC audit compares over the UNION of
    both sides' columns — a source-ADDED column makes re-fetched rows
    'updated' (the merge really rewrites them with the new values), and
    a DROPPED column's NULL-out is a reported change, not silence."""
    from priority_data_pipeline_azure_sql_db_spark.pipeline import cdc_audit_delta

    target = spark.createDataFrame(
        [(1, "a"), (2, "b")], "pk bigint, v string"
    )
    # added column: same v, new non-null w -> updated
    delta_add = spark.createDataFrame(
        [(1, "a", "new")], "pk bigint, v string, w string"
    )
    tags = {r.pk: r.change_type
            for r in cdc_audit_delta(target, delta_add, ["pk"]).collect()}
    assert tags[1] == "updated"
    # added column arriving NULL: still byte-identical -> unchanged
    delta_null = spark.createDataFrame(
        [(2, "b", None)], "pk bigint, v string, w string"
    )
    tags = {r.pk: r.change_type
            for r in cdc_audit_delta(target, delta_null, ["pk"]).collect()}
    assert tags[2] == "unchanged"
    # dropped column: the merge NULLs the staged value -> updated
    target2 = spark.createDataFrame(
        [(1, "a", "old")], "pk bigint, v string, w string"
    )
    delta_drop = spark.createDataFrame([(1, "a")], "pk bigint, v string")
    tags = {r.pk: r.change_type
            for r in cdc_audit_delta(target2, delta_drop, ["pk"]).collect()}
    assert tags[1] == "updated"


def test_merge_handles_null_audit_timestamp(spark, tmp_path):
    """Rows with a NULL audit timestamp live in Hive's default partition;
    the partition-scoped merge must still update them (isin() alone never
    matches NULL) and must not crash on the None partition value."""
    from pyspark.sql import functions as F

    from priority_data_pipeline_azure_sql_db_spark.pipeline import StagingStore

    store = StagingStore(root=str(tmp_path / "stg"))

    def batch(rows, ts):
        ts_col = F.lit(ts).cast("timestamp") if ts else F.lit(None).cast("timestamp")
        return spark.createDataFrame(rows, "pk bigint, v string").withColumn(
            "extractionid", F.lit("run")
        ).withColumn("extractiontimestamputc", ts_col)

    store.overwrite(
        batch([(1, "a")], "2026-01-01 12:00:00").unionByName(batch([(2, "b")], None)),
        "t",
    )
    # update the null-partition row from a dated delta
    store.merge(spark, batch([(2, "b2")], "2026-01-02 12:00:00"), "t", ["pk"])
    got = {(r.pk, r.v) for r in store.read(spark, "t").collect()}
    assert got == {(1, "a"), (2, "b2")}
    # and write INTO the null partition without crashing
    store.merge(spark, batch([(3, "c")], None), "t", ["pk"])
    got = {(r.pk, r.v) for r in store.read(spark, "t").collect()}
    assert got == {(1, "a"), (2, "b2"), (3, "c")}


def test_sharded_export_with_manifest(spark, sf_dir, tmp_path):
    """Corpus export: every shard respects maxRecordsPerFile, the manifest
    accounts for every row, and key-sharding is deterministic (same key →
    same shard)."""
    from priority_data_pipeline_azure_sql_db_spark.sinks.shards import (
        read_manifest,
        write_shards,
    )
    from priority_data_pipeline_azure_sql_db_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    out = str(tmp_path / "corpus")
    summary = write_shards(docs, out, max_records_per_file=100,
                           shard_by="doc_id", num_shards=4)
    assert summary["rows"] == n
    manifest = read_manifest(out)
    assert sum(e["rows"] for e in manifest) == n
    assert all(e["rows"] <= 100 for e in manifest)
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == \
           {r.doc_id for r in docs.select("doc_id").collect()}

    # partitioned (nested-directory) layout: the manifest must recurse,
    # not just scan top-level *.parquet files
    from priority_data_pipeline_azure_sql_db_spark.sinks.shards import write_manifest

    nested = str(tmp_path / "nested")
    docs.write.mode("overwrite").partitionBy("source").parquet(nested)
    nsummary = write_manifest(nested)
    assert nsummary["rows"] == n and nsummary["shards"] > 1
    assert all("/" in e["file"] for e in read_manifest(nested))


def test_parse_edmx_metadata():
    """O2: EDMX $metadata → entity docs matching the reference's shape
    (resources/priorityDataSource.py:347-458, readme.md:518-551), then into
    StructTypes via struct_type_from_metadata."""
    from pyspark.sql import types as T

    from priority_data_pipeline_azure_sql_db_spark.catalog import (
        parse_edmx, struct_type_from_metadata,
    )

    ents = {e["_id"]: e for e in parse_edmx(_EDMX_FIXTURE)}
    assert set(ents) == {"ABILITIES", "ORDERITEMS", "LOGLINE"}

    ab = ents["ABILITIES"]
    assert ab["desc"] == "abilities"
    assert ab["EntityPk"] == ["ABILITYCODE"]
    assert [f["fieldName"] for f in ab["Fields"]] == ["ABILITYCODE", "ABILITYDES", "ABILITY"]
    assert [f["SourceDataType"] for f in ab["Fields"]] == ["Edm.String", "Edm.String", "Edm.Int64"]
    assert [f["KeyFlag"] for f in ab["Fields"]] == [True, False, False]
    assert ab["Fields"][0]["desc"] == "ability code"
    st = struct_type_from_metadata(ab["Fields"])
    assert st == T.StructType([
        T.StructField("abilitycode", T.StringType()),
        T.StructField("abilitydes", T.StringType()),
        T.StructField("ability", T.LongType()),
    ])

    # composite key + full type-mapping coverage
    oi = ents["ORDERITEMS"]
    assert oi["EntityPk"] == ["ORDNAME", "LINE"]
    st2 = struct_type_from_metadata(oi["Fields"])
    assert [f.dataType for f in st2.fields] == [
        T.StringType(), T.LongType(), T.DecimalType(38, 6), T.TimestampType(),
    ]

    # keyless single-property entity (reference Case II)
    assert ents["LOGLINE"]["EntityPk"] == []
    assert len(ents["LOGLINE"]["Fields"]) == 1


def test_database_ddl_and_pings(spark, sf_dir, tmp_path):
    """O18 database lifecycle + O24 connectivity probes."""
    from priority_data_pipeline_azure_sql_db_spark import health
    from priority_data_pipeline_azure_sql_db_spark.ddl import (
        account_db_name, database_exists, drop_database, ensure_database,
    )
    from priority_data_pipeline_azure_sql_db_spark.pipeline import StagingStore

    assert account_db_name("Acme-42") == "acc_acme_42"
    name = ensure_database(spark, "Acme-42")
    try:
        assert database_exists(spark, name)
        assert ensure_database(spark, "Acme-42") == name  # idempotent
    finally:
        assert drop_database(spark, name) is True
    assert not database_exists(spark, name)
    assert drop_database(spark, name) is False

    store = StagingStore(root=str(tmp_path / "stg"))
    statuses = health.ping_all(spark, sf_dir, store)
    assert statuses == {"engine": "OK", "source": "OK", "staging": "OK"}
    assert health.ping_source(spark, "/nonexistent/dir").startswith("Error:")


def test_reset_data_platform(spark, sf_dir, tmp_path):
    from priority_data_pipeline_azure_sql_db_spark.config import ExtractionConfig
    from priority_data_pipeline_azure_sql_db_spark.pipeline import PipelineRunner, StagingStore

    store = StagingStore(root=str(tmp_path / "stg"))
    cfg = ExtractionConfig.from_dict({
        "datasourceName": "t", "systemTimezone": "UTC",
        "entities": [{"EntityID": "nation", "filterFlag": False, "expand": []}],
    })
    runner = PipelineRunner(spark, cfg, store, sf_dir)
    runner.initial_data_load()
    assert store.exists("stg_nation")
    out = runner.reset_data_platform()
    # the table dir only: not its intent or staged copy
    assert out["tablesDropped"] == 1
    assert store.exists("stg_nation")
    assert all(r.error is None for r in out["load"])


def test_child_key_explicit_map_and_ambiguity(spark):
    """Explicit expandKeys wins; the stem heuristic refuses ambiguous
    child schemas instead of silently picking the first match."""
    import pytest

    from priority_data_pipeline_azure_sql_db_spark.config import EntityConfig
    from priority_data_pipeline_azure_sql_db_spark.pipeline import PipelineRunner

    # two columns share the 'orderkey' stem -> ambiguous for the heuristic
    child = spark.createDataFrame(
        [(1, 1, 10.0)], "l_orderkey bigint, ref_orderkey bigint, amount double"
    )
    with pytest.raises(ValueError, match="ambiguous"):
        PipelineRunner._child_key(child, "o_orderkey")
    # explicit map resolves it
    assert PipelineRunner._child_key(
        child, "o_orderkey", {"o_orderkey": "ref_orderkey"}
    ) == "ref_orderkey"
    # explicit map validated against the child schema
    with pytest.raises(ValueError, match="not a child column"):
        PipelineRunner._child_key(child, "o_orderkey", {"o_orderkey": "nope"})
    # config wiring: expandKeys parses case-insensitively like other keys
    ent = EntityConfig.from_dict({
        "EntityID": "orders", "expand": ["lineitem"],
        "expandKeys": {"o_orderkey": "l_orderkey"},
    })
    assert ent.expand_keys == {"o_orderkey": "l_orderkey"}
    # unambiguous heuristic still works unaided
    plain = spark.createDataFrame([(1, 10.0)], "l_orderkey bigint, amount double")
    assert PipelineRunner._child_key(plain, "o_orderkey") == "l_orderkey"


def test_merge_schema_evolution(spark, tmp_path):
    """A source adding a field mid-stream: the merge widens the stored
    table, old rows read back with nulls in the new column, and a delta
    MISSING a stored column leaves old values intact. Store reads name
    the table's schema (the union of the live footers') and must see
    exactly what a ``mergeSchema`` read sees: rows, columns and
    types."""
    from pyspark.sql import functions as F

    from priority_data_pipeline_azure_sql_db_spark.pipeline import (
        PARTITION_COL,
        StagingStore,
        cdc_audit_delta,
    )

    store = StagingStore(str(tmp_path / "stg"))

    def same_as_merge_schema(table):
        got = store.read(spark, table)
        want = spark.read.option("mergeSchema", "true") \
            .parquet(store.path(table)).drop(PARTITION_COL)
        assert sorted(got.dtypes) == sorted(want.dtypes), table
        want = want.select(*got.columns)
        assert got.count() == want.count(), table
        assert got.exceptAll(want).count() == 0, table

    v1 = spark.createDataFrame(
        [(1, "a", "2024-01-01 00:00:00"), (2, "b", "2024-01-01 00:00:00")],
        "id bigint, val string, extractiontimestamputc string",
    ).withColumn("extractiontimestamputc", F.col("extractiontimestamputc").cast("timestamp"))
    store.overwrite(v1, "stg_t")

    # delta adds a NEW column and updates row 2
    v2 = spark.createDataFrame(
        [(2, "b2", "fresh", "2024-01-02 00:00:00"), (3, "c", "fresh", "2024-01-02 00:00:00")],
        "id bigint, val string, extra string, extractiontimestamputc string",
    ).withColumn("extractiontimestamputc", F.col("extractiontimestamputc").cast("timestamp"))
    store.merge(spark, v2, "stg_t", ["id"])
    got = {r.id: (r.val, r.extra) for r in store.read(spark, "stg_t").collect()}
    assert got == {1: ("a", None), 2: ("b2", "fresh"), 3: ("c", "fresh")}

    # delta MISSING the evolved column: stored values survive
    v3 = spark.createDataFrame(
        [(3, "c3", "2024-01-03 00:00:00")],
        "id bigint, val string, extractiontimestamputc string",
    ).withColumn("extractiontimestamputc", F.col("extractiontimestamputc").cast("timestamp"))
    store.merge(spark, v3, "stg_t", ["id"])
    got = {r.id: (r.val, r.extra) for r in store.read(spark, "stg_t").collect()}
    assert got[3] == ("c3", None)
    assert got[2] == ("b2", "fresh")

    # a delta missing "extra" whose own partition is new and whose key no
    # partition can hold (nothing on disk to merge against), then one
    # that rewrites the day-2 partition: the merge target carries the
    # union schema, so day 2's stored "extra" survives both
    v4 = spark.createDataFrame(
        [(4, "d", "2024-01-04 00:00:00")],
        "id bigint, val string, extractiontimestamputc string",
    ).withColumn("extractiontimestamputc", F.col("extractiontimestamputc").cast("timestamp"))
    store.merge(spark, v4, "stg_t", ["id"])
    same_as_merge_schema("stg_t")
    store.merge(spark, v4.withColumn("id", F.lit(5).cast("bigint"))
                .withColumn("extractiontimestamputc",
                            F.lit("2024-01-02 00:00:00").cast("timestamp")),
                "stg_t", ["id"])
    same_as_merge_schema("stg_t")
    got = {r.id: (r.val, r.extra) for r in store.read(spark, "stg_t").collect()}
    assert got == {1: ("a", None), 2: ("b2", "fresh"), 3: ("c3", None),
                   4: ("d", None), 5: ("d", None)}

    # the footer fold unions the schemas (the day-1 partition predates
    # "extra") and adds the partition column last
    schema = StagingStore._fold_footers(store.path("stg_t"), ["id"])[1]
    assert schema.names[-1] == PARTITION_COL
    assert set(schema.names) == {
        "id", "val", "extra", "extractiontimestamputc", PARTITION_COL}
    # id 4 falls in day 2's range [2, 5] and in day 4's
    assert {r.id for r in store.read_for_keys(
        spark, "stg_t", v4, ["id"], profile=store._delta_profile(v4, ["id"]))
        .collect()} == {2, 4, 5}

    # an unpartitioned table evolved by the whole-table merge
    plain = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, val string")
    store.overwrite(plain, "plain")
    same_as_merge_schema("plain")
    store.merge(spark, spark.createDataFrame(
        [(2, "b2", 7)], "id bigint, val string, n int"), "plain", ["id"])
    same_as_merge_schema("plain")
    assert {r.id: r.n for r in store.read(spark, "plain").collect()} == {
        1: None, 2: 7}

    # a merge key that takes in the evolved column: the zone maps are
    # folded from the live footers for that key, where the day-1 file
    # (written before the column existed) reads it as null
    def rows(data, schema):
        return spark.createDataFrame(data, schema).withColumn(
            "extractiontimestamputc",
            F.col("extractiontimestamputc").cast("timestamp"))

    store.overwrite(rows(
        [(1, "a", "2024-01-01 00:00:00"), (2, "b", "2024-01-02 00:00:00")],
        "id bigint, val string, extractiontimestamputc string"),
        "stg_k")
    new = "id bigint, val string, extra string, extractiontimestamputc string"
    store.merge(spark, rows([(2, "b2", "fresh", "2024-01-03 00:00:00")], new),
                "stg_k", ["id"])
    assert store.merge(
        spark, rows([(2, "b3", "fresh", "2024-01-03 00:00:00")], new),
        "stg_k", ["id", "extra"]) == 2
    got = {(r.id, r.val, r.extra) for r in store.read(spark, "stg_k").collect()}
    assert got == {(1, "a", None), (2, "b3", "fresh")}

    # a key on the evolved column where EVERY candidate partition
    # predates it: the probe and read_for_keys see the column as typed
    # nulls, a null key matches nothing, so the old row stays and the
    # delta row is inserted
    store.overwrite(rows(
        [(1, "a", "2024-01-01 00:00:00"), (2, "b", "2024-01-01 00:00:00")],
        "id bigint, val string, extractiontimestamputc string"),
        "stg_e")
    delta = rows([(2, "b2", "fresh", "2024-01-02 00:00:00")], new)
    key = ["id", "extra"]
    audit = cdc_audit_delta(store.read_for_keys(
        spark, "stg_e", delta, key, profile=store._delta_profile(delta, key)),
        delta, key)
    assert {(r.id, r.change_type) for r in audit.collect()} == {
        (2, "inserted")}
    assert store.merge(spark, delta, "stg_e", key) == 3
    got = {(r.id, r.val, r.extra) for r in store.read(spark, "stg_e").collect()}
    assert got == {(1, "a", None), (2, "b", None), (2, "b2", "fresh")}


def test_staging_compact_small_files(spark, sf_dir, tmp_path):
    """Compaction squashes over-budget partitions to the file budget
    with byte-identical contents, skips within-budget partitions, is
    idempotent, and handles the unpartitioned table form."""
    import os

    from pyspark.sql import functions as F

    from priority_data_pipeline_azure_sql_db_spark.pipeline import (
        PARTITION_COL,
        StagingStore,
    )
    from priority_data_pipeline_azure_sql_db_spark.sources.parquet import load_table

    store = StagingStore(root=str(tmp_path / "stg"))
    o = load_table(spark, sf_dir, "orders").limit(500).withColumn(
        "extractiontimestamputc",
        F.when(F.col("o_orderkey") % 2 == 0,
               F.lit("2026-01-01 00:00:00")).otherwise(
               F.lit("2026-01-02 00:00:00")).cast("timestamp"),
    )
    store.overwrite(o.repartition(8), "orders")
    before = sorted((r["o_orderkey"], str(r["extractiontimestamputc"]))
                    for r in store.read(spark, "orders").collect())
    root = store.path("orders")
    parts = [p for p in os.listdir(root) if p.startswith(f"{PARTITION_COL}=")]
    assert len(parts) == 2
    assert all(
        sum(1 for f in os.listdir(os.path.join(root, p))
            if f.startswith("part-")) == 8
        for p in parts
    )

    assert store.compact(spark, "orders", max_files_per_partition=1) == 2
    assert all(
        sum(1 for f in os.listdir(os.path.join(root, p))
            if f.startswith("part-")) == 1
        for p in parts
    )
    after = sorted((r["o_orderkey"], str(r["extractiontimestamputc"]))
                   for r in store.read(spark, "orders").collect())
    assert after == before
    # within budget now: second pass touches nothing
    assert store.compact(spark, "orders", max_files_per_partition=1) == 0

    # unpartitioned form (no audit column)
    store.overwrite(
        load_table(spark, sf_dir, "region").repartition(4), "region"
    )
    assert store.compact(spark, "region", max_files_per_partition=2) == 1
    assert store.read(spark, "region").count() == 5
    assert store.compact(spark, "region", max_files_per_partition=2) == 0


def test_staging_compact_tmp_invisible_to_readers(spark, sf_dir, tmp_path):
    """Compaction's staged copy must be invisible to readers. A compact
    pass that dies while staging (before its commit writes an intent)
    leaves a copy of the partition under ``<table>.__tmp__``; that dir
    is a sibling of the table dir, so partition discovery never sees it
    and a reader sees each row exactly once (no bogus partition value,
    no duplicated rows). The next compact pass replaces the leftover
    stage, commits, and stays data-identical."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from priority_data_pipeline_azure_sql_db_spark.pipeline import (
        PARTITION_COL,
        StagingStore,
    )
    from priority_data_pipeline_azure_sql_db_spark.sources.parquet import load_table

    store = StagingStore(root=str(tmp_path / "stg"))
    o = load_table(spark, sf_dir, "orders").limit(200).withColumn(
        "extractiontimestamputc",
        F.lit("2026-01-01 00:00:00").cast("timestamp"),
    )
    store.overwrite(o.repartition(4), "orders")
    root = store.path("orders")
    part = next(p for p in os.listdir(root) if p.startswith(f"{PARTITION_COL}="))

    # simulate the mid-compaction state: the staged copy of the live
    # partition present, no intent written yet
    shutil.copytree(os.path.join(root, part),
                    os.path.join(store._tmp_path("orders"), part))
    assert not os.path.exists(store._intent_path("orders"))
    assert store.read(spark, "orders").count() == 200  # no duplicated rows

    before = sorted(r["o_orderkey"] for r in store.read(spark, "orders").collect())
    assert store.compact(spark, "orders", max_files_per_partition=1) == 1
    assert not os.path.exists(store._tmp_path("orders"))
    assert sum(f.startswith("part-")
               for f in os.listdir(os.path.join(root, part))) == 1
    after = sorted(r["o_orderkey"] for r in store.read(spark, "orders").collect())
    assert after == before


def _stamp(df, stamped=True):
    """Replace ``df``'s ``day`` column with the audit timestamp of
    2026-01-<day> (its load-date partition); unstamped rows just lose
    it and stage as the unpartitioned whole-table form."""
    from pyspark.sql import functions as F

    if stamped:
        df = df.withColumn("extractiontimestamputc", F.make_timestamp(
            F.lit(2026), F.lit(1), "day", F.lit(12), F.lit(0), F.lit(0)))
    return df.drop("day")


def _stamped(spark, rows, stamped=True):
    return _stamp(spark.createDataFrame(rows, "pk bigint, v string, day int"),
                  stamped)


@pytest.mark.parametrize("stamped", [True, False],
                         ids=["partitioned_pk", "unpartitioned"])
def test_failed_overwrite_keeps_old_table(spark, tmp_path, stamped):
    """A source that fails in the middle of an overwrite (say, an HTTP
    error during the extract; here a raising UDF) leaves the old rows
    readable and its zone maps (the live footers' fold) unchanged: the
    replacement is staged, never delete-then-write. A later overwrite
    still lands."""
    from pyspark.sql import functions as F

    from priority_data_pipeline_azure_sql_db_spark.pipeline import StagingStore

    store = StagingStore(str(tmp_path / "stg"))
    old = [(i, f"old{i}", 1 + i % 2) for i in range(20)]
    store.overwrite(_stamped(spark, old, stamped), "t")
    zm = StagingStore._fold_footers(store.path("t"), ["pk"])
    assert len(zm[0]) == (2 if stamped else 1)

    @F.udf("string")
    def source_fails_at_row_15(pk):
        if pk == 15:
            raise RuntimeError("source failed mid-write")
        return f"new{pk}"

    new = _stamp(spark.range(20).repartition(4).select(
        F.col("id").alias("pk"), source_fails_at_row_15("id").alias("v"),
        (1 + F.col("id") % 2).cast("int").alias("day")), stamped)
    with pytest.raises(Exception, match="source failed mid-write"):
        store.overwrite(new, "t")
    got = sorted((r.pk, r.v) for r in store.read(spark, "t").collect())
    assert got == [(pk_, v) for pk_, v, _ in old]
    assert StagingStore._fold_footers(store.path("t"), ["pk"]) == zm

    assert store.overwrite(_stamped(spark, [(1, "x", 2)], stamped), "t") == 1
    assert [(r.pk, r.v) for r in store.read(spark, "t").collect()] == [(1, "x")]


@pytest.mark.parametrize(
    "writer", ["overwrite", "merge_partitioned", "merge_whole_table", "compact"])
def test_commit_crash_rolls_forward(spark, tmp_path, monkeypatch, writer):
    """Every StagingStore writer commits through one stage-and-swap. A
    crash inside that commit after the intent and the first rename out
    of ``<table>.__tmp__`` leaves a half-swapped table; the next read
    rolls it forward to the new content, each row exactly once, and
    the live footers' row counts are the new table's. The staged copy
    is a sibling of the table dir, so partition discovery never sees it
    (no bogus partition value, no duplicated rows)."""
    import os

    from priority_data_pipeline_azure_sql_db_spark.pipeline import (
        PARTITION_COL,
        StagingStore,
    )

    store = StagingStore(str(tmp_path / "stg"))
    stamped = writer != "merge_whole_table"
    old = [(i, f"old{i}", 1 + i % 2) for i in range(12)]
    store.overwrite(_stamped(spark, old, stamped).repartition(3), "t")
    if writer == "overwrite":
        new = [(i, f"new{i}", 1 + i % 2) for i in range(5, 15)]
        want = {(pk, v) for pk, v, _ in new}
        op = lambda: store.overwrite(  # noqa: E731
            _stamped(spark, new, stamped), "t")
    elif writer == "compact":
        want = {(pk, v) for pk, v, _ in old}
        op = lambda: store.compact(spark, "t", 1)  # noqa: E731
    else:
        # updates in both standing partitions, an insert into a third
        delta = [(2, "upd2", 3), (3, "upd3", 3), (20, "ins20", 3)]
        want = {(pk, v) for pk, v, _ in old if pk not in (2, 3, 20)} \
            | {(pk, v) for pk, v, _ in delta}
        op = lambda: store.merge(  # noqa: E731
            spark, _stamped(spark, delta, stamped), "t", ["pk"])

    class Crash(Exception):
        pass

    real_replace = os.replace

    def replace_then_crash(src, dst):
        real_replace(src, dst)
        if ".__tmp__" in os.fspath(src):
            raise Crash

    monkeypatch.setattr(os, "replace", replace_then_crash)
    with pytest.raises(Crash):
        op()
    monkeypatch.undo()
    assert os.path.exists(store._intent_path("t"))  # crashed mid-commit

    rows = [(r.pk, r.v) for r in store.read(spark, "t").collect()]
    assert len(rows) == len(set(rows)) and set(rows) == want
    assert not os.path.exists(store._intent_path("t"))
    assert not os.path.exists(store._tmp_path("t"))
    parts = StagingStore._fold_footers(store.path("t"), ["pk"])[0]
    assert sum(st["rows"] for st in parts.values()) == len(want)
    # a partitioned table holds load-date subs, the whole-table form ""
    assert ("" in parts) == (not stamped)
    if writer == "compact":
        root = store.path("t")
        assert all(
            sum(f.startswith("part-") for f in os.listdir(os.path.join(root, p))) == 1
            for p in os.listdir(root) if p.startswith(f"{PARTITION_COL}="))


def _cdc_v1_source(spark, sf_dir, out_dir):
    """Source snapshot 'v1': orders minus keys %5==0 (not yet created),
    with o_totalprice bumped +1.0 for keys %7==0 (stale values a later
    window corrects)."""
    import os

    from pyspark.sql import functions as F

    from priority_data_pipeline_azure_sql_db_spark.sources.parquet import load_table

    o = load_table(spark, sf_dir, "orders")
    v1 = o.filter(F.col("o_orderkey") % 5 != 0).withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 7 == 0,
               F.col("o_totalprice") + F.lit(1.0))
        .otherwise(F.col("o_totalprice")),
    )
    v1.write.mode("overwrite").parquet(os.path.join(out_dir, "orders.parquet"))


def test_refresh_cdc_audit_counts_and_fail_soft(spark, sf_dir, tmp_path, monkeypatch):
    """VERDICT r8 ask #7: refresh_data(cdc_audit=True) persists a
    per-row change audit of each incremental window and reports counts,
    without ever blocking the load. Stage v1 (keys %5==0 missing, %7==0
    stale), refresh from the true source: the 1998+ window classifies
    exactly as inserted/updated/unchanged; the audit table persists;
    and when the audit itself blows up, the merge still lands and only
    cdc_error is set (advisory, fail-soft)."""
    from pyspark.sql import functions as F

    import priority_data_pipeline_azure_sql_db_spark.pipeline as P
    from priority_data_pipeline_azure_sql_db_spark.config import ExtractionConfig
    from priority_data_pipeline_azure_sql_db_spark.sources.parquet import load_table

    v1_dir = str(tmp_path / "v1")
    _cdc_v1_source(spark, sf_dir, v1_dir)

    def cfg(last_run):
        return ExtractionConfig.from_dict({
            "datasourceName": "cdc", "systemTimezone": "UTC",
            "entities": [{
                "EntityID": "orders", "filterFlag": True,
                "filterField": "o_orderdate", "expand": [],
                "lastRun": last_run, "dataStartDate": "1990-01-01 00:00:00",
            }],
        })

    store = P.StagingStore(str(tmp_path / "stg"))
    P.PipelineRunner(spark, cfg(None), store, v1_dir).initial_data_load()

    runner = P.PipelineRunner(
        spark, cfg("1998-01-01 00:00:00"), store, sf_dir
    )
    (res,) = runner.refresh_data(incremental=True, cdc_audit=True)
    assert res.error is None and res.cdc_error is None

    o = load_table(spark, sf_dir, "orders")
    win = o.filter(F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
    want = {
        "inserted": win.filter(F.col("o_orderkey") % 5 == 0).count(),
        "updated": win.filter(
            (F.col("o_orderkey") % 5 != 0) & (F.col("o_orderkey") % 7 == 0)
        ).count(),
        "unchanged": win.filter(
            (F.col("o_orderkey") % 5 != 0) & (F.col("o_orderkey") % 7 != 0)
        ).count(),
    }
    assert res.cdc["stg_orders"] == {k: v for k, v in want.items() if v}
    # the audit persisted as a real store table, one row per delta PK
    audit = store.read(spark, "stg_orders__cdc")
    assert audit.count() == win.count()
    assert set(audit.columns) == {"o_orderkey", "change_type"}
    # and the merge itself landed: stale prices in the window corrected
    merged = store.read(spark, "stg_orders")
    fixed = merged.join(win.select("o_orderkey", "o_totalprice"), "o_orderkey") \
        .filter(merged.o_totalprice != win.o_totalprice)
    # (column ambiguity guard: compare via aliased join)
    assert fixed.count() == 0

    # fail-soft: a broken audit must not break the load
    def boom(*a, **k):
        raise RuntimeError("audit exploded")

    monkeypatch.setattr(P, "cdc_audit_delta", boom)
    (res2,) = P.PipelineRunner(
        spark, cfg("1998-01-01 00:00:00"), store, sf_dir
    ).refresh_data(incremental=True, cdc_audit=True)
    assert res2.error is None
    assert res2.cdc_error and "audit exploded" in res2.cdc_error
    assert res2.tables["stg_orders"] > 0


def test_staging_empty_overwrite_no_wedge(spark, tmp_path):
    """Round-10 review fix: a zero-row audit-stamped overwrite must not
    create a partitioned table dir with no parquet files (which wedges
    every later read/merge with UNABLE_TO_INFER_SCHEMA). Empty
    truncate-reload leaves NO table; the next non-empty load creates it
    cleanly — including via the streaming MERGE sink."""
    import os

    from pyspark.sql import functions as F

    from priority_data_pipeline_azure_sql_db_spark.pipeline import StagingStore

    store = StagingStore(str(tmp_path / "staging"))
    schema = "id bigint, v string, extractiontimestamputc timestamp"

    def mk(rows):
        return spark.createDataFrame(
            [(i, v, "2026-01-01 00:00:00") for i, v in rows],
            "id bigint, v string, extractiontimestamputc string",
        ).withColumn(
            "extractiontimestamputc",
            F.col("extractiontimestamputc").cast("timestamp"),
        )

    empty = mk([]).limit(0)
    assert store.overwrite(empty, "t") == 0
    assert not store.exists("t"), "empty partitioned write must leave no dir"

    # the next real load creates the table cleanly
    assert store.merge(spark, mk([(1, "a"), (2, "b")]), "t", ["id"]) == 2
    assert store.read(spark, "t").count() == 2

    # truncate-to-empty on an EXISTING table removes it instead of
    # wedging it; a later load recreates
    assert store.overwrite(empty, "t") == 0
    assert not store.exists("t")
    assert store.merge(spark, mk([(3, "c")]), "t", ["id"]) == 1
    assert {r.id for r in store.read(spark, "t").collect()} == {3}


def test_streaming_merge_skips_empty_batches(spark, tmp_path):
    """The staging MERGE sink skips empty micro-batches — an empty
    FIRST batch previously wedged the table via the zero-row
    partitioned overwrite (round-10 review fix)."""
    from pyspark.sql import functions as F

    from priority_data_pipeline_azure_sql_db_spark.pipeline import StagingStore
    from priority_data_pipeline_azure_sql_db_spark.streaming.sink import (
        stream_merge_into_staging,
    )

    schema = "id bigint, v string, extractiontimestamputc timestamp"
    src = str(tmp_path / "src")
    empty = spark.createDataFrame([], schema)
    empty.coalesce(1).write.mode("overwrite").parquet(src)

    store = StagingStore(str(tmp_path / "staging"))
    q = stream_merge_into_staging(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(src),
        store, "t", ["id"], checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert q.awaitTermination(300)
    assert not store.exists("t"), "empty first batch must not create the table"

    rows = spark.createDataFrame(
        [(1, "a", "2026-01-01 00:00:00")],
        "id bigint, v string, extractiontimestamputc string",
    ).withColumn("extractiontimestamputc",
                 F.col("extractiontimestamputc").cast("timestamp"))
    rows.coalesce(1).write.mode("append").parquet(src)
    q2 = stream_merge_into_staging(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(src),
        store, "t", ["id"], checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert q2.awaitTermination(300)
    assert store.read(spark, "t").count() == 1


def _mk_store_with_table(spark, sf_dir, tmp_path):
    """Seed a partitioned staging table via the real overwrite path."""
    import os

    from pyspark.sql import functions as F

    from priority_data_pipeline_azure_sql_db_spark.operators.normalize import add_audit_columns
    from priority_data_pipeline_azure_sql_db_spark.pipeline import StagingStore
    from priority_data_pipeline_azure_sql_db_spark.sources.parquet import load_table
    from datetime import datetime

    store = StagingStore(str(tmp_path / "stg"))
    o = load_table(spark, sf_dir, "orders").limit(200)
    # two load dates -> two partitions
    a = add_audit_columns(o.filter(F.col("o_orderkey") % 2 == 0), "r1",
                          datetime(2026, 1, 1))
    b = add_audit_columns(o.filter(F.col("o_orderkey") % 2 == 1), "r2",
                          datetime(2026, 1, 2))
    store.overwrite(a.unionByName(b), "stg_orders")
    return store, os


def test_merge_crash_rolls_forward_partitioned(spark, sf_dir, tmp_path):
    """A crash mid-partition-swap (intent written, some partitions
    swapped, tmp still holding the rest) rolls FORWARD on the next read:
    no partition is lost, the merged data is fully visible. Pre-fix the
    swap rmtree'd the live partition before replacing it — a crash there
    stranded the only copy in a tmp dir the next merge clobbered."""
    import json
    import shutil

    store, os = _mk_store_with_table(spark, sf_dir, tmp_path)
    before = store.read(spark, "stg_orders").count()
    final = store.path("stg_orders")
    tmp = final + ".__tmp__"
    # hand-craft the crash window: tmp holds the NEW copy of partition
    # 2026-01-01 (here: the existing one, relocated), the live dir was
    # already deleted, the intent is on disk, the process "died"
    sub = "_load_date=2026-01-01"
    os.makedirs(tmp, exist_ok=True)
    os.replace(os.path.join(final, sub), os.path.join(tmp, sub))
    with open(final + ".__intent__.json", "w") as fh:
        json.dump({"kind": "parts", "data": [sub], "empty": []}, fh)
    # reader after the crash sees the COMPLETE table (rolled forward)
    assert store.read(spark, "stg_orders").count() == before
    assert not os.path.isdir(tmp)
    assert not os.path.exists(final + ".__intent__.json")
    # replaying recovery is a no-op
    store._recover("stg_orders")
    assert store.read(spark, "stg_orders").count() == before
    shutil.rmtree(store.root, ignore_errors=True)


def test_merge_crash_rolls_forward_whole_table(spark, sf_dir, tmp_path):
    """Unpartitioned swap (sub ``""``): a crash after the live table dir
    was removed and before the staged copy moved in (tmp complete,
    final missing, intent on disk) promotes tmp on the next access
    instead of losing the table."""
    import json
    import os
    import shutil

    from priority_data_pipeline_azure_sql_db_spark.pipeline import StagingStore
    from priority_data_pipeline_azure_sql_db_spark.sources.parquet import load_table

    store = StagingStore(str(tmp_path / "stg2"))
    n = load_table(spark, sf_dir, "nation")
    store.overwrite(n, "stg_nation")  # no audit ts -> unpartitioned
    before = store.read(spark, "stg_nation").count()
    final = store.path("stg_nation")
    # crash state between rmtree(dst) and os.replace(src, dst)
    shutil.copytree(final, final + ".__tmp__")
    shutil.rmtree(final)
    with open(final + ".__intent__.json", "w") as fh:
        json.dump({"data": [""], "empty": [], "meta": None}, fh)
    assert store.read(spark, "stg_nation").count() == before
    assert not os.path.isdir(final + ".__tmp__")
    assert not os.path.exists(final + ".__intent__.json")


def test_runner_fresh_identity_per_refresh(spark, sf_dir, tmp_path):
    """A reused runner stamps each refresh with a FRESH extraction
    identity and advances the bookmark to THAT run's time — pre-fix the
    construction-time identity made every later 'incremental' window
    restart from t0 (monotonically growing reloads, collapsed lineage)."""
    from priority_data_pipeline_azure_sql_db_spark.config import ExtractionConfig
    from priority_data_pipeline_azure_sql_db_spark.pipeline import PipelineRunner, StagingStore

    cfg = ExtractionConfig.from_dict({
        "datasourceName": "x", "systemTimezone": "UTC",
        "entities": [{
            "EntityID": "nation", "filterFlag": False, "expand": [],
            "lastRun": None, "dataStartDate": "1990-01-01 00:00:00",
        }],
    })
    runner = PipelineRunner(spark, cfg, StagingStore(str(tmp_path / "stg3")), sf_dir)
    runner.refresh_data(incremental=False)
    id1, ts1 = runner.extraction_id, runner.extraction_ts
    runner.refresh_data(incremental=False)
    id2, ts2 = runner.extraction_id, runner.extraction_ts
    assert id1 != id2
    assert ts2 >= ts1
    assert cfg.entities[0].last_run == cfg.format_bookmark(
        ts2.replace(tzinfo=__import__("datetime").timezone.utc)
    )


def test_ddl_boolean_and_pk_order():
    """The sink DDL accepts every catalog type (Edm.Boolean -> BIT) and
    emits composite PKs in DECLARED order (the clustered index), not
    alphabetical."""
    from pyspark.sql import types as T

    from priority_data_pipeline_azure_sql_db_spark.ddl import create_table_ddl

    schema = T.StructType([
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_linenumber", T.IntegerType()),
        T.StructField("returned", T.BooleanType()),
    ])
    ddl = create_table_ddl("lineitem", schema,
                           pk=["l_orderkey", "l_linenumber"],
                           dialect="azuresql", with_audit=False)
    assert "returned BIT" in ddl
    assert "PRIMARY KEY (l_orderkey, l_linenumber)" in ddl


# -- concurrent loads --------------------------------------------------------

_AUDIT_COLS = ("extractionid", "extractiontimestamputc")


def _ent(entity, expand=(), last_run=None, filter_field=""):
    return {"EntityID": entity, "filterFlag": bool(filter_field),
            "filterField": filter_field, "expand": list(expand),
            "lastRun": last_run, "dataStartDate": "1990-01-01 00:00:00"}


def _cfg(*ents):
    from priority_data_pipeline_azure_sql_db_spark.config import ExtractionConfig

    return ExtractionConfig.from_dict(
        {"datasourceName": "cc", "systemTimezone": "UTC", "entities": list(ents)})


def _orders(last_run=None):
    return _ent("orders", ["lineitem"], last_run, "o_orderdate")


def _v1_dir(spark, sf_dir, out_dir):
    """The ``_cdc_v1_source`` orders beside the true lineitem and customer."""
    import os

    _cdc_v1_source(spark, sf_dir, out_dir)
    for t in ("lineitem", "customer"):
        os.symlink(os.path.join(sf_dir, f"{t}.parquet"),
                   os.path.join(out_dir, f"{t}.parquet"))
    return out_dir


def _store_tables(store):
    import os

    return sorted(e for e in os.listdir(store.root)
                  if os.path.isdir(os.path.join(store.root, e))
                  and not e.endswith(".__tmp__"))


def _assert_same_store(spark, a, b):
    """Both stores hold the same tables with the same rows (audit
    columns aside: every run stamps its own extraction id)."""
    assert _store_tables(a) == _store_tables(b)
    for t in _store_tables(a):
        x = a.read(spark, t).drop(*_AUDIT_COLS)
        y = b.read(spark, t).drop(*_AUDIT_COLS)
        assert sorted(x.columns) == sorted(y.columns), t
        y = y.select(*x.columns)
        assert x.count() == y.count() and x.exceptAll(y).count() == 0, t


def test_concurrent_refresh_equals_serial(spark, sf_dir, tmp_path):
    """A two-entity refresh (entities and tables loaded concurrently)
    leaves the same store and the same per-table RunResult counts as the
    same entities run as one-entity configs back to back."""
    v1 = _v1_dir(spark, sf_dir, str(tmp_path / "v1"))
    ents = [_orders("1998-01-01 00:00:00"), _ent("customer")]
    conc = StagingStore(str(tmp_path / "conc"))
    ser = StagingStore(str(tmp_path / "ser"))
    PipelineRunner(spark, _cfg(*ents), conc, v1).initial_data_load()
    for e in ents:
        PipelineRunner(spark, _cfg(e), ser, v1).initial_data_load()

    got = PipelineRunner(spark, _cfg(*ents), conc, sf_dir).refresh_data(
        incremental=True, cdc_audit=True)
    want = [r for e in ents for r in PipelineRunner(spark, _cfg(e), ser, sf_dir)
            .refresh_data(incremental=True, cdc_audit=True)]
    assert [r.entity for r in got] == ["orders", "customer"]
    assert all(r.error is None and r.cdc_error is None for r in got + want)
    assert [r.tables for r in got] == [r.tables for r in want]
    assert [r.cdc for r in got] == [r.cdc for r in want]
    assert list(got[0].tables) == ["stg_orders", "stg_lineitem"]
    assert got[0].cdc["stg_orders"]["updated"] > 0  # v1's stale prices
    _assert_same_store(spark, conc, ser)


@pytest.mark.parametrize("failing", ["stg_lineitem", "stg_orders"])
def test_failed_table_leaves_siblings_committed(
        spark, sf_dir, tmp_path, monkeypatch, failing):
    """One table's merge raising: its sibling tables and the other
    entity still commit, only the failing entity's bookmark stays put,
    and results keep config order."""
    from pyspark.sql import functions as F

    store = StagingStore(str(tmp_path / "stg"))
    PipelineRunner(spark, _cfg(_orders(), _ent("customer")), store,
                   sf_dir).initial_data_load()
    cfg = _cfg(_orders("1998-01-01 00:00:00"), _ent("customer"))
    real = StagingStore.merge

    def merge(self, spark_, delta, table, pk, **kw):
        if table == failing:
            raise RuntimeError("merge exploded")
        return real(self, spark_, delta, table, pk, **kw)

    monkeypatch.setattr(StagingStore, "merge", merge)
    runner = PipelineRunner(spark, cfg, store, sf_dir)
    orders, customer = runner.refresh_data(incremental=True)
    assert (orders.entity, customer.entity) == ("orders", "customer")
    assert failing in orders.error and "merge exploded" in orders.error
    assert cfg.entities[0].last_run == "1998-01-01 00:00:00"
    assert customer.error is None and cfg.entities[1].last_run is not None
    siblings = {"stg_orders", "stg_lineitem"} - {failing}
    assert set(orders.tables) == siblings
    assert set(customer.tables) == {"stg_customer"}
    for t in ["stg_customer", *siblings, failing]:
        stamped = store.read(spark, t).filter(
            F.col("extractionid") == runner.extraction_id).count()
        assert (stamped > 0) == (t != failing), t


def test_refresh_jobs_inherit_callers_job_group(spark, sf_dir, tmp_path):
    """Every job of a refresh, whichever worker thread runs it, carries
    the job group set on the caller's thread."""
    sc = spark.sparkContext
    store = StagingStore(str(tmp_path / "stg"))
    runner = PipelineRunner(spark, _cfg(_orders(), _ent("customer")), store, sf_dir)
    group = "test-refresh-job-group"
    sc.setJobGroup(group, "concurrent refresh")
    try:
        spark.range(1).collect()
        runner.initial_data_load()
        runner.refresh_data(incremental=True, cdc_audit=True)
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    assert len(jobs) > 10
    assert set(range(min(jobs), max(jobs) + 1)) == jobs


def test_shared_table_entities_write_in_config_order(spark, sf_dir, tmp_path):
    """Two entities that write one table (``lineitem`` itself, and
    ``orders`` expanding it into ``stg_lineitem``) give the same store
    as running the two one after the other: one writer per table, in
    config order."""
    ents = [_ent("lineitem"), _orders("1998-01-01 00:00:00")]
    assert PipelineRunner._writer_chains(
        _cfg(*ents, _ent("customer")).entities) == [[0, 1], [2]]
    conc = StagingStore(str(tmp_path / "conc"))
    ser = StagingStore(str(tmp_path / "ser"))
    for incremental in (False, True):
        got = PipelineRunner(spark, _cfg(*ents), conc, sf_dir).refresh_data(
            incremental=incremental)
        want = [r for e in ents for r in PipelineRunner(spark, _cfg(e), ser, sf_dir)
                .refresh_data(incremental=incremental)]
        assert all(r.error is None for r in got + want)
        assert [r.tables for r in got] == [r.tables for r in want]
    # the last writer of stg_lineitem is orders' flattened child
    assert "o_orderkey" in conc.read(spark, "stg_lineitem").columns
    _assert_same_store(spark, conc, ser)


def test_refresh_runs_with_pinned_thread_mode_off(spark, sf_dir, tmp_path,
                                                  monkeypatch):
    """With pyspark's pinned-thread mode off, ``inheritable_thread_target``
    returns the session it is given instead of a wrapper; the runner
    must then run its workers unwrapped, not fail every load."""
    from priority_data_pipeline_azure_sql_db_spark import pipeline
    from priority_data_pipeline_azure_sql_db_spark.sources.parquet import load_table

    monkeypatch.setattr(pipeline, "inheritable_thread_target", lambda f=None: f)
    store = StagingStore(str(tmp_path / "stg"))
    res = PipelineRunner(spark, _cfg(_ent("nation")), store, sf_dir) \
        .initial_data_load()
    assert [r.error for r in res] == [None]
    assert store.read(spark, "stg_nation").count() == \
        load_table(spark, sf_dir, "nation").count()


def test_read_for_keys_without_candidates_skips_table_read(spark, tmp_path,
                                                           monkeypatch):
    """Keys above every partition's pk range: ``read_for_keys`` returns
    an empty frame of the keys' schema without opening the table, and
    the CDC audit tags every key ``inserted``."""
    from priority_data_pipeline_azure_sql_db_spark.pipeline import cdc_audit_delta

    store = StagingStore(str(tmp_path / "stg"))
    store.overwrite(_stamped(spark, [(d, "a", d) for d in range(1, 6)]), "t")
    keys = _stamped(spark, [(1000, "new", 6), (1001, "new", 6)])

    def no_read(*args, **kwargs):
        raise AssertionError("read_for_keys opened the whole table")

    monkeypatch.setattr(StagingStore, "read", no_read)
    got = store.read_for_keys(spark, "t", keys, ["pk"],
                              profile=store._delta_profile(keys, ["pk"]))
    assert got.schema == keys.schema and got.count() == 0
    audit = cdc_audit_delta(got, keys, ["pk"]).collect()
    assert sorted((r.pk, r.change_type) for r in audit) == [
        (1000, "inserted"), (1001, "inserted")]


def test_refresh_profiles_each_delta_once_and_reads_start_no_job(
        spark, sf_dir, tmp_path, monkeypatch):
    """One incremental refresh with the CDC audit profiles each cached
    delta once (the audit's read and the merge share the profile), and
    the store's reads start no Spark job: ``read_for_keys``,
    ``_read_subs`` and ``read`` take the schema from the live footers
    instead of inferring it. Each call runs under a job group
    of its own; no job may land in one."""
    import uuid

    sc = spark.sparkContext
    store = StagingStore(str(tmp_path / "stg"))
    PipelineRunner(spark, _cfg(_orders(), _ent("nation")), store,
                   sf_dir).initial_data_load()

    profiled = []
    real_profile = StagingStore._delta_profile

    def profile(self, delta, pk):
        profiled.append(pk)
        return real_profile(self, delta, pk)

    monkeypatch.setattr(StagingStore, "_delta_profile", profile)
    groups = {}

    def own_group(name):
        real = getattr(StagingStore, name)

        def wrapper(self, *args, **kwargs):
            group = f"{name}-{uuid.uuid4().hex}"
            groups[group] = name
            outer = sc.getLocalProperty("spark.jobGroup.id")
            sc.setLocalProperty("spark.jobGroup.id", group)
            try:
                return real(self, *args, **kwargs)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", outer)

        monkeypatch.setattr(StagingStore, name, wrapper)

    for name in ("read_for_keys", "_read_subs", "read"):
        own_group(name)
    results = PipelineRunner(
        spark, _cfg(_orders("1998-01-01 00:00:00"), _ent("nation")), store,
        sf_dir).refresh_data(incremental=True, cdc_audit=True)
    assert all(r.error is None and r.cdc_error is None for r in results)
    assert sorted(map(tuple, profiled)) == [
        ("n_nationkey",), ("o_orderkey",), ("o_orderkey", "l_linenumber")]
    # the partitioned tables and the unpartitioned __cdc feeds
    for t in _store_tables(store):
        store.read(spark, t)
    assert set(groups.values()) == {"read_for_keys", "_read_subs", "read"}
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    started = {g: n for g, n in groups.items()
               if sc.statusTracker().getJobIdsForGroup(g)}
    assert not started, started
