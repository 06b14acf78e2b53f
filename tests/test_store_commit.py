"""One crash-injection suite for ``operators.store_io``'s commit (stage →
intent → roll forward), run over every store that commits through it:
the staging store, the ER cluster store, the SCD2 history and
dedup-index compaction.

Each case runs the same write twice, in two fresh stores: once clean,
once with ``os.replace`` crashing right after the first rename out of
the store's tmp root. The crashed store must still hold its intent
marker; the next touch (a read, or for dedup a write) must roll it
forward to exactly the clean store's content, each row once, with the
marker and tmp gone and the store's own extra step done (its
result equals a known value, so a step skipped in both runs fails)."""

import os

import pytest


class Crash(Exception):
    pass


def _stamped(spark, rows):
    from pyspark.sql import functions as F

    return spark.createDataFrame(rows, "pk bigint, v string, day int") \
        .withColumn("extractiontimestamputc", F.make_timestamp(
            F.lit(2026), F.lit(1), "day", F.lit(12), F.lit(0), F.lit(0))) \
        .drop("day")


def _staging(spark, root):
    from priority_data_pipeline_azure_sql_db_spark.pipeline import StagingStore

    store = StagingStore(os.path.join(root, "stg"))

    def setup():
        store.overwrite(_stamped(spark, [(i, f"old{i}", 1 + i % 2)
                                         for i in range(12)]), "t")

    def write():
        # updates in both standing partitions, an insert into a third
        store.merge(spark, _stamped(spark, [(2, "upd2", 3), (3, "upd3", 3),
                                            (20, "ins20", 3)]), "t", ["pk"])

    def touch():
        return sorted((r.pk, r.v) for r in store.read(spark, "t").collect())

    def extra():  # the zone maps folded from the live footers
        parts = StagingStore._fold_footers(store.path("t"), ["pk"])[0]
        return {sub: (st["rows"], st["min"], st["max"])
                for sub, st in parts.items()}

    return dict(setup=setup, write=write, touch=touch, extra=extra,
                expect={"_load_date=2026-01-01": (5, 0, 10),
                        "_load_date=2026-01-02": (5, 1, 11),
                        "_load_date=2026-01-03": (3, 2, 20)},
                marker=store._intent_path("t"), tmp=store._tmp_path("t"))


def _er(spark, root):
    from priority_data_pipeline_azure_sql_db_spark.operators import er_index as EI

    path = os.path.join(root, "er")

    def mk(rows):
        return spark.createDataFrame(rows, "id bigint, name string, grp int")

    def setup():
        EI.ensure_er_index(
            mk([(7, "aaaa0001", 1), (8, "aaaa0002", 1), (9, "cccc0009", 1),
                (11, "bbbb0011", 2)]),
            path, key_col="name", id_col="id", block_cols=["grp"],
            max_edit=2, n_buckets=4)

    def write():
        # id 3 relabels cluster {7, 8}; id 12 joins 11's block
        EI.append_to_er_index(spark, path, mk([(3, "aaaa0003", 1),
                                               (12, "bbbb0012", 2)]))

    def touch():
        return sorted(tuple(r) for r in
                      EI.read_er_clusters(spark, path).collect())

    def extra():  # the staged base rows moved into base/
        assert not os.path.exists(os.path.join(path, EI.APPEND_STAGE_DIR))
        return sorted(r.id for r in spark.read.parquet(
            os.path.join(path, EI.BASE_DIR)).collect())

    return dict(setup=setup, write=write, touch=touch, extra=extra,
                expect=[3, 7, 8, 9, 11, 12],
                marker=os.path.join(path, EI.MANIFEST_FILE),
                tmp=os.path.join(path, EI.CLUSTERS_STAGE_DIR))


def _scd2(spark, root):
    from pyspark.sql import functions as F

    from priority_data_pipeline_azure_sql_db_spark.streaming import sink as S

    path = os.path.join(root, "scd2")

    def fold(rows, batch_id):
        S.fold_scd2_batch(
            spark, path,
            spark.createDataFrame(
                rows, "user_id bigint, state string, ts string, seq bigint")
            .withColumn("ts", F.col("ts").cast("timestamp")),
            batch_id, ["user_id"], ["state"], "ts", ["seq"], n_log_buckets=4)

    def setup():
        fold([(1, "a", "2026-01-01 00:00:00", 1),
              (2, "x", "2026-01-01 00:00:00", 2),
              (5, "p", "2026-01-01 00:00:00", 3)], 1)

    def write():
        fold([(1, "b", "2026-01-02 00:00:00", 4),
              (2, "y", "2026-01-02 00:00:00", 5),
              (3, "n", "2026-01-02 00:00:00", 6)], 2)

    def touch():
        return sorted(
            (r.user_id, r.state, str(r.valid_from), str(r.valid_to),
             r.is_current)
            for r in S.read_scd2_store(spark, path).collect())

    def extra():  # the CURRENT ledger advanced to the intent's batch
        with open(os.path.join(path, "CURRENT")) as fh:
            return fh.read()

    return dict(setup=setup, write=write, touch=touch, extra=extra,
                expect="2\nhist",
                marker=os.path.join(path, S._HIST_MANIFEST),
                tmp=os.path.join(path, S._HIST_STAGE))


def _dedup(spark, root):
    from priority_data_pipeline_azure_sql_db_spark.operators import dedup_index as D

    path = os.path.join(root, "dedup")
    words = ("alpha bravo charlie delta echo foxtrot golf hotel india "
             "juliet kilo lima mike november oscar papa").split()

    def docs(ids):  # a shared cycle of words plus a few per-doc tokens
        return spark.createDataFrame(
            [(i, " ".join([words[(i + j) % 16] for j in range(20)]
                          + [f"tok{i % 4}", f"tok{i}"])) for i in ids],
            "doc_id bigint, text string")

    def setup():
        D.ensure_dedup_index(docs(range(0, 6)), path, kind="shingle", k=3)
        D.append_to_dedup_index(spark, path, docs(range(6, 9)))
        D.append_to_dedup_index(spark, path, docs(range(9, 11)))

    def write():
        assert D.compact_dedup_index(spark, path) == 2

    def touch():
        D.compact_dedup_index(spark, path)  # the next write rolls forward
        return sorted(
            [("fp", *r) for r in D._read_fps(spark, path).collect()]
            + [("size", *r) for r in D._read_sizes(spark, path).collect()]
            + [("pair", *r) for r in D.jaccard_pairs_from_index(
                spark, path, threshold=0.2).collect()])

    def extra():  # the consumed generations are gone
        return sorted(d for d in os.listdir(path) if "_delta_" in d)

    return dict(setup=setup, write=write, touch=touch, extra=extra,
                expect=[],
                marker=os.path.join(path, D._COMPACT_MANIFEST),
                tmp=os.path.join(path, D._COMPACT_STAGE))


@pytest.mark.parametrize("make", [_staging, _er, _scd2, _dedup],
                         ids=["staging", "er_clusters", "scd2_history",
                              "dedup_compaction"])
def test_store_commit_crash_rolls_forward(spark, tmp_path, monkeypatch, make):
    clean = make(spark, str(tmp_path / "clean"))
    clean["setup"]()
    clean["write"]()
    want = clean["touch"]()
    assert want and len(set(want)) == len(want)  # each row once
    assert clean["extra"]() == clean["expect"]

    crashed = make(spark, str(tmp_path / "crashed"))
    crashed["setup"]()
    real_replace = os.replace

    def replace_then_crash(src, dst):
        real_replace(src, dst)
        if os.fspath(src).startswith(crashed["tmp"]):
            raise Crash

    monkeypatch.setattr(os, "replace", replace_then_crash)
    with pytest.raises(Crash):
        crashed["write"]()
    monkeypatch.undo()
    assert os.path.exists(crashed["marker"])  # crashed mid-roll-forward

    assert crashed["touch"]() == want
    assert not os.path.exists(crashed["marker"])
    assert not os.path.exists(crashed["tmp"])
    assert crashed["extra"]() == clean["expect"]
