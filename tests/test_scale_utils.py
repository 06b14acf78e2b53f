"""Tests for skew utilities and the stateful streaming operator."""

from pyspark.sql import Window
from pyspark.sql import functions as F

from priority_data_pipeline_azure_sql_db_spark.operators.skew import salted_join
from priority_data_pipeline_azure_sql_db_spark.sources.parquet import load_table


def test_salted_join_matches_plain_join(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    plain = o.join(c, "o_custkey").count()
    salted = salted_join(o, c, ["o_custkey"], salt_buckets=8).count()
    assert salted == plain


def test_salted_join_left_outer(spark):
    big = spark.sql("SELECT * FROM VALUES (1, 'a'), (1, 'b'), (2, 'c'), (9, 'x') AS t(k, v)")
    small = spark.sql("SELECT * FROM VALUES (1, 'dim1'), (2, 'dim2') AS t(k, d)")
    out = salted_join(big, small, ["k"], salt_buckets=4, how="left")
    rows = sorted((r.k, r.v, r.d) for r in out.collect())
    assert rows == [(1, "a", "dim1"), (1, "b", "dim1"), (2, "c", "dim2"), (9, "x", None)]


def test_stateful_running_totals(spark, sf_dir):
    from priority_data_pipeline_azure_sql_db_spark.streaming.events import (
        read_events_stream,
        run_streaming_to_memory,
    )
    from priority_data_pipeline_azure_sql_db_spark.streaming.stateful import running_user_totals

    out = run_streaming_to_memory(
        running_user_totals(read_events_stream(spark, sf_dir)), mode="update"
    )
    rows = {r.user_id: r for r in out.collect()}
    # cross-check totals against a batch aggregate
    batch = {
        r.user_id: (r.n, round(r.v, 6))
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
        .collect()
    }
    assert set(rows) == set(batch)
    for uid, (n, v) in batch.items():
        assert rows[uid].n_events_total == n
        assert round(rows[uid].value_total, 6) == v
        assert rows[uid].alert == (rows[uid].value_total > 1000.0)


def test_stateful_running_totals_tws_matches_classic(spark, sf_dir):
    """transformWithStateInPandas (Spark 4.x API) must produce the same
    finals as the classic applyInPandasWithState operator. Skipped where
    google.protobuf is broken (this sandbox) — the TWS Python driver
    worker imports it at stream start; see streaming/stateful.py."""
    import pytest

    pytest.importorskip("google.protobuf.descriptor")
    from priority_data_pipeline_azure_sql_db_spark.streaming.events import (
        read_events_stream,
        run_streaming_to_memory,
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    from priority_data_pipeline_azure_sql_db_spark.streaming.stateful import (
        running_user_totals,
        running_user_totals_tws,
    )

    new = run_streaming_to_memory(
        running_user_totals_tws(read_events_stream(spark, sf_dir)), mode="update"
    )
    old = run_streaming_to_memory(
        running_user_totals(read_events_stream(spark, sf_dir)), mode="update"
    )
    canon = lambda df: sorted(  # noqa: E731
        (r.user_id, r.n_events_total, round(r.value_total, 6), r.alert)
        for r in df.collect()
    )
    got, want = canon(new), canon(old)
    assert got == want and len(got) > 0


def test_jdbc_helpers_require_env(spark, monkeypatch):
    import pytest

    from priority_data_pipeline_azure_sql_db_spark.sinks.jdbc import jdbc_url_from_env

    monkeypatch.delenv("SPARK_GRAFT_JDBC_URL", raising=False)
    with pytest.raises(RuntimeError, match="SPARK_GRAFT_JDBC_URL"):
        jdbc_url_from_env()
    monkeypatch.setenv("SPARK_GRAFT_JDBC_URL", "jdbc:sqlserver://h:1433;database=acc-1")
    assert jdbc_url_from_env().startswith("jdbc:sqlserver://")


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    from priority_data_pipeline_azure_sql_db_spark.sinks.bucketed import (
        colocated_join,
        write_bucketed,
    )

    # (warehouse dir is static config; managed tables are dropped below,
    # which removes their data too)
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    # force SMJ so the test asserts exchange elision, not broadcast
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(o, "bkt_orders", "o_orderkey", buckets=8)
        write_bucketed(l, "bkt_lineitem", "l_orderkey", buckets=8)
        joined = colocated_join(spark, "bkt_orders", "bkt_lineitem",
                                "o_orderkey", "l_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, f"unexpected shuffle:\n{plan}"
        assert joined.count() == o.join(l, o.o_orderkey == l.l_orderkey).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS bkt_orders")
        spark.sql("DROP TABLE IF EXISTS bkt_lineitem")


def test_winnow_single_shuffle_and_sample_shuffle_free(spark, sf_dir):
    """Plan-shape guards for the round-2 operators: winnowing's two window
    functions and the distinct all share ONE doc-keyed exchange, and
    hash-gate sampling is a pure scan-side filter (zero exchanges, gate
    evaluated in the scan stage)."""
    from priority_data_pipeline_azure_sql_db_spark.operators import text as X
    from priority_data_pipeline_azure_sql_db_spark.operators.sample import hash_sample
    from priority_data_pipeline_azure_sql_db_spark.sources.parquet import load_table

    d = load_table(spark, sf_dir, "documents")
    wp = X.winnow_fingerprints(d)._jdf.queryExecution().executedPlan().toString()
    assert wp.count("Exchange") == 1, f"winnow should shuffle once:\n{wp}"
    sp = hash_sample(d, "doc_id", 0.3)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in sp, f"sampling must not shuffle:\n{sp}"


def test_check_order_window_integrity():
    """Every CHECK_ORDER name must resolve in the registry (a typo would
    silently shift the driver's 50-query window) and the window must be
    exactly the first 50 returned entries."""
    import __spark_entry__ as E

    qs = E.queries()
    assert len(E.CHECK_ORDER) == 50
    assert len(set(E.CHECK_ORDER)) == 50
    missing = [n for n in E.CHECK_ORDER if n not in qs]
    assert not missing, f"CHECK_ORDER names not in registry: {missing}"
    assert list(qs)[:50] == E.CHECK_ORDER


def test_embedding_near_dup_no_corpus_cartesian(spark, sf_dir):
    """Plan-shape guard for the round-5 blocked-matmul near-dup: the only
    nested-loop joins are the n_cells-row centroid/cell-pair broadcasts —
    the packed-block pair generation is equi-joins + mapInPandas, never a
    CartesianProduct over corpus rows."""
    from priority_data_pipeline_azure_sql_db_spark.operators.similarity import (
        embedding_near_dup,
    )
    from priority_data_pipeline_azure_sql_db_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    plan = embedding_near_dup(emb, threshold=0.4)._jdf.queryExecution() \
        .executedPlan().toString()
    # exactly one CartesianProduct is allowed: the n_cells² cell-pair
    # triangle filter (a non-equi condition over two coalesce(1) sides of
    # n_cells rows each — metadata-sized by construction). Anything more
    # means a corpus-scale product crept in.
    assert plan.count("CartesianProduct") <= 1, plan
    assert "MapInPandas" in plan or "mapInPandas" in plan.lower(), plan


def test_pack_sequences_conservation(spark, sf_dir):
    """Packing invariants over the real corpus: offsets stay inside the
    budget, spans are consistent with token counts, and the packed layout
    accounts for every token exactly once (each shard's last doc ends at
    the shard token total; GLOBAL's last doc at the corpus total). Also
    guards the round-8 default: shard_col=None must derive a keyed
    multi-shard layout, never the one-task global window."""
    from pyspark.sql import functions as F

    from priority_data_pipeline_azure_sql_db_spark.operators.pack import (
        GLOBAL,
        pack_sequences,
    )
    from priority_data_pipeline_azure_sql_db_spark.sources.parquet import load_table

    budget = 128
    d = load_table(spark, sf_dir, "documents")
    out = pack_sequences(d, budget=budget)
    assert "shard" in out.columns  # default derives a shard (round 8)
    assert out.select("shard").distinct().count() > 1
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("shard" in s for s in specs), plan
    bad_offset = out.filter(
        (F.col("offset_in_seq") < 0) | (F.col("offset_in_seq") >= budget)
    ).count()
    assert bad_offset == 0
    # span = ceil((offset + n_tokens)/budget) relative to the first seq
    bad_span = out.filter(
        F.col("n_seqs_spanned")
        != F.floor((F.col("offset_in_seq") + F.col("n_tokens") - 1) / budget) + 1
    ).count()
    assert bad_span == 0
    # per-shard conservation: the max-id doc of each shard ends exactly
    # at that shard's token total
    shard_tot = {
        r.shard: r.tot
        for r in d.withColumn(
            "shard", F.pmod(F.xxhash64("doc_id"), F.lit(32))
        ).groupBy("shard").agg(
            F.sum(F.size(F.split(F.trim("text"), "\\s+"))).alias("tot")
        ).collect()
    }
    last_per_shard = out.withColumn(
        "_rn",
        F.row_number().over(
            Window.partitionBy("shard").orderBy(F.desc("doc_id"))
        ),
    ).filter(F.col("_rn") == 1).collect()
    for r in last_per_shard:
        assert r.first_seq * budget + r.offset_in_seq + r.n_tokens \
            == shard_tot[r.shard]

    # GLOBAL opt-in: old single-stream semantics, corpus-total end
    g = pack_sequences(d, budget=budget, shard_col=GLOBAL)
    assert "shard" not in g.columns
    total = d.select(F.sum(F.size(F.split(F.trim("text"), "\\s+")))).first()[0]
    last = g.orderBy(F.desc("doc_id")).limit(1).first()
    assert last.first_seq * budget + last.offset_in_seq + last.n_tokens == total


def test_ivf_index_persist_prune_and_match(spark, sf_dir, tmp_path):
    """Persisted IVF index: query results equal the retrain-every-time
    cosine_topk_ivf (same hash-seeded training), and the probe scan's
    plan prunes to the probed cell partitions (PartitionFilters on cell)."""
    from pyspark.sql import functions as F

    from priority_data_pipeline_azure_sql_db_spark.operators.ann_index import (
        build_ivf_index,
        query_ivf_index,
    )
    from priority_data_pipeline_azure_sql_db_spark.operators.similarity import (
        cosine_topk_ivf,
    )
    from priority_data_pipeline_azure_sql_db_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, n_cells=8)

    got = query_ivf_index(spark, idx, queries, k=5, n_probe=3)
    want = cosine_topk_ivf(emb, queries, k=5, n_probe=3, n_cells=8)
    g = sorted((r.query_id, r.rank, r.neighbor_id, r.sim) for r in got.collect())
    w = sorted((r.query_id, r.rank, r.neighbor_id, r.sim) for r in want.collect())
    assert g == w and len(g) > 0

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan.replace("  ", " ") or "cell#" in plan.split("PartitionFilters")[1][:80], plan


def test_round6_operator_plan_shapes(spark, sf_dir):
    """Plan-shape guards for the round-6 operators: greedy packing is one
    shard shuffle + one Arrow group stage; the epoch shuffle's window is
    shard-partitioned (never a global single-partition sort); the
    bigram-LM scorer's only nested-loop join is the 1-row vocab
    broadcast."""
    from priority_data_pipeline_azure_sql_db_spark.operators import text as X
    from priority_data_pipeline_azure_sql_db_spark.operators.pack import pack_greedy
    from priority_data_pipeline_azure_sql_db_spark.sources.parquet import load_table

    d = load_table(spark, sf_dir, "documents").withColumn(
        "shard", (F.col("doc_id") % 8).cast("bigint")
    )
    gp = pack_greedy(d, budget=512, shard_col="shard")
    plan = gp._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, f"greedy pack should shuffle once:\n{plan}"
    assert "FlatMapGroupsInPandas" in plan, plan

    es = X.epoch_shuffle(load_table(spark, sf_dir, "documents"))
    plan = es._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    # the window must be keyed on the shard column, not empty-partitioned
    import re
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("shard" in s for s in specs), plan

    lm = X.bigram_lm_score(load_table(spark, sf_dir, "documents"))
    plan = lm._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    # count-table joins are equi (hash/sort-merge); only the 1-row vocab
    # may broadcast-nested-loop
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan


def test_epoch_shuffle_shard_width(spark):
    """shard_width is the 100-TB scale knob: width w → 16**w shards,
    wider widths REFINE the width-1 sharding without changing the
    global (sort_key, id) traversal order; out-of-range widths are
    rejected loudly."""
    import pytest as _pytest

    from priority_data_pipeline_azure_sql_db_spark.operators import text as X

    df = spark.range(0, 400).withColumnRenamed("id", "doc_id")
    w1 = {r.doc_id: r for r in X.epoch_shuffle(df, seed="s").collect()}
    w2 = {r.doc_id: r for r in X.epoch_shuffle(df, seed="s", shard_width=2).collect()}
    assert len(w2) == 400
    assert len({r.shard for r in w2.values()}) > 16  # genuinely wider
    for doc, r in w2.items():
        assert len(r.shard) == 2 and r.shard[0] == w1[doc].shard  # refinement
        assert r.sort_key == w1[doc].sort_key
    # global traversal order unchanged: ordering by (sort_key, id) is the
    # epoch order under EVERY width
    o1 = sorted(w1.values(), key=lambda r: (r.sort_key, r.doc_id))
    o2 = sorted(w2.values(), key=lambda r: (r.sort_key, r.doc_id))
    assert [r.doc_id for r in o1] == [r.doc_id for r in o2]
    # per-shard positions contiguous at width 2
    by_shard = {}
    for r in w2.values():
        by_shard.setdefault(r.shard, []).append(r.pos_in_shard)
    for poss in by_shard.values():
        assert sorted(poss) == list(range(len(poss)))
    for bad in (0, 9, -1):
        with _pytest.raises(ValueError, match="shard_width"):
            X.epoch_shuffle(df, shard_width=bad)


def test_ivf_index_append_recall_drift(spark, sf_dir, tmp_path):
    """Append path: new vectors join their nearest existing cell and are
    served by the same pruned scan. Gates: (1) append+query finds
    appended ids at all (they're first-class index members); (2) recall
    vs exact brute force stays within tolerance of a full REBUILD on
    the grown corpus; (3) every queried row count matches (no row lost
    through the partitioned append)."""
    from priority_data_pipeline_azure_sql_db_spark.operators.ann_index import (
        append_to_ivf_index,
        build_ivf_index,
        query_ivf_index,
    )
    from priority_data_pipeline_azure_sql_db_spark.operators.similarity import (
        cosine_topk_bruteforce,
    )
    from priority_data_pipeline_azure_sql_db_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 4 != 0)      # 75% built
    delta = emb.filter(F.col("vec_id") % 4 == 0)     # 25% appended
    queries = emb.filter(F.col("vec_id") < 10)

    appended_idx = str(tmp_path / "ivf_app")
    build_ivf_index(base, appended_idx, n_cells=8)
    append_to_ivf_index(delta, appended_idx)

    rebuilt_idx = str(tmp_path / "ivf_full")
    build_ivf_index(emb, rebuilt_idx, n_cells=8)

    n_total = emb.count()
    got_app = query_ivf_index(spark, appended_idx, queries, k=5, n_probe=3)
    got_reb = query_ivf_index(spark, rebuilt_idx, queries, k=5, n_probe=3)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_bruteforce(emb, queries, k=5).collect()
    }
    app = {(r.query_id, r.neighbor_id) for r in got_app.collect()}
    reb = {(r.query_id, r.neighbor_id) for r in got_reb.collect()}
    assert exact and app and reb

    # (3) appended index serves the full corpus: sum of cell sizes == n
    import os

    cells = spark.read.parquet(os.path.join(appended_idx, "cells"))
    assert cells.count() == n_total
    assert cells.select("vec_id").distinct().count() == n_total

    # (1) appended vectors are retrievable: at least one delta id shows
    # up as a neighbor (delta is 25% of the corpus, k=5, 10 queries)
    delta_ids = {r.vec_id for r in delta.select("vec_id").collect()}
    assert any(n in delta_ids for _, n in app), "no appended vector ever served"

    # (2) recall drift within tolerance of the rebuilt index
    recall_app = len(exact & app) / len(exact)
    recall_reb = len(exact & reb) / len(exact)
    assert recall_app >= recall_reb - 0.2, (recall_app, recall_reb)
    assert recall_app >= 0.4, recall_app


def test_near_dup_index_serves_any_threshold(spark, sf_dir, tmp_path):
    """One persisted near-dup build must serve EVERY threshold with the
    exact same pairs as the one-shot operator (the assignment is
    nearest-centroid only — threshold enters at serve time via the
    triangle bound and the kernel filter)."""
    from priority_data_pipeline_azure_sql_db_spark.operators.ann_index import (
        build_near_dup_index,
        near_dup_pairs_from_index,
    )
    from priority_data_pipeline_azure_sql_db_spark.operators.similarity import (
        embedding_near_dup,
    )
    from priority_data_pipeline_azure_sql_db_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "nd_idx")
    build_near_dup_index(emb, path, n_cells=8, train_iters=1)
    by_threshold = {}
    for threshold in (0.4, 0.7):
        served = {
            (r.id_a, r.id_b, r.sim)
            for r in near_dup_pairs_from_index(spark, path, threshold).collect()
        }
        oneshot = {
            (r.id_a, r.id_b, r.sim)
            for r in embedding_near_dup(
                emb, threshold=threshold, n_cells=8, train_iters=1
            ).collect()
        }
        assert served == oneshot, threshold
        by_threshold[threshold] = served
    assert by_threshold[0.4], "corpus must yield pairs at the loose threshold"
    assert by_threshold[0.7] <= by_threshold[0.4]  # tighter ⊆ looser


def test_stream_merge_into_staging(spark, sf_dir, tmp_path):
    """Streaming ingest lands in the SAME MERGE staging layer the batch
    pipeline uses: an available-now drain of the events stream upserts
    every event exactly once (count + distinct-PK equal to the batch
    table), and re-running against the same checkpoint is a no-op (the
    effectively-once contract: checkpointed delivery x idempotent
    MERGE)."""
    from priority_data_pipeline_azure_sql_db_spark.pipeline import StagingStore
    from priority_data_pipeline_azure_sql_db_spark.sources.parquet import load_table
    from priority_data_pipeline_azure_sql_db_spark.streaming.events import (
        read_events_stream,
    )
    from priority_data_pipeline_azure_sql_db_spark.streaming.sink import (
        stream_merge_into_staging,
    )

    store = StagingStore(root=str(tmp_path / "stg"))
    ckpt = str(tmp_path / "ckpt")
    q = stream_merge_into_staging(
        read_events_stream(spark, sf_dir), store, "events", ["event_id"], ckpt
    )
    q.awaitTermination(180)
    batch = load_table(spark, sf_dir, "events")
    want = batch.count()
    got = store.read(spark, "events")
    assert got.count() == want
    assert got.select("event_id").distinct().count() == want

    # same checkpoint → the source has nothing new → table unchanged
    q2 = stream_merge_into_staging(
        read_events_stream(spark, sf_dir), store, "events", ["event_id"], ckpt
    )
    q2.awaitTermination(180)
    assert store.read(spark, "events").count() == want


def test_jsonl_shards_roundtrip_and_manifest(spark, tmp_path):
    """JSONL sink: newline/quote/unicode text survives the
    write→gzip→read round-trip byte-for-byte, same-key rows land in the
    same shard file, and the manifest enumerates every shard."""
    from priority_data_pipeline_azure_sql_db_spark.sinks.jsonl import (
        read_jsonl_shards,
        write_jsonl_shards,
    )

    rows = [
        (1, 'line one\nline two', "a"),
        (2, 'quote " and backslash \\ and tab\t', "a"),
        (3, "unicode: café — nbsp end", "b"),
        (4, "", "b"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, shard string")
    out = str(tmp_path / "jsonl")
    summary = write_jsonl_shards(df, out, shard_by="shard", num_shards=2)
    assert summary["shards"] >= 1 and summary["bytes"] > 0

    back = read_jsonl_shards(spark, out, "doc_id bigint, text string, shard string")
    got = {r.doc_id: (r.text, r.shard) for r in back.collect()}
    assert got == {i: (t, s) for i, t, s in rows}

    # same shard key → same file
    files = {
        r.shard: set(r.fs)
        for r in back.select(
            "shard", F.input_file_name().alias("f")
        ).groupBy("shard").agg(F.collect_set("f").alias("fs")).collect()
    }
    for s, fs in files.items():
        assert len(fs) == 1, (s, fs)

    import pytest as _pytest
    with _pytest.raises(ValueError, match="num_shards"):
        write_jsonl_shards(df, out, shard_by="shard")


def test_near_dup_index_append_stays_exact(spark, sf_dir, tmp_path):
    """Appending to the near-dup index must keep serving EXACT — not
    recall-within-tolerance: the triangle bound is correct for
    arbitrary centroids, so build(75%) + append(25%) + serve must be
    bit-identical (ids AND sims) to a fresh one-shot run over the full
    corpus."""
    from priority_data_pipeline_azure_sql_db_spark.operators.ann_index import (
        append_to_near_dup_index,
        build_near_dup_index,
        near_dup_pairs_from_index,
    )
    from priority_data_pipeline_azure_sql_db_spark.operators.similarity import (
        embedding_near_dup,
    )
    from priority_data_pipeline_azure_sql_db_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 4 != 0)
    delta = emb.filter(F.col("vec_id") % 4 == 0)
    path = str(tmp_path / "nd_app")
    build_near_dup_index(base, path, n_cells=8, train_iters=1)
    append_to_near_dup_index(delta, path)

    served = {
        (r.id_a, r.id_b, r.sim)
        for r in near_dup_pairs_from_index(spark, path, threshold=0.4).collect()
    }
    oneshot = {
        (r.id_a, r.id_b, r.sim)
        for r in embedding_near_dup(emb, threshold=0.4, n_cells=8).collect()
    }
    assert served == oneshot and served
    # cross-slice pairs exist, so the append path is genuinely exercised
    delta_ids = {r.vec_id for r in delta.select("vec_id").collect()}
    assert any((a in delta_ids) != (b in delta_ids) for a, b, _ in served)


def test_near_dup_index_append_idempotent_and_radii_safe(spark, sf_dir, tmp_path):
    """Append hardening (round-7 review): (1) re-running the SAME append
    is a no-op (duplicate ids are anti-joined away — the retry path),
    with served results unchanged; (2) radii are written radii-FIRST, so
    a crash between the radii overwrite and the assignment append leaves
    only OVERSIZED radii — simulated here by overwriting radii with the
    merged values while withholding the delta rows — and serving the
    committed index stays exact (oversized radii only weaken pruning)."""
    import os

    from priority_data_pipeline_azure_sql_db_spark.operators.ann_index import (
        RADII_DIR,
        append_to_near_dup_index,
        build_near_dup_index,
        near_dup_pairs_from_index,
    )
    from priority_data_pipeline_azure_sql_db_spark.operators.similarity import (
        embedding_near_dup,
    )
    from priority_data_pipeline_azure_sql_db_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 4 != 0)
    delta = emb.filter(F.col("vec_id") % 4 == 0)
    path = str(tmp_path / "nd_idem")
    build_near_dup_index(base, path, n_cells=8, train_iters=1)

    # (2) simulate the crash window: radii already merged for the delta,
    # assignment append never landed — serve of the BASE index must
    # still equal one-shot on the base corpus
    import shutil

    assert delta.count() > 0
    append_to_near_dup_index(delta, path)  # completes fully
    served_full = {
        (r.id_a, r.id_b, r.sim)
        for r in near_dup_pairs_from_index(spark, path, threshold=0.4).collect()
    }
    # torn-state simulation on a COPY: base assignment + post-append
    # (oversized w.r.t. base) radii
    torn = str(tmp_path / "nd_torn")
    build_near_dup_index(base, torn, n_cells=8, train_iters=1)
    shutil.rmtree(os.path.join(torn, RADII_DIR))
    shutil.copytree(os.path.join(path, RADII_DIR), os.path.join(torn, RADII_DIR))
    served_torn = {
        (r.id_a, r.id_b, r.sim)
        for r in near_dup_pairs_from_index(spark, torn, threshold=0.4).collect()
    }
    oneshot_base = {
        (r.id_a, r.id_b, r.sim)
        for r in embedding_near_dup(base, threshold=0.4, n_cells=8).collect()
    }
    assert served_torn == oneshot_base  # oversized radii stay exact

    # (1) retried append: anti-join drops every duplicate id
    n_before = spark.read.parquet(os.path.join(path, "assigned")).count()
    append_to_near_dup_index(delta, path)
    n_after = spark.read.parquet(os.path.join(path, "assigned")).count()
    assert n_after == n_before
    served_again = {
        (r.id_a, r.id_b, r.sim)
        for r in near_dup_pairs_from_index(spark, path, threshold=0.4).collect()
    }
    assert served_again == served_full


def test_incremental_curation_semantic_admission_parity(spark, sf_dir, tmp_path):
    """The round-8 semantic stage of pipeline_curation_incremental:
    admission computed against the STANDING index (build base → append
    delta → serve) must equal a full recompute (one-shot near-dup over
    the grown corpus) under the same drop rule — drop a delta doc whose
    near-dup counterpart is in the base or is a smaller delta id. The
    rule must also be non-vacuous on the fixture (some delta dropped,
    some kept)."""
    from priority_data_pipeline_azure_sql_db_spark.operators.ann_index import (
        append_to_near_dup_index,
        build_near_dup_index,
        near_dup_pairs_from_index,
    )
    from priority_data_pipeline_azure_sql_db_spark.operators.similarity import (
        embedding_near_dup,
    )
    from priority_data_pipeline_azure_sql_db_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    is_delta = F.col("vec_id") % 10 >= 8
    path = str(tmp_path / "nd_curation")
    build_near_dup_index(emb.filter(~is_delta), path, n_cells=16, train_iters=1)
    append_to_near_dup_index(emb.filter(is_delta), path)

    def drop_set(pairs_df):
        a_delta = F.col("id_a") % 10 >= 8
        b_delta = F.col("id_b") % 10 >= 8
        return {
            r.doc_id
            for r in pairs_df.filter(b_delta)
            .select(F.col("id_b").alias("doc_id"))
            .unionByName(
                pairs_df.filter(a_delta & ~b_delta)
                .select(F.col("id_a").alias("doc_id"))
            )
            .distinct()
            .collect()
        }

    incremental = drop_set(near_dup_pairs_from_index(spark, path, threshold=0.4))
    full = drop_set(embedding_near_dup(emb, threshold=0.4, n_cells=16))
    assert incremental == full
    delta_ids = {r.vec_id for r in emb.filter(is_delta).select("vec_id").collect()}
    assert incremental and incremental < delta_ids  # drops some, keeps some


def test_curation_v3_plan_shapes(spark, sf_dir):
    """The round-8 capstone must keep its scale guarantees when the
    stages compose: every corpus-sized row_number window carries a
    bucket key (the quantile gate and per-source cap both ride the
    histogram-rank path — no whole-corpus or whole-domain window
    partitions) and no CartesianProduct (the threshold/total crossJoins
    are 1-row broadcasts). collect_list IS allowed here, uniquely among
    the capstones: the line-reassembly group is one document's own
    lines — bounded by document size like every text op, not by shard
    or corpus (the v2 guard bans it because v2's groups are shards)."""
    import re

    from priority_data_pipeline_azure_sql_db_spark.queries import QUERIES

    df = QUERIES["pipeline_curation_v3"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    for m in re.finditer(r"row_number\(\) windowspecdefinition\(([^)]*)\)", plan):
        assert "_qbucket" in m.group(1), m.group(0)


def test_jsonl_quarantine_split(spark, tmp_path):
    """Dead-letter read: corrupt and schema-violating lines land in
    quarantine with their raw text; clean lines parse fully; a
    pristine directory quarantines nothing."""
    import gzip
    import os

    from priority_data_pipeline_azure_sql_db_spark.sinks.jsonl import (
        read_jsonl_with_quarantine,
    )

    d = tmp_path / "shards"
    d.mkdir()
    lines = [
        '{"doc_id": 1, "text": "ok one"}',
        '{"doc_id": 2, "text": "ok two"}',
        '{"doc_id": "NOT_A_NUMBER", "text": "type violation"}',
        '{"doc_id": 4, "text": "truncated',
    ]
    (d / "part-00000.json").write_text("\n".join(lines) + "\n")
    good, bad, cached = read_jsonl_with_quarantine(
        spark, str(d), "doc_id bigint, text string"
    )
    assert sorted(r["doc_id"] for r in good.collect()) == [1, 2]
    raw = [r["_corrupt_record"] for r in bad.collect()]
    assert len(raw) == 2
    assert any("NOT_A_NUMBER" in r for r in raw)
    assert any("truncated" in r for r in raw)
    # round-9 ADVICE fix: the SPARK-21610 cache is releasable — the
    # returned handle unpersists it instead of leaking one cached
    # relation per call
    assert cached.storageLevel.useMemory
    cached.unpersist()
    assert not cached.storageLevel.useMemory

    clean = tmp_path / "clean"
    clean.mkdir()
    (clean / "part-00000.json").write_text(lines[0] + "\n")
    res2 = read_jsonl_with_quarantine(
        spark, str(clean), "doc_id bigint, text string"
    )
    assert res2.good.count() == 1 and res2.bad.count() == 0
    res2.cached.unpersist()


def test_stream_rollup_maintenance(spark, sf_dir, tmp_path):
    """Streaming continuous-aggregate maintenance: an available-now
    drain folds per-batch day rollups into the standing store, whose
    final contents equal the one-pass batch rollup; a replayed batch_id
    is skipped (the non-idempotent-merge ledger), a fresh fold applies,
    and reading an empty store fails loudly."""
    import pytest

    from priority_data_pipeline_azure_sql_db_spark.sources.parquet import load_table
    from priority_data_pipeline_azure_sql_db_spark.streaming.events import (
        read_events_stream,
    )
    from priority_data_pipeline_azure_sql_db_spark.streaming.sink import (
        fold_rollup_batch,
        read_rollup_store,
        stream_rollup_into_store,
    )

    def day_rollup(ev):
        return ev.groupBy(
            F.date_trunc("day", "ts").alias("day"),
            F.col("event_type").alias("event_type"),
        ).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("sum_value"),
        )

    store = str(tmp_path / "rollup")
    with pytest.raises(RuntimeError, match="no applied batches"):
        read_rollup_store(spark, store)

    q = stream_rollup_into_store(
        read_events_stream(spark, sf_dir), day_rollup, store,
        ["day", "event_type"], ["n_events", "sum_value"],
        str(tmp_path / "ckpt"),
    )
    assert q.awaitTermination(180)

    def canon(df):
        return sorted(
            (str(r["day"]), r["event_type"], r["n_events"], str(r["sum_value"]))
            for r in df.collect()
        )

    want = canon(day_rollup(load_table(spark, sf_dir, "events")))
    assert canon(read_rollup_store(spark, store)) == want

    # replay of an already-folded batch id: ledger skips, store unchanged
    extra = day_rollup(load_table(spark, sf_dir, "events").limit(50))
    applied = fold_rollup_batch(
        spark, store, extra, 0, ["day", "event_type"],
        ["n_events", "sum_value"],
    )
    assert applied is False
    assert canon(read_rollup_store(spark, store)) == want

    # a genuinely new batch folds in and changes the totals
    applied = fold_rollup_batch(
        spark, store, extra, 10_000, ["day", "event_type"],
        ["n_events", "sum_value"],
    )
    assert applied is True
    after_new = canon(read_rollup_store(spark, store))
    assert after_new != want

    # round-13 GC fix: a crash between the pointer swap and the old
    # version's rmtree used to strand one full rollup copy per crash
    # forever (later folds only removed THEIR predecessor). Plant such
    # an orphan; the next fold sweeps every superseded agg_* dir.
    import os

    orphan = os.path.join(store, "agg_7")
    os.makedirs(orphan, exist_ok=True)
    applied = fold_rollup_batch(
        spark, store, extra, 10_001, ["day", "event_type"],
        ["n_events", "sum_value"],
    )
    assert applied is True
    aggs = [d for d in os.listdir(store) if d.startswith("agg_")]
    assert aggs == ["agg_10001"], f"superseded versions must be swept: {aggs}"
    assert canon(read_rollup_store(spark, store)) != after_new


def test_snapshot_diff_bucketed_no_exchange(spark, sf_dir):
    """The CDC diff's scale claim, plan-asserted: over identically
    bucketed snapshots the full-outer PK join runs with ZERO exchanges
    (co-located SMJ), and the diff still reports the planted changes."""
    from priority_data_pipeline_azure_sql_db_spark.operators.merge import snapshot_diff
    from priority_data_pipeline_azure_sql_db_spark.sinks.bucketed import write_bucketed

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    old = o.filter(F.col("o_orderkey") % 100 != 0)
    new = o.filter(F.col("o_orderkey") % 100 != 2).withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 100 == 1,
               F.col("o_totalprice") + 1.0).otherwise(F.col("o_totalprice")),
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(old, "bkt_snap_old", "o_orderkey", buckets=8)
        write_bucketed(new, "bkt_snap_new", "o_orderkey", buckets=8)
        diff = snapshot_diff(
            spark.table("bkt_snap_old"), spark.table("bkt_snap_new"),
            pk=["o_orderkey"],
        )
        plan = diff._jdf.queryExecution().executedPlan().toString()
        assert "FullOuter" in plan and "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, f"unexpected shuffle:\n{plan}"
        counts = {r["change_type"]: r["n"] for r in
                  diff.groupBy("change_type").agg(F.count(F.lit(1)).alias("n"))
                  .collect()}
        assert set(counts) >= {"inserted", "deleted", "updated", "unchanged"}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS bkt_snap_old")
        spark.sql("DROP TABLE IF EXISTS bkt_snap_new")


def test_write_ordered_shards_global_order(spark, sf_dir, tmp_path):
    """The range-partitioned export honors the global-order contract:
    shard ranges ascend without overlap, every shard is internally
    sorted, concatenating shards in index order replays the exact
    global (score, id) order, and no row is lost."""
    from priority_data_pipeline_azure_sql_db_spark.sinks.shards import (
        write_ordered_shards,
    )
    from priority_data_pipeline_azure_sql_db_spark.sources.parquet import load_table

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").cast("double").alias("score")
    )
    out = str(tmp_path / "ordered")
    manifest = write_ordered_shards(d, out, ["score", "doc_id"], n_shards=8)
    assert sum(m["rows"] for m in manifest) == d.count()
    ranges = [(float(m["lo"]), float(m["hi"])) for m in manifest if m["rows"]]
    assert all(lo <= hi for lo, hi in ranges)
    assert all(ranges[i][1] <= ranges[i + 1][0] for i in range(len(ranges) - 1))

    back = spark.read.parquet(out)
    concat = [
        (r["score"], r["doc_id"])
        for r in back.orderBy("shard", "score", "doc_id").collect()
    ]
    want = [
        (r["score"], r["doc_id"])
        for r in d.orderBy("score", "doc_id").collect()
    ]
    assert concat == want


def test_round9_graded_plan_shapes(spark, sf_dir):
    """VERDICT r8 "What's wrong" #1/#2 closures stay closed in the
    GRADED plans (not just the operators' knobs):
    (a) dedup_duplicated_spans / dedup_span_removal carry the
    gram-frequency cap — the count-per-gram aggregate (alias ``_gf``)
    sits in the plan and feeds a join BELOW the pair self-join (two
    joins total in the span extraction), so one viral boilerplate gram
    can never fan out m² match rows;
    (b) the ER pair joins block on the compound key — the join
    condition includes ``_name_block``, never nation alone."""
    from priority_data_pipeline_azure_sql_db_spark.queries import QUERIES

    for name in ("dedup_duplicated_spans", "dedup_span_removal"):
        df = QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "_gf" in plan, f"{name}: gram-frequency cap missing:\n{plan}"
        # the cap aggregate must appear below (deeper than) the pair
        # self-join: in the tree string the first Join line precedes the
        # _gf aggregate line and the _gf line is indented deeper
        lines = plan.splitlines()
        join_idx = [i for i, l in enumerate(lines) if "Join" in l]
        gf_idx = [i for i, l in enumerate(lines) if "_gf" in l]
        assert join_idx and gf_idx
        pair_join = join_idx[0]
        assert any(i > pair_join for i in gf_idx), plan

    # er_golden_records runs the same fuzzy_match_pairs call but folds
    # it through the iterative connected-components loop (lineage
    # truncation), so the pair join is not visible in its final plan —
    # the pair query below IS that shared path.
    df = QUERIES["er_fuzzy_customer_pairs"](spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "_name_block" in plan, (
        "er_fuzzy_customer_pairs: compound blocking key missing "
        f"(nation-only blocking is the r8 quadratic fan-out):\n{plan}"
    )


def test_er_compound_block_bounded_and_recall(spark):
    """The compound (nation, name-prefix) ER block key: (a) block sizes
    are bounded by the trailing-4-char window (synthetic corpus where
    nation-only blocking would put everything in ONE block); (b) pairs
    inside a block still refine exactly; (c) the prefix key splits keys
    that differ before the trailing window (the documented recall
    trade, pinned so it's a contract, not an accident)."""
    from pyspark.sql import functions as F

    from priority_data_pipeline_azure_sql_db_spark.operators.dedup import (
        fuzzy_match_pairs,
    )

    rows = [(i, f"Customer#{i:09d}", 7) for i in range(1, 30)]
    df = spark.createDataFrame(rows, "c_custkey bigint, c_name string, c_nationkey bigint")
    df = df.withColumn(
        "_name_block",
        F.expr("substring(c_name, 1, greatest(length(c_name) - 4, 1))"),
    )
    # all 29 share nation 7 and the same prefix (keys < 10^4) — one
    # block, pairs refine on levenshtein
    out = fuzzy_match_pairs(
        df, key_col="c_name", id_col="c_custkey",
        block_cols=["c_nationkey", "_name_block"], max_edit=2,
    )
    got = {(r.id_a, r.id_b) for r in out.collect()}
    assert (1, 2) in got and (1, 11) in got
    # recall trade: 9999 vs 10001 differ inside AND outside the window
    rows2 = rows + [(9999, "Customer#000009999", 7), (10001, "Customer#000010001", 7)]
    df2 = spark.createDataFrame(
        rows2, "c_custkey bigint, c_name string, c_nationkey bigint"
    ).withColumn(
        "_name_block",
        F.expr("substring(c_name, 1, greatest(length(c_name) - 4, 1))"),
    )
    out2 = fuzzy_match_pairs(
        df2, key_col="c_name", id_col="c_custkey",
        block_cols=["c_nationkey", "_name_block"], max_edit=2,
    )
    pairs2 = {(r.id_a, r.id_b) for r in out2.collect()}
    # 10001's prefix "Customer#00001" differs from the others'
    # "Customer#00000": it lands in its own block → no pairs, even
    # though levenshtein("...009999", "...010001") would pass nation-only
    assert not any(10001 in p for p in pairs2)
    # block sizes: the 30 prefix-00000 rows in one block, 10001 alone
    sizes = df2.groupBy("c_nationkey", "_name_block").count().collect()
    assert sorted(r["count"] for r in sizes) == [1, 30]


def test_fuzzy_match_delta_is_delta_sided(spark):
    """Incremental ER: delta records match base records within blocks
    (both directions of edit distance), never base-vs-base or
    delta-vs-delta; an id present on both sides never pairs with
    itself; and the plan joins delta against base exactly once (no
    self-join of the standing side)."""
    from pyspark.sql import functions as F

    from priority_data_pipeline_azure_sql_db_spark.operators.dedup import (
        fuzzy_match_delta,
    )

    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "c_custkey bigint, c_name string, c_nationkey bigint"
    ).withColumn(
        "_name_block",
        F.expr("substring(c_name, 1, greatest(length(c_name) - 4, 1))"),
    )
    base = mk([
        (1, "Customer#000000001", 7),
        (2, "Customer#000000002", 7),
        (3, "Customer#000000003", 8),     # other block
        (4, "Customer#000000004", 7),
    ])
    delta = mk([
        (11, "Customer#000000011", 7),    # distance 1-2 from 1,2,4
        (3, "Customer#000000003", 8),     # same id as base 3: excluded
    ])
    out = fuzzy_match_delta(
        base, delta, key_col="c_name", id_col="c_custkey",
        block_cols=["c_nationkey", "_name_block"], max_edit=2,
    )
    pairs = {(r.delta_id, r.base_id): r.edit_distance for r in out.collect()}
    assert set(pairs) == {(11, 1), (11, 2), (11, 4)}
    # base-base near-dups (1 vs 2, distance 1) never appear
    assert all(d == 11 for d, _ in pairs)


def test_stream_scd2_maintenance(spark, sf_dir, tmp_path):
    """Streaming SCD2 maintenance: an available-now drain folds
    per-batch change-log slices into the standing dimension, whose
    final history equals the one-pass batch scd2_history over all
    events (batch-boundary independence); a replayed batch_id is
    skipped (the non-idempotent-fold ledger), a fresh fold applies and
    rebuilds only touched entities; reading an empty store fails
    loudly."""
    import pytest
    from pyspark.sql import functions as F

    from priority_data_pipeline_azure_sql_db_spark.operators.merge import scd2_history
    from priority_data_pipeline_azure_sql_db_spark.sources.parquet import load_table
    from priority_data_pipeline_azure_sql_db_spark.streaming.events import (
        read_events_stream,
    )
    from priority_data_pipeline_azure_sql_db_spark.streaming.sink import (
        fold_scd2_batch,
        read_scd2_store,
        stream_scd2_into_store,
    )

    store = str(tmp_path / "scd2_store")
    with pytest.raises(FileNotFoundError, match="no applied batches"):
        read_scd2_store(spark, store)

    ev = read_events_stream(spark, sf_dir).select(
        "user_id", "event_type", "ts", "event_id"
    )
    q = stream_scd2_into_store(
        ev, store, pk=["user_id"], attr_cols=["event_type"], ts_col="ts",
        checkpoint_dir=str(tmp_path / "ckpt"), tiebreak_cols=["event_id"],
    )
    assert q.awaitTermination(300), "drain did not finish"

    canon = lambda df: sorted(  # noqa: E731
        (r.user_id, r.event_type, str(r.valid_from), str(r.valid_to), r.is_current)
        for r in df.collect()
    )
    batch = scd2_history(
        load_table(spark, sf_dir, "events"), pk=["user_id"],
        attr_cols=["event_type"], ts_col="ts", tiebreak_cols=["event_id"],
    )
    got = canon(read_scd2_store(spark, store))
    assert got == canon(batch) and len(got) > 0

    # replayed batch id: skipped, store unchanged
    delta = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") == 1
    ).select("user_id", "event_type", "ts", "event_id")
    assert fold_scd2_batch(
        spark, store, delta, 0, ["user_id"], ["event_type"], "ts", ["event_id"]
    ) is False
    assert canon(read_scd2_store(spark, store)) == got

    # fresh fold with genuinely new rows: applied, only the touched
    # entity's history changes
    new_rows = spark.createDataFrame(
        [(999999, "zz_new_state", "2031-01-01 00:00:00", 10**9)],
        "user_id bigint, event_type string, ts string, event_id bigint",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    assert fold_scd2_batch(
        spark, store, new_rows, 10**6, ["user_id"], ["event_type"], "ts",
        ["event_id"],
    ) is True
    after = read_scd2_store(spark, store)
    assert after.filter(F.col("user_id") == 999999).count() == 1
    assert canon(after.filter(F.col("user_id") != 999999)) == [
        r for r in got if r[0] != 999999
    ]

    # crash window: a version dir + log slice written but the pointer
    # NOT swapped (simulated by a later-id log dir with no pointer
    # update) — the re-fold of that batch id applies cleanly against
    # the unchanged pointer state and overwrites the torn artifacts
    import os
    import shutil

    crash_id = 10**6 + 1
    torn_log = os.path.join(store, "log", f"batch_{crash_id}")
    new_rows.write.mode("overwrite").parquet(torn_log)
    os.makedirs(os.path.join(store, f"hist_{crash_id}"), exist_ok=True)
    before_crash = canon(read_scd2_store(spark, store))
    more = spark.createDataFrame(
        [(999999, "zz_second_state", "2032-01-01 00:00:00", 10**9 + 1)],
        "user_id bigint, event_type string, ts string, event_id bigint",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    assert fold_scd2_batch(
        spark, store, more, crash_id, ["user_id"], ["event_type"], "ts",
        ["event_id"],
    ) is True
    recovered = read_scd2_store(spark, store)
    hist_999999 = sorted(
        (r.event_type, r.is_current)
        for r in recovered.filter(F.col("user_id") == 999999).collect()
    )
    assert hist_999999 == [("zz_new_state", False), ("zz_second_state", True)]
    # untouched entities identical to the pre-crash state
    assert canon(recovered.filter(F.col("user_id") != 999999)) == [
        r for r in before_crash if r[0] != 999999
    ]
    shutil.rmtree(store)


def test_scd2_hist_bucket_swap_crash_window(spark, tmp_path):
    """Round 12: the SCD2 history is hive-bucketed by the log's _kb and
    a fold replaces ONLY touched buckets through store_io's stage →
    intent → roll-forward commit (replacing the flat full-rewrite
    hist_<id> versioning whose O(store) cost the maintenance probe
    exposed). Crash cases: (a) a bucket staged under the tmp root and
    the intent written, swap not performed — the next READ rolls
    forward (swapped bucket visible, ledger advanced, intent and stage
    gone); (b) a replay of the committed batch is a ledger no-op; (c) a
    stage WITHOUT an intent is ignored and replaced by the next fold."""
    import os

    from pyspark.sql import functions as F

    from priority_data_pipeline_azure_sql_db_spark.operators.store_io import (
        write_intent,
    )
    from priority_data_pipeline_azure_sql_db_spark.streaming.sink import (
        _HIST_MANIFEST,
        _HIST_STAGE,
        fold_scd2_batch,
        read_scd2_store,
    )

    def mk(rows):
        return spark.createDataFrame(
            rows, "user_id bigint, state string, ts string, seq bigint",
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    store = str(tmp_path / "store")
    fold_scd2_batch(spark, store, mk([
        (1, "a", "2026-01-01 00:00:00", 10),
        (2, "x", "2026-01-01 00:00:00", 20),
    ]), 1, ["user_id"], ["state"], "ts", ["seq"], n_log_buckets=4)
    canon = lambda df: sorted(  # noqa: E731
        (r.user_id, r.state, str(r.valid_from), str(r.valid_to),
         r.is_current) for r in df.collect()
    )
    base_state = canon(read_scd2_store(spark, store))
    assert os.path.isdir(os.path.join(store, "hist"))
    assert any(d.startswith("_kb=") for d in os.listdir(
        os.path.join(store, "hist")))

    # (a) simulate the crash: hand-stage a relabeled bucket for user 1
    # and write the intent, but don't swap. user 1's bucket:
    b1 = spark.createDataFrame([(1,)], "u bigint").select(
        F.pmod(F.xxhash64("u"), F.lit(4)).cast("int").alias("b")
    ).collect()[0].b
    hist_root = os.path.join(store, "hist")
    stage = os.path.join(store, _HIST_STAGE)
    staged = spark.read.parquet(os.path.join(hist_root, f"_kb={b1}")) \
        .withColumn("state", F.lit("CRASHED_SWAP_STATE"))
    staged.write.mode("overwrite").parquet(os.path.join(stage, f"_kb={b1}"))
    write_intent(os.path.join(store, _HIST_MANIFEST), stage, [f"_kb={b1}"],
                 batch_id=7)
    got = canon(read_scd2_store(spark, store))  # read rolls forward
    assert ("CRASHED_SWAP_STATE" in {r[1] for r in got})
    assert not os.path.exists(os.path.join(store, _HIST_MANIFEST))
    assert not os.path.exists(stage)
    with open(os.path.join(store, "CURRENT")) as fh:
        assert fh.read().startswith("7\n")

    # (b) replay of the committed batch id: skipped by the ledger
    assert fold_scd2_batch(
        spark, store, mk([(1, "never", "2026-02-01 00:00:00", 99)]), 7,
        ["user_id"], ["state"], "ts", ["seq"], n_log_buckets=4,
    ) is False
    assert canon(read_scd2_store(spark, store)) == got

    # (c) orphan stage without an intent: reads ignore it, the next
    # fold replaces it
    os.makedirs(os.path.join(stage, "_kb=0"), exist_ok=True)
    assert canon(read_scd2_store(spark, store)) == got
    assert fold_scd2_batch(
        spark, store, mk([(2, "y", "2026-03-01 00:00:00", 30)]), 8,
        ["user_id"], ["state"], "ts", ["seq"], n_log_buckets=4,
    ) is True
    after = canon(read_scd2_store(spark, store))
    assert not os.path.exists(stage)
    assert (2, "y", "2026-03-01 00:00:00", "None", True) in after
    # untouched entity 1's rows unchanged by entity 2's fold
    assert {r for r in after if r[0] == 1} == {r for r in got if r[0] == 1}
    assert base_state  # silence the unused-var lint; layout asserted above


def test_scd2_pre_bucketed_layout_fails_loudly(spark, tmp_path):
    """A store in the pre-round-12 layout (flat hist_<id> versioning,
    CURRENT → hist_<id>, no _kb column) is not upgraded: its first fold
    or read raises instead of folding over a history it cannot see."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from priority_data_pipeline_azure_sql_db_spark.operators.merge import scd2_history
    from priority_data_pipeline_azure_sql_db_spark.streaming.sink import (
        fold_scd2_batch,
        read_scd2_store,
    )

    def mk(rows):
        return spark.createDataFrame(
            rows, "user_id bigint, state string, ts string, seq bigint",
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    store = str(tmp_path / "old_store")
    first = [(1, "a", "2026-01-01 00:00:00", 10)]
    scd2_history(mk(first), ["user_id"], ["state"], "ts", ["seq"]) \
        .write.parquet(os.path.join(store, "hist_1"))
    with open(os.path.join(store, "CURRENT"), "w") as fh:
        fh.write("1\nhist_1")
    with _pytest.raises(RuntimeError, match="pre-bucketed"):
        read_scd2_store(spark, store)
    with _pytest.raises(RuntimeError, match="pre-bucketed"):
        fold_scd2_batch(
            spark, store, mk([(1, "b", "2026-02-01 00:00:00", 11)]), 2,
            ["user_id"], ["state"], "ts", ["seq"], n_log_buckets=4,
        )
    assert not os.path.exists(os.path.join(store, "hist"))


def test_scd2_tombstone_boundary_independence(spark, tmp_path):
    """Round 12 (VERDICT r11 ask #4): tombstones through the streaming
    SCD2 fold are independent of micro-batch boundaries — for every
    way of slicing a tombstoned change log into batches (tombstone
    alone, tombstone+re-creation together, tombstone arriving LAST
    after the re-creation it precedes logically), the standing store
    equals the one-pass scd2_history(op_col=...) build; a replayed
    tombstone batch is skipped by the ledger, not re-folded."""
    import shutil

    from pyspark.sql import functions as F

    from priority_data_pipeline_azure_sql_db_spark.operators.merge import scd2_history
    from priority_data_pipeline_azure_sql_db_spark.streaming.sink import (
        fold_scd2_batch,
        read_scd2_store,
    )

    def mk(rows):
        return spark.createDataFrame(
            rows,
            "user_id bigint, state string, ts string, seq bigint, "
            "del boolean",
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    t = lambda d: f"2026-01-{d:02d} 00:00:00"  # noqa: E731
    log = [
        (1, "a", t(1), 10, False), (1, None, t(3), 11, True),
        (1, "a", t(5), 12, False),                      # re-creation
        (2, "x", t(1), 20, False), (2, "y", t(2), 21, False),
        (2, None, t(4), 22, True),                      # stays deleted
        (3, None, t(2), 30, True),                      # leading tombstone
        (3, "q", t(6), 31, False),
    ]
    canon = lambda df: sorted(  # noqa: E731
        (r.user_id, r.state, str(r.valid_from), str(r.valid_to),
         r.is_current) for r in df.collect()
    )
    expect = canon(scd2_history(mk(log), ["user_id"], ["state"], "ts",
                                ["seq"], op_col="del"))
    splits = [
        [log],                                   # one batch
        [log[:3], log[3:6], log[6:]],            # per-entity-ish
        [[r] for r in log],                      # one row per batch
        [log[2:], log[:2]],                      # tombstones arrive LAST
        # tombstone-ONLY first batch: the bootstrap builds ZERO history
        # rows — the ledger must still commit (round-12 review: the old
        # raise wedged the stream on eternal redelivery) and the later
        # batches rebuild the full state from the log slices
        [[log[1], log[5], log[6]], [r for i, r in enumerate(log)
                                    if i not in (1, 5, 6)]],
    ]
    for si, batches in enumerate(splits):
        store = str(tmp_path / f"store_{si}")
        for b, rows in enumerate(batches, start=1):
            fold_scd2_batch(
                spark, store, mk(rows), b, ["user_id"], ["state"], "ts",
                ["seq"], n_log_buckets=4, op_col="del",
            )
        assert canon(read_scd2_store(spark, store)) == expect, \
            f"split {si} diverged from the one-pass build"
        # replay of the last batch: ledger no-op, state unchanged
        assert fold_scd2_batch(
            spark, store, mk(batches[-1]), len(batches), ["user_id"],
            ["state"], "ts", ["seq"], n_log_buckets=4, op_col="del",
        ) is False
        assert canon(read_scd2_store(spark, store)) == expect
        shutil.rmtree(store)

    # a store whose ONLY folds are tombstones reads back as a TYPED
    # empty frame (schema sidecar), never UNABLE_TO_INFER_SCHEMA
    store = str(tmp_path / "only_tombs")
    fold_scd2_batch(
        spark, store, mk([(9, None, t(1), 90, True)]), 1, ["user_id"],
        ["state"], "ts", ["seq"], n_log_buckets=4, op_col="del",
    )
    empty = read_scd2_store(spark, store)
    assert empty.count() == 0
    assert set(empty.columns) == {"user_id", "state", "valid_from",
                                  "valid_to", "is_current"}
    # ...and a later create for that entity folds normally
    fold_scd2_batch(
        spark, store, mk([(9, "alive", t(2), 91, False)]), 2,
        ["user_id"], ["state"], "ts", ["seq"], n_log_buckets=4,
        op_col="del",
    )
    assert canon(read_scd2_store(spark, store)) == [
        (9, "alive", "2026-01-02 00:00:00", "None", True)
    ]


def test_scd2_log_pruning_and_compaction(spark, tmp_path):
    """Round-9 ADVICE fix: the SCD2 change log is hive-partitioned by
    entity-key-hash bucket (so per-batch reads prune FILES, not just
    rows) and compacts every `compact_every` slices into one root, so
    per-batch log I/O is bounded regardless of total stream history.
    Checks: (a) slices land in _kb= partition dirs; (b) after enough
    folds exactly one compact root remains and the superseded slice
    dirs are gone; (c) the folded history still equals the one-pass
    batch build; (d) a crash mid-compaction (leftover .tmp dir) and a
    crash between rename and delete (stale slices below the compact
    floor) are both read correctly — no double-counted log rows."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from priority_data_pipeline_azure_sql_db_spark.operators.merge import scd2_history
    from priority_data_pipeline_azure_sql_db_spark.streaming.sink import (
        _scd2_log_state,
        fold_scd2_batch,
        read_scd2_store,
    )

    store = str(tmp_path / "store")
    log_root = os.path.join(store, "log")

    def mk(rows):
        return spark.createDataFrame(
            rows, "user_id bigint, state string, ts string, seq bigint",
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    all_rows = []
    for b in range(1, 8):  # 7 batches, compact_every=3
        rows = [
            (uid, f"s{b}", f"2026-01-{b:02d} 00:00:00", b * 100 + uid)
            for uid in range(1, 4 + (b % 2))
        ]
        all_rows.extend(rows)
        assert fold_scd2_batch(
            spark, store, mk(rows), b, ["user_id"], ["state"], "ts", ["seq"],
            n_log_buckets=4, compact_every=3,
        ) is True
        if b == 1:
            # (a) hive layout: the slice wrote _kb= partition dirs
            subdirs = os.listdir(os.path.join(log_root, "batch_1"))
            assert any(d.startswith("_kb=") for d in subdirs), subdirs

    # (b) compaction fired: one compact root, fewer than compact_every
    # live slices, no .tmp junk
    cid, cdir, slices = _scd2_log_state(log_root)
    assert cid is not None and len(slices) < 3
    assert not any(d.endswith(".tmp") for d in os.listdir(log_root))
    assert all(b > cid for b in slices)

    canon = lambda df: sorted(  # noqa: E731
        (r.user_id, r.state, str(r.valid_from), str(r.valid_to), r.is_current)
        for r in df.collect()
    )
    # (c) standing store == one-pass batch build over all change rows
    expect = canon(scd2_history(mk(all_rows), ["user_id"], ["state"], "ts", ["seq"]))
    assert canon(read_scd2_store(spark, store)) == expect

    # (d) crash simulations. Mid-compaction: a leftover .tmp dir must
    # be ignored by the listing and by the next fold.
    shutil.copytree(cdir, os.path.join(log_root, ".compact_999.tmp"))
    # Between rename and delete: a stale slice BELOW the compact floor
    # must be excluded by the floor, not double-counted.
    stale = mk([(1, "s1", "2026-01-01 00:00:00", 101)]).withColumn(
        "_kb", F.pmod(F.xxhash64("user_id"), F.lit(4)).cast("int")
    )
    stale.write.partitionBy("_kb").mode("overwrite").parquet(
        os.path.join(log_root, f"batch_{cid}")
    )
    cid2, _, slices2 = _scd2_log_state(log_root)
    assert cid2 == cid and cid in slices2  # stale slice listed...
    more = [(1, "zz_final", "2026-02-01 00:00:00", 999)]
    all_rows.extend(more)
    assert fold_scd2_batch(
        spark, store, mk(more), 99, ["user_id"], ["state"], "ts", ["seq"],
        n_log_buckets=4, compact_every=3,
    ) is True
    # ...but the fold's floor excluded it: history still exact
    expect2 = canon(scd2_history(mk(all_rows), ["user_id"], ["state"], "ts", ["seq"]))
    assert canon(read_scd2_store(spark, store)) == expect2
    # (e) round-10 review fix: the fold GC'd the crash leftovers below
    # the floor (stale slice + .tmp junk) instead of leaking a full
    # log copy per crash forever
    left = os.listdir(log_root)
    assert ".compact_999.tmp" not in left, left
    assert f"batch_{cid}" not in left, left


def test_er_index_store_rebuild_equality(spark, tmp_path):
    """The persisted ER cluster store (round 10): build-once state
    equals the in-query recompute; the append path is REBUILD-EQUAL —
    after appending, the standing cluster map matches a fresh build on
    the grown base, including cluster MERGES bridged by an appended
    record; a retried append is a no-op; serving from the store equals
    serving from the rebuilt store; a crashed bucket swap (intent
    present, bucket staged) rolls forward on the next touch."""
    import os

    from pyspark.sql import functions as F

    from priority_data_pipeline_azure_sql_db_spark.operators import er_index as EI
    from priority_data_pipeline_azure_sql_db_spark.operators.store_io import (
        write_intent,
    )

    def mk(rows):
        return spark.createDataFrame(rows, "id bigint, name string, grp int")

    def cmap(path):
        return sorted(
            (r.node, r.cluster_id)
            for r in EI.read_er_clusters(spark, path).collect()
        )

    # two standing clusters in block 1 at distance 3 from each other
    # (aaaa#### vs abbb####, > max_edit=2), plus singletons
    base = mk([
        (1, "aaaa0001", 1), (2, "aaaa0002", 1),     # cluster A
        (5, "abbb0001", 1), (6, "abbb0002", 1),     # cluster B
        (9, "cccc0009", 1),                         # singleton
        (11, "aaaa0001", 2),                        # other block
    ])
    kw = dict(key_col="name", id_col="id", block_cols=["grp"],
              max_edit=2, n_buckets=4)
    p1 = str(tmp_path / "store")
    EI.ensure_er_index(base, p1, **kw)
    assert cmap(p1) == [(1, 1), (2, 1), (5, 5), (6, 5), (9, 9), (11, 11)]

    # the bridge: "aabb0001" is d=2 from cluster A ("aaaa0001") and
    # d=1 from cluster B ("abbb0001") — one appended record merges A
    # and B; the second duplicates the first (delta-delta edge)
    new = mk([(20, "aabb0001", 1), (21, "aabb0002", 1)])
    assert EI.append_to_er_index(spark, p1, new) == 2

    p2 = str(tmp_path / "rebuilt")
    EI.build_er_index(base.unionByName(new), p2, **kw)
    assert cmap(p1) == cmap(p2), "append diverged from rebuild"
    # the merge actually happened: A and B now share min-id label 1
    assert dict(cmap(p1))[5] == 1 and dict(cmap(p1))[20] == 1

    # retried append: idempotent no-op
    assert EI.append_to_er_index(spark, p1, new) == 0
    assert cmap(p1) == cmap(p2)

    # serve equality store vs rebuilt store
    delta = mk([(100, "abbb0003", 1), (101, "zzzz", 1)])
    canon = lambda df: sorted(  # noqa: E731
        (r.delta_id, r.cluster_id, r.golden_name, r.edit_distance, r.matched)
        for r in df.collect()
    )
    got = canon(EI.assign_from_index(spark, p1, delta))
    assert got == canon(EI.assign_from_index(spark, p2, delta))
    by_id = {t[0]: t for t in got}
    assert by_id[100][1] == 1 and by_id[100][4] is True   # joined merged cluster
    assert by_id[101] == (101, 101, "zzzz", None, False)  # singleton seed

    # crash window: bucket staged + intent written, swap not performed —
    # simulate by staging a relabel of node 9 into its bucket and
    # writing the intent by hand; the next read must roll it forward
    b9 = spark.createDataFrame([(9,)], "n bigint").select(
        F.pmod(F.xxhash64("n"), F.lit(4)).cast("int").alias("b")
    ).collect()[0].b
    cl_root = os.path.join(p1, EI.CLUSTERS_DIR)
    bucket_rows = [
        (n, 424242 if n == 9 else c)
        for n, c in cmap(p1)
        if spark.createDataFrame([(n,)], "n bigint").select(
            F.pmod(F.xxhash64("n"), F.lit(4)).cast("int").alias("b")
        ).collect()[0].b == b9
    ]
    stage = os.path.join(p1, EI.CLUSTERS_STAGE_DIR)
    spark.createDataFrame(
        bucket_rows, "node bigint, cluster_id bigint"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(stage, f"_cb={b9}")
    )
    write_intent(os.path.join(p1, EI.MANIFEST_FILE), stage, [f"_cb={b9}"])
    rolled = dict(cmap(p1))  # read_er_clusters rolls forward
    assert rolled[9] == 424242
    assert os.path.isdir(os.path.join(cl_root, f"_cb={b9}"))
    assert not os.path.exists(os.path.join(p1, EI.MANIFEST_FILE))
    assert not os.path.exists(stage)


def test_first_token_blocking_recall(spark):
    """The round-10 free-text blocking key, graded on a person-name
    corpus with NO padded-id structure (VERDICT r9 ask #3): recall and
    fan-out of first-token blocking vs the unblocked all-pairs truth.
    Noise in a non-leading token keeps the record's block — every such
    true pair MUST be caught; noise in the first token moves it — those
    pairs are the priced-in recall loss. Asserts the split exactly,
    a recall floor that reflects the corpus mix (not 100% — the trade
    is real), and sub-quadratic candidate fan-out."""
    from pyspark.sql import functions as F

    from priority_data_pipeline_azure_sql_db_spark.operators.dedup import (
        first_token_block,
        fuzzy_match_pairs,
    )

    firsts = ["garcia", "martin", "lopez", "smith", "muller", "rossi",
              "tanaka", "kumar", "chen", "okafor", "silva", "novak"]
    seconds = ["maria", "john", "wei", "amara", "luca", "priya",
               "sofia", "ahmed", "yuki", "ana"]
    rows = []
    rid = 0
    for i, f1 in enumerate(firsts):
        for j, s1 in enumerate(seconds):
            name = f"{f1} {s1}"
            rows.append((rid, name)); rid += 1
            k = i * len(seconds) + j
            if k % 3 == 0:
                # tail noise: same first token -> blocking must catch
                rows.append((rid, name[:-1] + "x")); rid += 1
            if k % 9 == 0:
                # leading-token noise: block moves -> priced-in miss
                rows.append((rid, "z" + name[1:])); rid += 1
    df = spark.createDataFrame(rows, "id bigint, name string")
    n = df.count()

    # ground truth: unblocked all-pairs (constant block = cross join;
    # fine at test size, the exact thing blocking exists to avoid)
    truth = {
        (r.id_a, r.id_b)
        for r in fuzzy_match_pairs(
            df.withColumn("_one", F.lit(1)),
            key_col="name", id_col="id", block_cols=["_one"], max_edit=2,
        ).collect()
    }
    blocked_df = df.withColumn("_blk", first_token_block("name"))
    got = {
        (r.id_a, r.id_b)
        for r in fuzzy_match_pairs(
            blocked_df, key_col="name", id_col="id",
            block_cols=["_blk"], max_edit=2,
        ).collect()
    }
    assert got <= truth  # blocking only prunes, never invents
    missed = truth - got
    # the missed pairs are EXACTLY the cross-block ones, and every
    # same-first-token true pair was caught
    names = dict(rows)
    tok = lambda i: names[i].split(" ", 1)[0].lower()  # noqa: E731
    assert all(tok(a) != tok(b) for a, b in missed)
    assert missed, "fixture must exercise the recall trade"
    recall = len(got) / len(truth)
    assert recall >= 0.6, f"recall {recall:.3f} below floor"
    assert recall < 1.0

    # fan-out: candidate pairs follow the first-token distribution,
    # far below the n^2/2 cross — the blocking bound with no padded
    # structure anywhere in the corpus
    sizes = [
        r.c for r in blocked_df.groupBy("_blk").agg(
            F.count(F.lit(1)).alias("c")).collect()
    ]
    candidates = sum(s * (s - 1) // 2 for s in sizes)
    assert max(sizes) <= 2 * n / len(firsts) + 3
    # ~1/n_first_tokens of the cross for a near-uniform token mix
    assert candidates < 2 / len(firsts) * n * (n - 1) / 2


def test_er_third_pass_catches_head_tail_split_edits(spark):
    """Round-14 third blocking pass (VERDICT r13 stretch): the
    positional key family (prefix = name[:-4], suffix = name[4:],
    middle = name[4:-4]) — a distance-2 pair with one edit in the
    first 4 chars AND one in the last 4 changes BOTH the prefix and
    the suffix block, so the two-pass union structurally misses it;
    the middle key pins neither region and catches exactly that
    class. Asserts: (a) three-pass ≡ unblocked truth on a fixture
    whose every noise pair keeps some key intact, (b) the two-pass
    union provably misses the head+tail pairs the third pass
    recovers, (c) blocking never invents pairs."""
    from pyspark.sql import functions as F

    from priority_data_pipeline_azure_sql_db_spark.operators.dedup import (
        fuzzy_match_pairs,
        multi_pass_match_pairs,
    )

    base_names = [f"Entity#{k:09d}" for k in range(0, 40)]
    rows, rid = [], 0
    for k, nm in enumerate(base_names):
        rows.append((rid, nm)); rid += 1
        if k % 2 == 0:
            rows.append((rid, nm[:-1] + "x")); rid += 1     # tail edit
        if k % 3 == 0:
            rows.append((rid, "z" + nm[1:])); rid += 1      # head edit
        if k % 5 == 0:
            # head+tail SPLIT (distance 2): the r14 third-pass class
            rows.append((rid, "z" + nm[1:-1] + "x")); rid += 1
    df = spark.createDataFrame(rows, "id bigint, name string").withColumn(
        "_pfx", F.expr("substring(name, 1, greatest(length(name) - 4, 1))")
    ).withColumn(
        "_sfx", F.expr("substring(name, least(5, greatest(length(name), 1)))")
    ).withColumn(
        "_mid", F.expr("substring(name, least(5, greatest(length(name), 1)), "
                       "greatest(length(name) - 8, 1))")
    )

    truth = {
        (r.id_a, r.id_b)
        for r in fuzzy_match_pairs(
            df.withColumn("_one", F.lit(1)),
            key_col="name", id_col="id", block_cols=["_one"], max_edit=2,
        ).collect()
    }
    two = {
        (r.id_a, r.id_b)
        for r in multi_pass_match_pairs(
            df, key_col="name", id_col="id",
            block_keys={"pfx": [F.col("_pfx")], "sfx": [F.col("_sfx")]},
            max_edit=2,
        ).collect()
    }
    three = {
        (r.id_a, r.id_b)
        for r in multi_pass_match_pairs(
            df, key_col="name", id_col="id",
            block_keys={"pfx": [F.col("_pfx")], "sfx": [F.col("_sfx")],
                        "mid": [F.col("_mid")]},
            max_edit=2,
        ).collect()
    }
    assert three <= truth and two <= three  # prune-only, monotone union
    names = dict(rows)
    split_pairs = {
        (a, b) for a, b in truth
        if names[a][:4] != names[b][:4] and names[a][-4:] != names[b][-4:]
        and names[a][4:-4] == names[b][4:-4]
    }
    assert split_pairs, "fixture must exercise the head+tail class"
    assert split_pairs & (truth - two) == split_pairs - two
    assert split_pairs <= three, "third pass must catch the split class"
    assert not (split_pairs & two), \
        "two-pass catching a split pair means the fixture is wrong"


def test_multi_pass_blocking_recall(spark):
    """Round-11 multi-pass blocking (VERDICT r10 ask #4): unioning
    first-token and last-token candidate passes closes first-token
    blocking's priced-in miss class (leading-token edits) — a leading
    typo leaves the LAST token intact, so the second pass catches it.
    The remaining miss class is an edit budget split across BOTH end
    tokens; the fixture injects all three noise classes and asserts the
    split exactly: single-end noise 100% caught, both-ends noise is the
    entire (non-empty) miss set."""
    from pyspark.sql import functions as F

    from priority_data_pipeline_azure_sql_db_spark.operators.dedup import (
        first_token_block,
        fuzzy_match_pairs,
        last_token_block,
        multi_pass_match_pairs,
    )

    firsts = ["garcia", "martin", "lopez", "smith", "muller", "rossi",
              "tanaka", "kumar", "chen", "okafor", "silva", "novak"]
    seconds = ["maria", "john", "wei", "amara", "luca", "priya",
               "sofia", "ahmed", "yuki", "ana"]
    rows = []
    rid = 0
    for i, f1 in enumerate(firsts):
        for j, s1 in enumerate(seconds):
            name = f"{f1} {s1}"
            rows.append((rid, name)); rid += 1
            k = i * len(seconds) + j
            if k % 3 == 0:
                rows.append((rid, name[:-1] + "x")); rid += 1  # tail edit
            if k % 9 == 0:
                rows.append((rid, "z" + name[1:])); rid += 1  # leading edit
            if k % 15 == 0:
                # BOTH end tokens edited (still distance 2): the one
                # class a two-end-key union structurally cannot block
                rows.append((rid, "z" + name[1:-1] + "x")); rid += 1
    df = spark.createDataFrame(rows, "id bigint, name string")

    truth = {
        (r.id_a, r.id_b)
        for r in fuzzy_match_pairs(
            df.withColumn("_one", F.lit(1)),
            key_col="name", id_col="id", block_cols=["_one"], max_edit=2,
        ).collect()
    }
    got = {
        (r.id_a, r.id_b)
        for r in multi_pass_match_pairs(
            df, key_col="name", id_col="id",
            block_keys={"first": first_token_block("name"),
                        "last": last_token_block("name")},
            max_edit=2,
        ).collect()
    }
    assert got <= truth  # blocking only prunes, never invents
    missed = truth - got
    names = dict(rows)
    first = lambda i: names[i].split(" ", 1)[0].lower()  # noqa: E731
    last = lambda i: names[i].rsplit(" ", 1)[-1].lower()  # noqa: E731
    # missed ⟺ BOTH end tokens disagree — the leading-edit class the
    # single first-token key dropped is now fully caught
    assert all(first(a) != first(b) and last(a) != last(b)
               for a, b in missed)
    assert missed, "fixture must exercise the remaining (both-ends) trade"
    caught_leading = {
        (a, b) for a, b in truth
        if first(a) != first(b) and last(a) == last(b)
    }
    assert caught_leading, "fixture must exercise the leading-edit class"
    assert caught_leading <= got
    recall = len(got) / len(truth)
    single_pass = {
        (r.id_a, r.id_b)
        for r in fuzzy_match_pairs(
            df.withColumn("_blk", first_token_block("name")),
            key_col="name", id_col="id", block_cols=["_blk"], max_edit=2,
        ).collect()
    }
    assert recall > len(single_pass) / len(truth)  # strictly better
    assert recall < 1.0  # and the residual trade is real

    # the O(delta) sibling: arriving records with LEADING-token typos
    # must match their standing-base originals through the last-token
    # pass — the incremental serve gets the same recall union
    from priority_data_pipeline_azure_sql_db_spark.operators.dedup import (
        multi_pass_match_delta,
    )

    base_rows = [(i, f"{f1} {s1}") for i, (f1, s1) in enumerate(
        (f, s) for f in firsts for s in seconds)]
    delta_rows = [(1000 + i, "z" + nm[1:]) for i, nm in base_rows[:8]]
    base_df = spark.createDataFrame(base_rows, "id bigint, name string")
    delta_df = spark.createDataFrame(delta_rows, "id bigint, name string")
    got_delta = {
        (r.delta_id, r.base_id)
        for r in multi_pass_match_delta(
            base_df, delta_df, key_col="name", id_col="id",
            block_keys={"first": first_token_block("name"),
                        "last": last_token_block("name")},
            max_edit=2,
        ).collect()
    }
    # every typo'd arrival resolves to its original (plus possibly
    # other base rows within edit distance — only the must-hits pinned)
    assert {(1000 + i, i) for i, _ in base_rows[:8]} <= got_delta
    # single-key first-token blocking finds NONE of them (the miss
    # class the second pass exists for)
    from priority_data_pipeline_azure_sql_db_spark.operators.dedup import (
        fuzzy_match_delta,
    )
    single_delta = {
        (r.delta_id, r.base_id)
        for r in fuzzy_match_delta(
            base_df.withColumn("_blk", first_token_block("name")),
            delta_df.withColumn("_blk", first_token_block("name")),
            key_col="name", id_col="id", block_cols=["_blk"], max_edit=2,
        ).collect()
    }
    assert not ({(1000 + i, i) for i, _ in base_rows[:8]} & single_delta)


def test_multi_pass_serve_through_persisted_store(spark, tmp_path):
    """Round 12 (VERDICT r11 ask #2): the PERSISTED store's O(delta)
    serve gets the multi-pass recall union. A leading-token typo
    arriving through assign_from_index must resolve to its standing
    original via the second (last-token) pass — the exact record the
    single-key store misses — and append ≡ rebuild must hold under
    block_passes (the union is part of the rebuild semantics, so a
    store grown by appends concludes what a fresh two-pass build
    would)."""
    from priority_data_pipeline_azure_sql_db_spark.operators import er_index as EI
    from priority_data_pipeline_azure_sql_db_spark.operators.dedup import (
        first_token_block,
        last_token_block,
    )

    def mk(rows):
        df = spark.createDataFrame(rows, "id bigint, name string")
        return df.withColumn("f_tok", first_token_block("name")) \
                 .withColumn("l_tok", last_token_block("name"))

    base = mk([
        (1, "miller north"), (2, "miller norti"),   # one cluster (d=1)
        (5, "garcia south"),                        # singleton
    ])
    passes = dict(key_col="name", id_col="id", max_edit=2, n_buckets=4,
                  block_passes=[["f_tok"], ["l_tok"]])
    p_multi = str(tmp_path / "multi")
    EI.ensure_er_index(base, p_multi, **passes)
    # 'ziller north': first token typo'd (moves first-token block),
    # last token intact — only the second pass can block it with id 1
    delta = mk([(100, "ziller north"), (101, "nobody here")])
    got = {r.delta_id: r for r in
           EI.assign_from_index(spark, p_multi, delta).collect()}
    assert got[100].matched is True
    assert got[100].cluster_id == 1 and got[100].golden_name == "miller north"
    assert got[101].matched is False  # still seeds its own singleton

    # the single-pass store misses exactly that arrival
    p_single = str(tmp_path / "single")
    EI.ensure_er_index(base, p_single, key_col="name", id_col="id",
                       block_cols=["f_tok"], max_edit=2, n_buckets=4)
    miss = {r.delta_id: r for r in
            EI.assign_from_index(spark, p_single, delta).collect()}
    assert miss[100].matched is False

    # append ≡ rebuild under two passes, including a union-only edge:
    # the appended record bridges to cluster 1 through the LAST-token
    # pass only (its first token is typo'd)
    EI.append_to_er_index(spark, p_multi, mk([(20, "ziller north")]))
    p_rebuilt = str(tmp_path / "rebuilt")
    EI.build_er_index(base.unionByName(mk([(20, "ziller north")])),
                      p_rebuilt, **passes)
    cmap = lambda p: sorted(  # noqa: E731
        (r.node, r.cluster_id)
        for r in EI.read_er_clusters(spark, p).collect()
    )
    assert cmap(p_multi) == cmap(p_rebuilt)
    assert dict(cmap(p_multi))[20] == 1  # bridged via the union pass

    # META guard: a two-pass store refuses single-pass (and reordered-
    # pass) ensure calls — mismatched semantics would serve silently
    import pytest as _pytest
    with _pytest.raises(ValueError, match="built with"):
        EI.ensure_er_index(base, p_multi, key_col="name", id_col="id",
                           block_cols=["f_tok"], max_edit=2, n_buckets=4)
    with _pytest.raises(ValueError, match="built with"):
        EI.ensure_er_index(base, p_multi, key_col="name", id_col="id",
                           block_passes=[["l_tok"], ["f_tok"]],
                           max_edit=2, n_buckets=4)


def test_stream_er_maintenance(spark, tmp_path):
    """Streaming ER maintenance: a multi-file available-now drain
    builds the cluster store from batch one and appends the rest; the
    final map equals the one-pass batch build (batch-boundary
    independence via append ≡ rebuild); re-draining the same
    checkpoint is a no-op; re-appending already-present records is a
    no-op (idempotence replaces the rollup/SCD2 ledger)."""
    import os

    from pyspark.sql import functions as F

    from priority_data_pipeline_azure_sql_db_spark.operators import er_index as EI
    from priority_data_pipeline_azure_sql_db_spark.streaming.sink import (
        stream_er_into_store,
    )

    rows = [
        (1, "aaaa0001", 1), (2, "aaaa0002", 1),
        (5, "abbb0001", 1), (6, "abbb0002", 1),
        (20, "aabb0001", 1),               # bridges A and B when it arrives
        (9, "cccc0009", 1), (11, "aaaa0001", 2),
    ]
    df = spark.createDataFrame(rows, "id bigint, name string, grp int")
    src = str(tmp_path / "src")
    df.repartition(3).write.mode("overwrite").parquet(src)

    store = str(tmp_path / "store")
    stream = (
        spark.readStream.schema("id bigint, name string, grp int")
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    kw = dict(key_col="name", id_col="id", block_cols=["grp"], max_edit=2)
    q = stream_er_into_store(
        stream, store, checkpoint_dir=str(tmp_path / "ckpt"), **kw
    )
    assert q.awaitTermination(300), "drain did not finish"

    cmap = lambda p: sorted(  # noqa: E731
        (r.node, r.cluster_id)
        for r in EI.read_er_clusters(spark, p).collect()
    )
    full = str(tmp_path / "full")
    EI.build_er_index(df, full, **kw)
    got = cmap(store)
    assert got == cmap(full) and len(got) == len(rows)
    assert dict(got)[20] == 1 and dict(got)[5] == 1  # merge happened

    # re-drain the same checkpoint: no new files -> no batches -> no-op
    stream2 = (
        spark.readStream.schema("id bigint, name string, grp int")
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    q2 = stream_er_into_store(
        stream2, store, checkpoint_dir=str(tmp_path / "ckpt"), **kw
    )
    assert q2.awaitTermination(300)
    assert cmap(store) == got

    # replayed records (no ledger needed): id anti-join makes it a no-op
    assert EI.append_to_er_index(
        spark, store, df.filter(F.col("id") < 10)
    ) == 0
    assert cmap(store) == got


def test_er_append_transaction_crash_window(spark, tmp_path, monkeypatch):
    """Round-10 review fix: the bucket swaps and the base/ growth commit
    as ONE manifest transaction. Simulate a crash immediately after the
    manifest commit (roll-forward patched to a no-op during the append):
    base/ must NOT yet contain the fresh ids — so no serve can observe
    clusters referencing absent base records and mis-assign golden_name
    — and the next store touch must complete BOTH legs."""
    import os

    from priority_data_pipeline_azure_sql_db_spark.operators import er_index as EI

    def mk(rows):
        return spark.createDataFrame(rows, "id bigint, name string, grp int")

    base = mk([(7, "aaaa0001", 1), (8, "aaaa0002", 1), (9, "cccc0009", 1)])
    kw = dict(key_col="name", id_col="id", block_cols=["grp"],
              max_edit=2, n_buckets=4)
    p = str(tmp_path / "store")
    EI.ensure_er_index(base, p, **kw)

    # id 3 < min(cluster A)=7: the append relabels A to cluster 3 —
    # exactly the state where a torn base/ serves the WRONG golden_name
    new = mk([(3, "aaaa0003", 1)])
    real_roll = EI._roll_forward
    monkeypatch.setattr(EI, "_roll_forward", lambda path: None)
    assert EI.append_to_er_index(spark, p, new) == 1
    monkeypatch.setattr(EI, "_roll_forward", real_roll)

    # crashed-after-commit state: manifest + staged base rows, base/
    # unchanged (the old layout had already appended here — the bug)
    assert os.path.exists(os.path.join(p, EI.MANIFEST_FILE))
    assert os.path.isdir(os.path.join(p, EI.APPEND_STAGE_DIR))
    base_ids = {r.id for r in
                spark.read.parquet(os.path.join(p, EI.BASE_DIR)).collect()}
    assert 3 not in base_ids, "base/ grew before the roll-forward"

    # next touch rolls BOTH legs forward
    cm = dict((r.node, r.cluster_id)
              for r in EI.read_er_clusters(spark, p).collect())
    assert cm[7] == 3 and cm[3] == 3, "bucket leg did not roll forward"
    assert not os.path.exists(os.path.join(p, EI.MANIFEST_FILE))
    assert not os.path.isdir(os.path.join(p, EI.APPEND_STAGE_DIR))
    base_ids = {r.id for r in
                spark.read.parquet(os.path.join(p, EI.BASE_DIR)).collect()}
    assert 3 in base_ids, "base leg did not roll forward"

    # the serve the old layout corrupted: golden of cluster 3 resolves
    delta = mk([(100, "aaaa0004", 1)])
    got = {r.delta_id: r for r in EI.assign_from_index(spark, p, delta).collect()}
    assert got[100].cluster_id == 3 and got[100].golden_name == "aaaa0003"

    # retried append after the roll-forward: idempotent no-op
    assert EI.append_to_er_index(spark, p, new) == 0


def test_er_store_empty_inputs(spark, tmp_path):
    """Round-10 review fix: an empty build would write a cluster map
    with _SUCCESS but zero parquet files — marker present, every later
    read failing — so build fails loud and the streaming sink skips
    empty micro-batches instead of building from one."""
    import os

    import pytest

    from priority_data_pipeline_azure_sql_db_spark.operators import er_index as EI
    from priority_data_pipeline_azure_sql_db_spark.streaming.sink import (
        stream_er_into_store,
    )

    schema = "id bigint, name string, grp int"
    empty = spark.createDataFrame([], schema)
    with pytest.raises(ValueError, match="at least one record"):
        EI.build_er_index(empty, str(tmp_path / "p0"), key_col="name",
                          id_col="id", block_cols=["grp"], max_edit=2)

    # streaming: the FIRST batch is an empty file — the store must stay
    # unbuilt (not poisoned), and the next drain with real rows builds
    src = str(tmp_path / "src")
    empty.coalesce(1).write.mode("overwrite").parquet(src)
    store = str(tmp_path / "store")
    kw = dict(key_col="name", id_col="id", block_cols=["grp"], max_edit=2)
    q = stream_er_into_store(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(src),
        store, checkpoint_dir=str(tmp_path / "ckpt"), **kw,
    )
    assert q.awaitTermination(300)
    assert not os.path.exists(
        os.path.join(store, EI.CLUSTERS_DIR, "_SUCCESS")
    ), "empty first batch must not build the store"

    rows = spark.createDataFrame(
        [(1, "aaaa0001", 1), (2, "aaaa0002", 1)], schema
    )
    rows.coalesce(1).write.mode("append").parquet(src)
    q2 = stream_er_into_store(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(src),
        store, checkpoint_dir=str(tmp_path / "ckpt"), **kw,
    )
    assert q2.awaitTermination(300)
    cm = sorted((r.node, r.cluster_id)
                for r in EI.read_er_clusters(spark, store).collect())
    assert cm == [(1, 1), (2, 1)]


def test_scd2_empty_batch_no_wedge(spark, tmp_path):
    """Round-10 review fix: an empty micro-batch must be a no-op fold —
    the old path wrote a hive-partitioned slice dir with no parquet
    files, which wedged THIS read and every later batch's prior-roots
    union with UNABLE_TO_INFER_SCHEMA."""
    import os

    from pyspark.sql import functions as F

    from priority_data_pipeline_azure_sql_db_spark.streaming.sink import (
        fold_scd2_batch,
        read_scd2_store,
    )

    def mk(rows):
        return spark.createDataFrame(
            rows, "user_id bigint, state string, ts string, seq bigint",
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    store = str(tmp_path / "store")
    args = (["user_id"], ["state"], "ts", ["seq"])

    # empty FIRST batch: no store created, no wedged slice dir
    assert fold_scd2_batch(spark, store, mk([]).limit(0), 1, *args) is False
    assert not os.path.isdir(os.path.join(store, "log", "batch_1"))

    assert fold_scd2_batch(
        spark, store, mk([(1, "a", "2026-01-01 00:00:00", 1)]), 2, *args
    ) is True
    # empty LATER batch: skipped, store intact
    assert fold_scd2_batch(spark, store, mk([]).limit(0), 3, *args) is False
    assert fold_scd2_batch(
        spark, store, mk([(1, "b", "2026-01-02 00:00:00", 2)]), 4, *args
    ) is True
    hist = read_scd2_store(spark, store)
    states = sorted(r.state for r in hist.collect())
    assert states == ["a", "b"], "folds around the empty batch must land"


def test_scd2_store_guards_bucket_count_and_lost_log(spark, tmp_path):
    """Round-13 ADVICE fixes: (1) n_log_buckets is load-bearing for the
    bucketed hist/ layout — a fold with a different value than the
    store was built with must raise, not silently mis-prune touched
    entities into new buckets while stale copies survive in old ones;
    (2) a store with a CURRENT pointer but no prior log slices is a
    corrupted state — re-bootstrapping would overwrite hist/ from the
    delta alone, silently discarding the standing history."""
    import os
    import shutil

    import pytest
    from pyspark.sql import functions as F

    from priority_data_pipeline_azure_sql_db_spark.streaming.sink import (
        fold_scd2_batch,
    )

    def mk(rows):
        return spark.createDataFrame(
            rows, "user_id bigint, state string, ts string, seq bigint",
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    store = str(tmp_path / "store")
    args = (["user_id"], ["state"], "ts", ["seq"])
    assert fold_scd2_batch(
        spark, store, mk([(1, "a", "2026-01-01 00:00:00", 1)]), 1, *args,
        n_log_buckets=4,
    ) is True
    # (1) mismatched bucket count: refused before any write
    with pytest.raises(ValueError, match="n_log_buckets=4"):
        fold_scd2_batch(
            spark, store, mk([(1, "b", "2026-01-02 00:00:00", 2)]), 2,
            *args, n_log_buckets=8,
        )
    # matching count still folds
    assert fold_scd2_batch(
        spark, store, mk([(1, "b", "2026-01-02 00:00:00", 2)]), 2, *args,
        n_log_buckets=4,
    ) is True
    # (2) external log loss: CURRENT present, slices gone → loud, and
    # the standing history is left untouched
    shutil.rmtree(os.path.join(store, "log"))
    with pytest.raises(RuntimeError, match="no prior log slices"):
        fold_scd2_batch(
            spark, store, mk([(1, "d", "2026-01-05 00:00:00", 4)]), 4,
            *args, n_log_buckets=4,
        )
    assert os.path.isdir(os.path.join(store, "hist"))


def test_scd2_store_without_meta_fails_loudly(spark, tmp_path):
    """A store holding _kb= buckets but no SCD2_META.json predates the
    meta file (every fold writes it before its first slice): its bucket
    count cannot be checked, so a fold raises and asks for a rebuild
    instead of adopting the caller's count, and writes no meta."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from priority_data_pipeline_azure_sql_db_spark.streaming.sink import (
        fold_scd2_batch,
    )

    def mk(rows):
        return spark.createDataFrame(
            rows, "user_id bigint, state string, ts string, seq bigint",
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    store = str(tmp_path / "store")
    args = (["user_id"], ["state"], "ts", ["seq"])
    meta = os.path.join(store, "SCD2_META.json")
    assert fold_scd2_batch(
        spark, store, mk([(1, "a", "2026-01-01 00:00:00", 1)]), 1, *args,
        n_log_buckets=4,
    ) is True
    os.remove(meta)
    with pytest.raises(ValueError, match="rebuild the store"):
        fold_scd2_batch(
            spark, store, mk([(1, "b", "2026-01-02 00:00:00", 2)]), 2,
            *args, n_log_buckets=4,
        )
    assert not os.path.exists(meta)
    assert not os.path.exists(os.path.join(store, "log", "batch_2"))


def test_ann_index_empty_build_fails_loud(spark, tmp_path):
    """Round-10 review-fix follow-through: the ANN stores share the ER
    store's empty-partitionBy wedge class — a zero-vector build would
    write a cell-partitioned dir with no parquet files. Both builders
    fail loud instead."""
    import pytest

    from priority_data_pipeline_azure_sql_db_spark.operators.ann_index import (
        build_ivf_index,
        build_near_dup_index,
    )

    empty = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    with pytest.raises(ValueError, match="at least one vector"):
        build_ivf_index(empty, str(tmp_path / "ivf"))
    with pytest.raises(ValueError, match="at least one vector"):
        build_near_dup_index(empty, str(tmp_path / "nd"))


def test_er_store_intra_batch_duplicate_ids(spark, tmp_path):
    """Round-10 review fix: the append anti-join only screens against
    the STANDING base, so a micro-batch replaying the same record id
    twice would land duplicate base rows — and duplicate golden rows
    for every later serve of that cluster. Both the build and the
    append dedupe ids WITHIN their input; the grown store must equal a
    rebuild on the deduped corpus, and serves must stay one-row-per-
    delta-record."""
    from priority_data_pipeline_azure_sql_db_spark.operators import er_index as EI

    def mk(rows):
        return spark.createDataFrame(rows, "id bigint, name string, grp int")

    kw = dict(key_col="name", id_col="id", block_cols=["grp"],
              max_edit=2, n_buckets=4)
    # build input replays id 1
    base = mk([(1, "aaaa0001", 1), (1, "aaaa0001", 1), (2, "aaaa0002", 1)])
    p = str(tmp_path / "store")
    EI.build_er_index(base, p, **kw)
    base_rows = spark.read.parquet(f"{p}/{EI.BASE_DIR}").collect()
    assert sorted(r.id for r in base_rows) == [1, 2]

    # append batch replays new id 20 AND standing id 1
    appended = EI.append_to_er_index(
        spark, p, mk([(20, "aaaa0003", 1), (20, "aaaa0003", 1),
                      (1, "aaaa0001", 1)])
    )
    assert appended == 1
    base_rows = spark.read.parquet(f"{p}/{EI.BASE_DIR}").collect()
    assert sorted(r.id for r in base_rows) == [1, 2, 20]

    # store == rebuild on the deduped corpus
    p2 = str(tmp_path / "rebuilt")
    EI.build_er_index(
        mk([(1, "aaaa0001", 1), (2, "aaaa0002", 1), (20, "aaaa0003", 1)]),
        p2, **kw,
    )
    cmap = lambda q: sorted(  # noqa: E731
        (r.node, r.cluster_id)
        for r in EI.read_er_clusters(spark, q).collect()
    )
    assert cmap(p) == cmap(p2)

    # the serve that duplicate base rows would have fanned out
    out = EI.assign_from_index(spark, p, mk([(100, "aaaa0004", 1)])).collect()
    assert len(out) == 1 and out[0].cluster_id == 1


def test_write_partitioned_guard(spark, tmp_path):
    """store_io.write_partitioned (round-10 review consolidation): the
    shared backstop under every hive-partitioned store write. A write
    landing zero data files is removed — never left as the unreadable
    _SUCCESS-only wedge — then raises or skips per policy; appending an
    empty delta to a populated store is a legal no-op; non-empty writes
    report True and read back."""
    import os

    import pytest

    from priority_data_pipeline_azure_sql_db_spark.operators.store_io import (
        write_partitioned,
    )

    empty = spark.createDataFrame([], "k int, v string")
    full = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")

    tgt = str(tmp_path / "skip")
    assert write_partitioned(empty, tgt, ["k"], on_empty="skip") is False
    assert not os.path.exists(tgt), "the wedge dir must be removed"

    tgt = str(tmp_path / "raise")
    with pytest.raises(ValueError, match="zero rows"):
        write_partitioned(empty, tgt, ["k"], what="unit store")
    assert not os.path.exists(tgt)

    tgt = str(tmp_path / "store")
    assert write_partitioned(full, tgt, ["k"]) is True
    assert spark.read.parquet(tgt).count() == 2
    # empty append to a populated store: no-op, data intact
    assert write_partitioned(empty, tgt, ["k"], mode="append") is True
    assert spark.read.parquet(tgt).count() == 2


def test_dedup_index_params_guard(spark, sf_dir, tmp_path):
    """The store's params manifest (written LAST — it is also the
    completed-build marker) pins (kind, k, w, cols): serving a path
    with different parameters fails loud instead of silently returning
    pairs computed under other semantics; a missing manifest (crashed
    build) rebuilds."""
    import os

    import pytest

    from priority_data_pipeline_azure_sql_db_spark.operators.dedup_index import (
        PARAMS_FILE,
        ensure_dedup_index,
    )
    from priority_data_pipeline_azure_sql_db_spark.sources.parquet import load_table

    d = load_table(spark, sf_dir, "documents").limit(50)
    path = str(tmp_path / "didx")
    ensure_dedup_index(d, path, kind="winnow", k=8, w=4)
    manifest = os.path.join(path, PARAMS_FILE)
    assert os.path.exists(manifest)
    # same params: serve as-is, no error
    ensure_dedup_index(d, path, kind="winnow", k=8, w=4)
    # different kind / different k: fail loud
    with pytest.raises(ValueError, match="was built with"):
        ensure_dedup_index(d, path, kind="shingle", k=5)
    with pytest.raises(ValueError, match="was built with"):
        ensure_dedup_index(d, path, kind="winnow", k=9, w=4)
    # crashed build (no manifest): rebuilds rather than serving torn files
    os.remove(manifest)
    ensure_dedup_index(d, path, kind="winnow", k=8, w=4)
    assert os.path.exists(manifest)


def test_ivf_append_idempotent_and_dim_guard(spark, sf_dir, tmp_path):
    """A replayed IVF append is a no-op (id anti-join — a duplicated
    vector would occupy two of the k serve slots and displace a real
    neighbor), and a wrong-dimensionality delta fails loud instead of
    being assigned by a truncated dot product."""
    import pytest
    from pyspark.sql import functions as F

    from priority_data_pipeline_azure_sql_db_spark.operators.ann_index import (
        append_to_ivf_index,
        build_ivf_index,
    )
    from priority_data_pipeline_azure_sql_db_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") < 80)
    delta = emb.filter((F.col("vec_id") >= 80) & (F.col("vec_id") < 100))
    idx = str(tmp_path / "ivf")
    build_ivf_index(base, idx, n_cells=4)
    append_to_ivf_index(delta, idx)
    import os
    n1 = spark.read.parquet(os.path.join(idx, "cells")).count()
    append_to_ivf_index(delta, idx)  # replay — must not duplicate
    n2 = spark.read.parquet(os.path.join(idx, "cells")).count()
    assert n1 == n2 == 100
    bad = delta.select("vec_id", F.slice("embedding", 1, 8).alias("embedding"))
    with pytest.raises(ValueError, match="dimensionality"):
        append_to_ivf_index(bad, idx)


def test_stateful_running_totals_idle_timeout_path(spark, sf_dir):
    """The opt-in eviction variant (ProcessingTimeTimeout): plan
    construction and the first micro-batch are exercised; ENVIRONMENT
    GATE like the TWS twin — in this sandbox aIPWS +
    ProcessingTimeTimeout never terminates an availableNow drain (the
    second micro-batch wedges in the HDFS-backed state store commit,
    measured with 1h AND 0.5s timeouts — not a timer artifact), so the
    drain runs under a hard await and the test skips if the environment
    wedge fires after the first batch emitted correct partial rows."""
    import uuid

    import pytest

    from priority_data_pipeline_azure_sql_db_spark.streaming.events import read_events_stream
    from priority_data_pipeline_azure_sql_db_spark.streaming.stateful import running_user_totals

    agg = running_user_totals(
        read_events_stream(spark, sf_dir), idle_timeout_ms=3_600_000
    )
    name = f"evict_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("update").format("memory")
        .queryName(name).trigger(availableNow=True).start()
    )
    finished = q.awaitTermination(60)
    got = {r.user_id: r for r in spark.sql(f"SELECT * FROM {name}").collect()}
    if not finished:
        q.stop()
        # first batch must still have emitted sane partial totals
        assert len(got) > 0
        assert all(r.n_events_total >= 1 for r in got.values())
        pytest.skip("sandbox wedge: aIPWS+ProcessingTimeTimeout never "
                    "terminates availableNow here (see docstring)")
    batch = {
        r.user_id: (r.n, round(r.v, 6))
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
        .collect()
    }
    assert set(got) == set(batch)
    for uid, (n, v) in batch.items():
        assert got[uid].n_events_total == n
        assert round(got[uid].value_total, 6) == v


def test_query_registry_duplicate_guard():
    """@query fails loud on a duplicate name — a silent overwrite would
    drop the original from the driver's correctness surface, and a
    rows-only re-registration would pair the OLD oracle with the NEW
    function."""
    import pytest

    from priority_data_pipeline_azure_sql_db_spark.queries import query

    with pytest.raises(ValueError, match="duplicate query registration"):
        @query("pipeline_count_rows")
        def clash(spark, sf_dir):  # pragma: no cover
            return None


def test_tool_query_name_lists_are_registered():
    """bench.py and the tools look their hard-coded query names up as
    ``QUERIES[name]``, so every listed name must be registered: a stale
    one would only fail when someone runs the tool. The lists are read
    with ``ast``, without importing the tools (they start Spark or
    need DuckDB at import)."""
    import ast
    import os

    from priority_data_pipeline_azure_sql_db_spark.queries import QUERIES

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    lists = {
        "bench.py": {"CORE", "ANNEX"},
        "tools/plan_audit.py": {"AUDIT", "PAYLOAD_SPREAD_BUDGET"},
        "tools/scale_probe.py": {"PROBES", "CONTROL_SCALES"},
    }
    for rel, want in lists.items():
        with open(os.path.join(root, rel)) as fh:
            tree = ast.parse(fh.read())
        found = {
            node.targets[0].id: list(ast.literal_eval(node.value))
            for node in tree.body
            if isinstance(node, ast.Assign)
            and isinstance(node.targets[0], ast.Name)
            and node.targets[0].id in want
        }
        assert set(found) == want, rel
        for var, names in found.items():
            assert names, (rel, var)
            assert [n for n in names if n not in QUERIES] == [], (rel, var)


def test_resident_path_distinct_dirs_same_basename(tmp_path):
    """Two fixture dirs sharing a basename (v1/sf0.1 vs v2/sf0.1) get
    DISTINCT resident stores — pre-fix they collided on basename and a
    build-once gate served v1 state against v2 data."""
    import os

    from priority_data_pipeline_azure_sql_db_spark.queries import _resident_path

    a = tmp_path / "v1" / "sf0.1"
    b = tmp_path / "v2" / "sf0.1"
    os.makedirs(a); os.makedirs(b)
    pa, pb = _resident_path("x", str(a)), _resident_path("x", str(b))
    assert pa != pb
    # stable within the process for the same dir
    assert pa == _resident_path("x", str(a))


def test_er_index_params_guard(spark, tmp_path):
    """ensure_er_index COMPARES the standing META against the call's
    parameters — a different blocking key / edit budget at an existing
    path fails loud instead of silently serving clusters computed under
    other matching semantics; identical params serve as-is."""
    import pytest

    from priority_data_pipeline_azure_sql_db_spark.operators import er_index as EI

    base = spark.sql(
        "SELECT * FROM VALUES (1, 'aaaa0001', 10), (2, 'aaaa0002', 10), "
        "(5, 'bbbb0001', 20) AS t(id, name, grp)"
    )
    kw = dict(key_col="name", id_col="id", block_cols=["grp"],
              max_edit=2, n_buckets=4)
    p = str(tmp_path / "er_guard")
    EI.ensure_er_index(base, p, **kw)
    EI.ensure_er_index(base, p, **kw)  # same params: serve, no error
    with pytest.raises(ValueError, match="was built with"):
        EI.ensure_er_index(base, p, **{**kw, "max_edit": 1})
    with pytest.raises(ValueError, match="was built with"):
        EI.ensure_er_index(base, p, **{**kw, "block_cols": ["name"]})


def test_dsir_one_corpus_pass(spark, sf_dir):
    """Round-18 optimization pin: dsir_scored tokenizes + md5-hashes the
    raw corpus ONCE — the per-(doc, f) count aggregate is the shared
    subtree, its exchange ReuseExchange'd by the corpus-count (q)
    branch. Exactly TWO Generate (bigram explode) nodes may exist:
    one over the raw corpus, one over the target slice. The vacuous
    isnotnull(doc)/isnotnull(f) filters inside the shared subtree are
    what keep the two consumers' copies canonically identical (the
    scoring side's joins would otherwise infer them one-sided) — if
    this test fails with 3 Generates, someone dropped them."""
    from priority_data_pipeline_azure_sql_db_spark.operators.sample import (
        dsir_log_weights,
    )

    d = load_table(spark, sf_dir, "documents")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        w = dsir_log_weights(
            d, d.filter(F.col("lang") == "en"), n_buckets=512
        )
        plan = w._jdf.queryExecution().executedPlan().toString()
        # round 19: the SELF-TARGET fusion — when the target is a
        # filter of df itself, the predicate rides the one pass as a
        # flag grouping key and the target's own tokenize+md5 explode
        # disappears: exactly ONE Generate. The flag must stay a
        # GROUPING key (not an aggregate expr, which per-consumer
        # column pruning would drop, making the copies canonically
        # different) — if this fails with 2 Generates, that regressed.
        wf = dsir_log_weights(
            d, None, n_buckets=512, target_flag=F.col("lang") == "en"
        )
        plan_fused = wf._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert plan.count("Generate") == 2, (
        f"expected 2 bigram explodes (corpus + target):\n{plan}"
    )
    assert "ReusedExchange" in plan, (
        f"occ_counts exchange not shared:\n{plan}"
    )
    assert plan_fused.count("Generate") == 1, (
        f"fused self-target: expected ONE bigram explode:\n{plan_fused}"
    )
    assert "ReusedExchange" in plan_fused, (
        f"fused occ_counts exchange not shared:\n{plan_fused}"
    )


def test_curation_dsir_capstone_narrow_plan(spark, sf_dir):
    """Round-18 optimization pins on the dsir capstone, both halves of
    the two-executions problem (the gate's decide-on-proxy pattern
    executes the curated upstream twice — proxy build + attach):
    (1) the dsir stage's admitted-id set is CACHED (a doc_id-only
    InMemoryRelation), so the DSIR scoring machinery (corpus
    tokenize+md5 pass, ratio table, scoring join) runs once instead of
    once per execution — the proxy's sealed cache boundary otherwise
    blocks ReuseExchange across them; (2) with the boilerplate stage's
    "stats": true sums riding (score and n_tokens both derive from
    them), NOTHING downstream reads the reassembled text, so the
    collect_list reassembly is pruned from the ENTIRE capstone plan —
    the per-doc aggregate is map-side-combinable sums."""
    import re

    from priority_data_pipeline_azure_sql_db_spark.queries import QUERIES

    df = QUERIES["pipeline_curation_dsir"](spark, sf_dir)
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "collect_list" not in plan, (
            "text reassembly not pruned from the capstone plan"
        )
        # round 19: the capstone plan is CACHE-FREE. The dsir
        # admitted-id cache is deliberately absent (the "project"
        # no-attach path executes upstream exactly once — a doc_id-only
        # InMemoryRelation would be pure overhead; the cache is still
        # taken on multi-execution tails), and the gate's narrow proxy
        # does not cache either because the chain is EXCHANGE-TOPPED
        # (boilerplate aggregate): ReuseExchange shares the heavy map
        # side across all decision consumers, and the InMemoryRelation
        # measured ~5% worse at sf0.1 while holding corpus-sized rows
        # in executor memory at scale (see curation.py exchange_topped).
        assert "InMemoryRelation" not in plan, (
            "unexpected cache in the single-execution capstone plan — "
            "see curation.py dsir-stage and exchange_topped notes"
        )
        # exchange sharing is what replaces the cache: pin it on the
        # static executed plan (AQE off — the AQE initial plan defers
        # reuse to runtime and never prints ReusedExchange)
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            df2 = QUERIES["pipeline_curation_dsir"](spark, sf_dir)
            plan2 = df2._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")
        assert "ReusedExchange" in plan2, (
            "decision consumers no longer share the upstream exchange"
        )
    finally:
        spark.catalog.clearCache()


def test_host_resources_sizes_session_to_host(tmp_path, monkeypatch):
    """``get_spark()`` defaults come from the host: the cores this
    process may run on and half of ``MemTotal`` (at least 1g), with
    ``SPARK_GRAFT_CPUS`` / ``SPARK_GRAFT_DRIVER_MEM`` as overrides."""
    import os

    from priority_data_pipeline_azure_sql_db_spark.session import host_resources

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemFree:         1000 kB\n"
                       "MemTotal:       16384000 kB\n")
    cores = len(os.sched_getaffinity(0))
    assert host_resources(str(meminfo)) == (cores, "8000m")
    meminfo.write_text("MemTotal:         500000 kB\n")
    assert host_resources(str(meminfo)) == (cores, "1024m")  # 1g floor

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    # both overridden: meminfo is not read at all
    assert host_resources(str(tmp_path / "absent")) == (3, "2g")
