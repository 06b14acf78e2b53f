"""Streaming ingest into the pipeline's staging store (round 7).

Connects the two halves of the repo: Structured Streaming sources feed
the SAME partition-pruned MERGE staging layer the batch pipeline loads
(`pipeline.StagingStore`), via ``foreachBatch`` — the standard Spark
recipe for streaming upserts into a batch-format table.

Delivery contract: Structured Streaming replays a failed micro-batch
from the checkpoint with the SAME batch_id and contents, and the MERGE
is idempotent on the primary key (a replayed delta upserts the same
rows to the same values), so the sink is effectively-once end to end —
checkpointed at-least-once delivery composed with an idempotent write.
That composition is exactly what the batch pipeline's bookmark+MERGE
contract provides for incremental loads (SURVEY.md EP1), re-expressed
for a continuous source.

Scale shape: each micro-batch MERGE moves O(delta) — the PK semi-join
prunes untouched partitions (pipeline.py:97) — so steady-state cost
tracks the stream rate, not the table size. One staging table accepts
one stream (StagingStore.merge rewrites whole partitions; serialize
writers per table the same way batch runs are serialized per entity).

Crash safety of the standing stores: the rollup store commits each fold
with one atomic write of its ``CURRENT`` pointer. The SCD2 history
commits through ``operators.store_io``'s one commit: a fold stages its
rewritten ``_kb=<b>`` buckets under ``.hist_stage``, writes the
``HIST_MANIFEST`` intent with its batch_id, and rolls forward
(:func:`_hist_roll_forward`), whose extra step advances ``CURRENT``;
every fold and read rolls a leftover intent forward first. SCD2 log
compaction commits with one directory rename.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame

from ..operators.store_io import (
    _has_data_files,
    load_json,
    roll_forward,
    write_atomic,
    write_intent,
    write_json,
    write_partitioned,
)
from ..pipeline import StagingStore


def stream_merge_into_staging(
    stream: DataFrame,
    store: StagingStore,
    table: str,
    pk: list[str],
    checkpoint_dir: str,
    transform=None,
):
    """Run an available-now streaming MERGE: drain everything the source
    currently has into ``stg_<table>`` through per-micro-batch upserts,
    then stop. Returns the finished StreamingQuery (caller inspects
    ``lastProgress``/recentProgress for batch accounting).

    ``transform`` (round 13): an optional per-micro-batch DataFrame →
    DataFrame map applied BEFORE the dedup/merge — the
    transform-on-ingest shape (decode, extract, normalize, audit-stamp)
    every real ingest pipeline runs between source and staging. It must
    be DETERMINISTIC per row (a replayed batch must merge the same
    rows to the same values, or the sink's effectively-once contract
    degrades to at-least-once with drift) and must preserve ``pk``.

    ``availableNow`` (not ``once``) so the drain respects source rate
    limits (maxFilesPerTrigger) while still terminating — the batch-job
    form of a continuous ingest; drop the trigger for 24/7 tailing.
    """
    spark = stream.sparkSession

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return  # no-op batch — same guard as the other three sinks
        if transform is not None:
            batch_df = transform(batch_df)
        # dropDuplicates within the batch: a micro-batch may carry the
        # same PK twice (source replays, late files); MERGE semantics
        # need one row per key per batch. Deterministic survivor: max
        # by the remaining columns is overkill here — the staging MERGE
        # itself is last-writer-wins per batch, so any stable pick
        # works; dropDuplicates keeps the first encountered.
        store.merge(spark, batch_df.dropDuplicates(pk), table, pk)

    return (
        stream.writeStream
        .foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _read_rollup_pointer(store_path: str) -> tuple[int, str | None]:
    """(last_applied_batch_id, current agg dir) — (-1, None) if empty."""
    ptr = os.path.join(store_path, "CURRENT")
    if not os.path.exists(ptr):
        return -1, None
    with open(ptr) as fh:
        bid, dirname = fh.read().strip().split("\n")
    return int(bid), os.path.join(store_path, dirname)


def _write_current(store_path: str, batch_id: int, dirname: str) -> None:
    """Point the store's ``CURRENT`` ledger at (last applied batch id,
    live version dir) — one atomic write."""
    write_atomic(os.path.join(store_path, "CURRENT"), f"{batch_id}\n{dirname}")


def fold_rollup_batch(
    spark,
    store_path: str,
    delta_agg: DataFrame,
    batch_id: int,
    keys: list[str],
    sum_cols: list[str],
) -> bool:
    """Fold one micro-batch's pre-aggregated delta into the standing
    rollup store, EXACTLY once. Unlike the PK MERGE sink, a rollup
    merge is NOT idempotent (folding a replayed batch double-counts),
    so at-least-once delivery needs a ledger: the pointer file CURRENT
    records (last_applied_batch_id, current agg version dir) and is
    swapped atomically (os.replace) only AFTER the new version is fully
    written. A replayed batch_id <= the pointer's is skipped; a crash
    between version write and pointer swap leaves the pointer on the
    old version, so the replay re-folds against unchanged state. New
    versions go to fresh dirs (a parquet store cannot be read and
    overwritten in place); the superseded dir is removed best-effort
    after the swap. Returns True if the batch was applied.
    """
    from ..operators.merge import combine_rollups

    last, cur = _read_rollup_pointer(store_path)
    if batch_id <= last:
        return False  # replay of an already-folded batch
    parts = [delta_agg]
    if cur is not None:
        parts.append(spark.read.parquet(cur))
    merged = combine_rollups(parts, keys, sum_cols)
    new_dir = f"agg_{batch_id}"
    merged.write.mode("overwrite").parquet(os.path.join(store_path, new_dir))
    _write_current(store_path, batch_id, new_dir)
    # GC every superseded version, not just this fold's predecessor
    # (round-13 review): a crash between the pointer swap and the old
    # rmtree stranded ONE full rollup copy per crash forever — the next
    # fold only removed ITS predecessor. Single-writer (foreachBatch is
    # serial), so any agg_* dir other than the just-committed one is
    # dead by construction.
    for d in os.listdir(store_path):
        if d.startswith("agg_") and d != new_dir:
            shutil.rmtree(os.path.join(store_path, d), ignore_errors=True)
    return True


def stream_rollup_into_store(
    stream: DataFrame,
    rollup_fn,
    store_path: str,
    keys: list[str],
    sum_cols: list[str],
    checkpoint_dir: str,
):
    """Streaming INCREMENTAL AGGREGATE MAINTENANCE: keep a standing
    rollup current against a stream for O(delta + groups) per
    micro-batch — the continuous-aggregate counterpart of the staging
    MERGE sink, for the non-idempotent (additive) case. Each batch
    aggregates its own rows (``rollup_fn``, algebraic measures only —
    see combine_rollups) and folds via the exactly-once pointer ledger
    (:func:`fold_rollup_batch`). Reading the current rollup is one
    pointer lookup + parquet read of O(groups) rows.
    """

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        fold_rollup_batch(
            batch_df.sparkSession, store_path, rollup_fn(batch_df),
            batch_id, keys, sum_cols,
        )

    return (
        stream.writeStream
        .foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_rollup_store(spark, store_path: str) -> DataFrame:
    """Current contents of a rollup store (empty read is an error —
    a consumer before the first fold should fail loudly, not see an
    empty aggregate that looks like 'no data')."""
    _, cur = _read_rollup_pointer(store_path)
    if cur is None:
        raise RuntimeError(f"rollup store has no applied batches: {store_path}")
    return spark.read.parquet(cur)


# ---------------------------------------------------------------------------
# streaming SCD2 dimension maintenance (round 9)
# ---------------------------------------------------------------------------

def _scd2_log_state(log_root: str):
    """Inventory of the SCD2 change log: (newest compact id, its dir,
    {slice batch_id: dir}). Ignores ``.compact_*.tmp`` junk from a
    crashed compaction — only a fully renamed ``compact_<id>`` dir is
    live, so a mid-compaction crash can never double-count rows."""
    compacts: list[tuple[int, str]] = []
    slices: dict[int, str] = {}
    if not os.path.isdir(log_root):
        return None, None, slices
    for d in os.listdir(log_root):
        p = os.path.join(log_root, d)
        if d.startswith("batch_"):
            try:
                slices[int(d.removeprefix("batch_"))] = p
            except ValueError:
                continue
        elif d.startswith("compact_") and not d.endswith(".tmp"):
            try:
                compacts.append((int(d.removeprefix("compact_")), p))
            except ValueError:
                continue
    cid, cdir = max(compacts) if compacts else (None, None)
    return cid, cdir, slices


_HIST_MANIFEST = "HIST_MANIFEST"
_HIST_STAGE = ".hist_stage"  # tmp root, laid out like hist/


def _hist_roll_forward(store_path: str) -> None:
    """The SCD2 history's one roll-forward entry: finish a fold's
    committed bucket swaps (``store_io.roll_forward``), then its extra
    step advances the CURRENT ledger to the intent's batch_id."""
    roll_forward(
        os.path.join(store_path, _HIST_MANIFEST),
        os.path.join(store_path, "hist"), os.path.join(store_path, _HIST_STAGE),
        lambda intent: _write_current(store_path, intent["batch_id"], "hist"))


def _commit_hist_buckets(store_path: str, staged, touched: list,
                         batch_id: int) -> None:
    """Stage the rewritten history buckets, write the intent, roll
    forward. ``staged`` carries the recomputed ``_kb``; only the
    ``touched`` buckets are replaced — untouched bucket dirs are never
    opened. A touched bucket with zero staged rows (every entity in it
    was deleted from the history) is removed."""
    stage = os.path.join(store_path, _HIST_STAGE)
    shutil.rmtree(stage, ignore_errors=True)  # an uncommitted fold's stage
    write_partitioned(staged, stage, ["_kb"], on_empty="skip",
                      what="SCD2 history stage")
    write_intent(os.path.join(store_path, _HIST_MANIFEST), stage,
                 [f"_kb={b}" for b in sorted(touched)], batch_id=batch_id)
    _hist_roll_forward(store_path)


_SCD2_META = "SCD2_META.json"


def _check_scd2_meta(store_path: str, n_log_buckets: int) -> None:
    """Pin the store's bucket count (round-13 ADVICE fix): ``_kb``
    pruning and the per-bucket hist swaps are only correct when every
    fold hashes with the SAME n_log_buckets the store was built with —
    a mismatched caller would silently mis-prune (touched entities
    surviving as stale duplicates in old buckets while the rebuilt copy
    lands in a new one). The first fold writes the count to
    ``SCD2_META.json`` before any slice lands, and every later fold
    validates it, the same guard the ER store's META gives its params.
    A store with ``_kb=`` buckets under hist/ or log/ but no meta
    predates that file; its count cannot be read off its layout, so it
    must be rebuilt."""
    path = os.path.join(store_path, _SCD2_META)
    meta = load_json(path)
    if meta is not None:
        if meta.get("n_log_buckets") != n_log_buckets:
            raise ValueError(
                f"SCD2 store at {store_path} was built with "
                f"n_log_buckets={meta.get('n_log_buckets')}; folding "
                f"with {n_log_buckets} would mis-prune _kb buckets "
                "and strand stale history. Pass the store's value."
            )
        return
    if glob.glob(os.path.join(store_path, "hist", "_kb=*")) or glob.glob(
            os.path.join(store_path, "log", "*", "_kb=*")):
        raise ValueError(
            f"SCD2 store at {store_path} has _kb= buckets but no "
            f"{_SCD2_META}, so its bucket count is unknown; rebuild the store"
        )
    write_json(path, {"n_log_buckets": n_log_buckets})


def _read_touched_buckets(spark, root: str, touched, key: str = "_kb"):
    """Direct-path read of ONLY the touched bucket dirs under a
    hive-partitioned root (round 13, VERDICT r12 ask #3): a
    ``.where(_kb.isin(touched))`` read prunes partitions but still pays
    a partition-DISCOVERY listing of every ``_kb=`` dir at plan time —
    the O(n_buckets) term the maintenance probe's 16-vs-512 A/B
    attributed (2.54 vs 3.61 s at x32). The touched set is known before
    the read, so list those dirs and nothing else; ``basePath`` keeps
    ``key`` as a partition column. Returns None when no touched bucket
    has data files under ``root`` (an absent bucket holds no rows)."""
    dirs = []
    for b in touched:
        d = os.path.join(root, f"{key}={b}")
        if os.path.isdir(d) and _has_data_files(d):
            dirs.append(d)
    if not dirs:
        return None
    return spark.read.option("basePath", root).parquet(*dirs)


def _write_hist_schema(store_path: str, df) -> None:
    """Schema sidecar: lets a reader of a legally-EMPTY history (a
    tombstone-only bootstrap deleted every entity before any create)
    return a typed empty frame instead of UNABLE_TO_INFER_SCHEMA."""
    write_atomic(os.path.join(store_path, "HIST_SCHEMA.json"), df.schema.json())


def _read_hist_schema_empty(spark, store_path: str):
    import json as _json

    from pyspark.sql.types import StructType

    with open(os.path.join(store_path, "HIST_SCHEMA.json")) as fh:
        schema = StructType.fromJson(_json.loads(fh.read()))
    return spark.createDataFrame([], schema)


def _read_scd2_pointer(store_path: str) -> tuple[int, str | None]:
    """The SCD2 store's ``CURRENT`` ledger. A store whose pointer names
    anything but the bucketed ``hist`` dir predates round 12 (flat
    ``hist_<id>`` versioning, no ``_kb``) and must be rebuilt."""
    last, cur = _read_rollup_pointer(store_path)
    if cur is not None and os.path.basename(cur) != "hist":
        raise RuntimeError(
            f"SCD2 store at {store_path} has the pre-bucketed history "
            f"layout ({os.path.basename(cur)}); rebuild the store"
        )
    return last, cur


def fold_scd2_batch(
    spark,
    store_path: str,
    delta_log: DataFrame,
    batch_id: int,
    pk: list[str],
    attr_cols: list[str],
    ts_col: str,
    tiebreak_cols: list[str] | None = None,
    n_log_buckets: int = 16,
    compact_every: int = 8,
    op_col: str | None = None,
) -> bool:
    """Fold one micro-batch of change-log rows into a standing SCD2
    dimension store, exactly once — the type-2 counterpart of
    :func:`fold_rollup_batch`, completing the streaming-warehouse trio
    (PK MERGE staging → additive rollups → versioned dimensions).

    Store layout: ``log/batch_<id>/`` holds each batch's raw change-log
    slice APPEND-ONLY (a replayed batch overwrites its own dir with
    identical content — idempotent); ``hist/`` is the standing history,
    hive-partitioned by the SAME ``_kb`` entity-hash bucket as the log
    (round 12 — the maintenance-probe finding: the old flat
    ``hist_<id>`` versioning rewrote the ENTIRE history every fold, an
    O(store) term that read slope ~1 on the per-batch-cost-vs-store-
    size probe). A fold now rewrites ONLY the buckets holding touched
    entities, through ``store_io``'s one commit: stage every rewritten
    bucket as a ``_kb=<b>`` sub of ``.hist_stage``, write the
    ``HIST_MANIFEST`` intent carrying the batch_id — the atomic commit
    point — then roll forward: swap the buckets in, remove emptied
    ones, advance the CURRENT ledger, delete the intent. Every entry
    point rolls a leftover intent forward first, so a crash after the
    commit completes on the next touch and a crash before it leaves a
    junk stage and an untouched store for the retry to overwrite. The
    CURRENT pointer file still records (last_applied_batch_id, "hist")
    — the SCD2 fold is not idempotent (re-folding a batch would rebuild
    touched entities against a log that already contains it), so
    at-least-once delivery composes with the ledger into exactly-once
    history maintenance.

    Scale shape: the fold is :func:`operators.merge.scd2_apply_delta` —
    O(touched entities) rebuild, untouched history rows unread past an
    anti-join. The base-log read prunes FILES, not just rows (round-9
    ADVICE fix — the semi-join alone still read the whole history's
    slices): every slice is written hive-partitioned by
    ``_kb = pmod(xxhash64(pk), n_log_buckets)``, and the fold reads
    prior log roots with ``_kb IN (delta's touched buckets)``, so an
    entity-local micro-batch touches 1/n_log_buckets of the log bytes.
    Slice-count growth is bounded by crash-safe compaction: once
    ``compact_every`` live slices accumulate, they merge into one
    ``compact_<id>`` root (written to a ``.tmp`` dir, renamed, THEN the
    superseded dirs are deleted — a crash between rename and delete
    leaves stale slices that the floor ``id > compact_id`` excludes
    from reads, never double-counted). Per-batch log I/O is therefore
    O(touched buckets × bounded slice count), independent of total
    stream history.
    """
    from functools import reduce

    from pyspark.sql import functions as F

    from ..operators.merge import scd2_apply_delta, scd2_history

    _hist_roll_forward(store_path)  # settle a crashed fold's commit first
    last, cur = _read_scd2_pointer(store_path)
    if batch_id <= last:
        return False  # replay of an already-folded batch
    if delta_log.isEmpty():
        # nothing to fold — and a hive-partitioned write of zero rows
        # emits a slice dir with NO parquet files, which every later
        # read (this one and all prior_roots unions) would fail on with
        # UNABLE_TO_INFER_SCHEMA, permanently wedging the store
        # (round-10 review finding)
        return False
    _check_scd2_meta(store_path, n_log_buckets)
    log_root = os.path.join(store_path, "log")
    log_dir = os.path.join(log_root, f"batch_{batch_id}")
    kb = F.pmod(
        F.xxhash64(*[F.col(c) for c in pk]), F.lit(n_log_buckets)
    ).cast("int")
    write_partitioned(delta_log.withColumn("_kb", kb), log_dir, ["_kb"],
                      what="SCD2 log slice")
    # re-read the just-written slice: the fold below must see exactly
    # the persisted bytes (and decouples from the streaming source df)
    slice_df = spark.read.parquet(log_dir)
    # O(n_log_buckets) metadata collect — which partitions this batch touches
    touched = [r[0] for r in slice_df.select("_kb").distinct().collect()]
    delta = slice_df.drop("_kb")
    cid, cdir, slices = _scd2_log_state(log_root)
    floor = cid if cid is not None else -1
    # GC below the floor: a crash between a compaction's rename and its
    # source deletes leaves the superseded slices and the previous
    # compact_ dir orphaned. _scd2_log_state never READS them (the max
    # compact id is the floor), but without this sweep every such crash
    # permanently leaks a full copy of the log and bloats each fold's
    # listdir (round-10 review finding). Single-writer (foreachBatch is
    # serial), so anything below the floor — and any .tmp leftover from
    # a crashed compaction — is dead by construction.
    for b in [b for b in slices if b <= floor]:
        shutil.rmtree(slices.pop(b), ignore_errors=True)
    for d in os.listdir(log_root):
        if d.endswith(".tmp") or (
            d.startswith("compact_") and d != f"compact_{cid}"
        ):
            shutil.rmtree(os.path.join(log_root, d), ignore_errors=True)
    prior_roots = ([cdir] if cdir is not None else []) + [
        p for b, p in sorted(slices.items()) if floor < b < batch_id
    ]
    if cur is not None and not prior_roots:
        # round-13 ADVICE fix: a store with a CURRENT pointer but no
        # readable prior log slices is a CORRUPTED state (compaction
        # always leaves a compact_ root; slices are only GC'd below
        # it), not a fresh bootstrap — re-bootstrapping here would
        # overwrite hist/ from the delta alone and silently discard
        # the standing history.
        raise RuntimeError(
            f"SCD2 store at {store_path} has applied batches (CURRENT "
            f"= {last}) but no prior log slices — the log was lost or "
            "externally deleted; refusing to re-bootstrap over the "
            "standing history"
        )
    if cur is None:
        # bootstrap: the full history lands hive-partitioned by the
        # same entity buckets as the log, so every later fold can prune
        new_hist = scd2_history(delta, pk, attr_cols, ts_col, tiebreak_cols,
                                op_col=op_col)
        # a tombstone-only first batch builds ZERO history rows — a
        # legal state (entities deleted before any create reached us).
        # on_empty="skip" + committing the ledger anyway keeps the
        # stream from wedging on eternal redelivery (round-12 review);
        # the schema sidecar lets readers return a typed empty frame.
        _write_hist_schema(store_path, new_hist)
        write_partitioned(new_hist.withColumn("_kb", kb),
                          os.path.join(store_path, "hist"), ["_kb"],
                          on_empty="skip", what="SCD2 history")
        _write_current(store_path, batch_id, "hist")
    else:
        # direct-path reads of only the touched _kb= dirs (round 13):
        # partition discovery over a `.where(isin)` read would still
        # LIST every bucket dir per root — O(n_log_buckets) per fold,
        # the 16-vs-512 A/B's listing term. A root with no touched
        # bucket holds no rows of the touched entities at all.
        parts = [
            d.drop("_kb") for d in
            (_read_touched_buckets(spark, p, touched)
             for p in prior_roots)
            if d is not None
        ]
        base_log = (
            reduce(lambda a, b: a.unionByName(b), parts)
            if parts else delta.limit(0)
        )
        # bucket pruning on the HISTORY too: entities hash to the same
        # _kb in hist/ as in the log, so untouched buckets hold no
        # touched entities and are neither read nor rewritten — the
        # fold's I/O is O(touched buckets), not O(store)
        hist_touched = _read_touched_buckets(spark, cur, touched)
        if hist_touched is not None:
            history = hist_touched.drop("_kb")
        else:
            # no touched bucket has standing rows (or the history is
            # the legal tombstone-only empty): fold the touched log
            # against a typed empty frame
            history = _read_hist_schema_empty(spark, store_path)
        new_hist = scd2_apply_delta(
            history, base_log, delta, pk, attr_cols, ts_col, tiebreak_cols,
            op_col=op_col,
        )
        _write_hist_schema(store_path, new_hist)
        _commit_hist_buckets(store_path, new_hist.withColumn("_kb", kb),
                             touched, batch_id)
    # crash-safe log compaction, AFTER the pointer swap (the fold above
    # already consumed the slices; compaction only bounds future reads)
    live = [(b, p) for b, p in slices.items() if floor < b <= batch_id]
    if (batch_id, log_dir) not in live:
        live.append((batch_id, log_dir))
    if len(live) >= compact_every:
        parts = ([spark.read.parquet(cdir)] if cdir is not None else []) + [
            spark.read.parquet(p) for _, p in sorted(live)
        ]
        merged_log = reduce(lambda a, b: a.unionByName(b), parts)
        tmp_dir = os.path.join(log_root, f".compact_{batch_id}.tmp")
        shutil.rmtree(tmp_dir, ignore_errors=True)
        write_partitioned(merged_log, tmp_dir, ["_kb"],
                          what="SCD2 log compaction")
        os.rename(tmp_dir, os.path.join(log_root, f"compact_{batch_id}"))
        for _, p in live:
            shutil.rmtree(p, ignore_errors=True)
        if cdir is not None:
            shutil.rmtree(cdir, ignore_errors=True)
    return True


def stream_scd2_into_store(
    stream: DataFrame,
    store_path: str,
    pk: list[str],
    attr_cols: list[str],
    ts_col: str,
    checkpoint_dir: str,
    tiebreak_cols: list[str] | None = None,
    op_col: str | None = None,
    n_log_buckets: int = 16,
):
    """Streaming SCD2 MAINTENANCE: keep a type-2 dimension current
    against a change stream, O(touched entities) per micro-batch via
    the exactly-once ledger (:func:`fold_scd2_batch`). Because
    ``scd2_apply_delta`` equals the full rebuild even for out-of-order
    arrivals, the final history is independent of micro-batch
    boundaries — which is what makes the standing store hash-checkable
    against the one-pass batch build over all events.

    ``op_col`` (round 12, VERDICT r11 ask #4): the change-log slices
    may carry TOMBSTONES — a boolean is-delete column. A tombstone
    end-dates its entity's open run at the tombstone timestamp
    (scd2_close_deleted-equivalent), later changes re-create the
    entity, and exactly-once flows through the existing batch ledger
    unchanged — a redelivered tombstone batch is skipped by batch id,
    not re-folded."""

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        fold_scd2_batch(
            batch_df.sparkSession, store_path, batch_df, batch_id,
            pk, attr_cols, ts_col, tiebreak_cols, op_col=op_col,
            n_log_buckets=n_log_buckets,
        )

    return (
        stream.writeStream
        .foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_scd2_store(spark, store_path: str) -> DataFrame:
    """Current SCD2 history (empty store fails loudly, like the rollup
    read: a consumer before the first fold must not mistake 'not built
    yet' for 'entity has no history' — but a store whose ONLY folds
    were tombstones legitimately HAS no history and reads back as a
    typed empty frame via the schema sidecar). Rolls a crashed fold's
    pending bucket swaps forward first — a reader must never see the
    mid-swap state. SERIALIZE reads with folds (and with each other),
    the same single-writer discipline as the ER store's
    read_er_clusters: roll-forward renames are not safe under
    concurrent callers."""
    _hist_roll_forward(store_path)
    _, cur = _read_scd2_pointer(store_path)
    if cur is None:
        raise FileNotFoundError(
            f"SCD2 store at {store_path} has no applied batches yet"
        )
    if not os.path.isdir(cur) or not _has_data_files(cur):
        return _read_hist_schema_empty(spark, store_path)
    return spark.read.parquet(cur).drop("_kb")


# ---------------------------------------------------------------------------
# streaming entity-resolution maintenance (round 10)
# ---------------------------------------------------------------------------

def stream_er_into_store(
    stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    key_col: str,
    id_col: str,
    block_cols: list[str] | None = None,
    max_edit: int = 2,
    n_buckets: int = 32,
    block_passes: list[list[str]] | None = None,
):
    """Streaming ENTITY-RESOLUTION maintenance — the fourth leg of the
    streaming-warehouse family (PK MERGE staging r7 → additive rollup
    store r8 → SCD2 dimensions r9 → golden-cluster MDM r10): keep the
    persisted ER cluster store (operators/er_index.py) current against
    a stream of arriving records. The first micro-batch builds the
    store; every later batch flows through ``append_to_er_index`` —
    O(delta + touched-cluster members), cluster merges bridged by
    arrivals included.

    Unlike the rollup/SCD2 sinks, NO batch-id ledger is needed: the
    append is idempotent BY RECORD ID (the anti-join retry gate drops
    ids already in ``base/``), so at-least-once redelivery of a batch
    is a no-op rather than a double-fold — idempotence replaces
    exactly-once bookkeeping. And because append ≡ rebuild (the
    store's pytest- and driver-checked contract), the final cluster
    map is provably independent of micro-batch boundaries — which is
    what makes the standing store hash-checkable against the one-pass
    batch build over all records."""
    from ..operators.er_index import (
        CLUSTERS_DIR,
        append_to_er_index,
        build_er_index,
    )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            # an empty FIRST batch would build a store whose
            # hive-partitioned cluster map has zero parquet files —
            # _SUCCESS present but unreadable, poisoning every later
            # append (round-10 review finding); an empty later batch
            # is just a no-op append
            return
        marker = os.path.join(store_path, CLUSTERS_DIR, "_SUCCESS")
        if not os.path.exists(marker):
            build_er_index(
                batch_df, store_path, key_col=key_col, id_col=id_col,
                block_cols=block_cols, max_edit=max_edit,
                n_buckets=n_buckets, block_passes=block_passes,
            )
        else:
            append_to_er_index(batch_df.sparkSession, store_path, batch_df)

    return (
        stream.writeStream
        .foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
