"""Persisted entity-resolution cluster store: build once, serve many
(round 10 — VERDICT r9 ask #2).

The incremental-ER queries (er_incremental_match / er_assign_to_golden)
proved the O(delta) serve SHAPE but recomputed the standing state —
base pairs + connected components — inside every serve call. This
module is the missing residency layer, the ER sibling of the dedup
fingerprint store (dedup_index.py) and the persisted near-dup index
(ann_index.py): the expensive base-pairs → components → cluster-map
pass runs ONCE and persists; every refresh then resolves only its
arriving records against the standing store.

Store layout (all parquet under one root):

- ``base/``      — the resolved records (id, match key, blocking
  keys), repartitioned by the blocking keys so the serve-time
  delta×base block join reads a block-clustered layout. Append-mode:
  grows with :func:`append_to_er_index`.
- ``clusters/``  — the cluster map (node, cluster_id), hive-partitioned
  by ``_cb = pmod(xxhash64(node), n_buckets)`` so an append rewrites
  only the buckets its touched clusters live in — O(touched), never a
  full-map rewrite. ``cluster_id`` is the component's minimum member id
  (the batch pass's label), so the GOLDEN name of a cluster is simply
  the base record whose id equals ``cluster_id`` — golden names resolve
  by one join against ``base/`` instead of a denormalized table an
  append would have to keep consistent.
- ``META.json``  — column names / max_edit / n_buckets, written at
  build so serve and append cannot be called with mismatched
  parameters.
- ``MANIFEST``   — an append's intent marker while it commits (below).

Crash discipline (a retried or crashed append must converge to the
rebuild, never serve torn state): an append commits through
``store_io``'s one commit. It stages every rewritten cluster bucket as
a ``_cb=<b>`` sub of ``.clusters_stage`` (laid out like ``clusters/``)
and the fresh base rows in ``.base_append_stage``, then writes the
``MANIFEST`` intent — the commit point for BOTH legs — and rolls
forward through :func:`_roll_forward`: the buckets swap in, and the
store's extra step moves the staged base part-files into ``base/``.
Every entry point (serve/append/ensure) rolls a leftover MANIFEST
forward first, so a crash after the commit point completes BOTH legs on
the next touch — no crash point lets a serve observe clusters
referencing ids ``base/`` doesn't have (which would silently
mis-resolve golden_name). A crash before it leaves junk stages and an
untouched store, and the retry recomputes from the consistent
pre-append state. After the commit, a retry's id anti-join sees the
(rolled-forward) base rows and is a no-op — deterministic, idempotent
either way. Serialize appends with each other and with serves, the
same single-writer discipline as the staging MERGE and the ANN radii.

Scale shape: serve is the bounded-block delta×base join + O(matches)
window + two cluster-map joins (O(delta) for the bounded blocks the
compound key guarantees); append is O(delta + members of touched
clusters); nothing ever re-pairs the base with itself after the build.

Reference parity: the reference (a pandas ELT service) has no MDM
surface at all — this store is north-star scope, modeled on production
MDM serve loops, with results hash-checked against the same recursive-
CTE DuckDB oracle as er_assign_to_golden.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .store_io import roll_forward, write_intent, write_json, write_partitioned

BASE_DIR = "base"
CLUSTERS_DIR = "clusters"
META_FILE = "META.json"
MANIFEST_FILE = "MANIFEST"
CLUSTERS_STAGE_DIR = ".clusters_stage"
APPEND_STAGE_DIR = ".base_append_stage"


def _bucket_col(node_col: str, n_buckets: int):
    return F.pmod(F.xxhash64(F.col(node_col)), F.lit(n_buckets)).cast("int")


def _roll_forward(path: str) -> None:
    """The store's one roll-forward entry: finish a committed append's
    bucket swaps, then its extra step — the fresh base rows move into
    ``base/`` under the same MANIFEST, so no crash can leave clusters
    referencing ids that ``base/`` lacks. Moving part files one by one
    is idempotent across retries (moved files are gone from the stage)."""

    def base_append(_intent) -> None:
        stage = os.path.join(path, APPEND_STAGE_DIR)
        if os.path.isdir(stage):
            for f in os.listdir(stage):
                if f.startswith("part-"):
                    os.replace(os.path.join(stage, f),
                               os.path.join(path, BASE_DIR, f))
            shutil.rmtree(stage, ignore_errors=True)

    roll_forward(os.path.join(path, MANIFEST_FILE),
                 os.path.join(path, CLUSTERS_DIR),
                 os.path.join(path, CLUSTERS_STAGE_DIR), base_append)


def _read_meta(path: str) -> dict:
    with open(os.path.join(path, META_FILE)) as fh:
        return json.load(fh)


def _normalize_passes(block_cols, block_passes) -> list[list[str]]:
    """One canonical blocking spec (round 12 — VERDICT r11 ask #2):
    ``block_cols`` (the original AND-agreement single pass) normalizes
    to the one-element ``block_passes`` list, so a store built either
    way carries the SAME META shape and the serve/append legs have one
    code path. Multi-pass = candidates UNIONED across passes (OR of
    keys) — the recall recipe the batch pairs queries gained in r11,
    now reaching the persisted store and its O(delta) serve."""
    if block_passes is not None:
        if block_cols is not None:
            raise ValueError(
                "pass block_cols OR block_passes, not both"
            )
        passes = [list(p) for p in block_passes]
        if not passes or any(not p for p in passes):
            raise ValueError("block_passes needs >=1 non-empty pass")
        return passes
    if not block_cols:
        raise ValueError("one of block_cols / block_passes is required")
    return [list(block_cols)]


def _pass_keys(passes: list[list[str]]) -> dict:
    """block_passes → the multi_pass_match_* block_keys mapping (each
    pass a compound list of physical base/delta columns)."""
    return {f"p{i}": [F.col(c) for c in p] for i, p in enumerate(passes)}


def _pass_cols(passes: list[list[str]]) -> list[str]:
    seen: list[str] = []
    for p in passes:
        for c in p:
            if c not in seen:
                seen.append(c)
    return seen


def _cluster_map(base: DataFrame, id_col: str, key_col: str,
                 passes: list[list[str]], max_edit: int) -> DataFrame:
    """base pairs → connected components → (node, cluster_id), with
    singletons mapped to themselves — the full-rebuild semantics every
    append must stay equal to. Pairs are the UNION over the blocking
    passes (one-pass stores degenerate to the original single join)."""
    from .dedup import multi_pass_match_pairs
    from .graph import connected_components

    pairs = multi_pass_match_pairs(
        base, key_col=key_col, id_col=id_col,
        block_keys=_pass_keys(passes), max_edit=max_edit,
    )
    comp = connected_components(pairs, "id_a", "id_b")
    return (
        base.select(F.col(id_col).alias("node"))
        .join(comp, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("component"), F.col("node"))
            .cast("bigint").alias("cluster_id"),
        )
    )


def build_er_index(
    base: DataFrame,
    path: str,
    key_col: str,
    id_col: str,
    block_cols: list[str] | None = None,
    max_edit: int = 2,
    n_buckets: int = 32,
    block_passes: list[list[str]] | None = None,
) -> None:
    """One-shot build: persist the blocked base records and the full
    cluster map. Write order is the torn-store discipline: ``base`` and
    ``META`` first, ``clusters`` LAST — its ``_SUCCESS`` is the gate,
    so a crash mid-build rebuilds instead of serving half a map.

    ``block_passes`` (round 12) is the multi-pass union spec — a list
    of independent compound blocking keys whose candidates are UNIONED
    (build, serve, and append alike, so append ≡ rebuild holds per
    pass set); ``block_cols`` remains the one-pass shorthand."""
    passes = _normalize_passes(block_cols, block_passes)
    cols = [id_col, key_col, *_pass_cols(passes)]
    # one row per id even if the input carries replays (the streaming
    # sink's FIRST batch can): duplicate ids in base/ would make every
    # golden join on the id fan out (round-10 review finding)
    base = base.select(*cols).dropDuplicates([id_col])
    if base.isEmpty():
        # fail loud: a zero-record build would write a cluster map whose
        # hive-partitioned dir has _SUCCESS but NO parquet files — the
        # built marker present, every later read/append failing with
        # UNABLE_TO_INFER_SCHEMA (round-10 review finding). Callers with
        # possibly-empty input (the streaming sink) skip instead.
        raise ValueError("ER index build needs at least one record")
    # layout clusters on the FIRST pass's key (one physical order can
    # serve one clustering; later passes' joins still block-bound)
    (base.repartition(*[F.col(c) for c in passes[0]])
        .write.mode("overwrite").parquet(os.path.join(path, BASE_DIR)))
    write_json(os.path.join(path, META_FILE), {
        "key_col": key_col, "id_col": id_col,
        "block_passes": passes, "max_edit": max_edit,
        "n_buckets": n_buckets,
    })
    cmap = _cluster_map(base, id_col, key_col, passes, max_edit)
    write_partitioned(
        # one file per bucket (repartition ON the bucket key): the map
        # is (node, cluster_id) rows — a per-bucket slice is small, and
        # a 32-files-per-bucket layout taxes every serve/append read
        cmap.withColumn("_cb", _bucket_col("node", n_buckets))
        .repartition(F.col("_cb")),
        os.path.join(path, CLUSTERS_DIR), ["_cb"], what="ER cluster map",
    )


def ensure_er_index(base: DataFrame, path: str, **kwargs) -> str:
    """Build-if-absent gate (the serve-many entry point): gated on the
    LAST build artifact's ``_SUCCESS``; also rolls forward a crashed
    append's pending bucket swaps before anyone reads the map.

    The standing META is COMPARED against this call's parameters —
    asking for a different (key_col, block_cols, max_edit, ...) at an
    existing path would otherwise silently serve a cluster map built
    under other matching semantics (the dedup-store params-manifest
    lesson, applied to the store that already had the manifest but
    never checked it)."""
    import inspect

    marker = os.path.join(path, CLUSTERS_DIR, "_SUCCESS")
    if not os.path.exists(marker):
        build_er_index(base, path, **kwargs)
        return path
    _roll_forward(path)
    sig = inspect.signature(build_er_index)
    bound = sig.bind(base, path, **kwargs)
    bound.apply_defaults()
    want = {
        k: bound.arguments[k]
        for k in ("key_col", "id_col", "max_edit", "n_buckets")
    }
    # block_cols and its one-element block_passes spelling are the SAME
    # store — compare the normalized form META records
    want["block_passes"] = _normalize_passes(
        bound.arguments["block_cols"], bound.arguments["block_passes"]
    )
    try:
        with open(os.path.join(path, META_FILE)) as fh:
            have = json.load(fh)
    except (OSError, ValueError):
        have = None
    if have != want:
        raise ValueError(
            f"ER index at {path} was built with {have}, but this call "
            f"asks for {want} — use a different path per parameter set "
            "(serving a mismatched store would return wrong clusters "
            "without any error)"
        )
    return path


def read_er_clusters(spark: SparkSession, path: str) -> DataFrame:
    """Current cluster map (node, cluster_id) — rolls forward first."""
    _roll_forward(path)
    return spark.read.parquet(os.path.join(path, CLUSTERS_DIR)).select(
        "node", "cluster_id"
    )


def assign_from_index(
    spark: SparkSession,
    path: str,
    delta: DataFrame,
) -> DataFrame:
    """The O(delta) serve twin of er_assign_to_golden, reading the
    STANDING store instead of recomputing base pairs + components per
    call: nearest base match per arriving record (min edit distance,
    min base id), that match's standing cluster, and the cluster's
    golden name (the base record whose id IS the cluster label);
    unmatched arrivals seed their own singleton cluster. Returns
    (delta_id, cluster_id, golden_name, edit_distance, matched) —
    value-identical to the recompute-in-query twin, which is what the
    driver hash-checks.

    Round 12 (VERDICT r11 ask #2): the match is multi_pass_match_delta
    — the union over the store's blocking passes — so the O(delta)
    serve catches the same leading-token-typo class the batch pairs
    queries gained in r11; the standing golden store can no longer
    diverge from what a fresh batch build would conclude."""
    from pyspark.sql import Window

    from .dedup import multi_pass_match_delta

    _roll_forward(path)
    meta = _read_meta(path)
    id_col, key_col = meta["id_col"], meta["key_col"]
    base = spark.read.parquet(os.path.join(path, BASE_DIR))
    clusters = read_er_clusters(spark, path)
    m = multi_pass_match_delta(
        base, delta, key_col=key_col, id_col=id_col,
        block_keys=_pass_keys(meta["block_passes"]),
        max_edit=meta["max_edit"],
    )
    w = Window.partitionBy("delta_id").orderBy("edit_distance", "base_id")
    best = (
        m.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("delta_id", "base_id", "edit_distance")
    )
    cluster_of = clusters.select(
        F.col("node").alias("base_id"), F.col("cluster_id").alias("_cl")
    )
    golden = base.select(
        F.col(id_col).alias("_gid"), F.col(key_col).alias("_gname")
    )
    return (
        delta.select(
            F.col(id_col).alias("delta_id"),
            F.col(key_col).alias("_own_name"),
        )
        .join(best, "delta_id", "left")
        .join(cluster_of, "base_id", "left")
        .withColumn(
            "cluster_id",
            F.coalesce(F.col("_cl"), F.col("base_id"), F.col("delta_id"))
            .cast("bigint"),
        )
        .join(golden, F.col("_gid") == F.col("cluster_id"), "left")
        .select(
            "delta_id",
            "cluster_id",
            F.coalesce(
                F.when(F.col("base_id").isNotNull(), F.col("_gname")),
                F.col("_own_name"),
            ).alias("golden_name"),
            "edit_distance",
            F.col("base_id").isNotNull().alias("matched"),
        )
    )


def append_to_er_index(
    spark: SparkSession,
    path: str,
    new_records: DataFrame,
) -> int:
    """Grow the store, O(delta + touched-cluster members) per append,
    REBUILD-EQUAL: after the append, ``clusters/`` matches what
    build_er_index would produce on the grown base — including cluster
    MERGES (a new record bridging two standing clusters collapses them
    to one label, exactly as the batch pass would conclude).

    1. one row per id: dedupe ids WITHIN the batch (source replays),
       then drop ids already in ``base/`` (idempotent retry — a
       one-column index-sized read);
    2. edge set: delta×base matches within blocks + delta×delta pairs
       (new records can also duplicate each other). The delta×base
       leg necessarily BLOCK-SCANS the standing base's key columns to
       find matches — a linear scan-class coefficient against store
       size (round-18 probe attribution: ~23 ms per sf0.1-replica of
       base, the whole er_append marginal; the raw id anti-join and
       cluster-map reads measure flat). At dimension scale (entity
       bases, not corpora) this scan is the operator's price of
       rebuild-equality; co-partitioning the base by block key would
       trade it for a bucketed layout if an entity base ever grows
       corpus-sized;
    3. bounded relabel: connected components over ONLY the touched
       subgraph — members of standing clusters hit by an edge (pulled
       in as star edges node→cluster_id, which preserve each cluster's
       connectivity and its min-id label) plus the fresh records;
    4. rewrite ONLY the cluster-map buckets containing relabeled nodes
       (stage → MANIFEST → roll forward, the crash discipline in the
       module docstring);
    5. the ``base/`` growth is staged too and committed by the SAME
       manifest — bucket swaps and base append roll forward as one
       transaction, so no crash point lets a serve observe clusters
       referencing ids that ``base/`` doesn't have (which would
       silently mis-assign golden_name). Before the manifest commit
       nothing is visible (retry recomputes); after it, roll-forward
       completes both legs (retry's id anti-join is then a no-op).

    Returns the number of appended records."""
    from .dedup import multi_pass_match_delta, multi_pass_match_pairs
    from .graph import connected_components

    _roll_forward(path)
    meta = _read_meta(path)
    id_col, key_col = meta["id_col"], meta["key_col"]
    passes, max_edit = meta["block_passes"], meta["max_edit"]
    n_buckets = meta["n_buckets"]
    base = spark.read.parquet(os.path.join(path, BASE_DIR))
    existing = base.select(F.col(id_col))
    fresh = (
        new_records.select(id_col, key_col, *_pass_cols(passes))
        # intra-batch dedup: the anti-join only screens against the
        # STANDING base — a batch replaying the same id twice would
        # append duplicate base rows and fan out every later golden
        # join on that id (round-10 review finding)
        .dropDuplicates([id_col])
        .join(existing, id_col, "left_anti")
        .cache()
    )
    members = updated = None
    try:
        n_fresh = fresh.count()
        if n_fresh == 0:
            return 0
        db = multi_pass_match_delta(
            base, fresh, key_col=key_col, id_col=id_col,
            block_keys=_pass_keys(passes), max_edit=max_edit,
        ).select(
            F.col("delta_id").alias("u"), F.col("base_id").alias("v")
        )
        dd = multi_pass_match_pairs(
            fresh, key_col=key_col, id_col=id_col,
            block_keys=_pass_keys(passes), max_edit=max_edit,
        ).select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        clusters = spark.read.parquet(
            os.path.join(path, CLUSTERS_DIR)
        ).select("node", "cluster_id")
        touched_cl = (
            clusters.join(
                db.select(F.col("v").alias("node")).distinct(), "node"
            ).select("cluster_id").distinct()
        )
        # cached: members feeds the star edges, sub_nodes, AND (via
        # sub_nodes) both `updated` actions and the `keep` anti-join —
        # uncached, the delta×base levenshtein block join re-executed
        # once per consumer (measured 3x — round-10 review fix)
        members = clusters.join(touched_cl, "cluster_id").cache()
        star = members.select(
            F.col("node").alias("u"), F.col("cluster_id").alias("v")
        )
        comp = connected_components(db.union(dd).union(star), "u", "v")
        sub_nodes = (
            members.select("node")
            .union(fresh.select(F.col(id_col).alias("node")))
            .distinct()
        )
        updated = (
            sub_nodes.join(comp, "node", "left")
            .select(
                "node",
                F.coalesce(F.col("component"), F.col("node"))
                .cast("bigint").alias("cluster_id"),
            )
            .withColumn("_cb", _bucket_col("node", n_buckets))
            .cache()  # consumed by the collect below AND the staged write
        )
        # O(n_buckets) metadata collect — which buckets get rewritten
        touched_b = sorted(
            r[0] for r in updated.select("_cb").distinct().collect()
        )
        cl_root = os.path.join(path, CLUSTERS_DIR)
        # direct-path read of ONLY the touched bucket dirs (round 13):
        # `.where(_cb.isin(...))` prunes partitions but still pays a
        # partition-DISCOVERY listing of every _cb= dir at plan time —
        # the same O(n_buckets) listing term the maintenance probe
        # attributed on the SCD2 store's 16-vs-512 A/B. The touched
        # set is known before the read, so read those dirs and nothing
        # else; basePath keeps _cb as a partition column. A touched
        # bucket with no live dir simply has no standing rows to keep.
        live_b = [
            b for b in touched_b
            if os.path.isdir(os.path.join(cl_root, f"_cb={b}"))
        ]
        if live_b:
            keep = (
                spark.read.option("basePath", cl_root)
                .parquet(*[os.path.join(cl_root, f"_cb={b}")
                           for b in live_b])
                .select("node", "cluster_id", "_cb")
                .join(sub_nodes, "node", "left_anti")
            )
            staged = keep.unionByName(updated)
        else:
            staged = updated
        # one output file per touched bucket, not one per shuffle
        # partition: a 50-row micro-batch append otherwise strews ~32
        # KB-files into every touched bucket and the store's read cost
        # grows with APPEND COUNT, not data (the profiled x1 store had
        # accumulated 492 cluster / 190 base part files, and the
        # standing-base read dominated the append's fixed cost)
        staged = staged.repartition(max(len(touched_b), 1), "_cb")
        # stage every touched bucket fully BEFORE the commit point, in
        # ONE job writing a tmp root laid out like clusters/
        stage = os.path.join(path, CLUSTERS_STAGE_DIR)
        shutil.rmtree(stage, ignore_errors=True)
        write_partitioned(staged, stage, ["_cb"], what="ER stage")
        # stage the base/ growth too: the cluster-map swaps and the
        # base append commit as ONE manifest transaction, rolled
        # forward together — a crash between them previously let a
        # serve observe clusters referencing ids absent from base/
        # and silently mis-assign golden_name (round-10 review fix)
        append_stage = os.path.join(path, APPEND_STAGE_DIR)
        shutil.rmtree(append_stage, ignore_errors=True)
        # one part file per append (delta-sized micro-batches): see the
        # staged-write coalesce above — base/ otherwise grows one file
        # per shuffle partition per append and every later append's
        # standing-base read pays footer overhead per file
        fresh.coalesce(1).write.mode("overwrite").parquet(append_stage)
        # commit point — both legs now roll forward
        write_intent(os.path.join(path, MANIFEST_FILE), stage,
                     [f"_cb={b}" for b in touched_b])
        _roll_forward(path)
        return n_fresh
    finally:
        fresh.unpersist()
        if members is not None:
            members.unpersist()
        if updated is not None:
            updated.unpersist()
