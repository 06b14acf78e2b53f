"""The ELT runner — EP1/EP2 lifecycles from SURVEY.md §3 on Spark.

extract (scan + watermark filter + nested expand) → parse (explode
sub-forms, lowercase, audit columns) → load (staging write:
overwrite on full load, MERGE-upsert on incremental — fixing the
reference's blind append) → bookmark advance ONLY after every output
table committed (the reference advanced lastRun even on partial failure,
reference resources/priorityDataSource.py:185-195,229).

Loads run concurrently on one session: a refresh submits its entities
to a thread pool, and each entity loads its output tables on a pool of
its own, so the scheduler interleaves their small jobs instead of the
driver waiting on one job at a time. Every worker inherits the caller's
job group and local properties. One writer per table: entities that
name a common output table run one after another in config order on one
worker, so a table's writes stay serial. Entities are fail-soft exactly
like the reference's O22: an entity's error is recorded in the results
and the others continue; a table's error leaves its sibling tables
committed and only the entity's bookmark unadvanced.

Staging store: parquet directories (local stand-in for the Azure SQL
staging schema). A real deployment swaps ``StagingStore`` for
``df.write.jdbc(url, f"stg_{name}", mode=...)`` with
``ddl.jdbc_column_types`` — same call shape. Every store write —
overwrite, both MERGE forms, compaction — commits through the one
``operators.store_io`` commit: stage the complete replacement under
``<table>.__tmp__``, write the intent marker ``<table>.__intent__.json``,
roll forward. A write that fails while staging leaves the live table
untouched; a crash after the intent rolls forward on the next access
(to_sql append had no such story).

Store metadata and store reads cost no Spark job: row counts, the
per-partition pk zone maps that let a MERGE open only candidate
partitions, and the table's Spark schema are folded on the driver from
the parquet footers of the table's live files — the one source, with
no copy beside the table to keep in step — so every read names its
schema instead of inferring it. (Older versions also kept a
``<table>.__meta__.json`` sidecar; one left behind is ignored and needs
no rebuild.) An incremental load profiles its cached delta once — one
capped collect of its distinct (pk, load date) tuples — and the CDC
audit's read and the MERGE share that profile.
"""

from __future__ import annotations

import os
import shutil
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import NamedTuple

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DateType, StructField, StructType

from .catalog import primary_key
from .config import EntityConfig, ExtractionConfig
from .operators.store_io import roll_forward, write_intent, write_partitioned
from .operators.flatten import flatten_expand
from .operators.merge import merge_upsert, snapshot_diff
from .operators.normalize import (
    AUDIT_ID_COL,
    AUDIT_TS_COL,
    add_audit_columns,
    align_schemas,
    lowercase_columns,
)
from .operators.watermark import watermark_filter
from .sources.parquet import load_table

SUBFORM_SUFFIX = "_subform"


PARTITION_COL = "_load_date"
_AUDIT_TS = AUDIT_TS_COL  # single source of truth: operators/normalize.py
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


class DeltaProfile(NamedTuple):
    """A delta's key profile (:meth:`StagingStore._delta_profile`)."""

    cols: list  # per pk column: (col, value list | None, range | None, has-null)
    subs: list[str] | None  # the delta's own partition subs; None: unstamped


@dataclass
class StagingStore:
    """Parquet-backed staging layer: ``stg_<entity>`` tables under a root
    dir, partitioned by the load's watermark date.

    Tables carrying the audit timestamp are written
    ``partitionBy(_load_date)`` where ``_load_date =
    date(extractiontimestamputc)`` — the run's bookmark date. Incremental
    MERGE then rewrites ONLY touched partitions (the delta's own dates plus
    any partition still holding an old version of a delta PK), the
    parquet-directory equivalent of Delta's ``replaceWhere``: at 100 TB an
    incremental run moves O(delta + matched partitions), never the whole
    table. Tables without audit columns fall back to the unpartitioned
    whole-table form.

    Every write commits the same way (:meth:`_stage` then
    :meth:`_commit`), through ``store_io``'s one commit: the complete
    replacement of some subs — touched partition dirs, or ``""`` for
    the whole table — is written under the sibling ``<table>.__tmp__``
    (its row count read from the footers of the files just written),
    then the intent marker ``<table>.__intent__.json`` names the subs,
    and :meth:`_recover` rolls it forward. Before the marker nothing
    live has changed; after it, the next read or write finishes the
    commit.

    Zone maps, row counts and the Spark schema have one source: the
    footers of the table's live files, folded on the driver by
    :meth:`_fold_footers` at each use. The exact per-partition pk
    min/max let the MERGE's old-version probe and the CDC audit's read
    open only partitions whose range can hold a delta key — O(delta)
    for the production shape (monotonic ids: inserts land above every
    standing range, updates hit recent partitions), not O(store). The
    footers change only with the files, so the stats cannot drift from
    the data or outlive a crashed commit. A ``<table>.__meta__.json``
    left by an older version, which kept a copy there, is ignored.
    """

    root: str

    def path(self, table: str) -> str:
        return os.path.join(self.root, table.lower())

    def exists(self, table: str) -> bool:
        return os.path.isdir(self.path(table))

    def _tmp_path(self, table: str) -> str:
        return self.path(table) + ".__tmp__"

    _NULL_PART = "__HIVE_DEFAULT_PARTITION__"
    _DELTA_VALS_CAP = 50_000  # distinct delta pk tuples; above: ranges

    @classmethod
    def _part_sub(cls, v) -> str:
        """Partition value (date | None) → hive sub-dir name."""
        name = v.isoformat() if v is not None else cls._NULL_PART
        return f"{PARTITION_COL}={name}"

    @staticmethod
    def _stat_val(v):
        """JSON-safe min/max, or None when the pk type's driver-side
        ordering can't be trusted to mirror Spark's (Decimal, timestamp,
        ...) — a None bound makes the partition an always-candidate,
        never a wrong prune. int/float/str are safe: Python's str
        compare is code-point order, which equals Spark's UTF-8 binary
        order for valid Unicode. float NaN is NOT safe (every ordered
        comparison is False, so a NaN bound would prune a partition
        that can match) — unknown, therefore always-candidate."""
        if isinstance(v, float) and v != v:
            return None
        return v if isinstance(v, (int, float, str)) \
            and not isinstance(v, bool) else None

    @classmethod
    def _fold_footers(cls, root: str, pk: list[str] | None
                      ) -> tuple[dict, StructType]:
        """``(zone map, schema)`` of the parquet files under ``root``,
        folded on the driver from their footers (no Spark job).

        The zone map is exact per sub: per-row-group ``num_rows`` and
        per-column min/max/null_count give {sub: {rows, min, max,
        null[, cols]}}, sub ``""`` for files at the root; {sub: {rows}}
        without ``pk``. The map covers the FULL composite key: pk[0]'s
        min/max/null sit in the entry itself, and pk[1:] land under
        ``cols`` as independent per-column ranges: a partition can hold
        key (a, b) only if a fits pk[0]'s range AND b fits pk[1]'s — a
        superset of the true candidates (conservative, never wrong) that
        still prunes stores whose first key is uninformative ((tenant,
        seq)).

        Every row-group bound passes through :meth:`_stat_val` and None
        absorbs: a missing bound (no statistics, a type pyarrow cannot
        decode) or an unsafe one (NaN, Decimal, date)
        leaves the partition's bound unknown, i.e. always-candidate; a
        chunk without null counts reads as null-bearing. Folding per
        value would not do: Python's min/max over NaN depends on order.
        The fold equals Spark's own min/max: an all-null chunk holds no
        bound, and a NaN min marks an all-NaN chunk, which never lowers
        Spark's min (NaN sorts last) while its NaN max already made the
        max unknown. A file without the pk column (written before a
        schema-evolving merge added it) holds only nulls in it, as a
        ``mergeSchema`` read sees it.

        The schema is the union, in first-seen order over the sorted
        paths (older partitions first), of the Spark schemas Spark
        writes into every footer, plus PARTITION_COL as a
        date when the files sit in partition subs: what a
        ``mergeSchema`` read infers, without its job (the store keeps
        one type per column)."""
        import json

        import pyarrow.parquet as pq

        acc: dict = {}  # sub -> {"rows": n, "cols": {col: fold}}
        schemas: dict = {}  # distinct footer schema JSON, first-seen order
        for dirpath, dirs, files in os.walk(root):
            dirs.sort()  # sorted walk: a stable union column order
            sub = "" if dirpath == root else os.path.relpath(dirpath, root)
            for name in sorted(files):
                if not name.endswith(".parquet") or name[0] in "._":
                    continue
                md = pq.read_metadata(os.path.join(dirpath, name))
                schemas.setdefault(md.metadata[_SPARK_SCHEMA_KEY])
                part = acc.setdefault(sub, {"rows": 0, "cols": {
                    c: {"lo": [], "hi": [], "null": False} for c in pk or ()}})
                part["rows"] += md.num_rows
                idx = {md.schema.column(j).path: j
                       for j in range(md.num_columns)}
                for g in range(md.num_row_groups):
                    rg = md.row_group(g)
                    for c, fold in part["cols"].items():
                        if c not in idx:  # file predates the column:
                            fold["null"] = True  # its rows read as null
                            continue
                        s = rg.column(idx[c]).statistics
                        if s is None or not s.has_null_count:
                            fold["lo"].append(None)
                            fold["hi"].append(None)
                            fold["null"] = True
                            continue
                        fold["null"] |= s.null_count > 0
                        if s.null_count == rg.num_rows:
                            continue  # all-null chunk: no bound
                        try:
                            lo, hi = (s.min, s.max) if s.has_min_max \
                                else (None, None)
                        except NotImplementedError:  # undecodable type
                            lo = hi = None
                        if not (isinstance(lo, float) and lo != lo):
                            fold["lo"].append(cls._stat_val(lo))
                        fold["hi"].append(cls._stat_val(hi))

        def bound(vals, pick):
            return None if not vals or None in vals else pick(vals)

        out = {}
        for sub, part in acc.items():
            stats = {c: {"min": bound(f["lo"], min),
                         "max": bound(f["hi"], max), "null": f["null"]}
                     for c, f in part["cols"].items()}
            st = out[sub] = {"rows": part["rows"]}
            if pk:
                st.update(stats[pk[0]])
                if len(pk) > 1:
                    st["cols"] = {c: stats[c] for c in pk[1:]}
        fields = {f.name: f for raw in schemas
                  for f in StructType.fromJson(json.loads(raw)).fields}
        if any(sub.startswith(f"{PARTITION_COL}=") for sub in out):
            fields.setdefault(PARTITION_COL, StructField(PARTITION_COL, DateType()))
        return out, StructType(list(fields.values()))

    @staticmethod
    def _col_can_match(st: dict, svals, drange, dhasnull: bool) -> bool:
        """One column's zone-map check — conservative: unknown bounds
        or uncomparable types can always match. ``svals`` pre-sorted."""
        import bisect

        if dhasnull and st.get("null"):
            return True
        lo, hi = st.get("min"), st.get("max")
        if lo is None or hi is None:
            return True
        try:
            if svals is not None:
                i = bisect.bisect_left(svals, lo)
                return i < len(svals) and svals[i] <= hi
            if drange is not None:
                return not (drange[1] < lo or drange[0] > hi)
            return True
        except TypeError:  # pk type changed under the stats
            return True

    @classmethod
    def _prune_candidates(cls, parts: dict, profiles: list) -> list[str]:
        """Partitions whose zone map can hold a delta key — candidate
        iff EVERY profiled pk column can match (round 17: composite
        keys prune on all columns). Conservative throughout: unknown
        bounds pass, uncomparable types pass. ``profiles`` is
        :meth:`_delta_profile`'s ``cols``, value lists sorted."""
        return [sub for sub, st in parts.items() if all(
            cls._col_can_match(st if j == 0 else st["cols"][c],
                               svals, drange, dhasnull)
            for j, (c, svals, drange, dhasnull) in enumerate(profiles))]

    def _delta_profile(self, delta: DataFrame, pk: list[str]) -> DeltaProfile:
        """The delta's key profile for zone-map pruning: per pk column
        (col, value list | None, (min, max) | None, has-null), and the
        partition subs the delta itself writes (None when it carries no
        audit timestamp).

        One action collects the delta's distinct (pk..., PARTITION_COL)
        tuples, capped at CAP+1; each column's value list and has-null
        flag, and the subs, are built on the driver. A delta with at
        most CAP distinct tuples (the incremental norm) is thereby
        profiled completely in that one action, whatever the pk width.
        Only a delta with more than CAP tuples pays a second action, one
        ``agg`` of per-column min/max/has-null and the set of load
        dates, and prunes on ranges instead. The cap counts TUPLES, so a
        composite key falls back to ranges while a single column may
        still have few values — fewer partitions pruned, never a wrong
        prune.

        Value lists are sorted and drop nulls (the has-null flag carries
        them) and NaN floats (they break bisect ordering; any partition
        holding NaN has a None bound and stays a candidate). A range is
        None when a bound is driver-uncomparable (:meth:`_stat_val`):
        every partition then stays a candidate on that column."""
        cap = self._DELTA_VALS_CAP
        part = self._with_partition(delta)
        src, dates = (delta, []) if part is None else (part, [PARTITION_COL])
        rows = src.select(*pk, *dates).distinct().limit(cap + 1).collect()
        if len(rows) <= cap:
            cols = [[r[i] for r in rows] for i in range(len(pk))]
            return DeltaProfile(
                [(c, sorted(v for v in vals if v is not None and v == v),
                  None, None in vals) for c, vals in zip(pk, cols)],
                sorted({self._part_sub(r[-1]) for r in rows}) if dates else None)
        aggs = []
        for i, c in enumerate(pk):
            aggs += [F.min(c).alias(f"_lo{i}"), F.max(c).alias(f"_hi{i}"),
                     F.max(F.col(c).isNull()).alias(f"_null{i}")]
        if dates:  # a struct keeps the null date collect_set would drop
            aggs.append(F.collect_set(F.struct(PARTITION_COL)).alias("_subs"))
        st = src.agg(*aggs).collect()[0]
        out = []
        for i, c in enumerate(pk):
            lo, hi = self._stat_val(st[f"_lo{i}"]), self._stat_val(st[f"_hi{i}"])
            drange = (lo, hi) if lo is not None and hi is not None else None
            out.append((c, None, drange, bool(st[f"_null{i}"])))
        return DeltaProfile(out, sorted(
            {self._part_sub(r[0]) for r in st["_subs"]}) if dates else None)

    def read_for_keys(self, spark: SparkSession, table: str,
                      keys: DataFrame, pk: list[str], *,
                      profile: DeltaProfile) -> DataFrame:
        """Read ONLY the partitions whose pk zone maps can hold a key of
        ``keys`` — exact for any consumer that only needs rows matching
        those keys (the CDC audit's standing-side restriction): a
        non-candidate partition provably contains none of them. The
        zone maps are the live footers' fold (:meth:`_fold_footers`),
        so every table prunes; an unpartitioned table is the one sub
        ``""``, read whole or not at all. O(candidate partitions)
        instead of O(store) — the same pruning the MERGE's old-version
        probe uses. ``profile`` is ``keys``' :meth:`_delta_profile`,
        which the caller shares with the MERGE. A key column the table
        lacks reads as typed nulls (:meth:`_with_keys`). With no
        candidate partition the result is an empty frame of ``keys``'
        schema, and the table's files are not opened at all. Starts no
        Spark job."""
        self._recover(table)
        parts, schema = self._fold_footers(self.path(table), pk)
        df = self._read_subs(spark, table,
                             self._prune_candidates(parts, profile.cols),
                             self._with_keys(schema, pk, keys))
        return keys.limit(0) if df is None else df.drop(PARTITION_COL)

    @staticmethod
    def _with_keys(schema: StructType, pk: list[str],
                   like: DataFrame) -> StructType:
        """``schema`` plus each pk column it lacks, typed as in ``like``:
        a read that names the column gets nulls. A table whose files
        all predate the schema-evolving merge that added a key column
        holds only nulls in it; a null key never matches, so its rows
        stay and the delta's are new."""
        return StructType(schema.fields + [
            like.schema[c] for c in pk if c not in schema.names])

    def _read_subs(self, spark: SparkSession, table: str, subs: list[str],
                   schema: StructType) -> DataFrame | None:
        """Direct-path read of named partition sub-dirs with the table's
        ``schema`` (:meth:`_fold_footers`; no inference job) — partition
        discovery lists ONLY these dirs, never the whole table (the
        same O(n_partitions) listing term the SCD2/ER stores shed).
        Returns None when no named sub exists on disk."""
        root = self.path(table)
        dirs = [os.path.join(root, s) for s in subs
                if os.path.isdir(os.path.join(root, s))]
        if not dirs:
            return None
        return spark.read.schema(schema).option("basePath", root).parquet(*dirs)

    @staticmethod
    def _with_partition(df: DataFrame) -> DataFrame | None:
        if _AUDIT_TS in df.columns:
            return df.withColumn(PARTITION_COL, F.to_date(F.col(_AUDIT_TS)))
        return None

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        """Read a staging table. The partition column is an internal layout
        detail and is dropped — readers see exactly what was staged."""
        # roll forward any crashed commit before reading — a reader
        # must never see the mid-swap state (partition deleted, its
        # replacement still in tmp)
        self._recover(table)
        # the footers' union schema (:meth:`_fold_footers`): after a
        # schema-evolving merge older partitions lack the new columns
        # and read them as nulls, as a mergeSchema read would, without
        # its inference job
        path = self.path(table)
        return spark.read.schema(self._fold_footers(path, None)[1]) \
            .parquet(path).drop(PARTITION_COL)

    def overwrite(self, df: DataFrame, table: str,
                  pk: list[str] | None = None) -> int:
        """Full replace, staged and committed like every other write: a
        source that fails mid-write leaves the old table in place.
        Returns the staged footers' row count. A zero-row audit-stamped
        replace removes the table (``exists()`` False is the staging
        "empty" signal): a partitioned dir with no parquet files would
        wedge every later read with UNABLE_TO_INFER_SCHEMA.

        ``pk`` is accepted and unused: the zone maps of any key are
        folded from the live footers when a merge or read needs them.
        It stays for callers that still pass it (the benchmark's OData
        workload)."""
        self._recover(table)
        part = self._with_partition(df)
        rows = self._stage(df if part is None else part, table)
        self._commit(table, [""])
        return rows

    def merge(self, spark: SparkSession, delta: DataFrame, table: str,
              pk: list[str], *, profile: DeltaProfile | None = None) -> int:
        """MERGE-upsert delta into the staging table (O13 incremental path,
        dedup fix), rewriting only touched partitions.

        Touched = partitions the delta writes into ∪ partitions still
        holding an old version of a delta PK. The first come from the
        delta's key profile (``profile``, :meth:`_delta_profile`,
        computed here when not given). The second are found with a
        column-pruned PK semi-join — a cheap scan, not a rewrite — over
        the zone-map candidates the delta does not write into anyway (a
        key column the table lacks probes as nulls,
        :meth:`_with_keys`); when every candidate is one of the delta's
        own partitions, no probe runs. The merged touched partitions are
        staged and committed together, so readers never see a
        half-written partition; untouched partitions' files are never
        opened, let alone rewritten. The probe's ``collect`` returns
        partition VALUES (load dates) — partition metadata, not data.

        MERGE SEMANTICS — GROUP-replace, not row-replace (round-11
        review, resolved the other way after its blanket-PK-dedup
        "fix" was caught by test_incremental_overlap_idempotent): the
        anti-join + union replaces ALL target rows sharing a key with
        ALL delta rows sharing it. For row-identified tables that is
        exactly SQL/Delta MERGE whole-row-replace; for CHILD tables
        merged on the PARENT key (lineitem on o_orderkey — the
        reference's sub-form shape) the delta legitimately carries many
        rows per key and the group swap IS the contract (Delta's WHEN
        MATCHED DELETE + INSERT ALL pattern) — deduping the delta on
        the key here would silently discard every child but one.
        Callers with a row-identifying PK that need source-side dedup
        apply :func:`operators.merge.dedup_within` (deterministic
        content-hash winner) before calling merge.
        """
        self._recover(table)
        if not self.exists(table):
            return self.overwrite(delta, table)
        partitioned = any(
            e.startswith(f"{PARTITION_COL}=")
            for e in os.listdir(self.path(table))
        )
        if not partitioned or self._with_partition(delta) is None:
            # whole-table form: the merged table is the staged
            # replacement of sub "" (schema evolution: align to the union)
            target, delta = align_schemas(self.read(spark, table), delta)
            rows = self._stage(merge_upsert(target, delta, pk), table)
            self._commit(table, [""])
            return rows

        parts, schema = self._fold_footers(self.path(table), pk)
        profile = profile or self._delta_profile(delta, pk)
        # the delta's own partitions are rewritten whatever they hold
        # (zone maps are conservative, so skipping their probe is exact)
        subs = set(profile.subs)
        probe = self._read_subs(spark, table, [
            s for s in self._prune_candidates(parts, profile.cols)
            if s not in subs], self._with_keys(schema, pk, delta))
        if probe is not None:
            subs.update(self._part_sub(r[0]) for r in probe
                        .join(delta.select(*pk), on=pk, how="left_semi")
                        .select(PARTITION_COL).distinct().collect())
        subs = sorted(subs)
        # merge target: direct-path read of ONLY the touched partitions
        # (subs absent on disk hold nothing to merge against)
        target = self._read_subs(spark, table, subs, schema)
        # schema evolution: widen both sides to the column union (new
        # source fields survive; dropped fields read back as nulls). The
        # target carries the whole table's schema even when no touched
        # sub exists yet, so the merged schema never narrows the table's.
        target, delta = align_schemas((
            spark.createDataFrame([], schema) if target is None else target
        ).drop(PARTITION_COL), delta)
        staged = self._stage(
            self._with_partition(merge_upsert(target, delta, pk)), table)
        self._commit(table, subs)
        # the table's row count without a store-wide count: the live
        # footers' rows of the untouched partitions plus the staged rows
        return sum(st["rows"] for s, st in parts.items()
                   if s not in subs) + staged

    def _stage(self, df: DataFrame, table: str, cluster: bool = False) -> int:
        """Write ``df`` — the complete replacement of every sub it holds
        — under ``<table>.__tmp__``, hive-partitioned when it carries
        PARTITION_COL. Returns the row count, summed from the footers
        the write just produced (:meth:`_fold_footers`): no second
        Spark job and no read-back. A zero-row partitioned write leaves
        no tmp dir and returns 0 (every sub it covers is then
        emptied)."""
        tmp = self._tmp_path(table)
        # an earlier failed stage's debris must not ride along (a
        # dynamic-partition-overwrite session would keep its subs)
        shutil.rmtree(tmp, ignore_errors=True)
        if PARTITION_COL in df.columns:
            write_partitioned(df, tmp, [PARTITION_COL], on_empty="skip",
                              cluster=cluster)
        else:
            df.write.mode("overwrite").parquet(tmp)
        zm = self._fold_footers(tmp, None)[0]
        return sum(st["rows"] for st in zm.values())

    def _commit(self, table: str, subs: list[str]) -> None:
        """Commit the staged ``subs``: write the intent, roll forward."""
        write_intent(self._intent_path(table), self._tmp_path(table), subs)
        self._recover(table)

    def _intent_path(self, table: str) -> str:
        # sibling of the table dir: survives whole-table swaps
        return self.path(table) + ".__intent__.json"

    def _recover(self, table: str) -> None:
        """The table's one roll-forward entry (called before every read
        and write, and by :meth:`_commit`): finish a pending commit. No
        intent marker → nothing live changed: a leftover tmp is an
        unfinished (or in-flight) stage that the next write replaces,
        never read and never deleted here."""
        roll_forward(self._intent_path(table), self.path(table),
                     self._tmp_path(table))

    def drop_all(self) -> int:
        """O17: drop every staging table; returns how many tables (the
        root's table dirs — not intents or staged copies)."""
        if not os.path.isdir(self.root):
            return 0
        n = sum(1 for e in os.listdir(self.root)
                if os.path.isdir(os.path.join(self.root, e))
                and not e.endswith(".__tmp__"))
        shutil.rmtree(self.root)
        return n

    def compact(
        self, spark: SparkSession, table: str,
        max_files_per_partition: int = 1,
    ) -> int:
        """SMALL-FILE COMPACTION: rewrite any partition holding more
        than ``max_files_per_partition`` parquet files down to that
        budget — the maintenance pass every long-lived incremental
        table needs, because each MERGE rewrites touched partitions
        with the writer's parallelism and a year of daily deltas turns
        the table into thousands of KB-files (open/footer overhead
        dominates scans long before data size does). Data-identical by
        construction: the over-budget partitions are read and restaged
        clustered on the partition value (one file each), or coalesced
        for the unpartitioned form, then committed through the same
        stage-and-swap as every write — crash-safe, and readers never
        see a half state or a staged copy (tmp is a sibling of the
        table dir). Partitions within budget are never opened. Returns
        partitions rewritten — 0 means the pass was a no-op
        (idempotent)."""

        def n_files(d: str) -> int:
            return sum(1 for f in os.listdir(d) if f.startswith("part-"))

        self._recover(table)
        final = self.path(table)
        subs = [p for p in os.listdir(final)
                if p.startswith(f"{PARTITION_COL}=")] or [""]  # "": unpartitioned
        over = [s for s in subs
                if n_files(os.path.join(final, s)) > max_files_per_partition]
        if not over:
            return 0
        staged = self._read_subs(spark, table, over,
                                 self._fold_footers(final, None)[1])
        self._stage(staged.coalesce(max_files_per_partition) if over == [""]
                    else staged, table, cluster=True)
        self._commit(table, over)
        return len(over)


AUDIT_EXCLUDE = (AUDIT_ID_COL, AUDIT_TS_COL)
CHANGE_TYPES = ("inserted", "updated", "unchanged", "deleted")


def cdc_audit_delta(
    target: DataFrame,
    delta: DataFrame,
    pk: list[str],
    exclude_cols: tuple[str, ...] = AUDIT_EXCLUDE,
) -> DataFrame:
    """Per-row CDC audit of an incremental delta against the standing
    staging table — the reference's silent-overwrite gap surfaced
    (VERDICT r8 ask #7): a re-fetched watermark window just overwrites,
    so nobody learns whether the window brought new rows, changed rows,
    or a byte-identical re-read. One row per delta PK, tagged
    ``inserted`` (PK not yet staged) / ``updated`` (staged, data
    differs) / ``unchanged`` (byte-identical re-fetch).

    Shape: the standing table is first RESTRICTED to the delta's PKs
    with a column-pruned left-semi join, then diffed via
    :func:`operators.merge.snapshot_diff` — O(delta), never a scan of
    the untouched table rows, and ``deleted`` can never fire (a
    watermark source re-sends rows; it doesn't retract them). Audit
    columns are excluded from the comparison (a re-fetch always gets a
    fresh extraction id — that's lineage, not change).

    The comparison runs over the UNION of both sides' columns, aligned
    with NULLs (round-11 review: intersecting them made the audit BLIND
    to schema evolution — a source-added column tagged every rewritten
    row 'unchanged' although the merge materially writes the new
    values, and a dropped column's real NULL-out went unreported; the
    merge path itself already aligns to the union, so the audit now
    sees exactly what the merge changes).
    """
    compare = sorted(
        (set(target.columns) | set(delta.columns))
        - set(pk) - set(exclude_cols)
    )
    old = target.join(delta.select(*pk), pk, "left_semi")
    old, delta = align_schemas(old, delta)
    return snapshot_diff(old, delta, pk, compare)


@dataclass
class RunResult:
    entity: str
    # table -> row count of the staging table AFTER the load (full and
    # incremental alike — NOT "rows in the delta": a merge reports the
    # post-merge table size, same semantics as a full overwrite)
    tables: dict[str, int] = field(default_factory=dict)
    error: str | None = None
    cdc: dict[str, dict[str, int]] = field(default_factory=dict)  # table -> {change_type: n}
    cdc_error: str | None = None  # audit is advisory: its failure never fails the load


class PipelineRunner:
    """Config-driven runner replicating EP1 (refreshData) / EP2 (initialDataLoad)."""

    def __init__(self, spark: SparkSession, config: ExtractionConfig, store: StagingStore,
                 source_dir: str):
        self.spark = spark
        self.config = config
        self.store = store
        self.source_dir = source_dir
        # Per-run audit identity (reference resources/priorityDataSource.py:65-66).
        # Regenerated at the top of every refresh_data call — a reused
        # runner must not stamp two runs with one identity, nor advance
        # the bookmark back to construction time forever (which would
        # grow every "incremental" window toward a full reload).
        self._new_run_identity()

    def _new_run_identity(self) -> None:
        self.extraction_id = str(uuid.uuid4())
        self.extraction_ts = datetime.now(timezone.utc).replace(tzinfo=None)

    # -- extract ------------------------------------------------------------

    def extract_entity(self, ent: EntityConfig, incremental: bool) -> DataFrame:
        """O1+O3+O4: scan + watermark-filter the parent entity.

        The filter is applied directly on the scan so Catalyst pushes it
        into parquet row-group pruning (at 100 TB with date partitioning:
        partition pruning).
        """
        parent = load_table(self.spark, self.source_dir, ent.entity_id)
        bound = ent.lower_bound(incremental)
        if bound is not None:
            parent = watermark_filter(
                parent, ent.filter_field, self.config.to_utc(bound).replace(tzinfo=None)
            )
        return parent

    @staticmethod
    def _child_key(
        child: DataFrame, parent_key: str, explicit: dict[str, str] | None = None
    ) -> str:
        """Map a parent PK to the child FK column (o_orderkey → l_orderkey).

        Resolution order: 1. the entity's explicit ``expandKeys`` config
        ({parent_key: child_key} — always wins, and is validated against
        the child schema); 2. exact name match; 3. suffix-stem heuristic.
        The heuristic REFUSES ambiguous schemas (two child columns sharing
        the stem) instead of silently picking the first — configure
        ``expandKeys`` to disambiguate.
        """
        explicit = explicit or {}
        if parent_key in explicit:
            mapped = explicit[parent_key]
            if mapped not in child.columns:
                raise ValueError(
                    f"expandKeys maps {parent_key!r} to {mapped!r}, "
                    f"not a child column; has: {sorted(child.columns)}"
                )
            return mapped
        if parent_key in child.columns:
            return parent_key
        stem = parent_key.split("_", 1)[-1]
        matches = [c for c in child.columns if c.split("_", 1)[-1] == stem]
        if len(matches) > 1:
            raise ValueError(
                f"ambiguous child FK for parent key {parent_key!r}: {matches} "
                "all share the stem — set expandKeys={parent_key: child_key} "
                "in the entity config"
            )
        if matches:
            return matches[0]
        raise ValueError(f"no child column matches parent key {parent_key!r}")

    # -- parse --------------------------------------------------------------

    def parse_entity(self, ent: EntityConfig, parent: DataFrame) -> dict[str, DataFrame]:
        """O6-O10: produce the parent table plus one flattened child table
        per $expand sub-form, each with the parent PK propagated, then
        lowercase + audit columns.

        Returns {output_table_name: DataFrame} — parent as ``stg_<entity>``,
        each sub-form as ``stg_<subform>`` (reference resources/priorityDataSource.py:750-826).
        The child flatten is the join-based ``flatten_expand`` (scale path);
        ``nest_subform``/``explode_subform`` express the same semantics for
        genuinely nested sources and are verified equivalent in tests.
        """
        pk = primary_key(ent.entity_id)
        names = self._output_tables(ent)
        out: dict[str, DataFrame] = {names[0]: self._finish(parent)}
        for table, sub in zip(names[1:], ent.expand):
            child = load_table(self.spark, self.source_dir, sub)
            child_keys = [self._child_key(child, k, ent.expand_keys) for k in pk]
            out[table] = self._finish(flatten_expand(parent, child, pk, child_keys))
        return out

    @staticmethod
    def _output_tables(ent: EntityConfig) -> list[str]:
        """The staging tables ``ent`` writes: ``stg_<entity>``, then one
        ``stg_<subform>`` per $expand entry."""
        return [f"stg_{n.lower()}" for n in [ent.entity_id, *ent.expand]]

    def _finish(self, df: DataFrame) -> DataFrame:
        return add_audit_columns(lowercase_columns(df), self.extraction_id, self.extraction_ts)

    # -- load ---------------------------------------------------------------

    def load_entity(self, ent: EntityConfig, outputs: dict[str, DataFrame],
                    incremental: bool,
                    cdc_audit: bool = False,
                    result: RunResult | None = None) -> dict[str, int]:
        """O13: overwrite on full load, MERGE-upsert on incremental.

        Each output table loads on its own worker (:meth:`_load_table`).
        After the join, the per-table row counts, CDC tallies and CDC
        errors are set on ``result`` in output-table order. A table's
        failure does not stop its siblings: they commit, then this
        raises one error naming every failed table, so the caller leaves
        the entity's bookmark where it was (the group-replace merge
        makes the re-run idempotent).

        Child (sub-form) tables carry the parent PK in place of their own
        FK columns after explosion, so the merge key is parent_pk + the
        child's own non-FK key columns (e.g. lineitem: o_orderkey +
        l_linenumber).

        With ``cdc_audit`` (round-9, VERDICT r8 ask #7): BEFORE each
        incremental merge, :func:`cdc_audit_delta` diffs the delta
        against the standing table; the per-row audit persists to
        ``<table>__cdc`` (overwritten per refresh — the CDC feed of the
        latest window) and its change-type counts land in
        ``result.cdc[table]``. The audit is ADVISORY: any failure in it
        is recorded on ``result.cdc_error`` and the merge proceeds —
        an observability feature must never block the load it observes.
        """
        done = dict(zip(outputs, self._concurrently(
            lambda item: self._load_table(ent, *item, incremental, cdc_audit),
            list(outputs.items()))))
        written = {t: rows for t, (rows, _, _, exc) in done.items() if exc is None}
        if result is not None:
            result.tables = written
            result.cdc = {t: cdc for t, (_, cdc, _, _) in done.items() if cdc}
            result.cdc_error = "; ".join(
                f"{t}: {err}" for t, (_, _, err, _) in done.items() if err) or None
        failed = [f"{t}: {type(exc).__name__}: {exc}"
                  for t, (_, _, _, exc) in done.items() if exc is not None]
        if failed:
            raise RuntimeError("; ".join(failed))
        return written

    def _load_table(self, ent: EntityConfig, table: str, df: DataFrame,
                    incremental: bool, cdc_audit: bool) -> tuple:
        """One output table's load: ``(rows, cdc tally, cdc error, error)``.
        Never raises, so a failing table cannot stop its siblings."""
        src = table.removeprefix("stg_")
        cdc = cdc_err = None
        try:
            if not (incremental and self.store.exists(table)):
                # a full load needs no key: an uncataloged entity (no PK
                # registered) full-loads too
                return self.store.overwrite(df, table), None, None, None
            # the delta plan (scan → watermark filter → flatten → audit
            # columns) feeds the one key profile below (shared by
            # read_for_keys and merge), the audit write, merge's
            # touched-partition probe (when it has candidates beyond the
            # delta's own partitions) and its stage write — cache it
            # once instead of re-running the full extract per action
            df = df.cache()
            try:
                if src == ent.entity_id.lower():
                    key = primary_key(src)
                else:  # sub-form child
                    key = primary_key(ent.entity_id) + [
                        k for k in primary_key(src) if k in df.columns]
                profile = self.store._delta_profile(df, key)
                if cdc_audit:
                    try:
                        # zone-map-pruned standing side (round 13): the
                        # audit only needs target rows matching delta
                        # PKs, so non-candidate partitions never open —
                        # O(delta candidates), not O(store), same as
                        # the merge's old-version probe
                        audit = cdc_audit_delta(
                            self.store.read_for_keys(
                                self.spark, table, df, key, profile=profile),
                            df, key,
                        )
                        # change-type tallies observed on the audit's
                        # own write, not re-read from it afterwards
                        tally = Observation()
                        audit = audit.observe(tally, *[
                            F.sum((F.col("change_type") == t).cast("int"))
                            .alias(t) for t in CHANGE_TYPES])
                        # materialize the audit BEFORE the merge swaps
                        # the table's partition dirs out from under it
                        self.store.overwrite(audit, f"{table}__cdc")
                        cdc = {t: n for t, n in tally.get.items() if n}
                    except Exception as exc:  # advisory: never block the load
                        cdc_err = f"{type(exc).__name__}: {exc}"
                return self.store.merge(self.spark, df, table, key,
                                        profile=profile), cdc, cdc_err, None
            finally:
                df.unpersist()
        except Exception as exc:
            return None, cdc, cdc_err, exc

    def _concurrently(self, fn, items: list) -> list:
        """``fn`` over ``items`` on min(len(items), defaultParallelism)
        threads; results in ``items`` order. Each call inherits the
        caller's job group and local properties (a fresh copy per call:
        a shared copy would leak one thread's SQL execution id into
        another's jobs). With pyspark's pinned-thread mode off there is
        nothing to inherit: pyspark hands back the session instead of a
        wrapper, and ``fn`` runs as is."""
        def inheriting(f):
            wrap = inheritable_thread_target(self.spark)
            return f if wrap is self.spark else wrap(f)

        n = min(len(items), self.spark.sparkContext.defaultParallelism)
        with ThreadPoolExecutor(max(n, 1)) as pool:
            futures = [pool.submit(inheriting(fn), x) for x in items]
            return [f.result() for f in futures]

    # -- orchestration (EP1/EP2) ---------------------------------------------

    def refresh_data(self, incremental: bool = True,
                     cdc_audit: bool = False) -> list[RunResult]:
        """EP1: per-entity extract→parse→load→bookmark, fail-soft (O22),
        entities concurrently (:meth:`_writer_chains`); results in config
        order. ``cdc_audit`` opts each incremental merge into the
        persisted per-row change audit (see :meth:`load_entity`)."""
        self._new_run_identity()  # one fresh (id, ts) per run, not per runner
        ents = self.config.entities

        def run_chain(chain: list[int]) -> list[tuple[int, RunResult]]:
            return [(i, self._refresh_entity(ents[i], incremental, cdc_audit))
                    for i in chain]

        done = dict(p for ps in self._concurrently(
            run_chain, self._writer_chains(ents)) for p in ps)
        return [done[i] for i in range(len(ents))]

    def _refresh_entity(self, ent: EntityConfig, incremental: bool,
                        cdc_audit: bool) -> RunResult:
        res = RunResult(entity=ent.entity_id)
        try:
            nested = self.extract_entity(ent, incremental)
            outputs = self.parse_entity(ent, nested)
            self.load_entity(ent, outputs, incremental,
                             cdc_audit=cdc_audit, result=res)
            # Bookmark advances only after EVERY table for this entity
            # committed (fixes reference at-most-once defect).
            ent.last_run = self.config.format_bookmark(
                self.extraction_ts.replace(tzinfo=timezone.utc)
            )
        except Exception as exc:  # fail-soft: record, continue (O22)
            res.error = f"{type(exc).__name__}: {exc}"
        return res

    @classmethod
    def _writer_chains(cls, ents: list[EntityConfig]) -> list[list[int]]:
        """Entity indices in chains that run one after another in config
        order: entities sharing an output table (an entity ``lineitem``
        and ``orders`` with ``expand: [lineitem]``) join one chain, so
        each table has one writer at a time and its writes land in
        config order. The store's commit assumes a single writer per
        table, and an overwrite's last writer wins."""
        chains: list[tuple[set[str], list[int]]] = []
        for i, ent in enumerate(ents):
            tables, chain = set(cls._output_tables(ent)), [i]
            for c in [c for c in chains if c[0] & tables]:
                chains.remove(c)
                tables |= c[0]
                chain = c[1] + chain
            chains.append((tables, sorted(chain)))
        return sorted(c for _, c in chains)

    def initial_data_load(self) -> list[RunResult]:
        """EP2: full load (dataStartDate lower bound, overwrite mode)."""
        return self.refresh_data(incremental=False)

    def reset_data_platform(self) -> dict:
        """EP3: destructive rebuild — drop every staging table, then run
        the full initial load (reference app.py:200-253: drop views+tables,
        drop metadata DB, re-seed, redeploy DDL, full load). The catalog
        here is in-code (no metadata DB to drop); DDL is re-emitted by the
        staging writes themselves."""
        dropped = self.store.drop_all()
        results = self.initial_data_load()
        return {"tablesDropped": dropped, "load": results}
