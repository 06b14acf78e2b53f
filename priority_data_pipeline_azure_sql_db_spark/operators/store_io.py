"""Guarded hive-partitioned writes for store artifacts.

Why this exists (round-10 review): writing ZERO rows through
``partitionBy(...)`` produces a directory holding ``_SUCCESS`` but no
parquet data files — every later read of it fails with
UNABLE_TO_INFER_SCHEMA, wedging the store behind its own
completed-build marker. The store paths (ER index, IVF / near-dup ANN
indexes, the SCD2 log fold, streaming ER) each grew a bespoke guard
for this; routing every partitioned store write
through :func:`write_partitioned` fixes the CLASS once, so the next
partitioned write added to the codebase can't silently re-introduce
the wedge.

Division of labor: the empty POLICY stays at the call site — a
one-shot index build fails loud before writing anything, a streaming
fold skips the batch — because those gates must fire BEFORE the write
destroys or commits state. (The staging store needs no gate: it stages
every write under a temp dir with ``on_empty="skip"`` and only then
commits, so a zero-row stage simply empties what it replaces.) This
helper is the backstop underneath them: it detects a write that landed
zero data files WITHOUT an extra Spark job (an O(partitions) local
directory walk, vs ``isEmpty()``'s extra action per write — the wrong
cost on the append/fold hot paths) and removes the unreadable
directory instead of leaving the wedge, then raises or skips per
``on_empty``.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame


def _has_data_files(path: str) -> bool:
    """True iff any parquet data file exists under ``path`` (hidden /
    marker entries like ``_SUCCESS`` and ``.crc`` don't count)."""
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))
                   or d.count("=")]  # descend into hive key=value dirs
        for f in files:
            if not f.startswith((".", "_")):
                return True
    return False


def swap_staged_buckets(root: str, buckets, key: str = "_kb") -> None:
    """The crash-safe per-bucket swap shared by the ER cluster store
    and the SCD2 history store (round-12 review: two hand-rolled copies
    of this rename dance is exactly the crash-critical code that must
    not drift). For each bucket b: ``<root>/.stage_<b>`` (fully written
    BEFORE the caller's manifest commit) replaces ``<root>/<key>=<b>``
    via rename-aside — live → .old_<b>, stage → live, .old removed.
    Idempotent across crashes at any point: a consumed stage dir means
    live already is the new version; a leftover .old dir is removed.
    Callers drive this from their manifest roll-forward ONLY."""
    for b in buckets:
        stage = os.path.join(root, f".stage_{b}")
        live = os.path.join(root, f"{key}={b}")
        old = os.path.join(root, f".old_{b}")
        if os.path.exists(stage):
            if os.path.exists(live):
                if os.path.exists(old):
                    shutil.rmtree(old)
                os.rename(live, old)
            os.rename(stage, live)
        # stage already consumed (crash mid-swap): live is the new dir
        if os.path.exists(old):
            shutil.rmtree(old)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
    on_empty: str = "raise",
    what: str = "store artifact",
    cluster: bool = False,
    max_records_per_file: int = 0,
) -> bool:
    """Write ``df`` partitioned by ``partition_cols``; guarantee the
    result directory is never the unreadable zero-data-file wedge.

    ``cluster=True`` (round 19, guide §6 small-files fix): shuffle the
    rows onto their ``partition_cols`` value before the write, so each
    hive directory receives files from ONE task instead of one file
    per (input partition × key) — the ANN index stores were landing
    32 × n_cells tiny files per write wave (~1,500 files for a 2k-row
    store after one append), and every serve paid the per-file open
    cost. ``max_records_per_file`` (> 0 passes the per-write
    ``maxRecordsPerFile`` option) keeps the clustered files bounded —
    at real scale one task per key would otherwise write one giant
    unsplittable-row-group file per cell.

    Returns True if data files exist under ``path`` after the write
    (for ``mode="append"``, pre-existing files count — appending an
    empty delta to a populated store is a legal no-op). On a write
    that leaves NO data files: the directory is removed, then
    ``on_empty="raise"`` raises ValueError (builds whose caller
    already gates emptiness use this as an invariant backstop) while
    ``on_empty="skip"`` returns False.
    """
    if cluster:
        df = df.repartition(*[df[c] for c in partition_cols])
    w = df.write
    if max_records_per_file > 0:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.partitionBy(*partition_cols).mode(mode).parquet(path)
    if _has_data_files(path):
        return True
    shutil.rmtree(path, ignore_errors=True)
    if on_empty == "raise":
        raise ValueError(
            f"{what}: partitioned write to {path} landed zero rows — "
            "an empty partitionBy dir is unreadable "
            "(UNABLE_TO_INFER_SCHEMA); removed it instead of wedging "
            "the store"
        )
    return False
