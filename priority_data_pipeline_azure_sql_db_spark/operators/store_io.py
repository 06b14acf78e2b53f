"""Store I/O shared by every persisted store: the one multi-directory
commit, atomic small-file writes, and guarded hive-partitioned writes.

The commit (:func:`write_intent` then :func:`roll_forward`) is the only
way a store replaces directories. The staging store, the ER cluster
store, the SCD2 history and dedup-index compaction all use it:

1. stage the complete replacement of some subs under a tmp root laid
   out like the live root (nothing live changes; a crash here leaves a
   stage that the next write replaces);
2. write one intent marker ``{"data": [...], "empty": [...], <payload>}``
   atomically — the commit point;
3. roll forward: swap each staged sub in, remove each emptied sub,
   remove tmp, run the store's own extra step (``finish``), delete the
   marker. Every step is idempotent, and each store's readers and
   writers roll a leftover marker forward first, so a crash after the
   marker completes on the next touch.

Small files (intent markers, ``CURRENT`` pointers, the ER and SCD2
stores' parameter ``META`` files, the SCD2 history's
``HIST_SCHEMA.json``) go through :func:`write_atomic`: tmp file plus
``os.replace``, never a torn file. The staging store keeps no such
file: its zone maps, row counts and schema are read from its parquet
footers.

:func:`write_partitioned` exists because writing ZERO rows through
``partitionBy(...)`` produces a directory holding ``_SUCCESS`` but no
parquet data files — every later read of it fails with
UNABLE_TO_INFER_SCHEMA, wedging the store behind its own
completed-build marker. Routing every partitioned store write through
it fixes the class once. The empty POLICY stays at the call site — a
one-shot index build fails loud before writing anything, a streaming
fold skips the batch — because those gates must fire BEFORE the write
destroys or commits state (a staged write needs no gate: it stages
with ``on_empty="skip"``, and a sub with no staged data is emptied by
the commit). This helper is the backstop underneath them: it detects a
write that landed zero data files WITHOUT an extra Spark job (an
O(partitions) local directory walk, vs ``isEmpty()``'s extra action per
write) and removes the unreadable directory instead of leaving the
wedge, then raises or skips per ``on_empty``.
"""

from __future__ import annotations

import json
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


def load_json(path: str):
    """The JSON document at ``path``, or None when there is none."""
    try:
        with open(path) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def write_atomic(path: str, text: str | None) -> None:
    """Replace the file ``path`` with ``text`` atomically: write a
    sibling ``.part`` file, then ``os.replace`` it over ``path``, so a
    reader sees the old content or the new, never a torn file. ``None``
    removes ``path``. Every store pointer, META file and intent marker
    is written through here."""
    if text is None:
        try:
            os.remove(path)
        except FileNotFoundError:
            pass
        return
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path + ".part", "w") as fh:
        fh.write(text)
    os.replace(path + ".part", path)


def write_json(path: str, obj) -> None:
    """:func:`write_atomic` of ``obj`` as JSON; ``None`` removes."""
    write_atomic(path, None if obj is None else json.dumps(obj))


def write_intent(marker: str, tmp: str, subs, **payload) -> None:
    """The commit point of a staged multi-directory write. ``tmp`` is
    laid out like the live root and holds the complete replacement of
    each sub it has a dir for; ``subs`` names every sub the write
    replaces. The marker records which subs have staged data and which
    the write empties — without that split, a replay after a mid-swap
    crash could not tell a sub already swapped in (no tmp source left)
    from one to delete. ``payload`` rides along for the store's own
    finishing step."""
    data = [s for s in subs if os.path.isdir(os.path.join(tmp, s))]
    write_json(marker, {"data": data,
                        "empty": [s for s in subs if s not in data],
                        **payload})


def roll_forward(marker: str, live: str, tmp: str, finish=None) -> None:
    """Finish the commit that ``marker`` records; a no-op without one.
    Every step is idempotent, so a crash anywhere in here is finished by
    the next call: each ``data`` sub still in ``tmp`` replaces its live
    dir (a sub ``""`` is the whole ``live`` dir), each ``empty`` sub is
    removed, ``tmp`` is removed, ``finish(intent)`` runs the store's own
    extra step, and the marker goes last. Without a marker nothing live
    has changed, and a leftover ``tmp`` is an unfinished stage that the
    store's next write replaces. Writers call :func:`write_intent` and
    then their store's one roll-forward entry, which binds these paths
    and ``finish``; readers call that entry first. Single writer per
    store: serialize writes, and reads with writes."""
    intent = load_json(marker)
    if intent is None:
        return
    for sub in intent["data"]:
        src = os.path.normpath(os.path.join(tmp, sub))
        if os.path.isdir(src):
            dst = os.path.normpath(os.path.join(live, sub))
            shutil.rmtree(dst, ignore_errors=True)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.replace(src, dst)
    for sub in intent["empty"]:
        shutil.rmtree(os.path.join(live, sub), ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    if finish is not None:
        finish(intent)
    write_json(marker, None)


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
