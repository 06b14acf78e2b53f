"""Tracing and counters for the traced run.

:class:`Tracer` wraps the public calls into each layer (``PipelineRunner``,
``StagingStore``, ``pipeline.cdc_audit_delta``) from the benchmark's side,
keeps spans in memory and writes them out at the end. The program itself
is not instrumented. Storage counters come from inode/size snapshots of
the staging directories, engine counters from Spark's status tracker
(one job group per op), process counters from ``/proc``.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager

CDC_SUFFIX = "__cdc"


# -- filesystem ---------------------------------------------------------------

def snapshot(root: str) -> dict[str, tuple[int, int]]:
    """{relative path: (inode, size)} of every regular file under root."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[os.path.relpath(p, root)] = (st.st_ino, st.st_size)
    return out


def written(before: dict, after: dict) -> tuple[int, set[str]]:
    """Bytes of files in ``after`` that are new or replaced since
    ``before``, and the top-level sub-directories (partitions) where files
    appeared or disappeared."""
    nbytes, dirs = 0, set()
    for p, (ino, size) in after.items():
        if before.get(p, (None,))[0] != ino:
            nbytes += size
            dirs.add(p.split(os.sep, 1)[0] if os.sep in p else "")
    for p in before.keys() - after.keys():
        dirs.add(p.split(os.sep, 1)[0] if os.sep in p else "")
    return nbytes, dirs


def table_layout(path: str) -> tuple[int, int, int]:
    """(bytes on disk, parquet data files, partitions) of one table dir."""
    nbytes = files = 0
    parts = set()
    for rel, (_, size) in snapshot(path).items():
        nbytes += size
        if rel.endswith(".parquet"):
            files += 1
            parts.add(os.path.dirname(rel))
    return nbytes, files, len(parts)


# -- processes ------------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += kids.get(p, [])
    return out


def _proc_counters(pid: int) -> tuple[float, int, int] | None:
    """(cpu seconds incl. reaped children, rchar, wchar)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
        with open(f"/proc/{pid}/io") as fh:
            io = dict(line.split(": ") for line in fh.read().splitlines())
    except (OSError, ValueError):
        return None
    ticks = sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK"), int(io["rchar"]), int(io["wchar"])


class ProcSampler:
    """CPU time and I/O bytes of this process and everything it started
    (the JVM and its Python workers), as per-op deltas."""

    def __init__(self):
        self.root = os.getpid()

    def sample(self) -> dict[int, tuple[float, int, int]]:
        out = {}
        for pid in process_tree(self.root):
            c = _proc_counters(pid)
            if c is not None:
                out[pid] = c
        return out

    @staticmethod
    def delta(before: dict, after: dict) -> tuple[float, int, int]:
        tot = [0.0, 0, 0]
        for pid, vals in after.items():
            base = before.get(pid, (0.0, 0, 0))
            for i in range(3):
                tot[i] += vals[i] - base[i]
        return tot[0], tot[1], tot[2]

    def jvm_rss_hwm_mb(self) -> float:
        for pid in process_tree(self.root):
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as fh:
                    if b"java" not in fh.read().split(b"\0", 1)[0]:
                        continue
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            return int(line.split()[1]) / 1024.0
            except OSError:
                continue
        return 0.0


# -- engine -----------------------------------------------------------------------

def spark_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks run) of one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None:
            tasks += info.numCompletedTasks + info.numFailedTasks
    return len(jobs), len(stages), tasks


# -- spans --------------------------------------------------------------------------

class Tracer:
    """Spans around layer calls, kept in memory; one op id per benchmark op."""

    def __init__(self):
        self.spans: list[dict] = []
        self.op: int | None = None
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self._cdc_start: float | None = None

    def begin_op(self, op: int) -> None:
        self.op = op
        self._cdc_start = None

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"op": self.op, "id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        setattr(owner, attr, functools.wraps(orig)(make(orig)))
        self._patches.append((owner, attr, orig))

    def install(self, pipeline) -> None:
        """Wrap the layer entry points of ``pipeline`` (the module)."""
        tr = self
        runner, store = pipeline.PipelineRunner, pipeline.StagingStore

        def simple(name):
            def make(orig):
                def wrapper(*a, **kw):
                    with tr.span(name):
                        return orig(*a, **kw)
                return wrapper
            return make

        def storage(kind):
            def make(orig):
                def wrapper(self_, *a, **kw):
                    table = kw.get("table") or next(x for x in a if isinstance(x, str))
                    cdc = table.endswith(CDC_SUFFIX)
                    if kind == "merge" and tr._cdc_start is not None:
                        # the CDC audit runs from cdc_audit_delta through the
                        # __cdc overwrite and its count, up to this merge
                        tr.spans.append({
                            "op": tr.op, "id": len(tr.spans), "name": "cdc.audit",
                            "parent": tr._stack[-1] if tr._stack else None,
                            "start": tr._cdc_start, "end": time.perf_counter()})
                        tr._cdc_start = None
                    path = self_.path(table)
                    before = snapshot(path)
                    name = "cdc.overwrite" if cdc else f"stg.{kind}"
                    with tr.span(name, table=table) as rec:
                        out = orig(self_, *a, **kw)
                    nbytes, parts = written(before, snapshot(path))
                    rec.update(bytes_written=nbytes, partitions_touched=len(parts),
                               table_bytes=table_layout(path)[0], rows=out)
                    return out
                return wrapper
            return make

        def cdc_delta(orig):
            def wrapper(*a, **kw):
                if tr._cdc_start is None:
                    tr._cdc_start = time.perf_counter()
                with tr.span("cdc.audit_delta"):
                    return orig(*a, **kw)
            return wrapper

        self._patch(runner, "extract_entity", simple("runner.extract"))
        self._patch(runner, "parse_entity", simple("runner.parse"))
        self._patch(runner, "load_entity", simple("runner.load_entity"))
        self._patch(store, "overwrite", storage("overwrite"))
        self._patch(store, "merge", storage("merge"))
        self._patch(store, "read_for_keys", simple("stg.read_for_keys"))
        self._patch(pipeline, "cdc_audit_delta", cdc_delta)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def op_spans(self, op: int) -> list[dict]:
        return [s for s in self.spans if s["op"] == op and "end" in s]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s, default=str) + "\n")
