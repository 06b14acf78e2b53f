"""ELT lifecycle benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads: elt_full_load,
elt_incremental_refresh, odata_http_extract (see perfbench/README.md).
One client runs one op at a time (closed loop). After set-up and warm-up,
ops run until ``--seconds`` have passed (at least MIN_OPS of them); each
op is checked against a DuckDB oracle, untimed. ``--trace 0`` sets up
SETUP_REPS times and reports the end-to-end metrics; ``--trace 1`` sets
up once, alternates traced and untraced ops (at least MIN_TRACED_OPS
traced) and reports the per-layer metrics plus the tracing overhead
(traced minus untraced median op time).
The last line of standard output is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

import spans

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PACKAGE = "priority_data_pipeline_azure_sql_db_spark"

SETUP_REPS = 3
MIN_OPS = 2                  # timed ops of an untraced run
MIN_TRACED_OPS = 2           # traced ops of a traced run, plus one untraced
HARD_STOP_S = 140.0          # no op starts after this much wall time

# per-layer metrics collected per traced op (the rest are per run)
LAYER_UNITS = {
    "runner.plan_s": "s", "runner.load_entity_s": "s", "stg.overwrite_s": "s",
    "stg.merge_s": "s", "stg.read_for_keys_s": "s", "stg.partitions_touched": "count",
    "stg.write_amp": "ratio", "stg.bytes_written": "B", "stg.files_per_partition": "count",
    "cdc.audit_s": "s", "cdc.rows_per_delta_row": "ratio", "odata.requests": "count",
    "odata.bytes_served_per_payload_byte": "ratio", "odata.errors": "count",
    "odata.server_busy_s": "s", "odata.fetch_window_s": "s", "spark.jobs": "count",
    "spark.stages": "count", "spark.tasks": "count", "proc.cpu_s": "s",
    "proc.read_bytes": "B", "proc.write_bytes": "B",
}


def driver_mem() -> str:
    """A quarter of physical memory, 1-4 GiB: the inputs are small and the
    machine is shared."""
    with open("/proc/meminfo") as fh:
        kib = int(next(line for line in fh if line.startswith("MemTotal:")).split()[1])
    return f"{max(1, min(4, kib // (4 << 20)))}g"


def tail(times: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile with at least ten ops
    beyond it; the maximum when there are ten ops or fewer."""
    s, n = sorted(times), len(times)
    if n <= 10:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Bench:
    """The closed-loop client: runs, times and checks ops of one workload."""

    def __init__(self, wl, sc, pipeline, tracer, sampler):
        self.wl, self.sc, self.pipeline = wl, sc, pipeline
        self.tracer, self.sampler = tracer, sampler
        self.n = self.failed = 0
        self.errors: list[str] = []

    def run_op(self, traced: bool) -> tuple[float, dict]:
        """One op: prepare (untimed), op (timed), check (untimed)."""
        wl, i = self.wl, self.n
        self.n += 1
        wl.prepare()
        group = f"perfbench-{wl.name}-{i}"
        self.sc.setJobGroup(group, wl.name)
        rec: dict = {}
        out = None
        if traced:
            self.tracer.begin_op(i)
            proc0 = self.sampler.sample()
        wl.odata_stats()
        t0 = time.perf_counter()
        try:
            raw, err = wl.op(), None
        except Exception as exc:  # a failed op is counted, the run goes on
            raw, err = None, f"{type(exc).__name__}: {exc}"
        dt = time.perf_counter() - t0
        stats = wl.odata_stats()
        if traced:
            cpu, rd, wr = self.sampler.delta(proc0, self.sampler.sample())
            jobs, stages, tasks = spans.spark_counts(self.sc, group)
            rec.update({"proc.cpu_s": cpu, "proc.read_bytes": rd, "proc.write_bytes": wr,
                        "spark.jobs": jobs, "spark.stages": stages, "spark.tasks": tasks})
            rec.update(self.layer_metrics(i, stats))
        if err is None:
            try:
                out = wl.check(raw)
                err = out.error
            except Exception as exc:
                out, err = None, f"check raised {type(exc).__name__}: {exc}"
        if out is not None and err is None:
            rec["bytes_per_row"] = out.staged_bytes / max(1, out.staged_rows)
            if traced and wl.delta_rows:
                rec["cdc.rows_per_delta_row"] = (
                    sum(out.cdc_rows.values()) / sum(wl.delta_rows.values()))
                rec["cdc_by_table"] = {
                    t: n / wl.delta_rows[t] for t, n in out.cdc_rows.items()}
        if err is not None:
            err = err.strip().splitlines()[0][:300]
            self.failed += 1
            self.errors.append(f"op {i}: {err}")
            print(f"perfbench: op {i} failed: {err}", file=sys.stderr)
        return dt, rec

    def layer_metrics(self, op: int, stats: dict | None) -> dict:
        wl = self.wl
        ss = self.tracer.op_spans(op)

        def total(*names):
            return sum(s["end"] - s["start"] for s in ss if s["name"] in names)

        merges = [s for s in ss if s["name"] == "stg.merge"]
        delta_bytes = sum(
            wl.delta_rows.get(s["table"], 0) * s["table_bytes"] / max(1, s["rows"])
            for s in merges)
        files = parts = 0
        for t in wl.tables:
            _, f, p = spans.table_layout(wl.store.path(t))
            files, parts = files + f, parts + p
        rec = {
            "runner.plan_s": total("runner.extract", "runner.parse"),
            "runner.load_entity_s": total("runner.load_entity"),
            "stg.overwrite_s": total("stg.overwrite"),
            "stg.merge_s": total("stg.merge"),
            "stg.read_for_keys_s": total("stg.read_for_keys"),
            "stg.partitions_touched": sum(s["partitions_touched"] for s in merges),
            "stg.write_amp": (sum(s["bytes_written"] for s in merges) / delta_bytes
                              if delta_bytes else 0.0),
            "stg.bytes_written": sum(s["bytes_written"] for s in ss
                                     if s["name"] in ("stg.overwrite", "stg.merge")),
            "stg.files_per_partition": files / max(1, parts),
            "cdc.audit_s": total("cdc.audit"),
        }
        stats = stats or {"requests": 0, "errors": 0, "bytes": 0, "busy_s": 0.0,
                          "first": None, "last": None, "payload_bytes": 0}
        payload = stats["payload_bytes"]
        rec.update({
            "odata.requests": stats["requests"],
            "odata.bytes_served_per_payload_byte": stats["bytes"] / payload if payload else 0.0,
            "odata.errors": stats["errors"],
            "odata.server_busy_s": stats["busy_s"],
            "odata.fetch_window_s": (stats["last"] - stats["first"]
                                     if stats["first"] is not None else 0.0),
        })
        return rec

    def loop(self, seconds: float, started: float, trace: bool):
        """Closed loop until ``seconds`` have passed and MIN_OPS ops are
        timed; with ``trace``, traced and untraced ops alternate, so both
        see the same warm-up state, until MIN_TRACED_OPS are traced.
        Returns (untraced, traced) ops."""
        plain, traced = [], []
        need_plain, need_traced = (1, MIN_TRACED_OPS) if trace else (MIN_OPS, 0)
        t0 = time.perf_counter()
        while True:
            enough = len(plain) >= need_plain and len(traced) >= need_traced
            if enough and time.perf_counter() - t0 >= seconds:
                break
            if plain and (traced or not trace) \
                    and time.perf_counter() - started > HARD_STOP_S:
                break
            on = trace and len(traced) <= len(plain)
            if on:
                self.tracer.install(self.pipeline)
            try:
                op = self.run_op(on)
            finally:
                if on:
                    self.tracer.uninstall()
            (traced if on else plain).append(op)
        return plain, traced


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main(argv=None) -> int:
    args = parse_args(argv)
    started = time.perf_counter()
    if not re.fullmatch(r"[a-z0-9_]+", args.workload):
        print(f"perfbench: bad workload name {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    try:
        import importlib

        pkg = importlib.import_module(PACKAGE)
    except ImportError as exc:
        print(f"perfbench: cannot import {PACKAGE} from {REPO}: {exc}", file=sys.stderr)
        return 2
    if not os.path.abspath(pkg.__file__).startswith(REPO + os.sep):
        print(f"perfbench: {PACKAGE} is not part of this checkout", file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))  # what nproc reports
    run_dir = os.path.join(REPO, ".perfbench", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(REPO, ".perfbench", "out")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(run_dir, d))
    # before anything imports the session module, which reads these
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem(),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        # Spark's Python workers import the package too
        "PYTHONPATH": os.pathsep.join(
            p for p in (REPO, os.environ.get("PYTHONPATH")) if p),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={run_dir}/tmp -XX:-UsePerfData",
    })
    os.chdir(run_dir)  # anything Spark drops in the working directory goes here
    try:
        return measure(args, run_dir, out_dir, cpus, started)
    finally:
        os.chdir(REPO)
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(args, run_dir: str, out_dir: str, cpus: int, started: float) -> int:
    from pyspark import SparkContext
    from workloads import WORKLOADS

    from priority_data_pipeline_azure_sql_db_spark import pipeline
    from priority_data_pipeline_azure_sql_db_spark.session import get_spark

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    spark = wl = None
    try:
        t0 = time.perf_counter()
        spark = get_spark()
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](spark, run_dir, args.seed, cpus)
        setup_times = []
        for _ in range(1 if args.trace else SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup()
            setup_times.append(time.perf_counter() - t0)
        tracer, sampler = spans.Tracer(), spans.ProcSampler()
        bench = Bench(wl, spark.sparkContext, pipeline, tracer, sampler)
        warmup = [bench.run_op(traced=False)[0] for _ in range(wl.warmup_ops)]

        plain, traced = bench.loop(args.seconds, started, bool(args.trace))

        times = [dt for dt, _ in plain]
        p50 = statistics.median(times)
        tail_s, tail_pct = tail(times)
        bpr = [r["bytes_per_row"] for _, r in plain if "bytes_per_row" in r]
        setup_s = session_s + statistics.median(setup_times)
        details = {
            "workload": wl.name, "seed": args.seed, "trace": args.trace,
            "ops_timed": len(times), "op_s": times, "op_s_tail_percentile": tail_pct,
            "rows_per_op": wl.rows, "session_start_s": session_s,
            "setup_rep_s": setup_times, "warmup_op_s": warmup, "reseeds": wl.reseeds,
            "errors": bench.errors[:20],
        }
        if args.trace:
            metrics = {
                k: metric(statistics.median(r.get(k, 0.0) for _, r in traced), unit)
                for k, unit in LAYER_UNITS.items()}
            t_p50 = statistics.median(dt for dt, _ in traced)
            metrics["proc.jvm_rss_hwm_mb"] = metric(sampler.jvm_rss_hwm_mb(), "MB")
            metrics["trace.overhead_s"] = metric(t_p50 - p50, "s")
            details["traced_op_s"] = [dt for dt, _ in traced]
            by_table = [r["cdc_by_table"] for _, r in traced if "cdc_by_table" in r]
            details["cdc_rows_per_delta_row_by_table"] = {
                t: statistics.median(b[t] for b in by_table) for t in by_table[0]
            } if by_table else {}
            tracer.write(os.path.join(out_dir, f"spans-{wl.name}-{args.seed}.jsonl"))
        else:
            metrics = {
                "op_s_p50": metric(p50, "s"),
                "op_s_tail": metric(tail_s, "s"),
                "rows_per_s": metric(wl.rows / p50, "rows/s"),
                "staged_bytes_per_row": metric(
                    statistics.median(bpr) if bpr else 0.0, "B/row"),
                "ok_op_ratio": metric(1.0 - bench.failed / bench.n, "ratio"),
                "setup_s": metric(setup_s, "s"),
            }
        details["metrics"] = metrics
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{wl.name}-{args.seed}-t{args.trace}.json"), "w") as fh:
            json.dump(details, fh, indent=1)
        print(json.dumps({k: v for k, v in details.items() if k != "metrics"}))
        print(json.dumps({"correct": bench.failed == 0, "attempted": bench.n,
                          "failed": bench.failed, "metrics": metrics}))
        return 0
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            spark.stop()
            gw = SparkContext._gateway
            if gw is not None:
                gw.shutdown()
                if gw.proc is not None:
                    gw.proc.stdin.close()  # the JVM exits on EOF
                    try:
                        gw.proc.wait(timeout=30)
                    except subprocess.TimeoutExpired:
                        gw.proc.kill()
                        gw.proc.wait()
            # the JVM's Python workers exit when it does; wait for them
            deadline = time.monotonic() + 15
            while len(spans.process_tree(os.getpid())) > 1 and time.monotonic() < deadline:
                time.sleep(0.2)


if __name__ == "__main__":
    sys.exit(main())
