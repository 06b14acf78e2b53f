"""SparkSession factory.

Scale stance: every knob here is chosen for a 1000-executor cluster first
and a local session sized to its host second (:func:`host_resources`).
AQE handles runtime coalescing / skew-join splitting so static
``spark.sql.shuffle.partitions`` only needs to be a sane upper bound; on
a real cluster it would be ~2-3x total cores and AQE coalesces down. Session timezone is pinned to UTC so timestamp semantics are stable
across engines (the reference localizes bookmarks to a config timezone —
we keep that at the *config* layer, never in the session; cf.
resources/priorityDataSource.py:68,676-679 in the reference).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def host_resources(meminfo: str = "/proc/meminfo") -> tuple[int, str]:
    """(cores, driver heap) for a local session: ``SPARK_GRAFT_CPUS``,
    else the cores this process may run on; ``SPARK_GRAFT_DRIVER_MEM``,
    else half of the host's ``MemTotal`` (at least 1g) — so a session
    neither over-subscribes a small host nor asks a strict-overcommit
    or cgroup-limited one for a heap it cannot back."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if mem is None:
        with open(meminfo) as fh:
            kib = next(int(ln.split()[1]) for ln in fh
                       if ln.startswith("MemTotal:"))
        mem = f"{max(1024, kib // 2048)}m"
    return int(cpus) if cpus else len(os.sched_getaffinity(0)), mem


def get_spark(
    app_name: str = "priority_data_pipeline_azure_sql_db_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    AQE is on (coalesce post-shuffle partitions, skew-join handling) —
    at 100 TB this is what keeps a static partition count from being
    wrong in both directions. Arrow is on for the Pandas-UDF paths.
    """
    host_cpus, mem = host_resources()
    cpus = cpus or host_cpus
    shuffle = shuffle_partitions or max(cpus, 32)
    # Driver memory MUST be set before the JVM launches — builder.config
    # is too late in local mode (the heap silently stays at the ~1g
    # default and 32-thread aggregations spill+thrash; measured 25x
    # slowdowns). PYSPARK_SUBMIT_ARGS reaches the launcher.
    # Bigger code cache: each query generates fresh codegen classes and a
    # flushed cache forces re-interpretation (measured multi-minute stalls
    # of single interpreted tasks before OSR compilation).
    java_opts = "-Duser.timezone=UTC -XX:ReservedCodeCacheSize=512m"
    submit_args = (
        f'--driver-memory {mem} --conf "spark.driver.extraJavaOptions={java_opts}" '
        "pyspark-shell"
    )
    preset = os.environ.get("PYSPARK_SUBMIT_ARGS")
    if preset is None:
        os.environ["PYSPARK_SUBMIT_ARGS"] = submit_args
    elif "--driver-memory" not in preset:
        # a pre-set launcher line (another project's shell, an earlier
        # tool in this process) would silently launch the ~1g-default
        # heap — the exact spill/thrash pathology the comment above
        # documents (review finding). Don't clobber the caller's args;
        # do say why things may be slow.
        import sys

        print(
            "[session] WARNING: PYSPARK_SUBMIT_ARGS is pre-set without "
            f"--driver-memory; the JVM heap will not get {mem} and wide "
            "aggregations may spill (unset it or add --driver-memory)",
            file=sys.stderr,
        )
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Let the planner pick shuffled-hash join when its size
        # conditions are met instead of always preferring sort-merge
        # (round 19, guide §3.1/§9 baseline): per-partition hash build
        # skips both sort legs. Value-identical (both are exact
        # equi-join algorithms); the planner's build-side size gate
        # still applies, and on clusters AQE's skew handling covers the
        # residual risk. Measured at sf0.1 (AQE-off bench session,
        # interleaved): q21 0.94->0.78, er_fuzzy 1.01->0.89,
        # curation_v3 1.87->1.68, winnow_capped 1.90->1.72, dsir/q2 flat.
        # Rollback: get_spark(extra_conf={"spark.sql.join.preferSortMergeJoin":
        # "true"}). An SHJ build side is an in-memory hash map that cannot
        # spill, so a skewed or underestimated partition (AQE off, or a
        # bad size estimate) can OOM a task that sort-merge would spill.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", mem)  # no-op post-launch; kept for spark-submit paths
        .config("spark.sql.parquet.filterPushdown", "true")
        # split generated code into sub-8k-bytecode methods so HotSpot can
        # JIT them (huge monolithic methods run interpreted: 10-60x slower)
        .config("spark.sql.codegen.methodSplitThreshold", "512")
        # core namespace: "spark.sql.shuffle.spill.compress" is not a
        # real conf key — Spark accepts unknown keys silently, so the
        # old line was a no-op (review finding; true IS the default,
        # kept explicit as documentation of the spill stance)
        .config("spark.shuffle.spill.compress", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # events.parquet stores TIMESTAMP(NANOS) which the vectorized reader
        # rejects; read as long (ns since epoch) and convert in load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # enable pushFilters() on Python data sources (odata_like connector)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.driver.extraJavaOptions", java_opts)  # post-launch no-op; for spark-submit paths
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
