"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": <total sec>, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query materializes via the noop sink (full execution, no driver
collect) after a warm-up of the session on a trivial action.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from priority_data_pipeline_azure_sql_db_spark.queries import QUERIES  # noqa: E402
from priority_data_pipeline_azure_sql_db_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Round-9 split (VERDICT r8 ask #8): the bench reports TWO totals so
# round-over-round deltas stay like-for-like as coverage grows.
# CORE is FROZEN — the queries benched every round since r7 (28, then
# 22 once the retired query functions were deleted); do not add to it
# (new work goes to the annex; a core entry may only be REMOVED if its
# operator is retired). ANNEX rotates: recent rounds'
# representatives, replaced as rounds age out.
CORE = [
    "pipeline_e2e_flagship",
    "pipeline_flatten_subform",
    "pipeline_merge_upsert",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_revenue_forecast",
    "window_topk_orders_per_customer",
    "events_sessionize",
    "events_tumbling_hourly",
    "dedup_exact_docs",
    "dedup_ngram_jaccard",
    "ann_cosine_topk",
    "text_quality_score",
    # round-2 operators
    "text_winnow_fingerprints",
    "sample_documents_hash",
    # round-7: the RESIDENT twins of the capped production near-dup
    # plans — persisted fingerprint store built once at plan time
    # (outside the timed region), so these report the steady-state
    # serving cost
    "dedup_jaccard_pairs_indexed",
    "dedup_winnow_pairs_indexed",
    "embedding_near_dup_indexed",
    # round-7: payload materialization + the O(delta) curation batch
    # (round 8: curation_incremental now includes the semantic near-dup
    # stage against the standing index)
    "pack_materialized_sequences",
    "pipeline_curation_incremental",
    # round-5: correlated-subquery family representatives
    "q2_min_cost_supplier",
]

ANNEX = [
    # round-8 (rotating out as entries prove stable two rounds running:
    # snapshot_diff / scd2_user_state / rollup_incremental left after
    # flat sub-0.15s readings in r8 AND r9)
    "filter_quality_quantile",
    "dedup_boilerplate_lines",
    # round-8 capstone: all five new curation stages in one plan
    "pipeline_curation_v3",
    # round-8: event analytics + ER + DQ representatives
    "events_transition_matrix",
    "events_gapfill_hourly",
    "er_fuzzy_customer_pairs",
    "dq_validation_report",
    # round-9: the CDC-audited refresh (the full runner drive — v1
    # stage, refresh, merge — happens once at PLAN time like every
    # resident-store entry; the timed region is the persisted audit's
    # read-back), the ER blocking audit, and the O(delta) ER serve
    "pipeline_refresh_cdc_audit",
    "er_blocking_skew_audit",
    "er_incremental_match",
    # round-10: the persisted-ER serve (standing store built at plan
    # time like every resident entry — the timed region is the O(delta)
    # serve), free-text vocabulary blocking, and the ordered-export
    # round trip (write + read-back + position check per attempt)
    "er_assign_from_store",
    "er_first_token_pairs",
    "export_curriculum_readback",
    # round-13: HTML main-content extraction (the new ingest map stage —
    # template-wrapped fixture pages through the Arrow parser kernel),
    # and the streaming transform-on-ingest round trip (drain happens
    # once at PLAN time like every resident entry; the timed region is
    # the staged table's read-back aggregate)
    "text_html_extract",
    "streaming_html_ingest",
    # round-14: the codec routing profile (nine-way then; SIXTEEN-way
    # since round 16 — 12-bit SOF1/SOF2, lossless SOF3, G.711 both
    # laws, sub-byte PNG joined) — tracked so codec-side regressions
    # (a stub fallback would also flip correctness) get a timing series.
    # NOTE: the r16 profile growth adds ~7 encoder/decoder classes to
    # the same 400 blobs, so r16-vs-r15 is a definition change, not a
    # regression signal; the series re-baselines at r16.
    "multimodal_codec_mix",
    # round-14: the grown+compacted fingerprint store's serve cost —
    # the first attempt pays build/append/compact (resident-store
    # pattern), min-of-attempts reports the steady-state serve
    "dedup_index_append_serve",
    # round-15: DSIR standalone weights + the capstone-v5 chain it
    # composes into (config path: dsir gate → linify → boilerplate →
    # quantile → source cap in ONE plan)
    "sample_dsir_weights",
    "pipeline_curation_dsir",
    # round-16: the G.711 payload-exact decode entry (every sample
    # value-checked) — the vectorized table-gather decode's timing
    # series for the telephony-ingest shape — and the lossless-codec
    # payload round-trip (BMP / SOF3 / sub-byte PNG encode+decode per
    # doc through the production kernels)
    "multimodal_g711_codec",
    "multimodal_lossless_payloads",
    # round-17: the 12-bit JPEG flat-block payload entry — per doc two
    # full 12-bit encode+decode round trips (SOF1 + progressive SOF2)
    # through the production kernels; the timing series for the
    # extended-precision entropy paths
    "multimodal_jpeg12_payload",
]

HEADLINE = CORE + ANNEX


def main() -> None:
    # Bench methodology (root-caused round 5, see ARCHITECTURE.md):
    # 1. AQE OFF for the bench session only. AdaptiveSparkPlan re-plans on
    #    EVERY execution, emitting fresh generated classes each run, so the
    #    JIT never reaches steady state — measured 1.3s-62s for identical
    #    warm executions of one query. Engine defaults keep AQE on (it
    #    earns its keep on clusters); the bench measures the steady-state
    #    executed plan.
    # 2. Build each query's DataFrame ONCE and execute it repeatedly.
    #    Rebuilding per attempt mints fresh expression IDs → different
    #    generated source → codegen-cache miss → re-JIT every attempt.
    spark = get_spark("bench", extra_conf={"spark.sql.adaptive.enabled": "false"})
    spark.range(1).count()  # JVM warm-up outside the timed region

    # Host-noise calibration probe (VERDICT r10 ask #2): a FIXED amount
    # of pure whole-stage-codegen work — no I/O, no Python, one scalar
    # result — benched min-of-warm before the headline queries. Its time
    # depends only on host CPU availability, so round-over-round it
    # carries the hypervisor-contention factor (the documented 1.2-1.6×
    # uniform band, ARCHITECTURE.md "host-variance calibration") as DATA:
    # compare core_total/calibration ("core_per_calib") across rounds to
    # separate host drift from plan regressions without archaeology.
    # The work size is frozen (same reason CORE is frozen) — do not
    # retune it, or the ratio stops being comparable.
    from pyspark.sql import functions as F  # noqa: E402
    probe = spark.range(0, 800_000_000, 1, 32).select(
        # pmod keeps the running sum < 4e14 (ANSI mode: sum of raw
        # xxhash64 overflows long)
        F.sum(F.pmod(F.xxhash64("id"), F.lit(1_000_000))).alias("h"))
    probe_attempts: list[float] = []
    for _ in range(6):
        t0 = time.time()
        probe.write.format("noop").mode("overwrite").save()
        probe_attempts.append(round(time.time() - t0, 3))
    calibration = min(probe_attempts[1:])  # first run = JIT, never counted
    print(f"[bench] calibration probe: attempts={probe_attempts} "
          f"best={calibration:.3f}", file=sys.stderr)

    # I/O-axis calibration probe (VERDICT r16 ask #2): the CPU probe
    # above divides I/O-heavy core entries by a pure-codegen number, so
    # on a host that is CPU-fast but I/O-slow, core_per_calib reads as
    # a phantom regression (r16: 23.23 → 28.11 while raw core IMPROVED
    # 0.95× and per-entry isolated A/Bs showed parity). This second
    # probe is FIXED disk-bound work: IO_PROBE_PASSES sequential passes
    # over the pinned sf fixture footprint, with the page cache evicted
    # (posix_fadvise DONTNEED — the files are read-only, so every page
    # is clean and drops immediately) before each file each pass, so
    # every read goes through the VM's storage path. No parsing, no
    # Python object churn — bytes in, lengths summed. The pass count is
    # frozen (same reason the CPU probe's row count is frozen); the
    # bytes actually read are published as calibration_io_bytes so a
    # fixture-footprint change is visible as a definition change, not
    # misread as host drift. Interpretation rule: ARCHITECTURE.md
    # "host-variance calibration" — in short, core_per_calib (CPU axis)
    # is only trustworthy when calib_io_per_cpu is stable round-over-
    # round; when the axes diverge, compare raw per-entry times and
    # isolated A/Bs instead. SERIES NOTE: calibration_io_sec and
    # core_per_calib_io first appear in round 17 (no earlier points).
    import glob as _glob
    IO_PROBE_PASSES = 24  # frozen — do not retune
    io_paths = sorted(_glob.glob(os.path.join(SF_DIR, "*.parquet")))
    io_attempts: list[float] = []
    io_bytes = None
    calibration_io = None
    # round-18 ADVICE fix: posix_fadvise is Linux-only (absent on
    # macOS/Windows) — without page-cache eviction the probe would
    # measure warm-cache memcpy, not the storage path, so skip the
    # whole axis (fields publish as null) rather than publish a number
    # that means something different per platform.
    if hasattr(os, "posix_fadvise"):
        for _ in range(5):
            t0 = time.time()
            io_bytes = 0
            for _pass in range(IO_PROBE_PASSES):
                for p in io_paths:
                    fd = os.open(p, os.O_RDONLY)
                    try:
                        os.posix_fadvise(fd, 0, 0, os.POSIX_FADV_DONTNEED)
                        while True:
                            chunk = os.read(fd, 4 * 1024 * 1024)
                            if not chunk:
                                break
                            io_bytes += len(chunk)
                    finally:
                        os.close(fd)
            io_attempts.append(round(time.time() - t0, 3))
        # first attempt pays cold fs metadata (dentry/inode), never counted
        calibration_io = min(io_attempts[1:])
        print(f"[bench] io calibration probe: attempts={io_attempts} "
              f"best={calibration_io:.3f} bytes={io_bytes}", file=sys.stderr)
    else:
        print("[bench] io calibration probe SKIPPED: os.posix_fadvise "
              "unavailable on this platform (calibration_io_* fields "
              "publish as null)", file=sys.stderr)

    # Pre-warm pipeline_curation_incremental's standing stores (VERDICT
    # r10 ask #3): its three resident artifacts (base fingerprint store,
    # IVF cell store, radii) are unique to it — unlike the dedup/ANN
    # resident twins, no earlier headline entry touches them, so without
    # this its timed attempts fold cold file-cache reads and store-path
    # JIT into the min and the number carries no round-over-round signal
    # (r9 1.28s → r10 1.84s with no code change on its path). Build the
    # plan (which materializes the stores at plan time) and execute it
    # untimed here so the in-loop measurement below starts warm.
    if "pipeline_curation_incremental" in HEADLINE:
        warm_df = QUERIES["pipeline_curation_incremental"](spark, SF_DIR)
        for _ in range(2):
            warm_df.write.format("noop").mode("overwrite").save()
        print("[bench] pre-warmed pipeline_curation_incremental stores",
              file=sys.stderr)

    timings: dict[str, float] = {}
    # Round-19 ADDITIVE series (VERDICT r18 ask #8, published alongside
    # the existing metric, which is unchanged): min over the FIRST FOUR
    # warm attempts (attempts[1:5]) — a fixed per-entry attempt budget.
    # The existing convergence loop gives >1 s entries up to 8 warm
    # attempts while sub-second ones get ~3, so on storm-prone hosts the
    # big entries get more chances at a lucky quiet window and the
    # cross-entry comparison subtly biases. The fixed-budget series
    # makes attempt counts uniform; keep both for at least one round
    # before judging which is the better round-over-round number.
    timings_min4: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in HEADLINE:
        # one failing entry must not discard the whole run's timings
        # (review finding): record the failure, keep benching
        try:
            df = QUERIES[name](spark, SF_DIR)  # plan ONCE; execute hot below
        except Exception as exc:  # noqa: BLE001
            errors[name] = f"{type(exc).__name__}: {exc}"
            print(f"[bench] {name}: PLAN ERROR {errors[name]}", file=sys.stderr)
            continue
        # Warm-up + min-of-warm: generated code JITs lazily, and wide
        # fused pipelines compile enough bytecode that the first 1-3
        # executions run partly interpreted. Run until the minimum stops
        # improving for 2 consecutive attempts (cap 8), report the min,
        # and log every attempt to stderr so drift stays observable.
        attempts: list[float] = []
        best = float("inf")
        since_improve = 0
        for attempt in range(9):
            # cleared EVERY attempt, not just per query: operators that
            # .cache() internally (winnow_near_dup's fingerprint table,
            # the near-dup centroids) must repopulate inside the timed
            # region, else every counted run skips the cached subtree and
            # the min under-reports the true per-run cost (ADVICE r5)
            spark.catalog.clearCache()
            t0 = time.time()
            try:
                df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001
                errors[name] = f"{type(exc).__name__}: {exc}"
                print(f"[bench] {name}: RUN ERROR {errors[name]}",
                      file=sys.stderr)
                break
            dt = time.time() - t0
            attempts.append(round(dt, 3))
            if attempt == 0:
                continue  # cold run: JIT/codegen, never counted
            # >5% improvement vs the PRIOR best resets the convergence
            # counter; best always takes the min (hoisted — it was
            # duplicated in both branches)
            improved = dt < best * 0.95
            best = min(best, dt)
            since_improve = 0 if improved else since_improve + 1
            # queries still above ~1s get extra attempts: HotSpot
            # occasionally parks a wide pipeline in a slow compiled state
            # for several runs before the fast form lands (measured 8x
            # bimodality on the shingle join), and two flat attempts is
            # too early to call that converged. The FIRST headline query
            # additionally absorbs the whole session's cold-start JIT and
            # can plateau 2-3 attempts near 2x steady state before the
            # hot loops promote (the r7-r9 flagship "drift", root-caused
            # round 10 — see ARCHITECTURE.md), so it always runs the
            # full attempt budget.
            if name == HEADLINE[0]:
                continue
            if since_improve >= 2 and (best < 1.0 or attempt >= 6):
                break
        if name in errors:
            continue  # mid-attempt failure: no honest number to record
        print(f"[bench] {name}: attempts={attempts} best={best:.3f}", file=sys.stderr)
        timings[name] = round(best, 3)
        if len(attempts) > 1:
            timings_min4[name] = round(min(attempts[1:5]), 3)

    # a non-'sf<number>' fixture dir must not crash AFTER all the
    # timing work and lose the output line (review finding)
    try:
        sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = None
    core_total = round(sum(timings[n] for n in CORE if n in timings), 3)
    annex_total = round(sum(timings[n] for n in ANNEX if n in timings), 3)
    print(json.dumps({
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        # the round-over-round comparable number is core_total: CORE is
        # frozen (22 queries since the retired ones were deleted, so
        # core_total before and after that change is not comparable),
        # while the annex rotates with new work
        "core_total": core_total,
        "annex_total": annex_total,
        # fixed-work pure-codegen probe (no I/O): host-speed control.
        # core_per_calib = core_total / calibration_sec is the
        # host-normalized round-over-round number — a plan regression
        # moves it, hypervisor contention largely cancels out.
        "calibration_sec": calibration,
        "core_per_calib": round(core_total / calibration, 2) if calibration else None,
        # fixed-work disk-bound probe (page-cache-evicted reads of the
        # pinned fixture footprint): host-I/O-speed control, the second
        # normalization axis (VERDICT r16 ask #2; series starts r17).
        # calib_io_per_cpu is the host-skew indicator — when it moves
        # >~15% round-over-round, neither single-axis core_per_calib*
        # number is trustworthy alone (see ARCHITECTURE.md).
        "calibration_io_sec": calibration_io,
        "calibration_io_bytes": io_bytes,
        "core_per_calib_io": round(core_total / calibration_io, 2)
        if calibration_io else None,
        "calib_io_per_cpu": round(calibration_io / calibration, 3)
        if (calibration and calibration_io) else None,
        "queries": timings,
        # ADDITIVE series since round 19 (nothing removed/renamed —
        # "queries" and every total keep their exact prior meaning):
        # min over each entry's first 4 warm attempts, a fixed
        # per-entry attempt budget for cross-entry comparability on
        # storm-prone hosts (the adaptive loop gives >1 s entries up
        # to 8 warm attempts vs ~3 for sub-second ones).
        "queries_min_of_4_warm": timings_min4,
        # present (and non-empty) only when an entry failed — a failed
        # entry is also absent from queries/totals
        **({"errors": errors} if errors else {}),
        "sf": sf,
    }))


if __name__ == "__main__":
    main()
