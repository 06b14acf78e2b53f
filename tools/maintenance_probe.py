"""O(delta) maintenance-leg probe (round 12, VERDICT r11 ask #5):
measure PER-BATCH FOLD COST against STANDING-STORE SIZE for the four
warehouse maintenance paths — staging MERGE, SCD2 fold, rollup
combine, ER append — the direct 100 TB claim for the streaming-
warehouse family: a fixed-size delta must cost (near-)constant time
no matter how big the standing store has grown.

Design: standing stores are seeded at 1x/2x/4x/8x replicas of the
sf0.1 events/customer fixtures (entity counts grow linearly — user_id
and key ids shifted per replica; staging replicas shift ts by one
month per replica so the PARTITION COUNT grows while per-partition
volume stays constant, the production time-partitioned shape). A
FIXED delta is then folded into each store and only the fold is
timed (min of 3 attempts with fresh batch ids / fresh record ids —
folds mutate state, so attempts use disjoint deltas of identical
size). The fitted log-log slope vs store scale is the exponent: ~0 is
flat, ~1 means the fold secretly rewrites or rescans the store.

NEGATIVE CONTROL: scd2_rebuild_control rebuilds the FULL history from
the FULL log per "batch" (what a naive maintenance loop would do).
Because fixed per-job Spark overhead (~0.5-0.7 s) dominates at fixture
sizes, a log-log slope UNDER-reads affine growth (c + m·k fits as a
small exponent) — so the probe reports BOTH the log-log slope and the
least-squares MARGINAL cost m (sec per 1x of store growth): the
discriminating criterion is the control's m being large and positive
while every fold's |m| stays near zero (round-12 review fix — the
original slope-only criterion had no power against store-sized work
hidden under the overhead).

SCD2 bucket-pruning note (round-12 review fix): the delta is 3
entities — small enough that only ~3 of the log/history buckets are
touched, so the fold's pruned path (NOT a full-store rewrite) is what
gets timed — and n_log_buckets scales with the store (16·k), the
production deployment rule that makes per-fold I/O flat. The ER delta
uses BASE-SHAPED names (last-4-char perturbations of real replica
names) so the delta×base block join and touched-cluster relabel — the
store-coupled work — actually run.

Usage: python tools/maintenance_probe.py [base_sf_dir] [out_json]
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from priority_data_pipeline_azure_sql_db_spark.session import get_spark  # noqa: E402

SCALES = [1, 2, 4, 8]
# the naive-rebuild control (and the fold it contrasts with) run
# further out: at this base size the control's linear term only clears
# the ~0.5s fixed Spark-job overhead past ~8x
CONTROL_SCALES = [1, 2, 4, 8, 16, 32]
USER_STRIDE = 10_000_000
EVENT_STRIDE = 100_000_000
CUST_STRIDE = 10_000_000
DOC_STRIDE = 10_000_000


def build_replicas(base: str, root: str) -> dict[int, str]:
    """events + customer replicas; ids shifted so entity counts grow
    linearly; staging events additionally shift ts by one month per
    replica (partition count grows, per-partition volume constant)."""
    out = {}
    con = duckdb.connect()
    for k in sorted(set(SCALES) | set(CONTROL_SCALES)):
        d = os.path.join(root, f"x{k}")
        out[k] = d
        marker = "_READY" if k in SCALES else "_READY_EV"
        if os.path.exists(os.path.join(d, "_READY")) or                 os.path.exists(os.path.join(d, marker)):
            continue
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        ev_parts, st_parts, cu_parts = [], [], []
        for r in range(k):
            ev_parts.append(
                f"SELECT event_id + {r * EVENT_STRIDE} AS event_id, ts,"
                f" user_id + {r * USER_STRIDE} AS user_id, event_type,"
                f" value FROM read_parquet('{base}/events.parquet')"
            )
            st_parts.append(
                f"SELECT event_id + {r * EVENT_STRIDE} AS event_id,"
                f" ts + INTERVAL {r} MONTH AS extractiontimestamputc,"
                f" user_id + {r * USER_STRIDE} AS user_id, event_type,"
                f" value FROM read_parquet('{base}/events.parquet')"
            )
            cu_parts.append(
                f"SELECT c_custkey + {r * CUST_STRIDE} AS c_custkey,"
                f" c_name || ' rep{r}tok' AS c_name, c_nationkey"
                f" FROM read_parquet('{base}/customer.parquet')"
            )
        # the control-only scales (16x/32x) need just the events log
        tables = [("events", ev_parts)] if k not in SCALES else [
            ("events", ev_parts), ("staging", st_parts),
            ("customer", cu_parts)]
        for name, parts in tables:
            con.execute(
                f"COPY ({' UNION ALL '.join(parts)}) TO "
                f"'{d}/{name}.parquet' (FORMAT PARQUET)"
            )
        open(os.path.join(d, marker), "w").close()
    # documents replicas for the dedup_append leg (round 15 — added
    # after the base markers existed on long-lived probe roots, so
    # gated on its own marker: a pre-r15 replica dir upgrades in place)
    for k in SCALES:
        d = out[k]
        if os.path.exists(os.path.join(d, "_READY_DOCS")):
            continue
        doc_parts = [
            f"SELECT doc_id + {r * DOC_STRIDE} AS doc_id, text"
            f" FROM read_parquet('{base}/documents.parquet')"
            for r in range(k)
        ]
        con.execute(
            f"COPY ({' UNION ALL '.join(doc_parts)}) TO "
            f"'{d}/documents.parquet' (FORMAT PARQUET)"
        )
        open(os.path.join(d, "_READY_DOCS"), "w").close()
    return out


def _fit(per_scale: dict[str, float],
         scales: list[int] = SCALES) -> tuple[float, list[float], float]:
    xs = [math.log(k) for k in scales]
    ys = [math.log(max(per_scale[str(k)], 1e-3)) for k in scales]
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    slope = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) \
        / sum((x - mx) ** 2 for x in xs)
    steps = [round(math.log2(per_scale[str(b)] / per_scale[str(a)]), 2)
             for a, b in zip(scales, scales[1:])]
    # affine fit sec = c + m·k: m is the marginal cost per 1x of store
    # growth — the metric with POWER when fixed overhead dominates
    ks = [float(k) for k in scales]
    vs = [per_scale[str(k)] for k in scales]
    mk, mv = sum(ks) / len(ks), sum(vs) / len(vs)
    m = sum((k - mk) * (v - mv) for k, v in zip(ks, vs)) \
        / sum((k - mk) ** 2 for k in ks)
    return round(slope, 2), steps, round(m, 4)


def main() -> None:
    base = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_json = sys.argv[2] if len(sys.argv) > 2 else "/tmp/maintenance_probe.json"
    root = "/tmp/spark_graft_maint_probe"
    os.makedirs(root, exist_ok=True)
    dirs = build_replicas(base, root)
    print(f"[probe] replicas ready under {root}", file=sys.stderr)

    spark = get_spark("maintenance-probe",
                      extra_conf={"spark.sql.adaptive.enabled": "false"})
    spark.range(1).count()

    from priority_data_pipeline_azure_sql_db_spark.operators.er_index import (
        append_to_er_index,
        build_er_index,
    )
    from priority_data_pipeline_azure_sql_db_spark.operators.merge import scd2_history
    from priority_data_pipeline_azure_sql_db_spark.pipeline import StagingStore
    from priority_data_pipeline_azure_sql_db_spark.streaming.sink import (
        fold_rollup_batch,
        fold_scd2_batch,
    )

    results: dict[str, dict] = {}
    # re-runnability: folds mutate standing stores, so a re-run must not
    # collide with a previous run's batch ids / record ids (a replayed
    # batch is a ledger no-op and an already-appended id anti-joins
    # away — both would measure nothing). A PERSISTED counter next to
    # the stores keys this run's deltas (round-12 review fix: the old
    # time-derived nonce wrapped every 2.5 h and could silently reuse
    # ids); batch ids advance from each store's own ledger.
    ctr_path = os.path.join(root, "RUN_COUNTER")
    try:
        with open(ctr_path) as fh:
            nonce = int(fh.read().strip()) + 1
    except (OSError, ValueError):
        nonce = 1
    with open(ctr_path, "w") as fh:
        fh.write(str(nonce))

    def record(name: str, per_scale: dict[str, float],
               scales: list[int] = SCALES) -> None:
        slope, steps, m = _fit(per_scale, scales)
        results[name] = {"sec": per_scale, "slope": slope,
                         "step_slopes": steps, "marginal_sec_per_x": m}
        print(f"[probe] {name}: slope {slope:.2f} marginal {m:+.4f}s/x "
              f"steps {steps}", file=sys.stderr)

    # 5 disjoint folds per scale (round 14, VERDICT r13 ask #5: the
    # r13 er_append series had an unexplained 2x spike with only 3
    # attempts — min-of-5 disjoint folds gives the min real power
    # against one unlucky store state without changing what is timed)
    ATTEMPTS = 5

    # ---- SCD2 fold: fixed 3-entity / 6-row delta per attempt --------
    # 3 entities touch <= 3 of the store's buckets, so the timed fold
    # runs the PRUNED path (round-12 review fix: a 50-entity delta hit
    # ~all 16 buckets and timed a de-facto full-store rewrite)
    def scd2_delta(attempt: int):
        rows = [
            (900_000_000 + nonce * 100_000 + attempt * 1000 + e,
             f"state_{nonce}_{attempt}_{i}",
             f"2026-0{attempt + 1}-0{1 + i} 00:00:00",
             1_000_000_000 + nonce * 100_000 + attempt * 1000 + e * 2 + i)
            for e in range(3) for i in range(2)
        ]
        return spark.createDataFrame(
            rows, "user_id bigint, event_type string, ts string, "
                  "event_id bigint",
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    from priority_data_pipeline_azure_sql_db_spark.streaming.sink import (
        _read_rollup_pointer,
    )

    per = {}
    for k in CONTROL_SCALES:
        # production bucket rule: n_log_buckets scales with the store
        # (16·k), which is what makes per-fold I/O flat — a FIXED
        # bucket count is the documented linear-with-small-constant
        # configuration (touched/n_buckets of the store per fold)
        store = os.path.join(root, f"scd2_store_v2_x{k}")
        nb = 16 * k
        if not os.path.exists(os.path.join(store, "CURRENT")):
            shutil.rmtree(store, ignore_errors=True)
            log = spark.read.parquet(f"{dirs[k]}/events.parquet").select(
                "user_id", "event_type", "ts", "event_id")
            fold_scd2_batch(spark, store, log, 1, ["user_id"],
                            ["event_type"], "ts", ["event_id"],
                            n_log_buckets=nb)
        last_bid, _ = _read_rollup_pointer(store)
        best = math.inf
        for a in range(ATTEMPTS):
            t0 = time.time()
            fold_scd2_batch(spark, store, scd2_delta(a), last_bid + 1 + a,
                            ["user_id"], ["event_type"], "ts",
                            ["event_id"], n_log_buckets=nb)
            best = min(best, time.time() - t0)
        per[str(k)] = round(best, 3)
        print(f"[probe] scd2_fold x{k}: {best:.3f}s", file=sys.stderr)
    record("scd2_fold", per, CONTROL_SCALES)

    # ---- NEGATIVE CONTROL: naive full rebuild from the full log -----
    per = {}
    for k in CONTROL_SCALES:
        log = spark.read.parquet(f"{dirs[k]}/events.parquet").select(
            "user_id", "event_type", "ts", "event_id")
        best = math.inf
        for a in range(ATTEMPTS):
            out = os.path.join(root, f"naive_x{k}")
            t0 = time.time()
            scd2_history(log.unionByName(scd2_delta(a)), ["user_id"],
                         ["event_type"], "ts", ["event_id"]) \
                .write.mode("overwrite").parquet(out)
            best = min(best, time.time() - t0)
        per[str(k)] = round(best, 3)
        print(f"[probe] scd2_rebuild_control x{k}: {best:.3f}s",
              file=sys.stderr)
    record("scd2_rebuild_control", per, CONTROL_SCALES)

    # ---- rollup combine: fixed 100-group delta ----------------------
    per = {}
    for k in SCALES:
        store = os.path.join(root, f"rollup_store_x{k}")
        if not os.path.exists(os.path.join(store, "CURRENT")):
            shutil.rmtree(store, ignore_errors=True)
            agg = (spark.read.parquet(f"{dirs[k]}/events.parquet")
                   .groupBy("user_id", "event_type")
                   .agg(F.count(F.lit(1)).alias("n"),
                        F.sum("value").alias("sv")))
            fold_rollup_batch(spark, store, agg, 1,
                              ["user_id", "event_type"], ["n", "sv"])
        last_bid, _ = _read_rollup_pointer(store)
        best = math.inf
        for a in range(ATTEMPTS):
            delta = spark.createDataFrame(
                [(900_000_000 + nonce * 100_000 + a * 1000 + g,
                  "probe", 1, 1.0) for g in range(100)],
                "user_id bigint, event_type string, n bigint, sv double")
            t0 = time.time()
            fold_rollup_batch(spark, store, delta, last_bid + 1 + a,
                              ["user_id", "event_type"], ["n", "sv"])
            best = min(best, time.time() - t0)
        per[str(k)] = round(best, 3)
        print(f"[probe] rollup_combine x{k}: {best:.3f}s", file=sys.stderr)
    record("rollup_combine", per)

    # ---- staging MERGE: fixed 100-row delta touching ONE partition --
    per = {}
    for k in SCALES:
        # _v2: round-13 layout — every timed merge runs the
        # zone-map-pruned old-version probe (the production steady
        # state), its zone maps folded from the live parquet footers
        wh = os.path.join(root, f"staging_v2_x{k}")
        stg = StagingStore(wh)
        if not stg.exists("events"):
            stg.overwrite(
                spark.read.parquet(f"{dirs[k]}/staging.parquet"), "events")
        best = math.inf
        for a in range(ATTEMPTS):
            delta = spark.createDataFrame(
                [(2_000_000_000 + nonce * 100_000 + a * 1000 + i,
                  "2024-01-15 12:00:00", 900_000_000 + i, "probe", 1.0)
                 for i in range(100)],
                "event_id bigint, extractiontimestamputc string, "
                "user_id bigint, event_type string, value double",
            ).withColumn("extractiontimestamputc",
                         F.col("extractiontimestamputc").cast("timestamp"))
            t0 = time.time()
            stg.merge(spark, delta, "events", ["event_id"])
            best = min(best, time.time() - t0)
        per[str(k)] = round(best, 3)
        print(f"[probe] staging_merge x{k}: {best:.3f}s", file=sys.stderr)
    record("staging_merge", per)

    # ---- ER append: fixed 50-record batch ---------------------------
    # Round-16 lesson: the ER and dedup stores are REBUILT FRESH every
    # run (the builds are untimed). The r12-r15 design kept them across
    # runs with nonce-disjoint deltas, but nine runs in, the
    # accumulated junk appends were 15-37% of the x1 bases and the
    # synthetic 900M-band names share a handful of _name_block values —
    # a growing hot block every later delta re-joins — which shifted
    # the whole er_append series +0.6 s and tilted dedup_append's
    # marginal NEGATIVE (the x1 store was proportionally the most
    # contaminated). Pristine stores make runs comparable
    # round-over-round; the nonce still keeps ids disjoint WITHIN a
    # run's attempts.
    for k in SCALES:
        shutil.rmtree(os.path.join(root, f"er_store_x{k}"),
                      ignore_errors=True)
        shutil.rmtree(os.path.join(root, f"dedup_store_x{k}"),
                      ignore_errors=True)
    per = {}
    for k in SCALES:
        store = os.path.join(root, f"er_store_x{k}")
        cust = spark.read.parquet(f"{dirs[k]}/customer.parquet") \
            .withColumn("_name_block",
                        F.expr("substring(c_name, 1, "
                               "greatest(length(c_name) - 4, 1))"))
        if not os.path.exists(os.path.join(store, "clusters", "_SUCCESS")):
            shutil.rmtree(store, ignore_errors=True)
            build_er_index(cust, store, key_col="c_name",
                           id_col="c_custkey",
                           block_cols=["c_nationkey", "_name_block"],
                           max_edit=2)
        # the real (custkey → nationkey) of the 50 perturbation targets:
        # the compound block key needs the TRUE nationkey to match
        nk = {r.c_custkey: r.c_nationkey for r in
              spark.read.parquet(f"{dirs[k]}/customer.parquet")
              .filter(F.col("c_custkey") <= 50)
              .select("c_custkey", "c_nationkey").collect()}
        best = math.inf
        for a in range(ATTEMPTS):
            # c_nationkey is int32 in the fixture — a bigint delta
            # would stage INT64 part files into an INT32 base/
            off = nonce * 100_000 + a * 1000
            fresh = spark.createDataFrame(
                [(900_000_000 + off + i,
                  f"Customer#{(900_000_000 + off + i) % 10**9:09d}",
                  i % 25) for i in range(50)],
                "c_custkey bigint, c_name string, c_nationkey int",
            ).withColumn("_name_block",
                         F.expr("substring(c_name, 1, "
                                "greatest(length(c_name) - 4, 1))"))
            t0 = time.time()
            append_to_er_index(spark, store, fresh)
            best = min(best, time.time() - t0)
        per[str(k)] = round(best, 3)
        print(f"[probe] er_append x{k}: {best:.3f}s", file=sys.stderr)
    record("er_append", per)

    # ---- dedup-store append: fixed 50-doc delta (round 15, VERDICT
    # r14 ask #2 — the leg the r14 probe lacked; the membership
    # anti-join now reads the compact base docs table, not the fps
    # relation, so the store-coupled term should be ~flat) -------------
    from priority_data_pipeline_azure_sql_db_spark.operators.dedup_index import (
        PARAMS_FILE,
        append_to_dedup_index,
        build_dedup_index,
    )

    per = {}
    for k in SCALES:
        store = os.path.join(root, f"dedup_store_x{k}")
        if not os.path.exists(os.path.join(store, PARAMS_FILE)):
            shutil.rmtree(store, ignore_errors=True)
            docs = spark.read.parquet(f"{dirs[k]}/documents.parquet")
            build_dedup_index(docs, store, kind="winnow", k=8, w=4)
        best = math.inf
        for a in range(ATTEMPTS):
            off = 900_000_000 + nonce * 100_000 + a * 1000
            delta = spark.createDataFrame(
                [(off + i,
                  " ".join(f"w{off + i}t{j}" for j in range(100)))
                 for i in range(50)],
                "doc_id bigint, text string")
            t0 = time.time()
            append_to_dedup_index(spark, store, delta)
            best = min(best, time.time() - t0)
        per[str(k)] = round(best, 3)
        print(f"[probe] dedup_append x{k}: {best:.3f}s", file=sys.stderr)
    record("dedup_append", per)

    # ---- dedup-store COMPACTION: the LSM base fold (round 16, VERDICT
    # r15 ask #4). Unlike every fold above, compaction REWRITES the fps
    # base by design (appends stay O(delta); compaction restores
    # O(1)-dir serves when generations accumulate), so the honest
    # expectation here is slope ~1 with a POSITIVE marginal against
    # store size — this leg measures the coefficient and pins that the
    # cost is the attributed base-rewrite term, not a super-linear
    # surprise (a slope well above 1 would say the fold does more than
    # one pass over the base). The per-APPEND amortized cost is
    # marginal·k/compact_every — the LSM trade the store publishes.
    # Protocol: clear any backlog untimed, then per attempt append TWO
    # fixed 50-doc generations (untimed) and time the compaction that
    # folds exactly those two into the k-sized base.
    from priority_data_pipeline_azure_sql_db_spark.operators.dedup_index import (
        compact_dedup_index,
    )

    per = {}
    for k in SCALES:
        store = os.path.join(root, f"dedup_store_x{k}")
        compact_dedup_index(spark, store)  # fold backlog, untimed
        best = math.inf
        for a in range(ATTEMPTS):
            off = 3_000_000_000 + nonce * 1_000_000 + a * 10_000
            for g in range(2):
                delta = spark.createDataFrame(
                    [(off + g * 1_000 + i,
                      " ".join(f"c{off + g}w{i}t{j}" for j in range(100)))
                     for i in range(50)],
                    "doc_id bigint, text string")
                append_to_dedup_index(spark, store, delta)
            t0 = time.time()
            folded = compact_dedup_index(spark, store)
            dt = time.time() - t0
            if folded != 2:
                raise RuntimeError(
                    f"dedup_compact x{k} attempt {a}: expected to fold "
                    f"exactly 2 generations, folded {folded} — id "
                    "collision with a previous run?")
            best = min(best, dt)
        per[str(k)] = round(best, 3)
        print(f"[probe] dedup_compact x{k}: {best:.3f}s", file=sys.stderr)
    record("dedup_compact", per)

    with open(out_json, "w") as fh:
        json.dump(results, fh, indent=1)
    print(json.dumps(results))


if __name__ == "__main__":
    main()
