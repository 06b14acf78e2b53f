"""Isolated re-measure of named bench entries, bracketed by the frozen
calibration probe (round 12, VERDICT r11 ask #6): run the calibration
probe, then each named query with bench.py's measurement loop VERBATIM
(AQE off, plan-once/execute-hot, cache cleared per attempt, the same
convergence early-exit — an always-9-attempt min would bias low vs the
bench number being compared against), then the probe again — so the
reading can be normalized against host load taken immediately around
it, separating hypervisor drift from plan regressions for sub-2s
entries.

Round-12 review fixes: per-query try/except (one broken entry must not
discard completed measurements — the bench.py lesson re-learned);
per_calib normalizes by the MEAN of the before/after probes and the
output flags when they diverge >15% (drift mid-run is exactly what the
bracket exists to catch).

Usage: python tools/isolated_measure.py <query> [<query> ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from priority_data_pipeline_azure_sql_db_spark.queries import QUERIES  # noqa: E402
from priority_data_pipeline_azure_sql_db_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def run_probe(spark) -> float:
    # the FROZEN bench.py calibration probe, verbatim work size
    probe = spark.range(0, 800_000_000, 1, 32).select(
        F.sum(F.pmod(F.xxhash64("id"), F.lit(1_000_000))).alias("h"))
    attempts = []
    for _ in range(6):
        t0 = time.time()
        probe.write.format("noop").mode("overwrite").save()
        attempts.append(round(time.time() - t0, 3))
    best = min(attempts[1:])
    print(f"[isolated] calibration attempts={attempts} best={best:.3f}",
          file=sys.stderr)
    return best


def measure_one(spark, name: str) -> float:
    """bench.py's per-query loop verbatim (minus the first-headline
    special case — an isolated run has no session-cold first entry
    problem because the calibration probe already warmed the JVM)."""
    df = QUERIES[name](spark, SF_DIR)
    attempts: list[float] = []
    best = float("inf")
    since_improve = 0
    for attempt in range(9):
        spark.catalog.clearCache()
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        attempts.append(round(dt, 3))
        if attempt == 0:
            continue  # cold run: JIT/codegen, never counted
        improved = dt < best * 0.95
        best = min(best, dt)
        since_improve = 0 if improved else since_improve + 1
        if since_improve >= 2 and (best < 1.0 or attempt >= 6):
            break
    print(f"[isolated] {name}: attempts={attempts} best={best:.3f}",
          file=sys.stderr)
    return round(best, 3)


def main() -> None:
    names = sys.argv[1:]
    if not names:
        raise SystemExit("usage: isolated_measure.py <query> [...]")
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    spark = get_spark("isolated-measure",
                      extra_conf={"spark.sql.adaptive.enabled": "false"})
    spark.range(1).count()
    calib_before = run_probe(spark)
    out: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in names:
        try:
            out[name] = measure_one(spark, name)
        except Exception as exc:  # noqa: BLE001 — keep the other readings
            errors[name] = f"{type(exc).__name__}: {exc}"
            print(f"[isolated] {name}: ERROR {errors[name]}",
                  file=sys.stderr)
    calib_after = run_probe(spark)
    calib = (calib_before + calib_after) / 2
    print(json.dumps({
        "sf_dir": SF_DIR,
        "calibration_before": calib_before,
        "calibration_after": calib_after,
        "calibration_drift_flag": (
            max(calib_before, calib_after)
            > 1.15 * min(calib_before, calib_after)),
        "queries": out,
        "errors": errors,
        "per_calib": {n: round(v / calib, 2) for n, v in out.items()},
    }))


if __name__ == "__main__":
    main()
