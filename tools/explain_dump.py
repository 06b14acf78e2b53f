"""Dump `.explain("formatted")` for named registry queries to files —
the per-round optimization evidence (plans/rNN/<query>_<tag>.txt).

The session mirrors bench.py (AQE off) so the dumped plan is the plan
the bench actually executes: static Exchange placement, join strategy,
PushedFilters/ReadSchema all visible without AQE re-planning noise.

Usage: python tools/explain_dump.py <outdir> <tag> <query> [<query> ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from priority_data_pipeline_azure_sql_db_spark.queries import QUERIES  # noqa: E402
from priority_data_pipeline_azure_sql_db_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    if len(sys.argv) < 4:
        raise SystemExit(__doc__)
    outdir, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark(
        "explain_dump", extra_conf={"spark.sql.adaptive.enabled": "false"})
    for name in names:
        df = QUERIES[name](spark, SF_DIR)
        # _sql_formatted goes through the same queryExecution explain
        # path as df.explain("formatted") but returns the string
        text = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(text)
        n_ex = text.count("Exchange")
        print(f"[explain_dump] {path}: {len(text)} bytes, "
              f"{n_ex} Exchange mentions", file=sys.stderr)


if __name__ == "__main__":
    main()
