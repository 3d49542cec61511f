#!/usr/bin/env python3
"""Capture .explain("formatted") for every benched query into
<out_dir>/<query>_<tag>.txt.

    python scripts/capture_plans.py OUT_DIR [TAG] [QUERY,QUERY,...]

TAG defaults to "before" (use before/after around a change); the query
list defaults to bench.py's headline and extended sets. Tables are read
from SPARK_GRAFT_SF_DIR (default: the sf0.1 test data, as in bench.py)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

import bench  # noqa: E402
from event_data_etl_gcs_spark.queries import all_queries  # noqa: E402
from event_data_etl_gcs_spark.session import get_spark  # noqa: E402


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    out_dir = sys.argv[1]
    tag = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = list(dict.fromkeys(bench.BENCH_QUERIES + bench.BENCH_EXTENDED))
    if len(sys.argv) > 3:
        names = sys.argv[3].split(",")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="capture-plans")
    specs = all_queries()
    for name in names:
        df = specs[name].fn(spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
