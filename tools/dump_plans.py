"""Dump `.explain("formatted")` for named catalog queries to files.

Usage: python tools/dump_plans.py <out_dir> <suffix> <query> [query ...]

Writes <out_dir>/<query>_<suffix>.txt for each query — the r12
optimization-round evidence files (plans/r12/<q>_before.txt /
_after.txt). Uses bench.py's session so the captured plan matches
what the bench executes.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import bench_session  # noqa: E402


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = bench_session(
        "dump-plans", **{"spark.sql.maxMetadataStringLength": "2000"}
    )

    from wagtail_vector_index_spark.queries import QUERY_FNS

    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = QUERY_FNS[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print("wrote", path)


if __name__ == "__main__":
    main()
