"""Local replica of the driver's correctness gate: run every declared
query in Spark AND its DuckDB oracle at a given scale factor, compare
row-count + sorted-column value multisets, and report per-query PASS/FAIL.

Runs on bench.py's session (the engine's RECOMMENDED_CONF on
local[$SPARK_GRAFT_CPUS]).

Usage: python tools/check_oracle.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import bench_session  # noqa: E402
from wagtail_vector_index_spark.queries import ORACLE, QUERY_FNS  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # collapse -0.0 and represent with fixed precision
        return f"{v + 0.0:.9g}"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def _multiset(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted("|".join(_norm(r[i]) for i in order) for r in rows)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = bench_session("check-oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    failures = []
    for name, fn in QUERY_FNS.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            sdf_dtypes = sdf.dtypes
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in ORACLE:
            print(f"ROWS  {name}: {len(s_rows)} rows (no oracle declared)")
            continue
        try:
            res = con.execute(ORACLE[name])
            d_cols = [c[0] for c in res.description]
            d_rows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        status = []
        if sorted(s_cols) != sorted(d_cols):
            status.append(f"schema {sorted(s_cols)} != {sorted(d_cols)}")
        else:
            # dtype parity (duckdb logical -> spark simpleString)
            type_map = {
                "BIGINT": "bigint", "UBIGINT": "bigint", "HUGEINT": "bigint",
                "INTEGER": "int", "DOUBLE": "double", "FLOAT": "float",
                "VARCHAR": "string", "BOOLEAN": "boolean",
            }
            d_desc = {
                r[0]: r[1] for r in con.execute(f"DESCRIBE {ORACLE[name]}").fetchall()
            }
            s_dtypes = dict(sdf_dtypes)
            for col, st in s_dtypes.items():
                dt = d_desc.get(col, "MISSING")
                expected = type_map.get(dt.split("(")[0], dt.lower())
                if expected != st:
                    status.append(f"dtype {col}: spark={st} duckdb={dt}")
        if len(s_rows) != len(d_rows):
            status.append(f"rows {len(s_rows)} != {len(d_rows)}")
        if not status:
            ms, md = _multiset(s_rows, s_cols), _multiset(d_rows, d_cols)
            if ms != md:
                diff = [
                    (a, b) for a, b in zip(ms, md) if a != b
                ][:3]
                status.append(f"values differ, first diffs: {diff}")
        dt = time.time() - t0
        if status:
            print(f"FAIL  {name} ({dt:.1f}s): {'; '.join(status)}")
            failures.append(name)
        else:
            print(f"PASS  {name} ({dt:.1f}s, {len(s_rows)} rows)")

    print()
    if failures:
        print(f"{len(failures)} FAILED: {failures}")
        sys.exit(1)
    print("all queries match the oracle")


if __name__ == "__main__":
    main()
