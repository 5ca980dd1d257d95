"""Generate PLANS.md: physical-plan properties of every catalog query.

For each query: join strategies chosen, whether parquet filters were
pushed down, read-schema width (column pruning), top-k strategy, and
Python-stage count, on bench.py's session (the plans the bench
executes). Run: python tools/plan_report.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import bench_session  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    # un-truncated ReadSchema/PushedFilters in plan strings — the
    # default 100-char metadata cap made the scan-cols column count
    # tree-drawing characters swallowed by the regex (r3 verdict #5)
    spark = bench_session(
        "plan-report",
        **{
            "spark.sql.maxMetadataStringLength": "100000",
            "spark.sql.debug.maxToStringFields": "10000",
        },
    )

    from wagtail_vector_index_spark.queries import QUERY_FNS

    # plan-shape queries only; skip entries that execute eagerly to build
    # (streaming sinks, GEMM collects) — their work isn't in one plan
    skip = {"streaming_events_hourly"}

    lines = [
        "# Physical plan report",
        "",
        f"Auto-generated by tools/plan_report.py at {sf_dir}. Columns:",
        "join strategies in the executed plan, parquet pushdown present,",
        "scanned column count (pruning), top-k strategy, Python stages.",
        "",
        "| query | joins | pushdown | scan cols | top-k | py stages |",
        "|---|---|---|---|---|---|",
    ]
    for name, fn in sorted(QUERY_FNS.items()):
        if name in skip:
            lines.append(f"| {name} | (streaming sink — plan not static) | | | | |")
            continue
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:
            lines.append(f"| {name} | ERROR: {str(e)[:60]} | | | | |")
            continue
        joins = []
        for j in ("BroadcastHashJoin", "SortMergeJoin", "BroadcastNestedLoopJoin", "ShuffledHashJoin"):
            n = plan.count(j)
            if n:
                joins.append(f"{j.replace('Join','')}×{n}")
        pushdown = "yes" if re.search(r"PushedFilters: \[[^\]]", plan) else "—"
        # Per-scan top-level field counts: walk each ReadSchema's
        # struct<...> payload tracking angle-bracket depth, so nested
        # struct/array fields don't inflate the count.
        widths = []
        for m in re.finditer(r"ReadSchema: struct<", plan):
            depth, fields, i = 1, 0, m.end()
            saw_field = False
            while i < len(plan) and depth > 0:
                ch = plan[i]
                if ch == "<":
                    depth += 1
                elif ch == ">":
                    depth -= 1
                elif depth == 1:
                    if ch == ",":
                        fields += 1
                    elif not ch.isspace():
                        saw_field = True
                i += 1
            widths.append(fields + 1 if saw_field else 0)
        scan_cols = "/".join(str(w) for w in sorted(widths, reverse=True)) or "0"
        if "TakeOrderedAndProject" in plan:
            topk = "TakeOrdered"
        elif "WindowGroupLimit" in plan:
            # rank-limit pushdown: partial top-k per partition BEFORE the
            # exchange — the windowed analog of TakeOrdered, not a global
            # sort (both Sort nodes are local, global=false)
            topk = "WindowGroupLimit"
        elif re.search(r"Sort \[[^\]]*\], true", plan) and "Limit" in plan:
            topk = "GlobalSort"
        else:
            topk = "—"
        py = plan.count("MapInPandas") + plan.count("ArrowEvalPython") + plan.count("FlatMapGroupsInPandas")
        lines.append(
            f"| {name} | {', '.join(joins) or '—'} | {pushdown} | {scan_cols} | {topk} | {py} |"
        )

    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote PLANS.md ({len(lines) - 8} queries)")


if __name__ == "__main__":
    main()
