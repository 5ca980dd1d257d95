"""Generate BENCH_NOTES.md's head: engine vs DuckDB-oracle wall-clock.

The table is written from a bench.py record, so its Spark/DuckDB pairs
come from bench.py's one protocol (cold run, then median of 5 Spark
runs with the cache cleared, median of 3 DuckDB runs of the identical
oracle SQL in the same process). No Spark session starts here.

Run:
  python bench.py && python tools/bench_vs_duckdb.py        # BENCH_DETAIL.json
  python bench.py --only q1 q2 > r.json && python tools/bench_vs_duckdb.py r.json

DuckDB is a vectorized single-node engine with no job-scheduling
overhead; Spark pays a fixed ~0.3-0.5 s per job for the distribution
machinery that makes the same plans run on 100 TB.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def pairs(record: dict) -> dict[str, dict]:
    """Per-query timings of a bench.py record that carry a DuckDB pair:
    ``detail`` + ``added`` of a full run, ``queries`` of an ``--only``
    run."""
    if "detail" in record:
        queries = {**record["detail"], **record.get("added", {})}
    else:
        queries = record["queries"]
    return {name: rec for name, rec in queries.items() if rec.get("duckdb_s")}


def main() -> None:
    path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, "BENCH_DETAIL.json")
    with open(path) as f:
        text = f.read().strip()
    try:
        record = json.loads(text)
    except json.JSONDecodeError:  # captured stdout: the record is its last line
        record = json.loads(text.splitlines()[-1])
    rows = pairs(record)

    total_s = sum(r["median_s"] for r in rows.values())
    total_d = sum(r["duckdb_s"] for r in rows.values())
    lines = [
        "# BENCH vs DuckDB baseline",
        "",
        f"Wall-clock at sf{record['sf']} from bench.py (Spark: cold run, then",
        "median of 5 with the cache cleared; DuckDB: median of 3 of the",
        "identical oracle SQL in the same process). Generated by",
        f"tools/bench_vs_duckdb.py from {os.path.basename(path)}.",
        "",
        "| query | spark s | duckdb s | ratio |",
        "|---|---|---|---|",
    ]
    for name, r in rows.items():
        s, d = r["median_s"], r["duckdb_s"]
        lines.append(f"| {name} | {s:.2f} | {d:.2f} | {s / d:.1f}x |")
    if total_d > 0:
        lines.append(
            f"| **total** | **{total_s:.2f}** | **{total_d:.2f}** | "
            f"**{total_s / total_d:.1f}x** |"
        )
    lines += [
        "",
        "Reading: sub-second relational/kNN queries sit at Spark's fixed",
        "job overhead (~0.3-0.5 s) regardless of data size — the price of",
        "the distributed runtime — while the real-work families and the",
        "composed pipelines land near or under parity. Read per-query",
        "ratios, not the total: a few long DuckDB replays (recursive-CTE",
        "packing folds) dominate it. The ann_* rows time queries against",
        "a per-process memoized index (served-index semantics: builds",
        "amortize; bench.py's cold_s carries the one-time build cost).",
        "",
        "Comparability: host throughput drifts between runs (both engines",
        "drift together) and the tracked query set grows round over round,",
        "so the same-moment per-query ratio is the stable signal; absolute",
        "totals are not comparable across rounds.",
    ]
    # preserve the per-round sections appended after the generated head
    notes = os.path.join(REPO, "BENCH_NOTES.md")
    try:
        prev = open(notes).read()
        cut = prev.find("\n## Round")
        tail = prev[cut:] if cut != -1 else ""
    except FileNotFoundError:
        tail = ""
    with open(notes, "w") as f:
        f.write("\n".join(lines) + "\n" + tail)
    print(f"wrote BENCH_NOTES.md from {path} ({len(rows)} queries; round sections preserved)")


if __name__ == "__main__":
    main()
