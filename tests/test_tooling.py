"""Guards and smoke tests for the repo's tooling: one place builds Spark
sessions, the bench's ``--only`` mode, and the ``tools/stage.py``
replicas recipe."""

from __future__ import annotations

import ast
import importlib.util
import json
import os
import subprocess
import sys

import duckdb
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SESSION_BUILDERS = {
    os.path.join("wagtail_vector_index_spark", "session.py"),
}


def _python_files():
    for root, dirs, files in os.walk(REPO):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                yield os.path.relpath(path, REPO), path


def _uses_builder(node) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and node.attr == "builder"
        and (
            (isinstance(node.value, ast.Name) and node.value.id == "SparkSession")
            or (
                isinstance(node.value, ast.Attribute)
                and node.value.attr == "SparkSession"
            )
        )
    )


def _imported_modules(node) -> list[str]:
    if isinstance(node, ast.Import):
        return [a.name for a in node.names]
    if isinstance(node, ast.ImportFrom) and node.module:
        return [node.module]
    return []


def test_only_session_py_builds_spark_sessions():
    """Every tool, bench, stager and the pytest session go through
    ``build_session`` (the one tuned config); per-round staging modules
    stay deleted."""
    builders, staging_imports = [], []
    for rel, path in _python_files():
        with open(path) as f:
            tree = ast.parse(f.read(), filename=rel)
        for node in ast.walk(tree):
            if _uses_builder(node) and rel not in SESSION_BUILDERS:
                builders.append(f"{rel}:{node.lineno}")
            for mod in _imported_modules(node):
                if any(p.startswith(("scale_", "exp_")) for p in mod.split(".")):
                    staging_imports.append(f"{rel}:{node.lineno} imports {mod}")
    assert not builders, f"SparkSession.builder outside session.py: {builders}"
    assert not staging_imports, staging_imports


def test_bench_only_rejects_unknown_query_before_spark_starts():
    detail = os.path.join(REPO, "BENCH_DETAIL.json")
    before = os.stat(detail).st_mtime_ns if os.path.exists(detail) else None
    # a JVM launch would fail on this JAVA_HOME with a gateway error, so
    # the unknown-query message proves the check runs before Spark starts
    env = dict(os.environ, JAVA_HOME=os.path.join(REPO, "no-such-java-home"))
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "--only", "no_such_query"],
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode != 0
    assert "unknown query: no_such_query" in proc.stderr, proc.stderr
    assert "JAVA_GATEWAY" not in proc.stderr
    after = os.stat(detail).st_mtime_ns if os.path.exists(detail) else None
    assert after == before


def _split_copies(table, shifts: dict):
    """Rows of a replicas output grouped by copy index (the first key
    column's ``value // step``)."""
    col, step = next(iter(shifts.items()))
    copies: dict[int, list] = {}
    for row in table.to_pylist():
        copies.setdefault(row[col] // step, []).append(row)
    return copies


def test_stage_replicas_doubles_rows_with_disjoint_keys(sf_dir, tmp_path):
    spec = importlib.util.spec_from_file_location(
        "stage", os.path.join(REPO, "tools", "stage.py")
    )
    stage = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(stage)

    out = tmp_path / "sf_x2"
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir, SPARK_GRAFT_CPUS="2")
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "stage.py"), "replicas",
         str(out), "2"],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]

    for table, shifts in stage.SHIFTS.items():
        src = pq.read_table(f"{sf_dir}/{table}.parquet")
        staged = pq.read_table(str(out / f"{table}.parquet"))
        assert staged.num_rows == 2 * src.num_rows, table
        copies = _split_copies(staged, shifts)
        assert sorted(copies) == [0, 1], table
        for col, step in shifts.items():
            base = [r[col] for r in copies[0]]
            shifted = [r[col] for r in copies[1]]
            assert max(base) < min(shifted), (table, col)
            assert sorted(base) == sorted(src.column(col).to_pylist())
            assert sorted(v - step for v in shifted) == sorted(base)

        def rest(rows):
            return sorted(
                repr({k: v for k, v in r.items() if k not in shifts}) for r in rows
            )

        assert rest(copies[0]) == rest(copies[1]), table

    # tables the recipe does not scale are copied unchanged
    for table in ("region", "nation"):
        src = pq.read_table(f"{sf_dir}/{table}.parquet")
        assert pq.read_table(str(out / f"{table}.parquet")).equals(src)

    # foreign keys shift with the keys they reference, so every lineitem
    # row still joins its order, part and supplier
    con = duckdb.connect()
    for table in ("lineitem", "orders", "part", "supplier"):
        path = out / f"{table}.parquet"
        glob = f"{path}/*.parquet" if path.is_dir() else str(path)
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{glob}'")
    n_lineitem = con.execute("SELECT count(*) FROM lineitem").fetchone()[0]
    for fk, table, key in (
        ("l_orderkey", "orders", "o_orderkey"),
        ("l_partkey", "part", "p_partkey"),
        ("l_suppkey", "supplier", "s_suppkey"),
    ):
        joined = con.execute(
            f"SELECT count(*) FROM lineitem JOIN {table} ON {fk} = {key}"
        ).fetchone()[0]
        assert joined == n_lineitem, (fk, joined, n_lineitem)

    # the staged dir is a complete sf-dir that bench.py --only can time
    env["SPARK_GRAFT_SF_DIR"] = str(out)
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "--only",
         "q1_pricing_summary"],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    record = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(record["queries"]["q1_pricing_summary"]) >= {"median_s", "duckdb_s"}
