"""Run plumbing shared by the workloads: the work directory, the Spark
session, the host calibration probe, the memory poller and the result
record."""

from __future__ import annotations

import hashlib
import json
import os
import platform
import shutil
import sys
import tempfile
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
OUT_DIR = os.path.join(BENCH_DIR, "_out")
ENGINE_DIR = os.path.join(os.path.dirname(BENCH_DIR), "wagtail_vector_index_spark")


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """2 GiB, or a quarter of the host's memory when that is smaller."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal"))
    return f"{min(2048, total_kb // 4096)}m"


class WorkDir:
    """Scratch space for one run inside the benchmark's directory. Every
    temporary file of Python, the JVM and Spark lands here, and the whole
    tree is removed when the run ends."""

    def __init__(self, name: str):
        self.path = os.path.join(BENCH_DIR, "_work", f"{name}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        self.tmp = self.sub("tmp")
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = self.tmp

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def start_session(work: WorkDir, *, event_log: bool):
    """The engine's shipped session factory with its RECOMMENDED_CONF;
    only the local master, parallelism, memory and file locations are
    set here. Returns (spark, seconds to first usable session)."""
    from wagtail_vector_index_spark.session import build_session

    n = cpu_count()
    conf = {
        "spark.driver.memory": driver_memory(),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": work.sub("spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work.path, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work.tmp} -XX:-UsePerfData "
            f"-Dderby.system.home={work.tmp}"
        ),
    }
    if event_log:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": work.sub("eventlog"),
            }
        )
    t0 = time.perf_counter()
    spark = build_session(
        "perfbench", master=f"local[{n}]", shuffle_partitions=n, **conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM: it exits when its stdin closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def environment(spark) -> dict:
    import duckdb
    import numpy
    import pandas
    import pyarrow

    from wagtail_vector_index_spark.session import RECOMMENDED_CONF

    conf = dict(spark.sparkContext.getConf().getAll())
    wanted = set(RECOMMENDED_CONF) | {
        "spark.master",
        "spark.driver.memory",
        "spark.sql.shuffle.partitions",
        "spark.eventLog.enabled",
    }
    return {
        "spark_conf": {k: conf.get(k, spark.conf.get(k, None)) for k in sorted(wanted)},
        "spark": spark.version,
        "python": platform.python_version(),
        "numpy": numpy.__version__,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "cpus": cpu_count(),
        "host": platform.machine(),
    }


# -- host calibration -------------------------------------------------------


def write_calibration_table(path: str) -> str:
    """A fixed 100k-row parquet, independent of the workload seed."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.Generator(np.random.PCG64(0))
    n = 100_000
    table = pa.table(
        {"k": rng.integers(0, 64, n), "v": rng.random(n), "w": rng.integers(0, 1000, n)}
    )
    out = os.path.join(path, "calibration.parquet")
    pq.write_table(table, out)
    return out


def calibrate(spark, parquet: str) -> dict:
    """One fixed JVM-only Spark aggregation and the same query in DuckDB,
    timed once each. A run probes right after its set-up, on a warm JVM,
    and again after its checks. Read beside the metrics, these tell host
    drift apart from code changes: the engine never runs in them."""
    import duckdb
    from pyspark.sql import functions as F

    def timed(fn) -> float:
        t0 = time.perf_counter()
        fn()
        return time.perf_counter() - t0

    con = duckdb.connect()
    sql = (
        f"SELECT k % 16 AS g, sum(v * w), max(w) "
        f"FROM read_parquet('{parquet}') GROUP BY g"
    )
    try:
        con.execute("SET threads TO %d" % cpu_count())
        return {
            "spark_job_s": timed(
                lambda: spark.read.parquet(parquet)
                .groupBy((F.col("k") % 16).alias("g"))
                .agg(F.sum(F.col("v") * F.col("w")), F.max("w"))
                .collect()
            ),
            "duckdb_query_s": timed(lambda: con.execute(sql).fetchall()),
        }
    finally:
        con.close()


def code_digest() -> str:
    """sha256 over the engine's and the benchmark's Python sources, so a
    record says which code produced it without needing git."""
    h = hashlib.sha256()
    for root in (ENGINE_DIR, BENCH_DIR):
        for dirpath, dirs, names in os.walk(root):
            dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
            for n in sorted(names):
                if n.endswith(".py"):
                    path = os.path.join(dirpath, n)
                    h.update(os.path.relpath(path, root).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()


# -- memory -----------------------------------------------------------------


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: ppid is the 2nd field after ")"
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(entry))
    return out


class PeakRss:
    """Polls the RSS of this Python driver plus its JVM child every
    ``period_s`` and keeps the peak of the sum."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        jvms: list[int] = []
        last_scan = 0.0
        while not self._stop.is_set():
            now = time.monotonic()
            if now - last_scan > 1.0:
                jvms = _children(me)
                last_scan = now
            total = _rss_kb(me) + sum(_rss_kb(p) for p in jvms)
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.period_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# -- results ----------------------------------------------------------------


def write_detail(name: str, detail: dict) -> str:
    os.makedirs(OUT_DIR, exist_ok=True)
    path = os.path.join(OUT_DIR, f"{name}.json")
    with open(path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True, default=str)
    return path


def emit(correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    """The result line: the last line of standard output."""
    sys.stdout.flush()
    print(
        json.dumps(
            {
                "correct": bool(correct),
                "attempted": int(attempted),
                "failed": int(failed),
                "metrics": {
                    k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
                },
            }
        ),
        flush=True,
    )
