"""perfbench: one seeded, checked run of one workload.

    python3 perfbench/run.py --workload retrieval --seed 1 --seconds 10 --trace 0

Prints one JSON object as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` every call into the
engine's layers is wrapped in a span and the metrics are the per-layer
ones. The full record (calibration probe, Spark conf, versions, per-kind
latencies, checks, spans) goes to ``perfbench/_out/``. Exits 1 when an
output check fails or an operation failed; a run in which some kind of
operation never succeeded still prints the result line, with no metrics.

``--docs N`` sizes the index corpus of ``retrieval`` and ``index_refresh``
(default 200 documents), for size sweeps by hand.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description="Run one perfbench workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=None, help="index corpus size")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    # the engine must be importable before anything starts
    import wagtail_vector_index_spark  # noqa: F401
    from pyspark import cloudpickle

    import perfbench.backend
    from perfbench.workloads import WORKLOADS, Ledger

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    # workers rebuild the benchmark's backend from the pickle, not by import
    cloudpickle.register_pickle_by_value(perfbench.backend)

    base_tag = f"{args.workload}-seed{args.seed}" + (f"-docs{args.docs}" if args.docs else "")
    tag = base_tag + ("-trace" if args.trace else "")
    work = harness.WorkDir(tag)
    tracer = None
    detail: dict = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "code": harness.code_digest(),
        "started_at": time.time(),
    }
    phases: dict[str, float] = {}
    mark = [time.perf_counter()]

    def lap(name: str) -> float:
        """Seconds since the previous lap, recorded under ``name``."""
        now = time.perf_counter()
        phases[name] = now - mark[0]
        mark[0] = now
        return phases[name]

    try:
        with harness.PeakRss() as rss:
            spark, session_s = harness.start_session(work, event_log=bool(args.trace))
            try:
                detail["environment"] = harness.environment(spark)
                lap("session")
                if args.trace:
                    from perfbench.trace import Tracer

                    tracer = Tracer(spark)
                    tracer.install()
                ledger = Ledger(tracer)
                wl = WORKLOADS[args.workload](spark, work, args.seed, ledger, args.docs)
                wl.setup()
                setup_s = session_s + lap("setup")
                calib = harness.write_calibration_table(work.sub("calibration"))
                detail["calibration_start"] = harness.calibrate(spark, calib)
                lap("calibration_start")
                wl.run(args.seconds)
                lap("timed")
                if tracer is not None:
                    tracer.uninstall()
                e2e = None
                missing = ledger.missing(wl.needs)
                if missing:
                    checks = {"ok": False, "no_successful": missing}
                else:
                    e2e = wl.end_to_end()
                    try:
                        checks = wl.check()
                    except Exception:  # a broken output may break a check
                        checks = {"ok": False, "error": traceback.format_exc(limit=3)}
                lap("check")
                detail["calibration_end"] = harness.calibrate(spark, calib)
                lap("calibration_end")
            finally:
                harness.stop_session(spark)
                lap("stop")
        metrics = {}
        if e2e is not None:
            metrics = {
                "latency_ms": (e2e["latency_ms"], "ms"),
                "throughput_per_s": (e2e["throughput_per_s"], "1/s"),
                "setup_s": (setup_s, "s"),
            }
        detail.update(
            {
                "end_to_end": {k: v for k, (v, _) in metrics.items()},
                "finished_at": time.time(),
                "session_start_s": session_s,
                "peak_rss_mb": rss.peak_mb,
                "setup_ops_s": wl.setup_ops,
                "phases_s": phases,
                "op_times_s": dict(ledger.times),
                "workload_detail": wl.detail,
                "checks": checks,
                "errors": ledger.errors,
            }
        )
        if tracer is not None and e2e is not None:
            layer = tracer.layer_metrics(work, wl, session_s)
            detail["per_layer"] = layer
            detail["spans"] = tracer.span_records()
            detail["request_breakdown_s"] = tracer.request_breakdown
            detail["tracing_overhead"] = tracer.overhead(detail, harness.OUT_DIR, base_tag)
            metrics = {k: (v, u) for k, (v, u) in layer.items()}
        harness.write_detail(tag, detail)
    finally:
        work.remove()

    correct = bool(checks.get("ok")) and ledger.failed == 0
    print("perfbench " + json.dumps({"checks": checks, "detail": wl.detail}, default=str))
    harness.emit(correct, ledger.attempted, ledger.failed, metrics)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
