"""Tracing for ``run.py --trace 1``, done entirely from the benchmark's
side: the engine is not modified.

``Tracer.install`` wraps the engine's layer entry points (``TARGETS``) in
spans. A span records name, layer, start, end, parent span and request
id, and sets a Spark job group so the event log can be split per span.
When a wrapped call returns a lazy DataFrame, the wrapper forces it
through a ``noop`` sink inside the span (jobs tagged ``<group>:force``),
so its work is timed where it happens; a row count rides the same job
through an ``Observation``. Forcing repeats work the caller does again
later, which is the tracing overhead this mode reports.

After the session stops, ``layer_metrics`` parses the uncompressed Spark
event log (``StageCompleted`` / ``TaskEnd`` per job group) and folds
spans and Spark metrics into the per-layer metrics of BENCHMARK.json.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

PKG = "wagtail_vector_index_spark"
# the untraced run a traced one is compared with must be this recent
OVERHEAD_MAX_AGE_S = 3600

# (module under PKG, attribute, layer, force the returned DataFrame?)
TARGETS = [
    ("plans.indexing", "chunk_sources", "split", True),
    ("embedding.stage", "embed_dataframe", "embed", True),
    ("plans.indexing", "incremental_build_documents", "staleness", True),
    ("sources.tables", "DocumentStore.read_at", "store.read", True),
    ("sources.tables", "DocumentStore._write_generation", "store.write", False),
    ("sources.manifest", "ManifestLog.commit", "store.commit", False),
    ("operators.kmeans", "train_codebook", "kmeans", False),
    ("operators.ann_index", "IvfIndex.build", "ann.build", False),
    ("operators.ann_index", "IvfIndex.candidates", "ann.scan", True),
    ("operators.ann_index", "IvfIndex.topk", "ann.probe", True),
    ("operators.knn", "topk_similar", "knn.topk", True),
    ("operators.knn", "similarity_join", "knn.join", True),
    ("operators.fetchback", "dedup_keep_best", "fetchback", True),
    ("chat", "chat_dataframe", "chat", True),
    ("operators.corpus", "Corpus.dedup_exact", "corpus", True),
    ("operators.corpus", "Corpus.dedup_fuzzy", "corpus", True),
    ("operators.corpus", "Corpus.quality_filter", "textq", True),
    ("operators.corpus", "Corpus.mix", "corpus", True),
    ("operators.packing", "pack_sequences", "pack", True),
    ("operators.dedup", "minhash_signatures", "dedup.signature", True),
    ("operators.dedup", "_band_candidates", "dedup.candidates", True),
    ("operators.dedup", "minhash_lsh_pairs", "dedup.pairs", True),
    ("operators.dedup", "connected_components", "dedup.cc", True),
]

# every per-layer metric, in BENCHMARK.json order: name -> unit
PER_LAYER = {
    "session.start_s": "s",
    "split.busy_s": "s",
    "split.chunks_out": "count",
    "embed.busy_s": "s",
    "embed.texts": "count",
    "embed.arrow_batches": "count",
    "embed.retries": "count",
    "staleness.busy_s": "s",
    "staleness.chunks_embedded_per_changed": "ratio",
    "staleness.changed_docs": "count",
    "store.write_s": "s",
    "store.bytes_written_per_user_byte": "ratio",
    "store.live_generations": "count",
    "store.commit_s": "s",
    "store.read_resolve_s": "s",
    "store.files_per_read": "count",
    "kmeans.round_s": "s",
    "kmeans.rounds": "count",
    "ann.build_s": "s",
    "ann.probe_s": "s",
    "ann.scan_fraction": "ratio",
    "ann.recall_at_10": "ratio",
    "knn.rows_scored_per_query": "count",
    "knn.topk_s": "s",
    "knn.join_s": "s",
    "index.spark_jobs_per_search": "count",
    "index.probe_embed_s": "s",
    "fetchback.busy_s": "s",
    "chat.rows_per_s": "1/s",
    "textq.busy_s": "s",
    "dedup.signature_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.cc_rounds": "count",
    "dedup.cc_round_s": "s",
    "dedup.planted_recall": "ratio",
    "corpus.rows_in": "count",
    "corpus.dedup_exact.rows_out": "count",
    "corpus.dedup_fuzzy.rows_out": "count",
    "corpus.quality_filter.rows_out": "count",
    "corpus.mix.rows_out": "count",
    "pack.fill_ratio": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "trace.latency_ms": "ms",
    "trace.spans": "count",
}


class Span:
    __slots__ = ("id", "name", "layer", "parent", "request", "start", "end", "attrs")

    def __init__(self, sid, name, layer, parent, request):
        self.id, self.name, self.layer = sid, name, layer
        self.parent, self.request = parent, request
        self.start = time.perf_counter()
        self.end = self.start
        self.attrs: dict = {}

    @property
    def group(self) -> str:
        return f"s{self.id}"

    @property
    def duration(self) -> float:
        return self.end - self.start


def _dir_bytes(path: str, suffix: str = "") -> tuple[int, int]:
    """(bytes, files) under ``path`` for files ending in ``suffix``."""
    size = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return size, files


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._request: str | None = None
        self._requests = 0
        self._undo: list = []
        self.embed_backend = None

    # -- spans ----------------------------------------------------------------

    def _set_group(self, group: str | None, desc: str = "") -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, desc)

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, layer, parent.id if parent else None, self._request)
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent.group if parent else None, parent.name if parent else "")

    @contextmanager
    def request(self, kind: str):
        """One workload operation: the root span of everything it calls."""
        self._requests += 1
        outer, self._request = self._request, f"{kind}#{self._requests}"
        try:
            with self.span(kind, "request"):
                yield
        finally:
            self._request = outer

    def force(self, sp: Span, df) -> None:
        """Run ``df`` through a noop sink, counting its rows on the way."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation(f"perfbench_{sp.id}")
        self._set_group(sp.group + ":force", sp.name)
        before = self._embed_counts() if sp.layer == "embed" else None
        try:
            df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format(
                "noop"
            ).mode("overwrite").save()
            sp.attrs["rows"] = obs.get["rows"]
        finally:
            self._set_group(sp.group, sp.name)
        if before is not None:
            after = self._embed_counts()
            for k, v in after.items():
                sp.attrs[k] = v - before[k]

    def _embed_counts(self) -> dict:
        b = self.embed_backend
        if b is None:
            return {"texts": 0, "batches": 0, "busy_s": 0.0}
        return {"texts": b.texts.value, "batches": b.batches.value, "busy_s": b.busy_s.value}

    # -- wrapping -------------------------------------------------------------

    def _wrap(self, fn, name: str, layer: str, force: bool):
        tracer = self
        sig = inspect.signature(fn)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            from pyspark.sql import DataFrame

            with tracer.span(name, layer) as sp:
                if layer == "dedup.cc" and kwargs.get("stats") is None:
                    kwargs["stats"] = {}
                if layer == "knn.topk":
                    args = tracer._observe_input(sp, args)
                out = fn(*args, **kwargs)
                tracer._annotate(sp, sig, args, kwargs, out)
                target = out
                if layer == "staleness":
                    target = out[1]  # the stale-key compare
                elif hasattr(out, "df") and not isinstance(out, DataFrame):
                    target = out.df  # a Corpus
                if force and isinstance(target, DataFrame):
                    tracer.force(sp, target)
                if "input_obs" in sp.attrs:
                    sp.attrs["rows_in"] = sp.attrs.pop("input_obs").get["rows"]
            return out

        return wrapper

    def _observe_input(self, sp: Span, args):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation(f"perfbench_in_{sp.id}")
        sp.attrs["input_obs"] = obs
        return (args[0].observe(obs, F.count(F.lit(1)).alias("rows")),) + tuple(args[1:])

    def _annotate(self, sp: Span, sig, args, kwargs, out) -> None:
        if sp.layer == "dedup.cc":
            sp.attrs["rounds"] = kwargs["stats"].get("rounds", 0)
        elif sp.layer == "kmeans":
            bound = sig.bind_partial(*args, **kwargs)
            bound.apply_defaults()
            sp.attrs["rounds"] = bound.arguments.get("iterations", 0)
        elif sp.layer == "store.write" and out is not None:
            store = args[0]
            sp.attrs["bytes"] = _dir_bytes(store.log.gen_path(out))[0]
        elif sp.layer == "store.read":
            store = args[0]
            files = 0
            for p in store.log.live_paths(store.log.current()):
                files += _dir_bytes(p, ".parquet")[1]
            sp.attrs["files"] = files

    def install(self) -> None:
        """Patch every TARGET in its module, in every engine module that
        imported it by name, and on its class for methods."""
        for mod_name, attr, layer, force in TARGETS:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            name = f"{mod_name}.{attr}"
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                raw = cls.__dict__[meth]
                if isinstance(raw, classmethod):
                    new = classmethod(self._wrap(raw.__func__, name, layer, force))
                else:
                    new = self._wrap(raw, name, layer, force)
                setattr(cls, meth, new)
                self._undo.append((cls, meth, raw))
                continue
            orig = getattr(mod, attr)
            new = self._wrap(orig, name, layer, force)
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith(PKG) and m.__dict__.get(attr) is orig:
                    setattr(m, attr, new)
                    self._undo.append((m, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # -- results --------------------------------------------------------------

    def span_records(self) -> list[dict]:
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.duration
        return [
            {
                "id": s.id,
                "name": s.name,
                "layer": s.layer,
                "parent": s.parent,
                "request": s.request,
                "start": s.start,
                "end": s.end,
                "self_s": s.duration - child[s.id],
                **{k: v for k, v in s.attrs.items() if k != "input_obs"},
            }
            for s in self.spans
        ]

    def _busy(self, layer: str) -> float:
        """Wall time inside ``layer``, not counting a span nested in a
        span of the same layer twice."""
        by_id = {s.id: s for s in self.spans}

        def nested(s: Span) -> bool:
            p = s.parent
            while p is not None:
                if by_id[p].layer == layer:
                    return True
                p = by_id[p].parent
            return False

        return sum(s.duration for s in self.spans if s.layer == layer and not nested(s))

    def _of(self, layer: str) -> list[Span]:
        return [s for s in self.spans if s.layer == layer]

    @staticmethod
    def _median(values) -> float:
        values = list(values)
        return statistics.median(values) if values else 0.0

    def layer_metrics(self, work, wl, session_s: float) -> dict:
        """Every PER_LAYER metric as (value, unit); 0 where the workload
        does not exercise the layer."""
        groups = parse_event_log(os.path.join(work.path, "eventlog"))
        m: dict[str, float] = defaultdict(float)
        sum_attr = lambda layer, k: sum(s.attrs.get(k, 0) for s in self._of(layer))  # noqa: E731
        med = self._median
        m["session.start_s"] = session_s

        m["split.busy_s"] = self._busy("split")
        m["split.chunks_out"] = sum_attr("split", "rows")
        m["embed.busy_s"] = sum_attr("embed", "busy_s")
        m["embed.texts"] = sum_attr("embed", "texts")
        m["embed.arrow_batches"] = sum_attr("embed", "batches")
        m["embed.retries"] = 0  # the backend never fails; the engine retries inside

        m["staleness.busy_s"] = self._busy("staleness")
        refresh_reqs = {s.request for s in self.spans if s.name == "refresh" and s.layer == "request"}
        refreshed = sum(s.attrs.get("rows", 0) for s in self._of("embed") if s.request in refresh_reqs)
        changed = getattr(wl, "changed_docs", 0)
        m["staleness.changed_docs"] = changed
        m["staleness.chunks_embedded_per_changed"] = refreshed / changed if changed else 0.0

        writes = self._of("store.write")
        m["store.write_s"] = med(s.duration for s in writes)
        user = getattr(wl, "user_bytes_ingested", 0)
        m["store.bytes_written_per_user_byte"] = sum_attr("store.write", "bytes") / user if user else 0.0
        store = getattr(wl, "store", None)
        if store is not None and store.log.current() is not None:
            m["store.live_generations"] = len(store.log.current().live)
        m["store.commit_s"] = med(s.duration for s in self._of("store.commit"))
        m["store.read_resolve_s"] = med(s.duration for s in self._of("store.read"))
        m["store.files_per_read"] = med(s.attrs.get("files", 0) for s in self._of("store.read"))

        trains = self._of("kmeans")
        m["kmeans.round_s"] = med(s.duration / max(s.attrs.get("rounds", 1), 1) for s in trains)
        m["kmeans.rounds"] = trains[-1].attrs.get("rounds", 0) if trains else 0
        m["ann.build_s"] = med(s.duration for s in self._of("ann.build"))
        m["ann.probe_s"] = med(s.duration for s in self._of("ann.probe"))
        n_chunks = getattr(wl, "n_chunks", 0)
        scans = [s.attrs.get("rows", 0) for s in self._of("ann.scan")]
        m["ann.scan_fraction"] = med(scans) / n_chunks if scans and n_chunks else 0.0
        m["ann.recall_at_10"] = wl.detail.get("ann.recall_at_10", 0.0)

        m["knn.rows_scored_per_query"] = med(s.attrs.get("rows_in", 0) for s in self._of("knn.topk"))
        m["knn.topk_s"] = med(s.duration for s in self._of("knn.topk"))
        m["knn.join_s"] = med(s.duration for s in self._of("knn.join"))
        m["index.spark_jobs_per_search"] = med(self._jobs_per_request(groups, "search"))
        b = self.embed_backend
        if b is not None and b.probe_calls:
            m["index.probe_embed_s"] = b.probe_s / b.probe_calls
        m["fetchback.busy_s"] = self._busy("fetchback")
        chat = self._of("chat")
        chat_s = sum(s.duration for s in chat)
        m["chat.rows_per_s"] = sum_attr("chat", "rows") / chat_s if chat_s else 0.0

        m["textq.busy_s"] = self._busy("textq")
        m["dedup.signature_s"] = self._busy("dedup.signature")
        m["dedup.candidate_pairs"] = sum_attr("dedup.candidates", "rows")
        m["dedup.verified_pairs"] = sum_attr("dedup.pairs", "rows")
        rounds = sum_attr("dedup.cc", "rounds")
        m["dedup.cc_rounds"] = rounds
        m["dedup.cc_round_s"] = self._busy("dedup.cc") / rounds if rounds else 0.0
        m["dedup.planted_recall"] = wl.detail.get("dedup.planted_recall_near", 0.0)
        m["corpus.rows_in"] = getattr(wl, "rows_in", 0)
        for stage in ("dedup_exact", "dedup_fuzzy", "quality_filter", "mix"):
            m[f"corpus.{stage}.rows_out"] = sum(
                s.attrs.get("rows", 0) for s in self.spans if s.name.endswith(f"Corpus.{stage}")
            )
        m["pack.fill_ratio"] = wl.detail.get("pack.fill_ratio", 0.0)

        spark = defaultdict(float)
        for g, agg in groups.items():
            if g and g.startswith("s") and not g.endswith(":force"):
                for k, v in agg.items():
                    spark[k] += v
        for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "gc_s"):
            m[f"spark.{k}"] = spark[k]
        m["trace.latency_ms"] = wl.end_to_end()["latency_ms"]
        m["trace.spans"] = len(self.spans)
        self.request_breakdown = self._breakdown()
        return {k: (float(m[k]), u) for k, u in PER_LAYER.items()}

    def _jobs_per_request(self, groups: dict, kind: str) -> list[int]:
        """Spark jobs the workload's own calls ran per ``kind`` request,
        the noop sinks of the trace left out."""
        by_req = defaultdict(int)
        for s in self.spans:
            if s.request and s.request.startswith(kind + "#"):
                by_req[s.request] += groups.get(s.group, {}).get("jobs", 0)
        return list(by_req.values())

    def _breakdown(self) -> dict:
        """Per request kind: median seconds of each layer inside it."""
        per: dict = defaultdict(lambda: defaultdict(list))
        totals: dict = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            if s.request and s.layer != "request":
                totals[s.request][s.layer] += s.duration
        for req, layers in totals.items():
            kind = req.split("#")[0]
            for layer, v in layers.items():
                per[kind][layer].append(v)
        return {k: {lay: statistics.median(v) for lay, v in d.items()} for k, d in per.items()}

    @staticmethod
    def overhead(traced: dict, out_dir: str, untraced_name: str) -> dict:
        """Traced end-to-end values over those of the untraced run of the
        same workload and seed on record, if that run used the same code
        and finished less than ``OVERHEAD_MAX_AGE_S`` before this one
        started. The ratio of the two runs' start calibration probes goes
        with it, so a host that changed between them shows."""
        path = os.path.join(out_dir, f"{untraced_name}.json")
        if not os.path.exists(path):
            return {"note": f"no untraced record {untraced_name}.json to compare"}
        with open(path) as f:
            base = json.load(f)
        if base.get("code") != traced["code"]:
            return {"note": f"{untraced_name}.json was made by other code"}
        age = traced["started_at"] - base.get("finished_at", float("-inf"))
        if not 0 <= age <= OVERHEAD_MAX_AGE_S:
            return {"note": f"{untraced_name}.json did not finish in the "
                            f"{OVERHEAD_MAX_AGE_S} s before this run"}
        ratios = {
            k: v / base["end_to_end"][k]
            for k, v in traced["end_to_end"].items()
            if base["end_to_end"].get(k)
        }
        cal, cal0 = traced["calibration_start"], base["calibration_start"]
        ratios["calibration_start"] = {k: cal[k] / cal0[k] for k in cal if cal0.get(k)}
        ratios["untraced_age_s"] = age
        return ratios


def parse_event_log(path: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages, tasks and task metrics summed."""
    stage_group: dict[int, str | None] = {}
    groups: dict = defaultdict(lambda: defaultdict(float))
    files = []
    for dirpath, _dirs, names in os.walk(path):
        files += [os.path.join(dirpath, n) for n in names if not n.startswith(".")]
    for fp in sorted(files):
        with open(fp) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    groups[g]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerStageCompleted":
                    groups[stage_group.get(ev["Stage Info"]["Stage ID"])]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    tm = ev.get("Task Metrics") or {}
                    a = groups[stage_group.get(ev.get("Stage ID"))]
                    sr = tm.get("Shuffle Read Metrics") or {}
                    a["tasks"] += 1
                    a["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                    a["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    a["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    a["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    a["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    a["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0
                    )
    return groups
