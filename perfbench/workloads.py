"""The three workloads: what each sets up, times and checks.

Each workload is one closed-loop client in one process: it sends the
next call only after the previous one returned its rows. ``INPUTS`` maps
a workload to the function that generates its inputs from a seed.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from collections import defaultdict
from dataclasses import replace

import numpy as np

from perfbench.gen import (
    CorpusShape,
    CurationShape,
    Generator,
    QueryShape,
    RefreshShape,
    object_key,
)

# -- sizes and knobs --------------------------------------------------------

INDEX_CORPUS = CorpusShape(n_docs=200)
# retrieval's store: a base build plus one uncompacted refresh (a
# tombstone and an upsert generation)
SERVE_GENERATIONS = RefreshShape(rounds=1, changed=0.05, added=0.02, removed=0.01)
REFRESH_ROUNDS = RefreshShape(rounds=12, changed=0.05, added=0.02, removed=0.01)
QUERIES = QueryShape()
CURATION = CurationShape(shards=6, docs_per_shard=300)
# one small shard pays the chain's first-call costs (JVM class loading,
# Python workers), which do not grow with its size
CURATION_WARMUP = CurationShape(shards=1, docs_per_shard=100)
# at least 40 words, so one substituted word leaves a planted near dup
# well above the fuzzy-dedup threshold on word shingles
CURATION_TEXT = CorpusShape(n_docs=0, mean_words=60, min_words=40, max_words=300)

DIMENSIONS = 64
CHUNK_SIZE, CHUNK_OVERLAP = 48, 8
IVF = {"kind": "ivf", "k": 8, "iterations": 1}
LIMIT = 10
# the least share of the brute top-10 that IVF with nprobe=2 of k=8 cells
# must return, averaged over the query pool (one k-means round reads 0.7
# to 0.8)
RECALL_AT_10_FLOOR = 0.5
# MinHash LSH is probabilistic: a planted near dup may slip past its bands
PLANTED_NEAR_RECALL_FLOOR = 0.9
# least timed samples of each single request kind (retrieval), timed
# shards (curation) and refresh rounds (index_refresh) per run; a traced
# run, where every call is slower, takes MIN_SAMPLES_TRACED of each
MIN_SAMPLES = {"retrieval": 2, "corpus_curation": 2, "index_refresh": 2}
MIN_SAMPLES_TRACED = 2
TOL = 1e-9


def _index_inputs(seed: int, rounds: RefreshShape, n_docs: int) -> tuple[Generator, dict]:
    g = Generator(seed, replace(INDEX_CORPUS, n_docs=n_docs))
    docs = g.corpus()
    return g, {"base": docs, "rounds": g.refresh_rounds(docs, rounds)}


def retrieval_inputs(seed: int, n_docs: int = INDEX_CORPUS.n_docs) -> dict:
    g, out = _index_inputs(seed, SERVE_GENERATIONS, n_docs)
    out["queries"] = g.queries(out["rounds"][-1]["docs"], QUERIES)
    return out


def refresh_inputs(seed: int, n_docs: int = INDEX_CORPUS.n_docs) -> dict:
    return _index_inputs(seed, REFRESH_ROUNDS, n_docs)[1]


def curation_inputs(seed: int) -> dict:
    g = Generator(seed, CURATION_TEXT)
    warm = [g.curation_shard(CURATION_WARMUP) for _ in range(CURATION_WARMUP.shards)]
    shards = [g.curation_shard(CURATION) for _ in range(CURATION.shards)]
    return {"warmup": warm, "shards": shards}


INPUTS = {
    "index_refresh": refresh_inputs,
    "retrieval": retrieval_inputs,
    "corpus_curation": curation_inputs,
}


# -- accounting ---------------------------------------------------------------


class Ledger:
    """Counts every operation as attempted or failed and keeps the wall
    time of each successful one under its kind."""

    def __init__(self, tracer=None):
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.times: dict[str, list[float]] = defaultdict(list)
        self.errors: list[str] = []

    def run(self, kind: str, fn):
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if self.tracer is not None:
                with self.tracer.request(kind):
                    out = fn()
            else:
                out = fn()
        except Exception:  # an operation failed: count it and go on
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=3))
            print(self.errors[-1], file=sys.stderr)
            return None
        self.times[kind].append(time.perf_counter() - t0)
        return out

    def median(self, kind: str) -> float:
        return statistics.median(self.times[kind])

    def missing(self, kinds) -> list[str]:
        """The ``kinds`` without a single successful timing."""
        return [k for k in kinds if not self.times[k]]


def _write_parquet(path: str, rows: list[dict], *, index_source: bool) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = {
        "doc_id": pa.array([d["doc_id"] for d in rows], pa.int64()),
        "source": pa.array([d["source"] for d in rows], pa.string()),
        "text": pa.array([d["text"] for d in rows], pa.string()),
    }
    if index_source:
        keys = [object_key(d) for d in rows]
        cols["object_key"] = pa.array(keys, pa.string())
        cols["object_keys"] = pa.array([[k] for k in keys], pa.list_(pa.string()))
    pq.write_table(pa.table(cols), path)
    return path


class Workload:
    name = ""
    # operation kinds end_to_end and check read; a run without a
    # successful one of each reports its failures and no metrics
    needs: tuple[str, ...] = ()

    def __init__(self, spark, work, seed: int, ledger: Ledger, n_docs: int | None = None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.ledger = ledger
        self.n_docs = n_docs or INDEX_CORPUS.n_docs
        self.min_samples = (
            MIN_SAMPLES[self.name] if ledger.tracer is None else MIN_SAMPLES_TRACED
        )
        self.setup_ops: dict[str, float] = {}
        self.detail: dict = {}

    def _setup_op(self, kind: str, fn):
        t0 = time.perf_counter()
        out = self.ledger.run(kind, fn)
        self.setup_ops[kind] = self.setup_ops.get(kind, 0.0) + time.perf_counter() - t0
        return out

    def end_to_end(self) -> dict:
        """latency_ms and throughput_per_s of the timed phase."""
        raise NotImplementedError


# -- index workloads ----------------------------------------------------------


class _IndexWorkload(Workload):
    def _open_index(self):
        from wagtail_vector_index_spark.chat import EchoChatBackend
        from wagtail_vector_index_spark.config import EmbeddingConfig, IndexConfig
        from wagtail_vector_index_spark.index import VectorIndex
        from wagtail_vector_index_spark.sources.tables import DocumentStore

        from perfbench.backend import CountingFeatureHash

        self.backend = CountingFeatureHash(self.spark.sparkContext, DIMENSIONS)
        if self.ledger.tracer is not None:
            self.ledger.tracer.embed_backend = self.backend
        self.cfg = IndexConfig(
            index_name="perfbench",
            chunk_size=CHUNK_SIZE,
            chunk_overlap=CHUNK_OVERLAP,
            embedding=EmbeddingConfig(
                model_id=self.backend.model_id, dimensions=DIMENSIONS
            ),
        )
        self.store = DocumentStore(self.spark, self.work.sub("store"))
        self.index = VectorIndex(
            self.spark,
            self.cfg,
            self.store,
            embedding_backend=self.backend,
            chat_backend=EchoChatBackend(),
        )
        self.ann_path = os.path.join(self.work.path, "ann")
        self.src_dir = self.work.sub("sources")

    def _write_versions(self, base: list[dict], rounds: list[dict]) -> None:
        """Source parquet per corpus version, and per version the text
        bytes the index must ingest to reach it (all of v0; then the
        changed and added documents)."""
        self.rounds = rounds
        self.ingest_bytes = [sum(len(d["text"].encode()) for d in base)]
        for i, docs in enumerate([base] + [r["docs"] for r in rounds]):
            _write_parquet(
                os.path.join(self.src_dir, f"v{i}.parquet"), docs, index_source=True
            )
            if i:
                r = rounds[i - 1]
                fresh = set(r["changed"]) | set(r["added"])
                self.ingest_bytes.append(
                    sum(len(d["text"].encode()) for d in docs if d["doc_id"] in fresh)
                )
        self.user_bytes_ingested = 0
        self.changed_docs = 0

    def _sources(self, version: int):
        from wagtail_vector_index_spark.sources.tables import read_table

        return read_table(self.spark, self.src_dir, f"v{version}")

    def _rebuild(self) -> None:
        self.index.rebuild_index(self._sources(0))
        self.user_bytes_ingested += self.ingest_bytes[0]

    def _refresh(self, version: int) -> None:
        self.index.update_index(self._sources(version))
        r = self.rounds[version - 1]
        self.user_bytes_ingested += self.ingest_bytes[version]
        self.changed_docs += len(r["changed"]) + len(r["added"])

    def _build_ann(self) -> None:
        self.index.build_ann_index(self.ann_path, **IVF)

    def _resolved_rows(self, df) -> set:
        from pyspark.sql import functions as F

        return {
            tuple(r)
            for r in df.select(
                "doc_key",
                "chunk_no",
                F.sha2(F.col("content"), 256),
                F.sha2(F.to_json(F.col("vector")), 256),
            ).collect()
        }


class IndexRefresh(_IndexWorkload):
    """Write path: rebuild, then refresh rounds (each followed by an IVF
    build, since a refresh drops the ANN tier), then compaction."""

    name = "index_refresh"
    needs = ("rebuild", "refresh", "ann_build", "round", "compact")

    def setup(self) -> None:
        self.inputs = refresh_inputs(self.seed, self.n_docs)
        self._open_index()
        self._write_versions(self.inputs["base"], self.inputs["rounds"])
        self._setup_op("rebuild", self._rebuild)
        self.version = 0

    def run(self, seconds: float) -> None:
        rounds = self.inputs["rounds"]
        t_end = time.perf_counter() + seconds
        self.docs_touched = 0
        while self.version < len(rounds) and (
            self.version < self.min_samples or time.perf_counter() < t_end
        ):
            r = rounds[self.version]
            self.version += 1
            t0 = time.perf_counter()
            self.ledger.run("refresh", lambda: self._refresh(self.version))
            self.ledger.run("ann_build", self._build_ann)
            self.ledger.times["round"].append(time.perf_counter() - t0)
            self.docs_touched += len(r["changed"]) + len(r["added"]) + len(r["removed"])
        self.ledger.run("compact", self.index.compact)

    def end_to_end(self) -> dict:
        t = self.ledger.times
        self.detail.update(
            {
                "index.build_docs_per_s": len(self.inputs["base"]) / self.setup_ops["rebuild"],
                "index.refresh_p50_s": self.ledger.median("refresh"),
                "index.ann_build_s": self.ledger.median("ann_build"),
                "index.compact_s": self.ledger.median("compact"),
                "rounds": self.version,
            }
        )
        return {
            "latency_ms": 1000.0 * self.ledger.median("round"),
            "throughput_per_s": self.docs_touched / sum(t["round"]),
        }

    def check(self) -> dict:
        """The resolved store equals a from-scratch build of the final
        corpus on (doc_key, chunk_no, content hash, vector hash)."""
        from wagtail_vector_index_spark.plans.indexing import build_documents

        got = self._resolved_rows(self.index.documents())
        want = self._resolved_rows(
            build_documents(self._sources(self.version), self.cfg, self.backend)
        )
        return {
            "ok": got == want,
            "store_equals_rebuild": got == want,
            "rows": len(got),
            "missing": len(want - got),
            "extra": len(got - want),
        }


class Retrieval(_IndexWorkload):
    """Read path over a store in the state real stores are in: a base
    build plus an uncompacted refresh, plus an IVF tier."""

    name = "retrieval"
    kinds = ("search", "ann_search", "find_similar")
    needs = ("rebuild", "refresh", "ann_build", "batch_rag") + kinds

    def setup(self) -> None:
        self.inputs = retrieval_inputs(self.seed, self.n_docs)
        self._open_index()
        rounds = self.inputs["rounds"]
        self._write_versions(self.inputs["base"], rounds)
        self._setup_op("rebuild", self._rebuild)
        for v in range(1, len(rounds) + 1):
            self._setup_op("refresh", lambda: self._refresh(v))
        self._setup_op("ann_build", self._build_ann)
        q = self.inputs["queries"]
        self.batch_df = self._frame(q["batch"])
        # pay the first-call costs before timing: one request of each kind
        # (a cold call reads 20% to 100% slower, by a margin that varies
        # from run to run); they also warm the batch's k-NN join
        for kind, arg in q["stream"][:3]:
            self._setup_op("warmup", lambda: self._request(kind, arg))
        self.results: list[tuple] = []
        self.batches: list = []

    def _request(self, kind: str, arg: str) -> list:
        if kind == "find_similar":
            df = self.index.find_similar(arg, limit=LIMIT)
        else:
            df = self.index.search(arg, limit=LIMIT, ann=(kind == "ann_search"))
        return df.select("doc_key", "chunk_no", "similarity").collect()

    def _frame(self, queries: list[str]):
        return self.spark.createDataFrame([(t,) for t in queries], "query string")

    def _batch(self, frame) -> list:
        return self.index.batch_query(frame).select(
            "query", "response", "sources"
        ).collect()

    def run(self, seconds: float) -> None:
        """Rounds of single requests (search, ann_search, find_similar)
        until ``seconds`` have passed and each kind has ``min_samples``
        timings, then ``min_samples`` ``batch_query`` calls over the fixed
        frame; stops on whole rounds, so every kind sees the same stretch
        of the run."""
        t0 = time.perf_counter()
        stream = iter(self.inputs["queries"]["stream"][3:])
        rounds = 0
        while rounds < self.min_samples or time.perf_counter() - t0 < seconds:
            for _ in self.kinds:
                kind, arg = next(stream)
                rows = self.ledger.run(kind, lambda: self._request(kind, arg))
                if rows is not None:
                    self.results.append((kind, arg, rows))
            rounds += 1
        for _ in range(self.min_samples):
            rows = self.ledger.run("batch_rag", lambda: self._batch(self.batch_df))
            if rows is not None:
                self.batches.append(rows)

    def end_to_end(self) -> dict:
        kinds = self.kinds
        for kind in kinds:
            self.detail[f"{kind}.p50_ms"] = 1000.0 * self.ledger.median(kind)
            self.detail[f"{kind}.samples"] = len(self.ledger.times[kind])
        n_batch = len(self.inputs["queries"]["batch"])
        self.detail.update(
            {
                "index.build_docs_per_s": len(self.inputs["base"]) / self.setup_ops["rebuild"],
                "index.refresh_p50_s": self.ledger.median("refresh"),
                "index.ann_build_s": self.ledger.median("ann_build"),
                "batch_rag.queries_per_s": n_batch / self.ledger.median("batch_rag"),
                "n_docs": len(self.inputs["base"]),
            }
        )
        # geometric mean of the per-kind medians: a kind weighs the same
        # however long its calls take
        p50s = [self.detail[f"{kind}.p50_ms"] for kind in kinds]
        return {
            "latency_ms": float(np.exp(np.mean(np.log(p50s)))),
            "throughput_per_s": n_batch / self.ledger.median("batch_rag"),
        }

    # -- checks ---------------------------------------------------------------

    def _stored(self):
        rows = self.index.documents().select("doc_key", "chunk_no", "vector").collect()
        keys = [(r["doc_key"], r["chunk_no"]) for r in rows]
        mat = np.array([r["vector"] for r in rows], dtype=np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        return keys, {k: i for i, k in enumerate(keys)}, mat

    @staticmethod
    def _best_per_doc(keys, sims) -> dict:
        best: dict[str, float] = {}
        for (doc, _), s in zip(keys, sims):
            if s > best.get(doc, -2.0):
                best[doc] = float(s)
        return best

    @staticmethod
    def _check_ranked(keys, pos, sims, rows, exclude=None) -> bool:
        """``rows`` are the best chunk per document among the top-``LIMIT``
        chunks of each probe row of ``sims`` (P x chunks), with the
        ``exclude`` chunks dropped after ranking. Similarities must be
        exact, documents unique, and no chunk that ranks clearly inside
        some probe's top missing; ties at the boundary may go either way."""
        kth = np.sort(sims, axis=1)[:, ::-1][:, min(LIMIT, sims.shape[1]) - 1]
        keep = np.ones(sims.shape[1], bool) if exclude is None else ~exclude
        docs = [r["doc_key"] for r in rows]
        ok = bool(rows) and len(docs) == len(set(docs))
        for r in rows:
            i = pos.get((r["doc_key"], r["chunk_no"]))
            ok &= i is not None and bool(keep[i]) and bool(
                np.any(
                    (np.abs(sims[:, i] - r["similarity"]) <= TOL)
                    & (sims[:, i] >= kth - TOL)
                )
            )
        inside = np.any(sims > (kth + TOL)[:, None], axis=0) & keep
        must = {keys[i][0] for i in np.flatnonzero(inside)}
        return ok and must <= set(docs)

    def _ivf_cells(self, keys) -> tuple[np.ndarray, np.ndarray]:
        """(unit centroids in cid order, cid of each stored chunk), read
        back from the IVF tier."""
        from wagtail_vector_index_spark.operators.ann_index import IvfIndex

        ivf = IvfIndex(self.spark, self.ann_path, id_col="__ann_key")
        book = sorted(self.spark.read.parquet(ivf.codebook_path).collect(), key=lambda r: r["cid"])
        cents = np.array([r["cv"] for r in book], dtype=np.float64)
        cents /= np.linalg.norm(cents, axis=1, keepdims=True)
        cell = {}
        # probing every cell lists every posting
        for r in ivf.candidates([1.0] * DIMENSIONS, nprobe=len(book)).select(
            "__ann_key", "cid"
        ).collect():
            doc, chunk = r["__ann_key"].rsplit("#", 1)
            cell[(doc, int(chunk))] = r["cid"]
        return cents, np.array([cell[k] for k in keys])

    @staticmethod
    def _top_docs(keys, sims) -> set:
        """Documents of the top-``LIMIT`` chunks, ties at the boundary in."""
        kth = np.sort(sims)[::-1][LIMIT - 1]
        return {keys[i][0] for i in np.flatnonzero(sims >= kth - TOL)}

    def check(self) -> dict:
        keys, pos, mat = self._stored()
        self.n_chunks = self.detail["n_chunks"] = len(keys)
        cents, cells = self._ivf_cells(keys)
        be = self.backend

        def unit(text) -> np.ndarray:
            v = be.embed_one(text)
            return v / np.linalg.norm(v)

        def probed(q) -> np.ndarray:
            """Chunks in the IVF cells ``search(ann=True)`` probes for
            ``q``: the default ``nprobe``=2 nearest centroids."""
            return np.isin(cells, np.argsort(-(cents @ q), kind="stable")[:2])

        bad = defaultdict(int)
        for kind, arg, rows in self.results:
            if kind == "find_similar":
                own = np.array([k[0] == arg for k in keys])
                ok = self._check_ranked(keys, pos, mat[own] @ mat.T, rows, exclude=own)
                bad[kind] += not ok
                continue
            q = unit(arg)
            sims = (mat @ q)[None, :]
            if kind == "search":
                ok = self._check_ranked(keys, pos, sims, rows)
            else:
                # exact top-k over the probed cells only
                cand = probed(q)
                ok = self._check_ranked(
                    keys, pos, np.where(cand, sims, -2.0), rows, exclude=~cand
                )
            bad[kind] += not ok
        # recall@10 of the IVF tier against brute force over the whole
        # query pool, so the floor is tested on more than a run's few
        # ann_search requests
        recalls = []
        for text in self.inputs["queries"]["pool"]:
            q = unit(text)
            sims = mat @ q
            truth = self._top_docs(keys, sims)
            got = self._top_docs(keys, np.where(probed(q), sims, -2.0))
            recalls.append(len(got & truth) / len(truth))
        echo = "This is an echo backend: "
        for rows in self.batches:
            for r in rows:
                sims = mat @ unit(r["query"])
                kth = np.sort(sims)[::-1][min(5, len(sims)) - 1]
                best = self._best_per_doc(keys, sims)
                ok = r["response"] == echo + r["query"] and len(r["sources"]) == 5
                ok &= all(best.get(d, -2.0) >= kth - TOL for d in r["sources"])
                bad["batch_rag"] += not ok
        recall = float(np.mean(recalls))
        self.detail["ann.recall_at_10"] = recall
        return {
            "wrong_results": dict(bad),
            "ok": not any(bad.values()) and recall >= RECALL_AT_10_FLOOR,
            "ann.recall_at_10": recall,
            "recall_floor": RECALL_AT_10_FLOOR,
            "requests": len(self.results),
        }


# -- training-data curation -------------------------------------------------


class CorpusCuration(Workload):
    """exact dedup -> MinHash near-dup removal over connected components ->
    quality filter -> source mix -> sequence packing, one fresh shard per
    timed iteration, so per-data-version memos miss as on a real corpus."""

    name = "corpus_curation"
    needs = ("curate",)

    def setup(self) -> None:
        from wagtail_vector_index_spark.queries_text import _MIX_WEIGHTS

        self.mix_weights = _MIX_WEIGHTS
        self.inputs = curation_inputs(self.seed)
        d = self.work.sub("shards")
        self.paths = [
            _write_parquet(os.path.join(d, f"s{i}.parquet"), docs, index_source=False)
            for i, (docs, _) in enumerate(self.inputs["shards"])
        ]
        for i, (docs, _) in enumerate(self.inputs["warmup"]):
            warm = _write_parquet(
                os.path.join(d, f"warmup{i}.parquet"), docs, index_source=False
            )
            self._setup_op("warmup", lambda: self._curate(warm))
        self.rows_in = CURATION_WARMUP.docs_per_shard * CURATION_WARMUP.shards
        self.done: list[tuple[int, list]] = []

    def _exact(self, path: str):
        from wagtail_vector_index_spark.operators.corpus import Corpus
        from wagtail_vector_index_spark.sources.tables import read_table

        name = os.path.basename(path).removesuffix(".parquet")
        return Corpus(read_table(self.spark, os.path.dirname(path), name)).dedup_exact()

    def _chain(self, path: str):
        return self._exact(path).dedup_fuzzy(method="minhash", exact_components=True)

    def _curate(self, path: str) -> list:
        return (
            self._chain(path).quality_filter().mix(self.mix_weights).pack().collect()
        )

    def run(self, seconds: float) -> None:
        t0 = time.perf_counter()
        for i, path in enumerate(self.paths):
            if i >= self.min_samples and time.perf_counter() - t0 > seconds:
                break
            rows = self.ledger.run("curate", lambda: self._curate(path))
            self.rows_in += CURATION.docs_per_shard
            if rows is not None:
                self.done.append((i, rows))

    def end_to_end(self) -> dict:
        median_s = self.ledger.median("curate")
        self.detail["curate.docs_per_s"] = CURATION.docs_per_shard / median_s
        return {
            "latency_ms": 1000.0 * median_s,
            "throughput_per_s": CURATION.docs_per_shard / median_s,
        }

    def check(self) -> dict:
        """Every curated shard's pack output equals the catalog's oracle
        SQL for exact dedup, quality, mix and pack, replayed in DuckDB
        over the shard without its planted near duplicates: near-dup
        removal took out those and nothing else, so no planted duplicate
        reached the output. MinHash LSH may let a planted near dup
        through; on a mismatch the replay runs again over the survivors
        Spark kept, which must then meet the planted-recall floors. A
        traced run measures planted recall on its last shard that way."""
        import duckdb
        import pandas as pd

        from wagtail_vector_index_spark.queries import ORACLE

        con = duckdb.connect()

        def replay(documents) -> set:
            con.register("documents", documents)
            try:
                return set(con.execute(ORACLE["pipeline_corpus_prep"]).fetchall())
            finally:
                con.unregister("documents")

        wrong, fills, slow = [], [], []
        try:
            for i, packed in self.done:
                docs, planted = self.inputs["shards"][i]
                near = {p["dup_id"] for p in planted if p["kind"] == "near"}
                got = {tuple(r) for r in packed}
                ok = got == replay(pd.DataFrame([d for d in docs if d["doc_id"] not in near]))
                if not ok:
                    slow.append(i)
                    fuzzy = self._fuzzy_survivors(i)
                    ok = got == replay(fuzzy) and self._planted(i, fuzzy)["planted_ok"]
                if not ok:
                    wrong.append(i)
                fills.append(
                    sum(r["est_tokens"] for r in packed)
                    / (1024.0 * len({(r["shard"], r["pack_id"]) for r in packed}))
                )
        finally:
            con.close()
        self.detail["pack.fill_ratio"] = statistics.median(fills)
        out = {
            "ok": not wrong,
            "shards_checked": len(self.done),
            "shards_wrong": wrong,
            "shards_replayed_over_survivors": slow,
        }
        if self.ledger.tracer is not None:
            i = self.done[-1][0]
            out.update(self._planted(i, self._fuzzy_survivors(i)))
            out["ok"] = out["ok"] and out["planted_ok"]
        return out

    def _fuzzy_survivors(self, i: int):
        """The fuzzy-dedup survivors of timed shard ``i``, as pandas: one
        more Spark pass, after timing."""
        return self._chain(self.paths[i]).df.select("doc_id", "source", "text").toPandas()

    def _planted(self, i: int, fuzzy) -> dict:
        """Planted recall of the near-dup stage on shard ``i``."""
        _, planted = self.inputs["shards"][i]
        survivors = set(fuzzy["doc_id"].tolist())
        removed = {
            k: [p["dup_id"] not in survivors for p in planted if p["kind"] == k]
            for k in ("exact", "near")
        }
        recall = {k: sum(v) / len(v) for k, v in removed.items()}
        origs_kept = all(p["orig_id"] in survivors for p in planted)
        self.detail["dedup.planted_recall_exact"] = recall["exact"]
        self.detail["dedup.planted_recall_near"] = recall["near"]
        return {
            "planted_recall": recall,
            "originals_kept": origs_kept,
            "planted_ok": recall["exact"] == 1.0
            and recall["near"] >= PLANTED_NEAR_RECALL_FLOOR
            and origs_kept,
        }


WORKLOADS = {w.name: w for w in (IndexRefresh, Retrieval, CorpusCuration)}

