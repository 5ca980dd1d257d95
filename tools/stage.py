"""Scale stagings: write a scaled or synthetic corpus as an sf-dir, then
time catalog queries on it with ``bench.py --only``.

Usage:
  SPARK_GRAFT_SF_DIR=<source sf-dir> python tools/stage.py <recipe> <out_dir> [size]
  SPARK_GRAFT_SF_DIR=<out_dir> python bench.py --only <query> ...

The staging recipes read the source sf-dir from $SPARK_GRAFT_SF_DIR
(``soak`` needs none) and run on bench.py's session. Each staging recipe writes the tables it
scales or generates into ``out_dir`` and copies every other source table
unchanged, so ``out_dir`` is a complete sf-dir. It prints one JSON line
with the row counts and the staging wall time.

Recipes (``size`` and its default in brackets):

- ``replicas`` [copies, 10]: ``size`` key-shifted copies of the
  SHIFTS tables. Copy i adds ``i * step`` to each key column, so every
  copy's keys are disjoint from the others while the non-key columns
  repeat exactly: distinct users, vectors, orders, parts, suppliers and
  docs all grow ``size``-fold, every key join matches copy i to copy i
  (so join output grows ``size``-fold too), and the co-purchase graph
  becomes ``size`` disjoint copies instead of one denser graph.
- ``zipf`` [docs, 5000]: a Zipfian corpus the shape of real text (30k
  word types, s = 1.1, lognormal lengths around 90 tokens) with a fixed
  2% planted ~10%-mutated near-dup rate. Shingle sharing stays rare at
  any size (the source testdata has only 31 word types, so replicating
  it makes every 3-gram ubiquitous).
- ``organic`` [docs, 5000]: documents drawn from the source corpus's own
  unigram and length distributions with 2% planted near-dups, plus
  ``size * 2 / 5`` isotropic unit embeddings with 1% planted near-dups.
  Duplicate density is constant across sizes, so a time ratio between
  two sizes reads operator scaling, not output growth.
- ``boilerplate`` [docs, 5000]: every document shares one 12-word
  boilerplate sentence plus 20 unique words, 1% near-dups. Each
  boilerplate shingle mates O(N^2) co-count rows: the prefix filter's
  home turf.
- ``books`` [tokens per doc, 1000]: a fixed ~6M-token budget split into
  documents of ``size`` tokens, half of each a passage shared by every
  document (books quoting the same boilerplate).
- ``signflip`` [document copies, 10]: documents replicated with shifted
  ids and a per-copy tag on every token (within-copy shingle structure
  kept, cross-copy overlap zero, so pair counts grow linearly), and
  ``min(size, 3)`` embedding copies with a per-copy random sign flip per
  coordinate. Negation is exact, so within-copy cosines are
  bit-identical to the source while cross-copy cosines land near 0. At
  most 3 embedding copies because blocked-GEMM neighbor stages are
  quadratic: 3 copies already make 9x the GEMM work.
- ``soak`` [micro-batches, 80]: runs ``neardup_corpus_stream`` over
  ``size`` file batches of 300 Zipfian docs in three shapes, each in a
  fresh JVM: ``oob`` (no in-band compaction; a maintenance thread calls
  ``compact_neardup_corpus`` every 5 s), ``inband`` (``compact_every=10``)
  and ``plain`` (no compaction). It asserts the three surviving corpora
  are identical and prints mean trigger walls early vs late plus live
  generations per shape. Flat late/early walls and bounded generations
  for ``oob`` and ``inband`` are the pass condition.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import shutil
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()

# Per-copy key offsets of the replicas recipe, sized for sf0.1's key
# ranges (staging raises if a source key reaches its step). A foreign
# key shifts by the same step as the key it references, so copy i of
# lineitem joins copy i of orders, part and supplier.
SHIFTS = {
    "events": {"event_id": 100_000_000, "user_id": 10_000_000},
    "embeddings": {"vec_id": 1_000_000},
    "orders": {"o_orderkey": 10_000_000, "o_custkey": 1_000_000},
    "customer": {"c_custkey": 1_000_000},
    "part": {"p_partkey": 1_000_000},
    "supplier": {"s_suppkey": 1_000_000},
    "documents": {"doc_id": 1_000_000},
    "lineitem": {
        "l_orderkey": 10_000_000,
        "l_suppkey": 1_000_000,
        "l_partkey": 1_000_000,
    },
}

DEFAULT_SIZE = {
    "replicas": 10,
    "zipf": 5000,
    "organic": 5000,
    "boilerplate": 5000,
    "books": 1000,
    "signflip": 10,
    "soak": 80,
}
ZIPF_VOCAB = 30_000
BOILERPLATE = (
    "this document is provided under the standard license terms of the "
    "corpus"
)
BOOKS_TOKENS = 6_000_000
SOAK_DOCS_PER_BATCH = 300
SOAK_COMPACT_EVERY = {"oob": 0, "inband": 10, "plain": 0}
SOAK_FANOUT = 3
SOAK_OOB_PERIOD_S = 5.0


# -- corpus generators (pandas, no Spark) ------------------------------------


def zipf_docs(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """n Zipfian docs + a fixed 2% planted ~10%-mutated near-dup rate."""
    probs = 1.0 / np.arange(1, ZIPF_VOCAB + 1, dtype=np.float64) ** 1.1
    probs /= probs.sum()
    lengths = np.clip(
        rng.lognormal(mean=np.log(90.0), sigma=0.6, size=n), 20, 400
    ).astype(np.int64)
    toks = np.array([f"w{i}" for i in range(ZIPF_VOCAB)])[
        rng.choice(ZIPF_VOCAB, size=int(lengths.sum()), p=probs)
    ]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(toks[bounds[i] : bounds[i + 1]]) for i in range(n)]
    _plant_near_dups(rng, texts, lambda: f"w{rng.integers(0, ZIPF_VOCAB)}")
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "source": np.where(np.arange(n) % 3 == 0, "crawl_a", "crawl_b"),
            "text": texts,
        }
    )


def _plant_near_dups(rng, texts: list, word, rate: float = 0.02) -> None:
    """Overwrite ``rate`` of ``texts`` with a ~10%-mutated copy of another
    text: the same mechanism at every size, so dup density is constant."""
    n = len(texts)
    for _ in range(int(n * rate)):
        src = texts[int(rng.integers(0, n))].split(" ")
        for _ in range(max(1, len(src) // 10)):
            src[int(rng.integers(0, len(src)))] = word()
        texts[int(rng.integers(0, n))] = " ".join(src)


def organic_docs(rng, vocab, probs, lengths, n: int) -> pd.DataFrame:
    """n docs from a unigram distribution and length sample + 2% near-dups."""
    texts = [
        " ".join(
            vocab[rng.choice(len(vocab), size=int(rng.choice(lengths)), p=probs)]
        )
        for _ in range(n)
    ]
    _plant_near_dups(rng, texts, lambda: str(vocab[rng.integers(0, len(vocab))]))
    return pd.DataFrame(
        {"doc_id": np.arange(n, dtype=np.int64), "source": "synthetic", "text": texts}
    )


def organic_embeddings(rng, dim: int, n: int) -> pd.DataFrame:
    """n isotropic unit vectors + 1% planted near-dups."""
    X = rng.normal(size=(n, dim))
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    for _ in range(n // 100):
        src, victim = int(rng.integers(0, n)), int(rng.integers(0, n))
        if victim != src:
            v = X[src] + rng.normal(scale=0.02, size=dim)
            X[victim] = v / np.linalg.norm(v)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": X.astype(np.float32).tolist(),
            "label": rng.integers(0, 10, size=n).astype(np.int32),
        }
    )


def boilerplate_docs(rng, n: int) -> pd.DataFrame:
    """Shared boilerplate + 20 unique words per doc; 1% near-dups."""
    texts = [
        BOILERPLATE + " " + " ".join(f"w{w}" for w in rng.integers(0, 50_000, 20))
        for _ in range(n)
    ]
    for _ in range(n // 100):
        src, victim = int(rng.integers(0, n)), int(rng.integers(0, n))
        if src != victim:
            w = texts[src].split(" ")
            w[len(w) // 2] = "mutated"
            texts[victim] = " ".join(w)
    return pd.DataFrame(
        {"doc_id": np.arange(n, dtype=np.int64), "source": "boilerplate", "text": texts}
    )


def books_docs(rng, n_docs: int, doc_len: int, vocab: int = 50_000) -> pd.DataFrame:
    """Docs of ``doc_len`` tokens: the middle half is one passage shared
    by every doc, the rest unique random words."""
    shared = " ".join(f"w{w}" for w in rng.integers(0, vocab, doc_len // 2))
    uniq_len = doc_len - doc_len // 2
    texts = []
    for d in range(n_docs):
        uniq = [f"u{d}x{w}" for w in rng.integers(0, vocab, uniq_len)]
        half = uniq_len // 2
        texts.append(" ".join(uniq[:half]) + " " + shared + " " + " ".join(uniq[half:]))
    return pd.DataFrame(
        {"doc_id": np.arange(n_docs, dtype=np.int64), "source": "books", "text": texts}
    )


def _as_documents(pdf: pd.DataFrame) -> pd.DataFrame:
    """Complete a generated (doc_id, source, text) frame to the testdata
    ``documents`` schema."""
    return pd.DataFrame(
        {
            "doc_id": pdf["doc_id"].astype(np.int64),
            "text": pdf["text"],
            "lang": "en",
            "source": pdf["source"],
            "n_chars": pdf["text"].str.len().astype(np.int64),
        }
    )


# -- Spark-side recipes: each returns {table: DataFrame} ----------------------


def replicas(spark, src: str, copies: int) -> dict:
    from pyspark.sql import functions as F

    from wagtail_vector_index_spark.catalog import _t

    out = {}
    for table, shifts in SHIFTS.items():
        base = _t(spark, src, table)
        top = base.agg(*(F.max(c).alias(c) for c in shifts)).first()
        for col, step in shifts.items():
            if top[col] is not None and top[col] >= step:
                raise ValueError(f"{table}.{col} reaches {top[col]} >= shift {step}")
        parts = [
            base.select(
                *(
                    (F.col(c) + F.lit(i * shifts[c])).alias(c) if c in shifts else c
                    for c in base.columns
                )
            )
            for i in range(copies)
        ]
        union = parts[0]
        for p in parts[1:]:
            union = union.unionByName(p)
        out[table] = union
    return out


def signflip(spark, src: str, copies: int) -> dict:
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{src}/documents.parquet")
    max_id = docs.agg(F.max("doc_id")).first()[0] + 1
    doc_copies = spark.range(copies).select(F.col("id").alias("__copy"))
    tagged = F.array_join(
        F.transform(
            F.split("text", r"\s+"),
            lambda t: F.concat(t, F.lit("x"), F.col("__copy").cast("string")),
        ),
        " ",
    )
    documents = docs.crossJoin(doc_copies).select(
        (F.col("doc_id") + F.col("__copy") * F.lit(max_id)).alias("doc_id"),
        tagged.alias("text"),
        "lang",
        "source",
    ).withColumn("n_chars", F.length("text"))

    emb = spark.read.parquet(f"{src}/embeddings.parquet")
    max_vid = emb.agg(F.max("vec_id")).first()[0] + 1
    emb_copies = spark.range(min(copies, 3)).select(F.col("id").alias("__copy"))

    def flip(x, i):
        bit = F.pmod(F.xxhash64(F.col("__copy"), i), F.lit(2))
        return x * (F.lit(1.0) - F.lit(2.0) * bit).cast("float")

    embeddings = emb.crossJoin(emb_copies).select(
        (F.col("vec_id") + F.col("__copy") * F.lit(max_vid)).alias("vec_id"),
        F.transform("embedding", flip).alias("embedding"),
        "label",
    )
    return {"documents": documents, "embeddings": embeddings}


def generated(spark, src: str, recipe: str, size: int) -> dict:
    rng = np.random.default_rng({"zipf": 99, "boilerplate": 11, "books": 7}.get(recipe, 42))
    if recipe == "zipf":
        return {"documents": _docs_frame(spark, zipf_docs(rng, size))}
    if recipe == "boilerplate":
        return {"documents": _docs_frame(spark, boilerplate_docs(rng, size))}
    if recipe == "books":
        docs = books_docs(rng, max(2, BOOKS_TOKENS // size), size)
        return {"documents": _docs_frame(spark, docs)}
    # organic: the source corpus's unigram and length distributions
    import pyarrow.parquet as pq

    texts = pq.read_table(f"{src}/documents.parquet", columns=["text"])
    texts = texts.column("text").to_pylist()
    words = np.array([w for t in texts for w in t.split(" ") if w])
    vocab, counts = np.unique(words, return_counts=True)
    lengths = np.array([len(t.split(" ")) for t in texts])
    dim = len(pq.read_table(f"{src}/embeddings.parquet").column("embedding")[0])
    docs = organic_docs(rng, vocab, counts / counts.sum(), lengths, size)
    emb = organic_embeddings(rng, dim, size * 2 // 5)
    return {
        "documents": _docs_frame(spark, docs),
        "embeddings": spark.createDataFrame(
            emb, "vec_id long, embedding array<float>, label int"
        ),
    }


def _docs_frame(spark, pdf: pd.DataFrame):
    return spark.createDataFrame(
        _as_documents(pdf),
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def stage(recipe: str, src: str, out_dir: str, size: int) -> dict:
    from bench import bench_session

    spark = bench_session(f"stage-{recipe}")
    t0 = time.time()
    if recipe == "replicas":
        frames = replicas(spark, src, size)
    elif recipe == "signflip":
        frames = signflip(spark, src, size)
    else:
        frames = generated(spark, src, recipe, size)
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for table in TABLES:
        dst = f"{out_dir}/{table}.parquet"
        if table in frames:
            frames[table].write.mode("overwrite").parquet(dst)
        else:
            _copy(f"{src}/{table}.parquet", dst)
        rows[table] = spark.read.parquet(dst).count()
    return {
        "recipe": recipe,
        "out_dir": out_dir,
        "size": size,
        "staged": sorted(frames),
        "rows": rows,
        "wall_s": round(time.time() - t0, 1),
    }


def _copy(src: str, dst: str) -> None:
    if os.path.isdir(dst):
        shutil.rmtree(dst)
    elif os.path.exists(dst):
        os.remove(dst)
    if os.path.isdir(src):
        shutil.copytree(src, dst)
    else:
        shutil.copyfile(src, dst)


# -- soak: a stream run, one fresh JVM per shape ------------------------------


def soak(out_dir: str, n_batches: int) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = f"{out_dir}/src"
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(src)
    rng = np.random.default_rng(20260818)
    for i in range(n_batches):
        pdf = zipf_docs(rng, SOAK_DOCS_PER_BATCH)[["doc_id", "text"]]
        pdf["doc_id"] += i * 10_000_000
        # one file per micro-batch, written in order: the file source
        # (maxFilesPerTrigger=1) takes the oldest file first
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False),
            f"{src}/batch-{i:05d}.parquet",
        )
    ctx = multiprocessing.get_context("spawn")
    shapes = {}
    for tag in SOAK_COMPACT_EVERY:
        p = ctx.Process(target=_soak_shape, args=(out_dir, tag))
        p.start()
        p.join()
        if p.exitcode != 0:
            raise RuntimeError(f"soak shape {tag} exited with {p.exitcode}")
        with open(f"{out_dir}/{tag}.json") as f:
            shapes[tag] = json.load(f)
    ids = {tag: r.pop("ids") for tag, r in shapes.items()}
    if not ids["oob"] == ids["inband"] == ids["plain"]:
        raise RuntimeError("the three shapes' surviving corpora differ")

    def window_mean(walls, lo, hi):
        xs = [w for b, w in walls if lo <= b < hi]
        return sum(xs) / max(len(xs), 1)

    early = (n_batches // 8, n_batches * 5 // 16)
    late = (n_batches * 13 // 16, n_batches)
    print(f"| shape | batches {early[0]}-{early[1] - 1} mean | "
          f"{late[0]}-{late[1] - 1} mean | late/early | live gens | oob merges |")
    print("|---|---|---|---|---|---|")
    for tag, r in shapes.items():
        e, l_ = window_mean(r["walls"], *early), window_mean(r["walls"], *late)
        print(f"| {tag} | {e:.2f}s | {l_:.2f}s | x{l_ / max(e, 1e-9):.2f} "
              f"| {r['live_gens']} | {r['oob_merges']} |")
    return {
        "recipe": "soak",
        "out_dir": out_dir,
        "size": n_batches,
        "docs": len(ids["oob"]),
        "shapes": {
            tag: {k: r[k] for k in ("total_s", "live_gens", "oob_merges")}
            for tag, r in shapes.items()
        },
    }


def _soak_shape(out_dir: str, tag: str) -> None:
    from bench import bench_session
    from wagtail_vector_index_spark.sources.manifest import (
        ManifestLog,
        read_live_table,
    )
    from wagtail_vector_index_spark.streaming.maintenance import (
        compact_neardup_corpus,
        neardup_corpus_stream,
    )

    spark = bench_session(f"stage-soak-{tag}")
    src, table = f"{out_dir}/src", f"{out_dir}/tbl_{tag}"
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    stop = threading.Event()
    merges = [0]

    def maintenance():
        # min_age_s keeps GC off a trigger's still-staged directory;
        # reader_grace_s keeps a superseded generation readable for a
        # trigger that listed it before the merge committed
        while not stop.wait(SOAK_OOB_PERIOD_S):
            if compact_neardup_corpus(
                spark, table, fanout=SOAK_FANOUT, min_age_s=20.0,
                reader_grace_s=30.0,
            ):
                merges[0] += 1

    t0 = time.time()
    q = neardup_corpus_stream(
        stream, path=table, checkpoint_dir=f"{out_dir}/ck_{tag}",
        threshold=0.5, compact_every=SOAK_COMPACT_EVERY[tag],
    )
    worker = threading.Thread(target=maintenance, daemon=True)
    if tag == "oob":
        worker.start()
    q.awaitTermination()
    if tag == "oob":
        stop.set()
        worker.join(timeout=60)
        # a final drain so the end state compares with the other shapes
        while compact_neardup_corpus(spark, table, fanout=SOAK_FANOUT, min_age_s=0.0):
            merges[0] += 1
    total = time.time() - t0
    walls = sorted(
        (p["batchId"], p["durationMs"].get("triggerExecution", 0) / 1e3)
        for p in (q.recentProgress or [])
        if p.get("numInputRows", 0) > 0
    )
    ids = sorted(
        r["doc_id"] for r in read_live_table(spark, table).select("doc_id").collect()
    )
    with open(f"{out_dir}/{tag}.json", "w") as f:
        json.dump(
            {
                "total_s": round(total, 1),
                "live_gens": len(ManifestLog(table).live_paths()),
                "oob_merges": merges[0],
                "walls": walls,
                "ids": ids,
            },
            f,
        )
    spark.stop()


def main(argv: list[str] | None = None) -> None:
    import argparse

    ap = argparse.ArgumentParser(
        description=__doc__.split("\n\n")[0],
        formatter_class=argparse.RawDescriptionHelpFormatter,
    )
    ap.add_argument("recipe", choices=sorted(DEFAULT_SIZE))
    ap.add_argument("out_dir")
    ap.add_argument("size", nargs="?", type=int, help="see the recipe list")
    args = ap.parse_args(argv)
    size = DEFAULT_SIZE[args.recipe] if args.size is None else args.size
    if size < 1:
        ap.error("size must be >= 1")
    out_dir = os.path.abspath(args.out_dir)
    if args.recipe == "soak":
        result = soak(out_dir, size)
    elif not os.environ.get("SPARK_GRAFT_SF_DIR"):
        ap.error("set SPARK_GRAFT_SF_DIR to the source sf-dir")
    else:
        src = os.environ["SPARK_GRAFT_SF_DIR"]
        result = stage(args.recipe, src, out_dir, size)
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
