"""r11 stagings — the verdict's streaming-plane and long-document asks.

A. **Streaming neardup standing signature state** (verdict #1
   done-criterion): `neardup_corpus_stream` used to re-fingerprint the
   ENTIRE standing corpus every micro-batch (O(corpus) text scan + sha
   shingling per trigger — the exact super-linear loop SCALE.md r10-B
   measured in the batch plane). r11 persists each generation's MinHash
   signatures as a `_sigs-n{n}-h{h}` parquet sidecar inside the
   generation directory (published by the same atomic rename + manifest
   commit), and the standing side of the per-batch dedup becomes a
   union of sidecar leaf scans. This staging drives a 10-batch
   file-source stream (20k Zipfian docs per batch) through BOTH shapes
   — the r11 default and a faithful copy of the r10 per-batch
   re-fingerprint loop — and prints per-micro-batch trigger walls from
   the streaming progress log. Done = r11 per-batch wall ~flat while
   the corpus grows ~10x; the old shape's wall grows with the corpus.

B. **Long-document regime** (verdict #2): every organic staging so far
   used ~100-token docs, while the per-doc JVM kernels had costs that
   grow with document length — `remove_duplicated_spans`' rebuild
   filter evaluated array_contains(removed, i) PER TOKEN (O(n_toks x
   removals) per doc). r11 replaced it (and the span-scrub twins) with
   the linear keep-mask (functions/text_analysis.keep_mask_col). This
   staging fixes the total token budget (~6M) and sweeps document
   length 1k -> 10k -> 100k tokens with ~50% duplicated content,
   timing the r11 kernels AND a staging-local copy of the old
   array_contains rebuild. Done = r11 near-flat per fixed token
   budget; the old shape cliffs within the sweep.

Run: python tools/scale_r11.py [A] [B]   (default: both)
"""

from __future__ import annotations

import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")
sys.path.insert(0, "/root/repo/tools")

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from scale_100x_docs import _gen_docs_pdf  # noqa: E402  (same corpus shape)
from wagtail_vector_index_spark.session import build_session  # noqa: E402


# ---------------------------------------------------------------------------
# A. streaming neardup: r11 sidecar state vs r10 per-batch re-fingerprint
# ---------------------------------------------------------------------------


def _old_neardup_corpus_stream(doc_stream, *, path, checkpoint_dir,
                               threshold=0.5, **minhash_kwargs):
    """Faithful copy of the r10 `neardup_corpus_stream` foreachBatch
    body: the standing corpus is re-read as TEXT and re-fingerprinted
    (minhash_signatures over the whole live table) on EVERY
    micro-batch. Kept here as the staging counterpoint only."""
    from wagtail_vector_index_spark.operators.dedup import (
        incremental_neardup_filter,
        keep_representatives_exact,
        minhash_lsh_pairs,
        minhash_signatures,
    )
    from wagtail_vector_index_spark.sources.manifest import (
        ManifestLog,
        read_live_table,
    )

    log = ManifestLog(path)

    def _process(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        token = f"{checkpoint_dir}#{batch_id}"
        spark = batch_df.sparkSession

        def write(written):
            pairs = minhash_lsh_pairs(
                batch_df, threshold=threshold, **minhash_kwargs
            )
            survivors = keep_representatives_exact(batch_df, pairs)
            cur = log.current()
            if cur is not None and cur.live:
                corpus = read_live_table(spark, path)
                corpus_sigs = minhash_signatures(
                    corpus,
                    n=minhash_kwargs.get("n", 3),
                    num_hashes=minhash_kwargs.get("num_hashes", 16),
                    cache=False,
                ).localCheckpoint(eager=False)
                survivors = incremental_neardup_filter(
                    survivors, None, threshold=threshold,
                    corpus_signatures=corpus_sigs, **minhash_kwargs,
                )
            survivors.write.mode("overwrite").parquet(written)

        log.commit_append(log.write_generation(write, token=token), token=token)

    return (
        doc_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )


def part_a(spark, rng, tmp) -> None:
    from wagtail_vector_index_spark.sources.manifest import read_live_table
    from wagtail_vector_index_spark.streaming.maintenance import (
        neardup_corpus_stream,
    )

    print("== A: neardup_corpus_stream, 10 x 20k-doc Zipfian batches ==",
          flush=True)
    src = f"{tmp}/a_src"
    schema = None
    for i in range(10):
        pdf = _gen_docs_pdf(rng, 20_000)[["doc_id", "text"]]
        pdf["doc_id"] = pdf["doc_id"] + i * 10_000_000
        sdf = spark.createDataFrame(pdf)
        schema = sdf.schema
        sdf.coalesce(1).write.mode("append").parquet(src)
    print("staged 10 batch files", flush=True)

    def run(tag, starter):
        table = f"{tmp}/a_tbl_{tag}"
        ck = f"{tmp}/a_ck_{tag}"
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(src)
        t0 = time.time()
        q = starter(stream, path=table, checkpoint_dir=ck, threshold=0.5)
        q.awaitTermination(3600)
        total = time.time() - t0
        prog = [
            (p["batchId"], p["numInputRows"],
             p["durationMs"].get("triggerExecution", 0) / 1000.0)
            for p in (q.recentProgress or [])
            if p.get("numInputRows", 0) > 0
        ]
        n_live = read_live_table(spark, table).count()
        return prog, total, n_live

    import os

    # JVM/JIT warm-up lands on whichever stream runs first; flip with
    # SCALE_A_ORDER=old_first and compare growth SLOPES across both
    # orderings (the within-run slope is the signal either way)
    if os.environ.get("SCALE_A_ORDER") == "old_first":
        old_prog, old_total, old_live = run("old", _old_neardup_corpus_stream)
        print(f"r10 re-fingerprint: total={old_total:.1f}s "
              f"live_docs={old_live}", flush=True)
        new_prog, new_total, new_live = run("new", neardup_corpus_stream)
        print(f"r11 sidecar state: total={new_total:.1f}s "
              f"live_docs={new_live}", flush=True)
    else:
        new_prog, new_total, new_live = run("new", neardup_corpus_stream)
        print(f"r11 sidecar state: total={new_total:.1f}s "
              f"live_docs={new_live}", flush=True)
        old_prog, old_total, old_live = run(
            "old", _old_neardup_corpus_stream
        )
        print(f"r10 re-fingerprint: total={old_total:.1f}s "
              f"live_docs={old_live}", flush=True)
    assert new_live == old_live, (new_live, old_live)

    print()
    print("| micro-batch | input rows | r11 sidecar wall | r10 re-fingerprint wall |")
    print("|---|---|---|---|")
    old_by_id = {b: w for b, _, w in old_prog}
    for b, rows, w in sorted(new_prog):
        ow = old_by_id.get(b)
        print(f"| {b} | {rows} | {w:.1f}s | "
              f"{'%.1fs' % ow if ow is not None else '-'} |")
    nw = [w for _, _, w in sorted(new_prog)]
    ow = [w for _, _, w in sorted(old_prog)]
    print(
        f"\nper-batch wall batch1->batch9: r11 {nw[1]:.1f}s -> {nw[-1]:.1f}s "
        f"(x{nw[-1] / max(nw[1], 1e-9):.2f}) vs r10 {ow[1]:.1f}s -> "
        f"{ow[-1]:.1f}s (x{ow[-1] / max(ow[1], 1e-9):.2f}) while the "
        f"standing corpus grew ~9x; identical surviving corpora "
        f"({new_live} docs)",
        flush=True,
    )


# ---------------------------------------------------------------------------
# B. long-document regime: span-removal kernels at 1k/10k/100k tokens/doc
# ---------------------------------------------------------------------------


def _gen_long_docs(rng, n_docs: int, doc_len: int, dup_frac: float = 0.5,
                   vocab: int = 50_000) -> pd.DataFrame:
    """Documents of ``doc_len`` tokens where a ``dup_frac`` slice is a
    SHARED passage (identical across all docs — every window inside it
    is corpus-duplicated) and the rest is unique random text: the
    books-with-quoted-boilerplate regime."""
    shared_len = int(doc_len * dup_frac)
    shared = " ".join(
        f"w{w}" for w in rng.integers(0, vocab, size=shared_len)
    )
    rows = []
    uniq_len = doc_len - shared_len
    half = uniq_len // 2
    for d in range(n_docs):
        uniq = [f"u{d}x{w}" for w in rng.integers(0, vocab, size=uniq_len)]
        text = " ".join(uniq[:half]) + " " + shared + " " + " ".join(uniq[half:])
        rows.append((d, text))
    return pd.DataFrame(rows, columns=["doc_id", "text"])


def _old_remove_duplicated_spans(df, *, k: int = 8):
    """Staging-local copy of the pre-r11 rebuild: identical windowing /
    keep-first semantics (60-bit hash for parity with the shipped
    kernel) but the per-token array_contains membership filter —
    O(n_toks x removals) per document."""
    from wagtail_vector_index_spark.functions.text_analysis import (
        sha_hash60,
        tokens_col,
    )

    kk = int(k)
    wins = (
        df.select(F.col("doc_id"), tokens_col(F.col("text")).alias("__tk"))
        .select("doc_id", F.size("__tk").alias("__n"), "__tk")
        .where(F.col("__n") >= kk)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.col("__n") - kk + 1),
                    lambda i: F.struct(
                        i.alias("pos"),
                        sha_hash60(
                            F.array_join(F.slice(F.col("__tk"), i, kk), " ")
                        ).alias("wh"),
                    ),
                )
            ).alias("__w"),
        )
        .select("doc_id", F.col("__w.pos").alias("pos"),
                F.col("__w.wh").alias("wh"))
    )
    dup_first = (
        wins.groupBy("wh")
        .agg(
            F.count(F.lit(1)).alias("__c"),
            F.min(F.struct(F.col("doc_id"), F.col("pos"))).alias("__first"),
        )
        .where(F.col("__c") >= 2)
        .select("wh", "__first")
    )
    removals = (
        wins.join(dup_first, "wh")
        .where(
            (F.col("doc_id") != F.col("__first").getField("doc_id"))
            | (F.col("pos") != F.col("__first").getField("pos"))
        )
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos") - 1, F.col("pos") + kk - 2)
            ).alias("__i"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("__i").alias("__poss"))
    )
    joined = df.join(removals, "doc_id", "left")
    toks = tokens_col(F.col("text"))
    cleaned = F.concat_ws(
        " ",
        F.filter(toks, lambda tok, i: ~F.array_contains(F.col("__poss"), i)),
    )
    return joined.withColumn(
        "text",
        F.when(F.col("__poss").isNull(), F.col("text")).otherwise(cleaned),
    ).drop("__poss")


def part_b(spark, rng, tmp) -> None:
    from wagtail_vector_index_spark.operators.corpus import Corpus
    from wagtail_vector_index_spark.operators.dedup import (
        remove_boilerplate_lines,
        remove_duplicated_spans,
    )

    print("== B: long-document kernels, ~6M tokens total, 50% duplicated ==",
          flush=True)
    shapes = [(6_000, 1_000), (600, 10_000), (60, 100_000)]
    frames = {}
    for n_docs, doc_len in shapes:
        pdf = _gen_long_docs(rng, n_docs, doc_len)
        p = f"{tmp}/b_{doc_len}"
        spark.createDataFrame(pdf).repartition(32).write.mode(
            "overwrite"
        ).parquet(p)
        frames[doc_len] = (n_docs, spark.read.parquet(p))
    print("staged 3 corpora", flush=True)

    def timed(fn):
        t0 = time.time()
        out = fn()
        return time.time() - t0, out

    rows = []
    for doc_len, (n_docs, df) in frames.items():
        # exactsubstr trim — r11 linear mask
        w_new, n_mod = timed(
            lambda: remove_duplicated_spans(df, k=8)
            .where(F.col("text") != "")
            .select(F.sum(F.size(F.split("text", " "))))
            .collect()[0][0]
        )
        rows.append(("exactsubstr_trim(r11 mask)", n_docs, doc_len, w_new))
        print(f"exactsubstr r11  {n_docs}x{doc_len}: {w_new:.1f}s "
              f"(kept_tokens={n_mod})", flush=True)
        # old array_contains shape — skip at 100k (projected > 1h)
        if doc_len <= 10_000:
            w_old, n_old = timed(
                lambda: _old_remove_duplicated_spans(df, k=8)
                .where(F.col("text") != "")
                .select(F.sum(F.size(F.split("text", " "))))
                .collect()[0][0]
            )
            assert n_old == n_mod, (n_old, n_mod)
            rows.append(
                ("exactsubstr_trim(old contains)", n_docs, doc_len, w_old)
            )
            print(f"exactsubstr old  {n_docs}x{doc_len}: {w_old:.1f}s "
                  "(identical output)", flush=True)
        else:
            print(f"exactsubstr old  {n_docs}x{doc_len}: SKIP "
                  "(O(n_toks x removals)/doc: 50k removals x 100k tokens "
                  "= 5e9 comparisons per doc)", flush=True)

        # span scrub via the Corpus facade — the eval set quotes a
        # 200-token slice of the shared passage, so every doc is
        # contaminated and loses ~200 tokens
        shared_head = " ".join(
            frames[doc_len][1].select("text").first()["text"].split()[
                doc_len // 4 : doc_len // 4 + 200
            ]
        )
        eval_df = spark.createDataFrame(
            pd.DataFrame([(10_000_000, shared_head)],
                         columns=["doc_id", "text"])
        )
        w_scrub, _ = timed(
            lambda: Corpus(df).scrub_spans(eval_df=eval_df)
            .df.select(F.sum(F.size(F.split("text", " "))))
            .collect()[0][0]
        )
        rows.append(("corpus.scrub_spans(r11 mask)", n_docs, doc_len, w_scrub))
        print(f"scrub_spans r11  {n_docs}x{doc_len}: {w_scrub:.1f}s",
              flush=True)

        # line dedup — split each doc into 12-token lines first. The
        # token array is BOUND to a column before the per-line lambda
        # (an inline F.split inside the transform would re-split the
        # whole doc once per line: O(n^2/12) per doc).
        lines_df = df.select(
            "doc_id", F.split("text", " ").alias("__tk")
        ).localCheckpoint(eager=False).select(
            "doc_id",
            F.transform(
                F.sequence(
                    F.lit(0), F.floor((F.size("__tk") - 1) / 12)
                ),
                lambda i: F.array_join(
                    F.slice(F.col("__tk"), (i * 12 + 1).cast("int"), 12), " "
                ),
            ).alias("lines"),
        )
        w_line, _ = timed(
            lambda: remove_boilerplate_lines(lines_df)
            .select(F.sum("n_kept"))
            .collect()[0][0]
        )
        rows.append(("line_dedup", n_docs, doc_len, w_line))
        print(f"line_dedup       {n_docs}x{doc_len}: {w_line:.1f}s",
              flush=True)

    print()
    print("| kernel | docs | tokens/doc | wall |")
    print("|---|---|---|---|")
    for name, n_docs, doc_len, w in rows:
        print(f"| {name} | {n_docs} | {doc_len} | {w:.1f}s |")
    print(flush=True)


def part_c(spark, rng, tmp) -> None:
    """Containment identical-set collapse (verdict #7): a boilerplate
    cluster of R identical docs used to enter the containment pair join
    as R individuals (R² co-count rows); r11 collapses identical
    shingle sets to one representative first, matching the Jaccard
    family. Corpus = organic Zipf docs + one planted identical cluster;
    the staging times the shipped collapsed path vs a staging-local
    copy of the pre-r11 uncollapsed formulation and asserts identical
    directed pair sets."""
    from wagtail_vector_index_spark.functions.text_analysis import (
        word_shingles_col,
    )
    from wagtail_vector_index_spark.operators.dedup import (
        _cocount_containment_pairs,
        _ensure_parallelism,
        ngram_containment_pairs,
    )

    print("== C: containment pairs, planted identical cluster ==",
          flush=True)
    rows = []
    for n_docs, r_clique in ((5_000, 500), (20_000, 2_000), (20_000, 8_000)):
        pdf = _gen_docs_pdf(rng, n_docs)[["doc_id", "text"]]
        boiler = pdf["text"].iloc[0]
        pdf.loc[: r_clique - 1, "text"] = boiler  # identical cluster
        p = f"{tmp}/c_{n_docs}_{r_clique}"
        spark.createDataFrame(pdf).repartition(32).write.mode(
            "overwrite"
        ).parquet(p)
        df = spark.read.parquet(p)

        t0 = time.time()
        got = ngram_containment_pairs(
            df, n=3, threshold=0.8, method="cocount"
        ).count()
        w_new = time.time() - t0

        def uncollapsed():
            sh = _ensure_parallelism(df, "doc_id").select(
                F.col("doc_id"),
                word_shingles_col(F.col("text"), 3).alias("shingles"),
            )
            return _cocount_containment_pairs(
                sh, id_col="doc_id", threshold=0.8
            )

        if r_clique <= 2_000:
            t0 = time.time()
            want = uncollapsed().count()
            w_old = time.time() - t0
            assert got == want, (got, want)
            old_txt = f"{w_old:.1f}s"
        else:
            old_txt = "SKIP (R^2 = 64M clique join rows)"
        rows.append((n_docs, r_clique, w_new, old_txt, got))
        print(f"{n_docs} docs, clique {r_clique}: collapsed={w_new:.1f}s "
              f"uncollapsed={old_txt} pairs={got}", flush=True)
    print()
    print("| docs | identical-cluster size | collapsed (r11) | uncollapsed (pre-r11) | directed pairs |")
    print("|---|---|---|---|---|")
    for n_docs, r, w, o, g in rows:
        print(f"| {n_docs} | {r} | {w:.1f}s | {o} | {g} |")
    print(flush=True)


def main() -> None:
    spark = build_session(
        "scale-r11",
        master="local[32]",
        shuffle_partitions=64,
        **{
            "spark.driver.memory": "48g",
            "spark.ui.enabled": "false",
            "spark.sql.files.maxPartitionBytes": "32m",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    rng = np.random.default_rng(111)
    tmp = tempfile.mkdtemp(prefix="scale_r11_")
    parts = {p.upper() for p in sys.argv[1:]} or {"A", "B"}
    if "A" in parts:
        part_a(spark, rng, tmp)
    if "B" in parts:
        part_b(spark, rng, tmp)
    if "C" in parts:
        part_c(spark, rng, tmp)


if __name__ == "__main__":
    main()
