"""Structured Streaming extension: incremental index maintenance.

The reference has no streaming — index maintenance is a batch management
command (management/commands/update_vector_indexes.py:40-42). At 100 TB a
full rebuild per refresh is untenable; this module runs the same
incremental logic (chunk → staleness anti-join → embed → upsert, reference
django.py:320-383) inside ``foreachBatch`` so only each micro-batch's
changed objects are embedded.

Also provides the watermark/windowed aggregation pattern over the
``events`` table shape (FIXTURES §5) — late data beyond the watermark is
dropped, state is bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from wagtail_vector_index_spark.index import VectorIndex


def incremental_index_stream(
    source_stream: DataFrame,
    index: VectorIndex,
    *,
    text_col: str = "text",
    checkpoint_dir: str,
    trigger_once: bool = True,
) -> StreamingQuery:
    """Maintain ``index`` from a stream of source rows.

    Each micro-batch upserts only rows whose chunk content changed
    (staleness anti-join inside update_index). Exactly-once: the
    checkpoint tracks source offsets; the document-store upsert is
    last-write-wins idempotent per (doc_key, batch).
    """

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        index.update_index(batch_df, text_col=text_col)

    writer = (
        source_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def incremental_ann_stream(
    vector_stream: DataFrame,
    index,
    *,
    checkpoint_dir: str,
    compact_every: int = 0,
    trigger_once: bool = True,
) -> StreamingQuery:
    """Maintain a materialized ANN index from a stream of new vectors —
    any tier with the append/compact maintenance surface
    (operators/ann_index.IvfIndex, IvfPqIndex, or LshIndex): each
    micro-batch assigns its rows against the stored codebook/planes and
    publishes them as a new generation — standing data is never
    rewritten, so the stream only ever adds files. With ``compact_every`` > 0 the index is compacted back to
    one file per posting list every N batches (append bursts grow file
    counts; compaction restores the scan layout). Exactly-once: the
    checkpoint tracks source offsets AND the sink is transactional per
    batch — each append carries a ``dedup_token`` derived from
    (checkpoint, batch_id), so a crash-replayed foreachBatch invocation
    resolves to the already-live generation and becomes a no-op instead
    of duplicating vectors (the foreachBatch at-least-once contract made
    idempotent sink-side, the standard pattern)."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        index.append(
            batch_df, dedup_token=f"{checkpoint_dir}#{batch_id}"
        )
        if compact_every and (batch_id + 1) % compact_every == 0:
            index.compact()

    writer = (
        vector_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_stream_interval_join(
    left_stream: DataFrame,
    right_stream: DataFrame,
    *,
    by: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "r_ts",
    interval_seconds: int = 3600,
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream inner join: left rows matched to right
    rows with the same ``by`` key whose timestamp falls in
    ``[left_ts - interval, left_ts]`` (right happened at-or-before left,
    within the interval).

    Both sides carry watermarks and the join condition bounds event-time
    distance, so Spark can evict join state once the watermark passes —
    bounded memory on unbounded streams, the thing a batch join cannot
    do. Column names must be disjoint apart from ``by``."""
    lw = left_stream.withWatermark(left_ts, watermark)
    rw = right_stream.withWatermark(right_ts, watermark)
    cond = (
        (lw[by] == rw[by])
        & (F.col(right_ts) <= F.col(left_ts))
        & (
            F.col(left_ts)
            <= F.col(right_ts) + F.expr(f"INTERVAL {interval_seconds} SECONDS")
        )
    )
    return lw.join(rw, cond).drop(rw[by])


def windowed_event_counts(
    events_stream: DataFrame,
    *,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    slide: str | None = None,
) -> DataFrame:
    """Tumbling- (default) or sliding-window (``slide=``) per-type event
    aggregation with late-data handling. A sliding window assigns each
    event to duration/slide overlapping windows BEFORE the partial
    aggregate, so state stays one row per (window, type) and the
    shuffle carries combined partials — the replication factor is the
    overlap count, never the raw stream."""
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", window_duration, slide or window_duration),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def _sigs_dirname(n: int, num_hashes: int) -> str:
    """Per-generation MinHash-signature sidecar directory name. The
    leading underscore keeps it INVISIBLE to every data reader
    (Hadoop's listing filter skips ``_``/``.`` paths — the same rule
    that hides ``_SUCCESS``), so the sidecar rides inside the
    generation directory and is published by the SAME atomic rename +
    manifest commit as the data. Parameters are baked into the name:
    a stream restarted with different MinHash settings falls back to
    recompute-and-backfill instead of silently reading signatures of
    the wrong shape."""
    return f"_sigs-n{int(n)}-h{int(num_hashes)}"


def _dir_parquet_bytes(p: str) -> int:
    import os

    total = 0
    for dp, _dirs, fs in os.walk(p):
        for f in fs:
            if f.endswith(".parquet"):
                try:
                    total += os.path.getsize(os.path.join(dp, f))
                except OSError:
                    pass
    return total


def _select_compaction(log, base, fanout: int) -> list | None:
    """The generations of ``base`` (a committed manifest of ``log``) one
    compaction cycle should merge, or None.

    ``fanout`` == 0: full merge — every live generation into one.
    >= 2: size-tiered — when the live count reaches ``2 * fanout``,
    merge the ``fanout`` SMALLEST generations, leaving the big ones
    untouched. The tiered policy bounds BOTH sides at scale: live
    generations stay < 2*fanout forever, and per-compaction write cost
    is bounded by the smallest-fanout set instead of O(corpus) —
    merged generations grow ~fanout-fold per promotion, so each row is
    rewritten O(log_fanout(corpus/batch)) times total (the LSM
    amortization). Full merge keeps exactly one live generation but
    rewrites the whole corpus every cycle — right for bounded tables;
    tiered is the 100-TB continuous-ingest setting."""
    if base is None or len(base.live) <= 1:
        return None
    if fanout >= 2:
        if len(base.live) < 2 * fanout:
            return None
        by_size = sorted(
            (_dir_parquet_bytes(log.gen_path(g)), g) for g in base.live
        )
        return [g for _, g in by_size[:fanout]]
    return list(base.live)


def _gen_sigs_read(spark, gp: str, *, sigs_dir: str, batch_sigs):
    """One generation's signature frame: the sidecar leaf scan when
    present, a stage+rename backfill when absent, and — when the
    backfill itself fails (shared-FS hiccup) — a direct compute over
    that generation's data, so a generation is NEVER silently missing
    from the standing dedup side. POSIX-rename caveat as documented on
    :func:`neardup_corpus_stream`."""
    import os
    import shutil
    import uuid

    from wagtail_vector_index_spark.sources.manifest import has_data_files

    sp = os.path.join(gp, sigs_dir)
    if not has_data_files(sp):
        sigs = batch_sigs(spark.read.parquet(gp))
        stage = f"{sp}.stage-{uuid.uuid4().hex[:12]}"
        sigs.write.mode("overwrite").parquet(stage)
        try:
            os.rename(stage, sp)
        except OSError:
            shutil.rmtree(stage, ignore_errors=True)
    if has_data_files(sp):
        return spark.read.parquet(sp)
    return batch_sigs(spark.read.parquet(gp))


def _compact_corpus_table(
    spark,
    log,
    *,
    fanout: int,
    sidecar: tuple[str, object] | None,
    min_age_s: float,
    keep_manifests: int,
    reader_grace_s: float,
) -> bool:
    """One compaction cycle over a manifest corpus table: pick the merge
    set (``_select_compaction``), union those generations' data (plus
    ONE consolidated signature sidecar derived from THEIR sidecars when
    ``sidecar=(dirname, batch_sigs_fn)`` — a 16-longs/doc scan, never a
    corpus re-shingle), write both into the new generation directory
    BEFORE the single manifest commit publishes it, carry over
    untouched and concurrently appended generations (a rewrite commit
    of just the merge set — ``ManifestLog.commit_rewrite(replaced=)``),
    then GC superseded generations. A crash at any
    point leaves the previous state serving. Returns True iff a merge
    committed."""
    import os
    from functools import reduce

    from wagtail_vector_index_spark.sources.manifest import has_data_files

    base = log.current()
    merge = _select_compaction(log, base, fanout)
    if not merge:
        return False
    # coalesce (narrow — no shuffle) to the session's declared
    # parallelism: N micro-batches leave O(N x parallelism) small
    # files; the rewrite folds them back to at most shuffle.partitions
    # files without paying a corpus shuffle
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    paths = [log.gen_path(g) for g in merge]
    data = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True),
        [spark.read.parquet(p) for p in paths],
    ).coalesce(nparts)
    sigs = None
    if sidecar is not None:
        sigs_dir, batch_sigs = sidecar
        sigs = reduce(
            lambda a, b: a.unionByName(b),
            [
                _gen_sigs_read(
                    spark, gp, sigs_dir=sigs_dir, batch_sigs=batch_sigs
                )
                for gp in paths
            ],
        ).coalesce(nparts)

    def write(gp: str) -> None:
        data.write.mode("overwrite").parquet(gp)
        if sigs is not None and has_data_files(gp):
            sigs.write.mode("overwrite").parquet(os.path.join(gp, sidecar[0]))

    gen = log.write_generation(write)
    log.commit_rewrite(gen, base=base, replaced=merge)
    log.gc(
        keep_manifests=keep_manifests,
        min_age_s=min_age_s,
        reader_grace_s=reader_grace_s,
    )
    return gen is not None


def compact_neardup_corpus(
    spark,
    path: str,
    *,
    fanout: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    min_age_s: float = 3600.0,
    keep_manifests: int = 1,
    reader_grace_s: float = 600.0,
) -> bool:
    """OUT-OF-BAND compaction for a :func:`neardup_corpus_stream` table
    (r13): one merge cycle, callable from a separate maintenance
    process so the ingest stream itself can run with
    ``compact_every=0`` and keep every trigger merge-free. Safe
    concurrent with the stream's appends — the manifest commit's update
    function carries over generations that land during the rewrite, and
    ``min_age_s`` (default 1h; the stream-internal call uses 0 because
    the stream owns maintenance there) keeps GC away from a concurrent
    trigger's still-staged directory. MinHash parameters must match the
    stream's (they name the signature sidecar); a mismatch falls back
    to recompute-and-backfill exactly like a stream restart would.
    Returns True iff a merge committed (False: nothing to do yet —
    call it on a schedule)."""
    from wagtail_vector_index_spark.operators.dedup import (
        minhash_signatures,
    )
    from wagtail_vector_index_spark.sources.manifest import ManifestLog

    def batch_sigs(rows: DataFrame) -> DataFrame:
        return minhash_signatures(
            rows, id_col=id_col, text_col=text_col, n=n,
            num_hashes=num_hashes, cache=False,
        )

    return _compact_corpus_table(
        spark,
        ManifestLog(path),
        fanout=fanout,
        sidecar=(_sigs_dirname(n, num_hashes), batch_sigs),
        min_age_s=min_age_s,
        keep_manifests=keep_manifests,
        reader_grace_s=reader_grace_s,
    )


def compact_decontaminated_corpus(
    spark,
    path: str,
    *,
    fanout: int = 0,
    min_age_s: float = 3600.0,
    keep_manifests: int = 1,
    reader_grace_s: float = 600.0,
) -> bool:
    """OUT-OF-BAND compaction for a :func:`decontaminated_corpus_stream`
    table (no sidecars — plain data merge); same protocol and
    concurrency story as :func:`compact_neardup_corpus`."""
    from wagtail_vector_index_spark.sources.manifest import ManifestLog

    return _compact_corpus_table(
        spark,
        ManifestLog(path),
        fanout=fanout,
        sidecar=None,
        min_age_s=min_age_s,
        keep_manifests=keep_manifests,
        reader_grace_s=reader_grace_s,
    )


def neardup_corpus_stream(
    doc_stream: DataFrame,
    *,
    path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    compact_every: int = 0,
    compact_fanout: int = 0,
    trigger_once: bool = True,
    **minhash_kwargs,
) -> StreamingQuery:
    """Maintain a FUZZY-DEDUPLICATED corpus table from a document
    stream: each micro-batch keeps only rows that near-duplicate
    neither the standing corpus (asymmetric banded MinHash —
    operators/dedup.incremental_neardup_filter, per-batch cost, never
    corpus²) nor an earlier row of the same batch (within-batch
    MinHash pairs + exact component pruning), and appends the
    survivors as a new manifest generation. The streaming counterpart
    of ``Corpus.dedup_against`` for continuous ingestion.

    STANDING SIGNATURE STATE (r11): each committed generation carries a
    ``_sigs-n{n}-h{num_hashes}`` parquet sidecar holding its survivors'
    (id, shingles, sig) MinHash signatures, written into the staged
    generation directory so the one atomic rename + manifest commit
    publishes data and signatures together (underscore prefix = hidden
    from data readers). Per batch, the standing-corpus side of the
    dedup is the UNION OF SIDECAR LEAF SCANS — the banding join reads
    only the 16-longs-per-doc ``sig`` column (parquet column pruning),
    and the exact verify fetches the ``shingles`` column for candidate
    rows only via the join — so a trigger never re-tokenizes or
    re-shas the standing corpus (the O(corpus) CPU loop the r10 batch
    staging measured growing 15.6s -> 113.3s in 4 batches before
    CorpusSignatures.extend killed it in the batch plane). Generations
    written before this convention (or with other MinHash parameters)
    are recomputed ONCE and backfilled in place — safe because the
    sidecar is deterministic and invisible to readers. Because the
    state lives in the table directory rather than executor memory, it
    survives executor loss, dynamic-allocation decommission, and
    stream restarts — the durability gap a localCheckpoint-rolled
    in-closure state would have on a real cluster.

    GENERATION COMPACTION (r12): per-trigger cost is flat in corpus
    SIZE (the sidecars), but every micro-batch appends one generation
    forever — after 10^4 triggers, ``_standing_signatures`` would list,
    existence-check, and union 10^4 sidecar leaf scans per batch
    (driver-side plan bloat + the small-file reads the manifest's own
    compaction machinery exists to prevent). ``compact_every`` > 0
    mirrors :func:`incremental_ann_stream`: every N batches the live
    generations are rewritten into ONE (data plus ONE consolidated
    ``_sigs`` sidecar, derived from the EXISTING sidecars — a
    16-longs/doc scan, never a corpus re-shingle), committed via the
    manifest rewrite protocol — a crash mid-compact leaves the old
    state serving, appends landed by a concurrent writer during the
    rewrite are carried over — then the superseded generations are
    GC'd (min_age_s=0: like ``IvfIndex.compact``, compaction assumes
    the stream owns table maintenance; an INDEPENDENT concurrent
    appender mid-stage is protected by the manifest protocol for
    committed state but its staging dirs are not — run foreign writers
    with compaction off). Token memory survives compaction (tokens
    live in the manifest, not the generations), so crash-replays of
    already-compacted batches stay no-ops.

    ``compact_fanout`` (r12) picks the merge POLICY when compaction
    fires: 0 (default) merges every live generation into one — one
    standing generation, but each cycle rewrites the whole corpus
    (fine for bounded tables; the 120-batch soak's shape). >= 2
    switches to SIZE-TIERED merging: when the live count reaches
    ``2 * compact_fanout``, the ``compact_fanout`` smallest
    generations merge into one and the big ones stay untouched —
    live generations bounded < 2*fanout forever, per-compaction write
    cost bounded by the small tier instead of O(corpus), each row
    rewritten O(log_fanout(corpus/batch)) times over the stream's
    lifetime (the LSM amortization). The 100-TB continuous-ingest
    setting; the full-merge spike the soak measured (29.6s at batch
    100, growing with the corpus) is what this removes.

    Exactly-once: the same dedup-token protocol as
    :func:`incremental_ann_stream` — each append carries a token
    derived from (checkpoint, batch_id), stored IN the manifest, so a
    crash-replayed foreachBatch resolves to the already-live
    generation and becomes a no-op; replayed generation data is staged
    and atomically renamed, never rewritten in place.

    Read the standing corpus with
    ``sources.manifest.read_live_table(spark, f"{path}")`` (or any
    manifest-aware reader).
    """
    import os
    from functools import reduce

    from wagtail_vector_index_spark.operators.dedup import (
        incremental_neardup_filter,
        keep_representatives_exact,
        minhash_lsh_pairs,
        minhash_signatures,
    )
    from wagtail_vector_index_spark.sources.manifest import (
        ManifestLog,
        has_data_files,
    )

    log = ManifestLog(path)
    n = int(minhash_kwargs.get("n", 3))
    num_hashes = int(minhash_kwargs.get("num_hashes", 16))
    sigs_dir = _sigs_dirname(n, num_hashes)

    def _batch_sigs(rows: DataFrame) -> DataFrame:
        return minhash_signatures(
            rows, id_col=id_col, text_col=text_col, n=n,
            num_hashes=num_hashes, cache=False,
        )

    def _standing_signatures(spark, cur) -> DataFrame:
        """Union of the live generations' signature sidecars — leaf
        scans, no text recompute. A generation without a matching
        sidecar (pre-r11 data, or different MinHash parameters) is
        recomputed once and backfilled via stage+rename; losing the
        rename race to a concurrent backfill just reads the winner's
        identical copy.

        The backfill rename is POSIX-only (like the staged-generation
        publish in ``ManifestLog.write_generation``, this module is the
        local-FS stand-in the manifest protocol docstring describes):
        ``os.rename`` is atomic and won't-clobber on a local
        filesystem, neither on an object
        store — an S3 deployment should disable the in-place backfill
        (run one batch of the stream before upgrading parameters, so
        every generation is written WITH its sidecar and this path
        never fires) or port it to the store's conditional-put
        primitive. The backfill is loss-tolerant by construction: the
        sidecar is a deterministic pure function of the committed
        generation data, so any interleaving of concurrent backfills
        yields byte-equivalent content, and a lost/partial copy is
        re-derived on the next trigger (`has_data_files` gates the
        read)."""
        # sidecar read/backfill/direct-compute, shared with the
        # out-of-band compaction entry
        frames = [
            _gen_sigs_read(spark, gp, sigs_dir=sigs_dir, batch_sigs=_batch_sigs)
            for gp in log.live_paths(cur)
        ]
        return reduce(lambda a, b: a.unionByName(b), frames)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        token = f"{checkpoint_dir}#{batch_id}"
        spark = batch_df.sparkSession

        def write(written: str) -> None:
            # runs only for a batch not applied yet (a replay is a no-op)
            # within-batch self-dedup first (chains collapse exactly)
            pairs = minhash_lsh_pairs(
                batch_df, id_col=id_col, text_col=text_col,
                threshold=threshold, **minhash_kwargs,
            )
            survivors = keep_representatives_exact(
                batch_df, pairs, id_col=id_col
            )
            cur = log.current()
            if cur is not None and cur.live:
                survivors = incremental_neardup_filter(
                    survivors,
                    None,
                    id_col=id_col,
                    text_col=text_col,
                    threshold=threshold,
                    corpus_signatures=_standing_signatures(spark, cur),
                    **minhash_kwargs,
                )
            survivors.write.mode("overwrite").parquet(written)
            if has_data_files(written):
                # signatures from the just-written parquet (leaf scan —
                # not the survivors plan, which would re-run the whole
                # dedup), into the STAGED dir so publish/commit stay one
                # atomic step
                _batch_sigs(spark.read.parquet(written)).write.mode(
                    "overwrite"
                ).parquet(os.path.join(written, sigs_dir))

        log.commit_append(log.write_generation(write, token=token), token=token)
        if compact_every and (batch_id + 1) % compact_every == 0:
            # one in-band cycle of the out-of-band entry, min_age_s=0
            # because the stream owns table maintenance here (see
            # docstring); merge-free triggers run compact_every=0 and
            # call compact_neardup_corpus from a maintenance process
            compact_neardup_corpus(
                spark, path, fanout=compact_fanout, id_col=id_col,
                text_col=text_col, n=n, num_hashes=num_hashes,
                min_age_s=0.0, keep_manifests=1, reader_grace_s=0.0,
            )

    writer = (
        doc_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def decontaminated_corpus_stream(
    doc_stream: DataFrame,
    *,
    eval_df: DataFrame,
    path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    max_broadcast_grams: int = 5_000_000,
    compact_every: int = 0,
    compact_fanout: int = 0,
    trigger_once: bool = True,
) -> StreamingQuery:
    """Maintain a DECONTAMINATED corpus table from a document stream:
    each micro-batch drops rows sharing ANY word-``n``-gram with the
    static held-out eval set (the GPT-3 / PaLM exact-collision
    protocol — ``pipeline_ngram_collision`` is the batch audit twin,
    ``Corpus.decontaminate_collisions`` the batch curation twin) and
    appends the survivors as a new manifest generation. Decontaminating
    AT INGEST means contaminated rows never enter the corpus, instead
    of a full-corpus sweep before each training run.

    The eval gram set is computed ONCE at stream construction and
    eagerly localCheckpointed — eval sets are bounded (benchmarks, not
    corpora), and a per-batch recompute would re-shingle the eval set
    on every trigger of a long-running stream. Per batch the collision
    test is a broadcast join against that fixed gram table: the
    micro-batch's exploded grams never shuffle. Gram keys are token-hash
    XOR-shift fingerprints (ngram_fingerprints_col — sha256 once per
    token, never a gram string), not raw n-gram strings — smaller
    broadcast, cheaper probe; same collision caveat the batch twins
    document. ``max_broadcast_grams`` bounds the broadcast exactly as
    on the batch twins (Corpus._eval_gram_side): an eval set whose
    distinct gram count exceeds it joins via shuffle hash join instead
    of an un-overridable broadcast hint that would outgrow executor
    memory — the bound is re-evaluated per gram table, so a
    ``refresh_eval_set`` to a crawl-scale suite downgrades to the
    shuffle join and a refresh back to a bounded suite restores the
    broadcast. ``max_broadcast_grams <= 0`` forces the shuffle join.

    REFRESHING THE EVAL SET: a long-running ingest stream outlives eval
    suites. The returned query carries a ``refresh_eval_set(new_eval_df)``
    hook that re-shingles and re-checkpoints the gram table and swaps it
    in atomically — micro-batches that START after the call use the new
    set (in-flight batches finish against the old one; the stale
    checkpoint blocks release via the ContextCleaner once dropped).
    Without calling it, a replaced eval suite would silently keep the
    construction-time grams.

    Exactly-once: the same dedup-token manifest protocol as
    :func:`neardup_corpus_stream` — a crash-replayed foreachBatch
    resolves to the already-live generation and becomes a no-op.

    ``compact_every`` > 0 mirrors :func:`neardup_corpus_stream`'s r12
    generation compaction (this stream appends one generation per
    micro-batch forever too — same driver-plan-bloat / small-file
    growth, minus the sidecars): every N batches the live generations
    merge via the manifest rewrite protocol, then superseded
    generations are GC'd. ``compact_fanout`` picks the same policy as
    on the twin — 0 full merge, >= 2 size-tiered (merge the F smallest
    at live count 2F; bounded live set + LSM-amortized rewrites for
    continuous 100-TB ingest). Same single-maintainer caveat.
    """
    from wagtail_vector_index_spark.functions.text_analysis import (
        ngram_fingerprints_col,
        token_sha_hashes_col,
    )
    from wagtail_vector_index_spark.sources.manifest import ManifestLog

    log = ManifestLog(path)

    def _gram_rows(src: DataFrame, *cols: str) -> DataFrame:
        # token hashes bound before fingerprinting (see
        # token_sha_hashes_col: unbound inlining recomputes the sha pass)
        return src.select(
            *cols, token_sha_hashes_col(F.col(text_col)).alias("__th")
        ).select(
            *cols,
            F.explode(ngram_fingerprints_col(F.col("__th"), n)).alias("__sh"),
        )

    def _grams(src: DataFrame) -> DataFrame:
        from wagtail_vector_index_spark.operators.corpus import (
            _eval_gram_side,
        )

        g = _gram_rows(src).distinct().localCheckpoint(eager=True)
        # broadcast-vs-shuffle decided ONCE per gram table (the
        # checkpoint makes the size probe a cheap leaf count), not per
        # batch — and re-decided on every refresh_eval_set swap
        return _eval_gram_side(g, max_broadcast_grams)

    # one-slot holder so refresh_eval_set can swap the gram table under
    # the foreachBatch closure (single reference assignment — atomic)
    eval_state = {"grams": _grams(eval_df)}

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        token = f"{checkpoint_dir}#{batch_id}"
        flagged = (
            _gram_rows(batch_df, id_col)
            .join(eval_state["grams"], "__sh")
            .select(id_col)
            .distinct()
        )
        survivors = batch_df.join(flagged, id_col, "left_anti")
        gen = log.write_generation(
            lambda p: survivors.write.mode("overwrite").parquet(p), token=token
        )
        log.commit_append(gen, token=token)
        if compact_every and (batch_id + 1) % compact_every == 0:
            # min_age_s=0 — the stream owns table maintenance here
            compact_decontaminated_corpus(
                batch_df.sparkSession, path, fanout=compact_fanout,
                min_age_s=0.0, keep_manifests=1, reader_grace_s=0.0,
            )

    writer = (
        doc_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    query = writer.start()

    def refresh_eval_set(new_eval_df: DataFrame) -> None:
        """Swap the held-out set: batches starting after this call test
        collisions against ``new_eval_df``'s grams (see docstring)."""
        eval_state["grams"] = _grams(new_eval_df)

    query.refresh_eval_set = refresh_eval_set
    return query


def windowed_value_histogram(
    events_stream: DataFrame,
    *,
    window_duration: str = "1 day",
    watermark: str = "2 days",
    bucket_width: float = 50.0,
    num_buckets: int = 10,
) -> DataFrame:
    """Streaming per-window value histogram — the MERGEABLE state a
    continuous distribution-drift monitor keeps: counts per (window,
    fixed-width bucket) are pure integer sums, so late data folds in
    under the watermark and any two partial states merge exactly. The
    downstream KS read (compare each window's bucket ECDF to the pooled
    one) is a cheap batch query over this tiny state table — the
    sketch-vs-read split every streaming monitor wants at 100 TB."""
    bucket = F.least(
        F.floor(F.col("value") / F.lit(float(bucket_width))),
        F.lit(int(num_buckets) - 1),
    ).cast("int")
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration), bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("window_start"), "bucket", "n")
    )
