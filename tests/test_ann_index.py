"""Materialized ANN index tests: result parity with the in-flight
operators, and file-level pruning evidence (the point of materializing —
a query must scan only the probed posting lists, never the full index)."""

import os

import pytest
from pyspark.sql import functions as F

from wagtail_vector_index_spark.operators.ann_index import IvfIndex, LshIndex
from wagtail_vector_index_spark.operators.knn import ivf_topk, lsh_topk


@pytest.fixture(scope="module")
def index_df(spark, embeddings_df):
    return embeddings_df.where(F.col("vec_id") != 0).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vector")
    )


@pytest.fixture(scope="module")
def probe(embeddings_df):
    return list(embeddings_df.where(F.col("vec_id") == 0).first()["embedding"])


@pytest.fixture(scope="module")
def centroids_df(embeddings_df):
    return embeddings_df.where(F.col("vec_id") < 16).select(
        F.col("vec_id").cast("int").alias("cid"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )


@pytest.fixture(scope="module")
def ivf(spark, index_df, centroids_df, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivf_idx"))
    return IvfIndex.build(index_df, path=path, centroids_df=centroids_df)


@pytest.fixture(scope="module")
def lsh(spark, index_df, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("lsh_idx"))
    return LshIndex.build(index_df, path=path, num_planes=12, dim=64)


def test_ivf_matches_inflight_operator(ivf, index_df, centroids_df, probe):
    materialized = ivf.topk(probe, nprobe=2, limit=10).collect()
    inflight = ivf_topk(
        index_df, centroids_df, probe, nprobe=2, limit=10
    ).collect()
    assert [(r["vec_id"], r["similarity"]) for r in materialized] == [
        (r["vec_id"], r["similarity"]) for r in inflight
    ]


def test_lsh_matches_inflight_operator(lsh, index_df, probe):
    materialized = lsh.topk(probe, max_probe_hamming=2, limit=10).collect()
    inflight = lsh_topk(
        index_df, probe, num_planes=12, max_probe_hamming=2, limit=10
    ).collect()
    assert [(r["vec_id"], r["similarity"]) for r in materialized] == [
        (r["vec_id"], r["similarity"]) for r in inflight
    ]


def test_ivf_scan_prunes_nonprobed_clusters(ivf, probe):
    """The probed scan must carry a partition filter on cid and touch
    fewer posting lists than exist — non-probed clusters are eliminated
    at file listing, which is what makes nprobe sub-linear at 100 TB."""
    import re

    cand = ivf.candidates(probe, nprobe=2)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    # the cid IN (...) predicate must land in PartitionFilters (file-level
    # pruning), not PushedFilters or a post-scan Filter
    assert re.search(r"PartitionFilters: \[[^\]]*cid#\d+ (IN \(|INSET )", plan), plan
    n_partitions = sum(
        1
        for d in ivf.live_partition_dirs()
        if os.path.basename(d).startswith("cid=")
    )
    assert n_partitions > 2  # the corpus spreads over many clusters
    assert set(ivf.probed_cids(probe, 2)) == {
        r["cid"] for r in cand.select("cid").distinct().collect()
    }


def test_lsh_scan_prunes_nonprobed_buckets(lsh, probe):
    """Two-level pruning: prefix directories are eliminated at file
    listing (PartitionFilters), and inside surviving files the full
    bucket predicate is pushed to the parquet reader (PushedFilters +
    sorted-by-bucket row groups)."""
    import re

    cand = lsh.candidates(probe, max_probe_hamming=2)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert re.search(
        r"PartitionFilters: \[[^\]]*bucket_pfx#\d+ (IN \(|INSET )", plan
    ), plan
    assert re.search(r"PushedFilters: \[[^\]]*In\(bucket", plan), plan
    probed = set(lsh.probed_buckets(probe, 2))
    assert len(probed) == 1 + 12 + 66  # C(12,0)+C(12,1)+C(12,2)
    shift = lsh.meta["num_planes"] - lsh.meta["prefix_bits"]
    probed_pfx = {b >> shift for b in probed}
    on_disk = {
        int(os.path.basename(d).split("=", 1)[1])
        for d in lsh.live_partition_dirs()
        if os.path.basename(d).startswith("bucket_pfx=")
    }
    assert on_disk - probed_pfx, "some prefix dirs must be non-probed"
    scanned = {r["bucket"] for r in cand.select("bucket").distinct().collect()}
    assert scanned <= probed


def test_ivf_build_one_file_per_cluster(ivf):
    """The pre-write repartition co-locates each posting list: every cid
    partition holds exactly one parquet file (no small-file shatter)."""
    for d in ivf.live_partition_dirs():
        if not os.path.basename(d).startswith("cid="):
            continue
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == 1


def test_ivf_append_delete_compact(spark, index_df, centroids_df, probe, tmp_path):
    """Served-index maintenance: append assigns new vectors to posting
    lists without rewriting standing data; delete_ids anti-joins them
    out; compact restores one file per posting list."""
    path = str(tmp_path / "ivf_maint")
    idx = IvfIndex.build(index_df, path=path, centroids_df=centroids_df)
    base_ids = {r["vec_id"] for r in idx.topk(probe, nprobe=2, limit=5).collect()}

    # plant a near-exact copy of the probe under a fresh id: must rank #1
    new = spark.createDataFrame(
        [(990001, [float(x) for x in probe])], "vec_id long, vector array<double>"
    )
    idx.append(new)
    top = idx.topk(probe, nprobe=2, limit=5).collect()
    assert top[0]["vec_id"] == 990001
    assert top[0]["similarity"] == pytest.approx(1.0)

    # the append published a second generation; compact merges back to
    # one generation with one file per posting list, and GC reclaims the
    # superseded generations
    assert len(idx.vectors_log.current().live) == 2
    idx.compact()
    assert len(idx.vectors_log.current().live) == 1
    for d in idx.live_partition_dirs():
        if os.path.basename(d).startswith("cid="):
            files = [f for f in os.listdir(d) if f.endswith(".parquet")]
            assert len(files) == 1
    assert idx.topk(probe, nprobe=2, limit=5).collect()[0]["vec_id"] == 990001

    idx.delete_ids(spark.createDataFrame([(990001,)], "vec_id long"))
    after = {r["vec_id"] for r in idx.topk(probe, nprobe=2, limit=5).collect()}
    assert 990001 not in after
    assert after == base_ids


def test_lsh_append_delete_compact(spark, index_df, probe, tmp_path):
    """LSH maintenance parity with IvfIndex: append buckets new vectors
    with the stored planes as a new generation; delete_ids anti-joins
    them out; compact merges back to one generation and GCs the rest."""
    path = str(tmp_path / "lsh_maint")
    idx = LshIndex.build(index_df, path=path, num_planes=12, dim=64)
    base_ids = {
        r["vec_id"]
        for r in idx.topk(probe, max_probe_hamming=2, limit=5).collect()
    }

    # a near-exact copy of the probe lands in the probe's own bucket and
    # must rank #1
    new = spark.createDataFrame(
        [(990001, [float(x) for x in probe])], "vec_id long, vector array<double>"
    )
    idx.append(new)
    assert len(idx.vectors_log.current().live) == 2
    top = idx.topk(probe, max_probe_hamming=2, limit=5).collect()
    assert top[0]["vec_id"] == 990001
    assert top[0]["similarity"] == pytest.approx(1.0)

    idx.compact()
    assert len(idx.vectors_log.current().live) == 1
    for d in idx.live_partition_dirs():
        if os.path.basename(d).startswith("bucket_pfx="):
            files = [f for f in os.listdir(d) if f.endswith(".parquet")]
            assert len(files) == 1
    assert (
        idx.topk(probe, max_probe_hamming=2, limit=5).collect()[0]["vec_id"]
        == 990001
    )

    idx.delete_ids(spark.createDataFrame([(990001,)], "vec_id long"))
    after = {
        r["vec_id"]
        for r in idx.topk(probe, max_probe_hamming=2, limit=5).collect()
    }
    assert 990001 not in after
    assert after == base_ids


def test_ivfpq_adc_and_rerank(spark, index_df, centroids_df, probe, tmp_path):
    """IVF-PQ serving contracts: the ADC scan ranks candidates without
    reading the vector column (ReadSchema pruning is the M-bytes-per-
    vector memory story); rerank re-ranks the ADC shortlist by exact
    cosine (values match the exact IVF path for the same keys); append
    encodes new vectors against the stored codebooks."""
    from wagtail_vector_index_spark.operators.ann_index import IvfPqIndex

    path = str(tmp_path / "pq")
    idx = IvfPqIndex.build(
        index_df, path=path, centroids_df=centroids_df, m=4, ksub=8
    )

    adc = idx.adc_topk(probe, nprobe=2, limit=10)
    plan = adc._jdf.queryExecution().executedPlan().toString()
    scan_line = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "codes" in scan_line and "vector" not in scan_line.split("ReadSchema")[1]
    assert len(adc.collect()) == 10

    exact = IvfIndex(spark, path).topk(probe, nprobe=2, limit=50).collect()
    exact_sims = {r["vec_id"]: r["similarity"] for r in exact}
    reranked = idx.topk(probe, nprobe=2, limit=5, rerank=20).collect()
    sims = [r["similarity"] for r in reranked]
    assert sims == sorted(sims, reverse=True)
    for r in reranked:
        assert r["similarity"] == pytest.approx(exact_sims[r["vec_id"]], abs=1e-12)

    new = spark.createDataFrame(
        [(990002, [float(x) for x in probe])], "vec_id long, vector array<double>"
    )
    idx.append(new)
    top = idx.topk(probe, nprobe=2, limit=3, rerank=20).collect()
    assert top[0]["vec_id"] == 990002
    assert top[0]["similarity"] == pytest.approx(1.0)


def test_pq_encode_udf_matches_expression_twin(spark):
    """The Arrow numpy encode kernel and the Catalyst fold expression
    must produce identical codes (fp-order differences may only matter
    for near-equidistant codewords, which this data doesn't have)."""
    import numpy as np
    from pyspark.sql import functions as F

    from wagtail_vector_index_spark.operators.ann_index import (
        _normalized_col,
        pq_encode_col,
        pq_encode_udf,
    )

    rng = [
        [((i * 37 + j * 11) % 97) / 97.0 + 0.01 for j in range(16)]
        for i in range(40)
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(rng)], "vec_id long, vector array<double>"
    )
    # m=4 subspaces of 4 dims, ksub=4 codewords from the first rows
    cb = []
    for m in range(4):
        subs = []
        for r in rng[:4]:
            sv = np.array(r, dtype=np.float64)
            sv = sv / np.sqrt((sv * sv).sum())
            subs.append([float(x) for x in sv[m * 4 : (m + 1) * 4]])
        cb.append(subs)
    expr = df.select(
        "vec_id",
        pq_encode_col(_normalized_col(F.col("vector")), cb).alias("codes"),
    ).collect()
    fast = df.select(
        "vec_id", pq_encode_udf(cb)(F.col("vector")).alias("codes")
    ).collect()
    assert {r["vec_id"]: list(r["codes"]) for r in expr} == {
        r["vec_id"]: list(r["codes"]) for r in fast
    }


def test_append_dedup_token_exactly_once(spark, index_df, centroids_df, tmp_path):
    """Streaming exactly-once evidence (r3 verdict item 10): re-delivering
    the same foreachBatch batch — the same dedup_token — must not
    duplicate vectors; a crash between the data write and the manifest
    commit must also recover to exactly one copy."""
    path = str(tmp_path / "ivf_once")
    idx = IvfIndex.build(index_df, path=path, centroids_df=centroids_df)
    n0 = idx._vectors().count()
    batch = spark.createDataFrame(
        [(990001, [1.0] * 64), (990002, [0.5] * 64)],
        "vec_id long, vector array<double>",
    )
    tok = "/ckpt/ann#7"  # what incremental_ann_stream passes for batch 7
    idx.append(batch, dedup_token=tok)
    n1 = idx._vectors().count()
    assert n1 == n0 + 2
    # replayed batch (same checkpoint + batch_id): a no-op
    idx.append(batch, dedup_token=tok)
    assert idx._vectors().count() == n1
    assert len(idx.vectors_log.current().live) == 2  # no third generation

    # crash AFTER the generation dir write but BEFORE the commit: the
    # directory exists, the manifest doesn't list it — a replay must
    # overwrite and commit exactly one copy
    tok2 = "/ckpt/ann#8"
    batch2 = spark.createDataFrame(
        [(990003, [0.25] * 64)], "vec_id long, vector array<double>"
    )
    # simulate the pre-crash write (data published under the token's
    # generation name, never committed)
    gen = idx.vectors_log.write_generation(
        lambda p: batch2.write.mode("overwrite").parquet(p), token=tok2
    )
    assert gen is not None and os.path.isdir(idx.vectors_log.gen_path(gen))
    assert idx._vectors().count() == n1  # invisible until committed
    idx.append(batch2, dedup_token=tok2)  # the replay
    assert idx._vectors().count() == n1 + 1
    idx.append(batch2, dedup_token=tok2)  # and a second replay: no-op
    assert idx._vectors().count() == n1 + 1
    # a different batch id still appends
    idx.append(
        spark.createDataFrame(
            [(990004, [0.1] * 64)], "vec_id long, vector array<double>"
        ),
        dedup_token="/ckpt/ann#9",
    )
    assert idx._vectors().count() == n1 + 2


def test_append_dedup_token_survives_compact(spark, index_df, centroids_df, tmp_path):
    """Review finding (r4): compact() rewrites generations, so the
    token's generation leaves the manifest's live list — but the token
    memory now lives in the manifest itself and must survive the
    rewrite: a crash-replay of an already-compacted batch stays a
    no-op."""
    path = str(tmp_path / "ivf_tok_compact")
    idx = IvfIndex.build(index_df, path=path, centroids_df=centroids_df)
    n0 = idx._vectors().count()
    batch = spark.createDataFrame(
        [(990001, [1.0] * 64)], "vec_id long, vector array<double>"
    )
    tok = "/ckpt/ann#42"
    idx.append(batch, dedup_token=tok)
    idx.compact()  # the token's generation is rewritten away + GC'd
    assert idx._vectors().count() == n0 + 1
    idx.append(batch, dedup_token=tok)  # crash-replay after compact
    assert idx._vectors().count() == n0 + 1  # STILL exactly once
    assert tok in idx.vectors_log.current().tokens


def test_append_schema_mismatch_fails_fast(spark, index_df, centroids_df, tmp_path):
    """Review finding (r4): with build() preserving extra columns, an
    append whose batch schema differs from the stored layout must raise
    instead of committing a generation that breaks every later read."""
    path = str(tmp_path / "ivf_schema")
    idx = IvfIndex.build(index_df, path=path, centroids_df=centroids_df)
    bad = spark.createDataFrame(
        [(990001, [1.0] * 64, "kafka-meta")],
        "vec_id long, vector array<double>, extra string",
    )
    with pytest.raises(ValueError, match="schema mismatch"):
        idx.append(bad)
    # the failed append must not have committed anything
    assert len(idx.vectors_log.current().live) == 1
    idx.topk([1.0] * 64, nprobe=2, limit=3).collect()  # index still reads


def test_append_replay_never_overwrites_live_generation(spark, index_df, centroids_df, tmp_path):
    """Review finding (r4b): when a token is missing from the manifest
    window but its generation is still LIVE (pre-tokens-field manifests,
    MAX_TOKENS eviction), the replay must skip — not overwrite a
    serving directory in place."""
    import json
    import os

    path = str(tmp_path / "ivf_tok_live")
    idx = IvfIndex.build(index_df, path=path, centroids_df=centroids_df)
    batch = spark.createDataFrame(
        [(990001, [1.0] * 64)], "vec_id long, vector array<double>"
    )
    tok = "/ckpt/old#1"
    idx.append(batch, dedup_token=tok)
    n1 = idx._vectors().count()
    # simulate a pre-upgrade manifest: strip the tokens field
    mdir = os.path.join(path, "vectors", "_manifests")
    newest = sorted(os.listdir(mdir))[-1]
    with open(os.path.join(mdir, newest)) as f:
        rec = json.load(f)
    rec.pop("tokens", None)
    rec["version"] += 1
    with open(os.path.join(mdir, f"manifest-{rec['version']:012d}.json"), "w") as f:
        json.dump(rec, f)
    assert tok not in idx.vectors_log.current().tokens
    idx.append(batch, dedup_token=tok)  # replay: gen is live -> no-op
    assert idx._vectors().count() == n1
    assert len(idx.vectors_log.current().live) == 2


def test_append_schema_type_mismatch_fails_fast(spark, centroids_df, tmp_path):
    """Name-equal but type-incompatible batches must be rejected too."""
    path = str(tmp_path / "ivf_schema_types")
    base = spark.createDataFrame(
        [(i, [float(i + 1)] * 64, i % 3) for i in range(50)],
        "vec_id long, vector array<double>, label int",
    )
    idx = IvfIndex.build(base, path=path, centroids_df=centroids_df)
    bad = spark.createDataFrame(
        [(990001, [1.0] * 64, "three")],
        "vec_id long, vector array<double>, label string",
    )
    with pytest.raises(ValueError, match="schema mismatch"):
        idx.append(bad)


def test_pq_and_lsh_append_reject_extra_columns(spark, index_df, centroids_df, tmp_path):
    """PQ/LSH layouts don't carry payload columns — appends with extras
    must raise rather than silently drop them."""
    from wagtail_vector_index_spark.operators.ann_index import (
        IvfPqIndex,
        LshIndex,
    )

    pq = IvfPqIndex.build(
        index_df, path=str(tmp_path / "pq_extra"),
        centroids_df=centroids_df, m=8, ksub=16,
    )
    lsh = LshIndex.build(
        index_df, path=str(tmp_path / "lsh_extra"), num_planes=12, dim=64
    )
    extra = spark.createDataFrame(
        [(990001, [1.0] * 64, "payload")],
        "vec_id long, vector array<double>, meta string",
    )
    with pytest.raises(ValueError, match="unexpected"):
        pq.append(extra)
    with pytest.raises(ValueError, match="unexpected"):
        lsh.append(extra)


def test_rebuild_at_same_path_self_invalidates_codebook_memo(
    spark, index_df, centroids_df, tmp_path_factory
):
    """A long-lived served instance must never answer from stale
    centroids after a same-path rebuild: the codebook memo is keyed on
    the vectors-log manifest version (bumped by every committed write,
    including build's rewrite), so NO explicit refresh() is needed.
    This test fails on the r4 code (memo keyed on instance lifetime)."""
    path = str(tmp_path_factory.mktemp("ivf_rebuild"))
    IvfIndex.build(index_df, path=path, centroids_df=centroids_df)
    served = IvfIndex(spark, path)  # long-lived instance
    before = served._codebook_rows()
    assert {r["cid"] for r in before} == set(range(16))

    # rebuild AT THE SAME PATH with a shifted codebook (cids 100+)
    shifted = centroids_df.select(
        (F.col("cid") + 100).alias("cid"), "cv"
    )
    IvfIndex.build(index_df, path=path, centroids_df=shifted)

    after = served._codebook_rows()  # no refresh() call
    assert {r["cid"] for r in after} == {c + 100 for c in range(16)}
    # and a query through the served instance uses the new codebook
    probe_row = index_df.first()
    top = served.topk(list(probe_row["vector"]), nprobe=2, limit=3).collect()
    assert len(top) == 3


def test_replay_race_never_rewrites_live_generation_in_place(
    spark, index_df, centroids_df, tmp_path_factory
):
    """TOCTOU closure: two replays of the same batch can BOTH pass the
    pre-write token check; the loser must not rewrite the winner's
    now-live generation directory in place (readers would transiently
    see deleted files). The staged write publishes via atomic rename,
    which fails against a live non-empty directory and discards the
    loser's copy."""
    import os

    from wagtail_vector_index_spark.operators.knn import ivf_assign

    path = str(tmp_path_factory.mktemp("ivf_race"))
    idx = IvfIndex.build(index_df, path=path, centroids_df=centroids_df)
    batch = index_df.limit(5).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "vector"
    )
    token = "batch-42"
    log = idx.vectors_log
    seen = {}

    def write_b(staged: str) -> None:
        # writer B (the straggler replay) has passed the pre-write token
        # check; writer A's whole append — write, publish, commit — runs
        # before B writes its copy
        idx.append(batch, dedup_token=token)
        (gen_a,) = [g for g in log.current().live if g.startswith("gen-tok-")]
        live_dir = log.gen_path(gen_a)
        seen.update(
            gen_a=gen_a,
            live_dir=live_dir,
            staged=staged,
            n_before=idx._vectors().count(),
            before={
                f: os.stat(os.path.join(live_dir, f)).st_mtime_ns
                for f in os.listdir(live_dir)
                if not f.startswith(".")
            },
        )
        codebook = spark.read.parquet(idx.codebook_path)
        ivf_assign(
            batch, codebook, index_id="vec_id", index_vec="vector"
        ).repartition("cid").write.mode("overwrite").partitionBy("cid").parquet(
            staged
        )

    # B now performs its publish + commit with the gen name it holds
    gen_b = log.write_generation(write_b, token=token)
    assert gen_b == seen["gen_a"] and gen_b is not None
    log.commit_append(gen_b, token=token)

    # the live directory was never touched, the staged copy is gone,
    # and the table still reads exactly once
    gen_a, live_dir, staged = seen["gen_a"], seen["live_dir"], seen["staged"]
    after = {
        f: os.stat(os.path.join(live_dir, f)).st_mtime_ns
        for f in os.listdir(live_dir)
        if not f.startswith(".")
    }
    assert after == seen["before"]
    assert not os.path.exists(staged)
    assert idx._vectors().count() == seen["n_before"]
    assert log.current().live.count(gen_a) == 1


def test_rebuild_after_path_deleted_serves_new_rows(
    spark, index_df, centroids_df, probe, tmp_path_factory
):
    """Deleting an index directory and building again at the same path
    restarts the vectors manifest at version 1. The live-scan memo and
    the codebook memo are keyed on the live generation names, which are
    unique, so neither the new build nor a long-lived served instance
    answers from the deleted generation."""
    import shutil

    path = str(tmp_path_factory.mktemp("ivf_recreate"))
    first = IvfIndex.build(index_df, path=path, centroids_df=centroids_df)
    served = IvfIndex(spark, path)
    assert max(r["vec_id"] for r in first.topk(probe, nprobe=2, limit=5).collect()) < 10**6
    served.topk(probe, nprobe=2, limit=5).collect()
    shutil.rmtree(path)
    shifted = index_df.select((F.col("vec_id") + 10**6).alias("vec_id"), "vector")
    again = IvfIndex.build(shifted, path=path, centroids_df=centroids_df)
    assert again.vectors_log.current().version == first.vectors_log.current().version
    for idx in (again, served):
        got = idx.topk(probe, nprobe=2, limit=5).collect()
        assert len(got) == 5 and min(r["vec_id"] for r in got) >= 10**6


def test_lsh_rebuild_after_path_deleted_serves_new_rows(
    spark, index_df, probe, tmp_path_factory
):
    import shutil

    path = str(tmp_path_factory.mktemp("lsh_recreate"))
    first = LshIndex.build(index_df, path=path, num_planes=12, dim=64)
    got = first.topk(probe, max_probe_hamming=2, limit=5).collect()
    assert got and max(r["vec_id"] for r in got) < 10**6
    shutil.rmtree(path)
    shifted = index_df.select((F.col("vec_id") + 10**6).alias("vec_id"), "vector")
    again = LshIndex.build(shifted, path=path, num_planes=12, dim=64)
    got = again.topk(probe, max_probe_hamming=2, limit=5).collect()
    assert got and min(r["vec_id"] for r in got) >= 10**6
