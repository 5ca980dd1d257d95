import pytest
from pyspark.sql import functions as F

from wagtail_vector_index_spark.operators.dedup import (
    embedding_neardup_pairs,
    exact_duplicates,
    keep_representatives,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy dog near the green bank"),  # near dup of 1
    (4, "completely different content about spark shuffle partitions and joins"),
    (5, "THE QUICK BROWN FOX jumps over the lazy dog near the river bank"),  # case dup of 1
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_duplicates(docs_df):
    out = exact_duplicates(docs_df).collect()
    groups = {r["keep_id"]: r["n_docs"] for r in out}
    # 1,2,5 collapse (case-insensitive fingerprint); 3 and 4 stand alone
    assert groups[1] == 3
    assert groups[3] == 1
    assert groups[4] == 1


def test_ngram_jaccard_pairs(docs_df):
    out = ngram_jaccard_pairs(docs_df, threshold=0.5).collect()
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out}
    assert pairs[(1, 2)] == pytest.approx(1.0)
    assert (1, 3) in pairs and pairs[(1, 3)] < 1.0
    assert not any(4 in p for p in pairs)


def test_minhash_candidates_subset_of_exact(docs_df):
    exact = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs_df, threshold=0.5).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs_df, threshold=0.5).collect()
    }
    assert lsh <= exact
    assert (1, 2) in lsh  # identical docs always collide in every band


def test_simhash_pairs(docs_df):
    out = simhash_pairs(docs_df, max_hamming=3).collect()
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in out}
    assert pairs[(1, 2)] == 0
    assert not any(4 in p for p in pairs)


def test_simhash_fold_matches_vote_aggregation(documents_df):
    """The per-row fold (simhash32_col) and the explode+vote aggregation
    (simhash_fingerprints) must produce bit-identical fingerprints — the
    dense pair path relies on swapping between them freely."""
    from wagtail_vector_index_spark.functions.text_analysis import simhash32_col
    from wagtail_vector_index_spark.operators.dedup import simhash_fingerprints

    docs = documents_df.limit(200)
    fold = {
        r["doc_id"]: r["simhash"]
        for r in docs.select(
            "doc_id", simhash32_col(F.col("text")).alias("simhash")
        ).collect()
    }
    votes = {
        r["doc_id"]: r["simhash"]
        for r in simhash_fingerprints(docs, id_col="doc_id").collect()
    }
    assert fold == votes


def test_simhash_pairs_rejects_leaky_banding(docs_df):
    # band_bits=8 -> 4 bands, exact only for hamming <= 3: asking for
    # hamming 4 would silently drop qualifying pairs (pigeonhole violated)
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_pairs(docs_df, max_hamming=4, band_bits=8)


def test_block_neardup_matches_gemm(spark, embeddings_df):
    """The distributed block-GEMM path (no driver collect) must return
    exactly the broadcast-GEMM answer — same pairs, same similarities."""
    from wagtail_vector_index_spark.operators.dedup import (
        block_neardup_pairs,
        gemm_neardup_pairs,
    )

    emb = embeddings_df.limit(300)
    # string ids too: both paths keep the id column's type as it arrives
    str_emb = emb.select(
        F.format_string("v%05d", "vec_id").alias("vec_id"), "embedding"
    )
    for frame in (emb, str_emb):
        blocked = {
            (r["id_a"], r["id_b"]): r["cos_sim"]
            for r in block_neardup_pairs(
                frame, id_col="vec_id", vec_col="embedding", threshold=0.3,
                blocks=5,
            ).collect()
        }
        gemm = {
            (r["id_a"], r["id_b"]): r["cos_sim"]
            for r in gemm_neardup_pairs(
                frame, id_col="vec_id", vec_col="embedding", threshold=0.3
            ).collect()
        }
        assert blocked and set(blocked) == set(gemm)
        for k in blocked:
            assert blocked[k] == pytest.approx(gemm[k], abs=1e-12)
        assert all(a < b for a, b in blocked)


def test_lsh_neardup_subset_of_exact(spark, embeddings_df):
    """LSH candidates -> verify returns a subset of the exact answer,
    with identical similarities on the pairs it does return, and always
    finds identical vectors (same bucket in every band)."""
    from wagtail_vector_index_spark.operators.dedup import (
        gemm_neardup_pairs,
        lsh_neardup_pairs,
    )

    emb = embeddings_df.limit(300)
    # plant an exact duplicate of vec 1 under a fresh id
    dup = emb.where(F.col("vec_id") == 1).select(
        F.lit(999999).alias("vec_id"), F.col("embedding"), F.col("label")
    )
    corpus = emb.unionByName(dup)
    exact = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in gemm_neardup_pairs(
            corpus, id_col="vec_id", vec_col="embedding", threshold=0.3
        ).collect()
    }
    approx = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in lsh_neardup_pairs(
            corpus, id_col="vec_id", vec_col="embedding", threshold=0.3
        ).collect()
    }
    assert set(approx) <= set(exact)
    assert (1, 999999) in approx  # identical vectors always collide
    for k, v in approx.items():
        assert v == pytest.approx(exact[k], abs=1e-9)


def test_embedding_neardup(spark):
    rows = [
        (1, [1.0, 0.0]),
        (2, [0.99, 0.01]),
        (3, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = embedding_neardup_pairs(df, threshold=0.95).collect()
    assert {(r["id_a"], r["id_b"]) for r in out} == {(1, 2)}


def test_keep_representatives(docs_df):
    pairs = ngram_jaccard_pairs(docs_df, threshold=0.5)
    kept = keep_representatives(docs_df, pairs)
    ids = {r["doc_id"] for r in kept.collect()}
    assert 1 in ids and 4 in ids
    assert 2 not in ids


def test_simhash_column_matches_bulk_path(spark, docs_df):
    """simhash32_col (per-row fold) and simhash_fingerprints (explode +
    codegen aggregates) must produce identical fingerprints."""
    from pyspark.sql import functions as F

    from wagtail_vector_index_spark.functions.text_analysis import simhash32_col
    from wagtail_vector_index_spark.operators.dedup import simhash_fingerprints

    col_path = {
        r["doc_id"]: r["sh"]
        for r in docs_df.select(
            "doc_id", simhash32_col(F.col("text")).alias("sh")
        ).collect()
    }
    bulk_path = {
        r["doc_id"]: r["simhash"] for r in simhash_fingerprints(docs_df).collect()
    }
    assert col_path == bulk_path


@pytest.fixture
def star_route(monkeypatch):
    """Force connected_components(algorithm="star") through the
    large-star/small-star loop: with a driver-route limit of 0 only an
    empty pair frame is labelled on the driver."""
    from wagtail_vector_index_spark.operators import dedup

    monkeypatch.setattr(dedup, "_CC_DRIVER_MAX_EDGES", 0)


def test_connected_components_chain(spark, star_route):
    """Chained near-dups (1-2, 2-3, no 1-3 edge) collapse to one
    component; a disjoint pair stays separate; min id labels each."""
    from wagtail_vector_index_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(2, 3), (1, 2), (10, 11)], "id_a long, id_b long"
    )
    comp = {
        r["id"]: r["component"] for r in connected_components(pairs).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_connected_components_long_chain_and_strings(spark):
    """A 9-hop path graph converges (diameter-bounded propagation) and
    string ids order lexicographically."""
    from wagtail_vector_index_spark.operators.dedup import connected_components

    chain = [(f"d{i:02d}", f"d{i + 1:02d}") for i in range(9)]
    pairs = spark.createDataFrame(chain, "id_a string, id_b string")
    comp = connected_components(pairs).collect()
    assert {r["component"] for r in comp} == {"d00"}
    assert len(comp) == 10


def test_connected_components_star_pointer_doubling_rounds(spark, star_route):
    """Large-star/small-star converges in O(log n) rounds on a path
    graph where min-label propagation needs O(diameter): a 64-node
    chain finishes in <= 10 star rounds (vs 16 double-hop label
    rounds), and both algorithms agree on every label."""
    from wagtail_vector_index_spark.operators.dedup import connected_components

    chain = [(i, i + 1) for i in range(63)]
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    star_stats: dict = {}
    star = {
        r["id"]: r["component"]
        for r in connected_components(
            pairs, algorithm="star", max_iter=64, stats=star_stats
        ).collect()
    }
    assert star == {i: 0 for i in range(64)}
    # pointer doubling: paths halve per round — well under diameter/2
    assert star_stats["rounds"] <= 10
    label_stats: dict = {}
    label = {
        r["id"]: r["component"]
        for r in connected_components(
            pairs, algorithm="label", max_iter=64, stats=label_stats
        ).collect()
    }
    assert label == star
    assert star_stats["rounds"] < label_stats["rounds"]


def test_connected_components_structural_probe_zero_rounds(spark, star_route):
    """r12 structural convergence probe: a canonical star-forest input
    (center < children, center in the v slot) is detected as the
    fixpoint BEFORE any round runs; a REVERSED star (center in the u
    slot — structurally a star but not a fixpoint, and the final
    min-per-child label agg would read it backwards) must still run
    the loop and label correctly; and a two-star chain converges in
    fewer rounds than the old unchanged-signature probe's minimum of
    2 (converge + confirm)."""
    from wagtail_vector_index_spark.operators.dedup import connected_components

    # canonical star forest: children 2,3 -> center 1; children 12 -> 10
    stats: dict = {}
    star = spark.createDataFrame(
        [(2, 1), (3, 1), (12, 10)], "id_a long, id_b long"
    )
    got = {
        r["id"]: r["component"]
        for r in connected_components(star, stats=stats).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 12: 10}
    assert stats["rounds"] == 0

    # reversed orientation: same edges with the center in the u slot —
    # not a fixpoint; a naive structural test would stop at 0 rounds
    # and label component minima as 2/3/12
    stats = {}
    rev = spark.createDataFrame(
        [(1, 2), (1, 3), (10, 12)], "id_a long, id_b long"
    )
    got = {
        r["id"]: r["component"]
        for r in connected_components(rev, stats=stats).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 12: 10}
    assert stats["rounds"] >= 1

    # a chained pair graph: fixpoint detected AT the converged round
    # (the signature probe needed an extra no-op round to certify)
    stats = {}
    chain = spark.createDataFrame(
        [(5, 6), (6, 7), (7, 8)], "id_a long, id_b long"
    )
    got = {
        r["id"]: r["component"]
        for r in connected_components(chain, stats=stats).collect()
    }
    assert got == {5: 5, 6: 5, 7: 5, 8: 5}
    assert stats["rounds"] <= 2

    # self-loop-only node keeps its roster row (the raw-checkpoint
    # roster must not drop it with the u != v edge filter)
    stats = {}
    loops = spark.createDataFrame(
        [(9, 9), (2, 1)], "id_a long, id_b long"
    )
    got = {
        r["id"]: r["component"]
        for r in connected_components(loops, stats=stats).collect()
    }
    assert got == {1: 1, 2: 1, 9: 9}


def test_connected_components_star_matches_label_on_mixed_graph(
    spark, star_route
):
    """Both algorithms produce identical labels on a graph mixing a
    clique, a chain, self-loops, duplicate/reversed edges, and string
    ids (lexicographic minima)."""
    from wagtail_vector_index_spark.operators.dedup import connected_components

    edges = (
        [("c1", "c2"), ("c2", "c3"), ("c1", "c3")]  # clique
        + [("a1", "a2"), ("a2", "a3"), ("a3", "a4")]  # chain
        + [("z9", "z9")]  # self-loop only: own component
        + [("c2", "c1"), ("c1", "c2")]  # reversed + duplicate
    )
    pairs = spark.createDataFrame(edges, "id_a string, id_b string")
    star = {
        r["id"]: r["component"]
        for r in connected_components(pairs, algorithm="star").collect()
    }
    label = {
        r["id"]: r["component"]
        for r in connected_components(pairs, algorithm="label").collect()
    }
    assert star == label
    assert star["z9"] == "z9"
    assert star["a4"] == "a1" and star["c3"] == "c1"


def _cc_labels(pairs, **kwargs):
    from wagtail_vector_index_spark.operators.dedup import connected_components

    stats: dict = {}
    out = connected_components(pairs, stats=stats, **kwargs)
    rows = sorted((tuple(r) for r in out.collect()), key=repr)
    return rows, stats


def _random_cc_edges(rng, ids):
    """Chains, cliques, stars in both orientations and self-loops over
    disjoint slices of the shuffled ``ids``, plus reversed and
    duplicate copies of some edges and a few bridges that merge
    shapes."""
    ids = list(ids)
    rng.shuffle(ids)
    edges, pos = [], 0
    for shape in ("chain", "clique", "star", "rstar", "loops") * 3:
        g = ids[pos : pos + rng.randint(2, 6)]
        pos += len(g)
        if shape == "chain":
            edges += list(zip(g, g[1:]))
        elif shape == "clique":
            edges += [(a, b) for i, a in enumerate(g) for b in g[i + 1 :]]
        elif shape == "star":
            edges += [(x, g[0]) for x in g[1:]]
        elif shape == "rstar":
            edges += [(g[0], x) for x in g[1:]]
        else:
            edges += [(x, x) for x in g]
    edges += [(b, a) for a, b in rng.sample(edges, 5)]
    edges += rng.sample(edges, 5)
    edges += [tuple(rng.sample(ids[:pos], 2)) for _ in range(3)]
    rng.shuffle(edges)
    return edges


@pytest.mark.parametrize("seed", [3, 17])
@pytest.mark.parametrize("kind", ["long", "string"])
def test_connected_components_routes_agree(spark, monkeypatch, seed, kind):
    """The driver route (union-find on a collected small pair frame),
    the large-star/small-star loop and min-label propagation give
    identical labels on seeded mixes of chains, cliques, stars,
    reversed and duplicate edges and self-loops. String ids include
    non-ASCII ones: Python's code-point order equals Spark's UTF-8
    byte order."""
    import random

    from wagtail_vector_index_spark.operators import dedup

    rng = random.Random(seed)
    ids = rng.sample(range(1, 10_000), 80)
    if kind == "string":
        alphabet = ["a", "Z", "9", "é", "ß", "中", "\U0001d538", "~"]
        ids = [
            "".join(rng.choices(alphabet, k=1 + n % 4)) + str(n)
            for n in ids
        ]
    pairs = spark.createDataFrame(
        _random_cc_edges(rng, ids), f"id_a {kind}, id_b {kind}"
    )
    driver, driver_stats = _cc_labels(pairs)
    label, _ = _cc_labels(pairs, algorithm="label")
    monkeypatch.setattr(dedup, "_CC_DRIVER_MAX_EDGES", 0)
    star, star_stats = _cc_labels(pairs)
    assert driver_stats == {"rounds": 0, "route": "driver"}
    assert star_stats["route"] == "star" and star_stats["rounds"] >= 1
    assert driver == star == label
    assert len({c for _, c in driver}) < len(driver)


def test_connected_components_null_ids_driver_matches_star(
    spark, monkeypatch
):
    """A NULL id labels itself (one row) and an edge with a NULL end
    joins nothing, on both routes."""
    from wagtail_vector_index_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(1, 2), (None, 3), (4, None), (None, None), (2, 5), (6, 6)],
        "id_a long, id_b long",
    )
    driver, driver_stats = _cc_labels(pairs)
    monkeypatch.setattr(dedup, "_CC_DRIVER_MAX_EDGES", 0)
    star, star_stats = _cc_labels(pairs)
    assert (driver_stats["route"], star_stats["route"]) == ("driver", "star")
    assert driver == star
    assert driver == sorted(
        [(1, 1), (2, 1), (5, 1), (3, 3), (4, 4), (6, 6), (None, None)],
        key=repr,
    )


def test_connected_components_driver_route_boundary(spark, monkeypatch):
    """The route turns on the raw row count, self-loops and duplicate
    edges included: at a limit of 5, five raw rows are labelled on the
    driver and six run the star loop, with the same labels."""
    from wagtail_vector_index_spark.operators import dedup

    monkeypatch.setattr(dedup, "_CC_DRIVER_MAX_EDGES", 5)
    five = [(3, 4), (4, 5), (5, 5), (4, 3), (8, 9)]
    got = {}
    for edges in (five, five + [(9, 1)]):
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        labels, stats = _cc_labels(pairs)
        got[stats["route"]] = labels
        assert labels == _cc_labels(pairs, algorithm="label")[0]
    assert got["driver"] == [(3, 3), (4, 3), (5, 3), (8, 8), (9, 8)]
    assert got["star"] == [(1, 1), (3, 3), (4, 3), (5, 3), (8, 1), (9, 1)]


def test_connected_components_unordered_id_types_take_star_route(spark):
    """Only integral and default-collation string ids are labelled on
    the driver: doubles (Spark sorts NaN last, Python does not order
    it) and collated strings keep the star loop."""
    doubles = spark.createDataFrame(
        [(1.5, 2.5), (2.5, 0.5), (7.0, 8.0)], "id_a double, id_b double"
    )
    labels, stats = _cc_labels(doubles)
    assert stats["route"] == "star"
    assert labels == [
        (0.5, 0.5), (1.5, 0.5), (2.5, 0.5), (7.0, 7.0), (8.0, 7.0)
    ]
    lcase = spark.createDataFrame(
        [("b", "c"), ("a", "b")], "id_a string, id_b string"
    ).select(
        F.collate("id_a", "UTF8_LCASE").alias("id_a"),
        F.collate("id_b", "UTF8_LCASE").alias("id_b"),
    )
    labels, stats = _cc_labels(lcase)
    assert stats["route"] == "star"
    assert labels == [("a", "a"), ("b", "a"), ("c", "a")]


def test_connected_components_small_graph_job_count(spark):
    """A 3-edge chain is labelled on the driver: the raw checkpoint, one
    bounded collect and the caller's action. The star loop ran 34 Spark
    jobs for it (two checkpoints, a star-forest probe per round, two
    rounds and the final labelling join)."""
    from wagtail_vector_index_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "id_a long, id_b long"
    )
    sc = spark.sparkContext
    group = "cc_small_graph_jobs"
    sc.setJobGroup(group, group)
    try:
        got = {
            r["id"]: r["component"]
            for r in connected_components(pairs).collect()
        }
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}
    assert len(sc.statusTracker().getJobIdsForGroup(group)) < 34 // 2


def test_minhash_lsh_pairs_leaves_no_cached_plan(spark):
    """Each call reuses its signature frame through a lazy
    localCheckpoint, released with the frame: repeated calls add no
    entry to the session's CacheManager (a cache() per call added one
    each, and nothing unpersisted it)."""
    spark.catalog.clearCache()
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    base = "the quick brown fox jumps over the lazy dog near the river"
    for i in range(3):
        df = spark.createDataFrame(
            [(10 * i + 1, base + " bank"), (10 * i + 2, base + " bend")],
            "doc_id long, text string",
        )
        got = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(df).collect()}
        assert got == {(10 * i + 1, 10 * i + 2)}
    assert cache_manager.isEmpty()


def test_keep_representatives_exact_beats_clique_approx(spark):
    """On a chain 1~3~2 (hub 3 is the max id, no 1~2 pair), the
    single-pass approximation keeps both chain ends {1, 2}; the
    connected-components version keeps only the component minimum {1}."""
    from wagtail_vector_index_spark.operators.dedup import (
        keep_representatives_exact,
    )

    docs = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 3), (2, 3)], "id_a long, id_b long")
    approx = {r["doc_id"] for r in keep_representatives(docs, pairs).collect()}
    exact = {
        r["doc_id"] for r in keep_representatives_exact(docs, pairs).collect()
    }
    assert approx == {1, 2, 4}
    assert exact == {1, 4}


def test_pack_sequences_greedy(spark):
    """Greedy fill: new pack when the budget would overflow; oversized
    docs get their own pack; offsets are the running fill."""
    from wagtail_vector_index_spark.operators.packing import pack_sequences

    docs = spark.createDataFrame(
        [(0, 400), (8, 500), (16, 200), (24, 1500), (32, 100)],
        "doc_id long, est_tokens long",
    )
    out = {
        r["doc_id"]: (r["shard"], r["pack_id"], r["pack_offset"])
        for r in pack_sequences(
            docs, budget=1000, num_shards=1
        ).collect()
    }
    assert out == {
        0: (0, 0, 0),     # 400
        8: (0, 0, 400),   # 900
        16: (0, 1, 0),    # 200 would overflow -> pack 1
        24: (0, 2, 0),    # oversized 1500 -> own pack
        32: (0, 3, 0),    # previous pack full
    }


def test_pack_sequences_budget_invariant(spark, documents_df):
    """No pack exceeds the budget unless it is a single oversized doc,
    and offsets tile each pack contiguously."""
    from pyspark.sql import functions as F

    from wagtail_vector_index_spark.functions.text_splitting import (
        estimated_tokens_col,
    )
    from wagtail_vector_index_spark.operators.packing import pack_sequences

    docs = documents_df.select(
        "doc_id", estimated_tokens_col(F.col("text")).alias("est_tokens")
    )
    packed = pack_sequences(docs, budget=1024, num_shards=4)
    agg = packed.groupBy("shard", "pack_id").agg(
        F.sum("est_tokens").alias("total"),
        F.count(F.lit(1)).alias("n"),
        F.min("pack_offset").alias("min_off"),
        F.max(F.col("pack_offset") + F.col("est_tokens")).alias("end"),
    )
    bad = agg.where((F.col("total") > 1024) & (F.col("n") > 1)).count()
    assert bad == 0
    assert agg.where(F.col("min_off") != 0).count() == 0
    assert agg.where(F.col("end") != F.col("total")).count() == 0
    assert packed.count() == docs.count()


def test_semantic_dedup_prunes_within_cluster_only(spark):
    from wagtail_vector_index_spark.operators.dedup import semantic_dedup
    from wagtail_vector_index_spark.operators.knn import ivf_assign

    # two orthogonal clusters: 11/12 are near-dups of 10 within cluster A,
    # 21 is a near-dup of 20 within cluster B; pruning never crosses
    # cluster boundaries.
    rows = [
        (10, [1.0, 0.0, 0.0, 0.0]),
        (11, [0.99, 0.01, 0.0, 0.0]),   # near-dup of 10, same cluster
        (12, [0.98, 0.02, 0.0, 0.0]),   # near-dup of 10 and 11
        (20, [0.0, 1.0, 0.0, 0.0]),     # other cluster, survives
        (21, [0.0, 0.99, 0.01, 0.0]),   # near-dup of 20, dropped
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])]

    cdf = spark.createDataFrame(cents, "cid int, cv array<double>")
    assigned = ivf_assign(df, cdf, index_vec="embedding")
    cid = {r["vec_id"]: r["cid"] for r in assigned.collect()}
    assert cid == {10: 0, 11: 0, 12: 0, 20: 1, 21: 1}

    surv = semantic_dedup(
        df, cents, id_col="vec_id", vec_col="embedding", threshold=0.95
    )
    kept = sorted(r["vec_id"] for r in surv.collect())
    # lowest id per near-dup clique survives in each cluster
    assert kept == [10, 20]


def test_assign_centroids_udf_matches_expression_twin(spark):
    from wagtail_vector_index_spark.operators.dedup import assign_centroids_udf
    from wagtail_vector_index_spark.operators.knn import ivf_assign

    rows = [
        (i, [((i * 13 + j * 7) % 23) / 23.0 + 0.05 for j in range(8)])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [(int(i), rows[i][1]) for i in (3, 11, 27)]
    via_expr = {
        r["vec_id"]: r["cid"]
        for r in ivf_assign(
            df,
            spark.createDataFrame(cents, "cid int, cv array<double>"),
            index_vec="embedding",
        ).collect()
    }
    via_udf = {
        r["vec_id"]: r["cid"]
        for r in df.select(
            "vec_id", assign_centroids_udf(cents)(F.col("embedding")).alias("cid")
        ).collect()
    }
    assert via_expr == via_udf


def test_semantic_dedup_arrow_matches_sql_method(spark, embeddings_df):
    """The per-cluster GEMM path and the Catalyst self-join path must
    produce the same survivor set (differential, 300 real vectors)."""
    from wagtail_vector_index_spark.operators.dedup import semantic_dedup

    emb = embeddings_df.limit(300)
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.orderBy("vec_id").limit(8).collect()
    ]
    kw = dict(id_col="vec_id", vec_col="embedding", threshold=0.4)
    arrow = {tuple(r) for r in semantic_dedup(emb, cents, method="arrow", **kw).collect()}
    sql = {tuple(r) for r in semantic_dedup(emb, cents, method="sql", **kw).collect()}
    assert arrow == sql and len(arrow) > 0


def test_semantic_dedup_nonpositive_threshold_parity(spark):
    """Regression (r3 advice): the arrow path thresholded AFTER triu's
    zero-fill, so thr <= 0 treated the structural zeros as matches and
    dropped nearly everything. With thr <= 0 every within-cluster pair
    qualifies, so exactly the lowest-id member of each cluster survives
    — and arrow must agree with sql."""
    from wagtail_vector_index_spark.operators.dedup import semantic_dedup

    # 1 and 2 both assign to centroid 0 (x > y) but sit ~120 deg apart,
    # so sim(1,2) ~ -0.5; 3 is alone in cluster 1.
    rows = [
        (1, [0.17, -0.98]),
        (2, [0.766, 0.643]),
        (3, [0.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    for thr in (0.0, -1.0):
        kw = dict(id_col="vec_id", vec_col="embedding", threshold=thr)
        arrow = {
            tuple(r)
            for r in semantic_dedup(emb, cents, method="arrow", **kw).collect()
        }
        sql = {
            tuple(r)
            for r in semantic_dedup(emb, cents, method="sql", **kw).collect()
        }
        assert arrow == sql
    # thr = 0: sim(1,2) < 0, so nothing qualifies — all three survive
    # (the old zero-filled triu dropped rows here)
    kw = dict(id_col="vec_id", vec_col="embedding", threshold=0.0)
    surv = {
        r["vec_id"]
        for r in semantic_dedup(emb, cents, method="arrow", **kw).collect()
    }
    assert surv == {1, 2, 3}
    # thr = -1: every within-cluster pair qualifies — vec 2 drops
    kw["threshold"] = -1.0
    surv = {
        r["vec_id"]
        for r in semantic_dedup(emb, cents, method="arrow", **kw).collect()
    }
    assert surv == {1, 3}


def test_semantic_dedup_mega_cluster_guard(spark):
    """Skew guard: with 90% of rows in one cluster and a small cap, the
    arrow path must reroute through the blocked block-pair decomposition
    (bounded per-task GEMM) and still produce the identical survivor set
    as both the unguarded kernel and the SQL twin."""
    import numpy as np

    from wagtail_vector_index_spark.operators.dedup import semantic_dedup

    rng = np.random.default_rng(7)
    X = rng.normal(size=(240, 4))
    X[:, 0] = np.abs(X[:, 0]) + 0.5  # all lean toward +x ...
    X[:24, 0] = -X[:24, 0]           # ... except 10% flipped to -x
    rows = [(i, [float(v) for v in X[i]]) for i in range(240)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [-1.0, 0.0, 0.0, 0.0])]
    kw = dict(id_col="vec_id", vec_col="embedding", threshold=0.8)

    guarded = {
        tuple(r)
        for r in semantic_dedup(
            emb, cents, method="arrow", max_cluster_rows=32, **kw
        ).collect()
    }
    fast = {
        tuple(r)
        for r in semantic_dedup(
            emb, cents, method="arrow", max_cluster_rows=None, **kw
        ).collect()
    }
    sql = {
        tuple(r)
        for r in semantic_dedup(emb, cents, method="sql", **kw).collect()
    }
    assert guarded == fast == sql
    assert 0 < len(guarded) < 240  # the threshold actually prunes


def test_blocked_semantic_survivors_matches_single_task(spark):
    """Unit: the block-pair loser decomposition equals the one-task-per-
    cluster triu for every block count (1 block == degenerate case)."""
    import numpy as np

    from wagtail_vector_index_spark.operators.dedup import (
        _blocked_semantic_survivors,
        assign_centroids_udf,
    )

    rng = np.random.default_rng(11)
    X = rng.normal(size=(60, 3))
    rows = [(i, [float(v) for v in X[i]]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])]
    assigned = emb.withColumn(
        "cid", assign_centroids_udf(cents)(F.col("embedding"))
    ).select("vec_id", "embedding", "cid")

    # brute reference: per-cluster triu in numpy
    data = assigned.collect()
    by_cid = {}
    for r in data:
        by_cid.setdefault(r["cid"], []).append((r["vec_id"], r["embedding"]))
    expected = set()
    for cid, members in by_cid.items():
        members.sort()
        M = np.asarray([v for _, v in members])
        M = M / np.sqrt((M * M).sum(axis=1, keepdims=True))
        S = M @ M.T
        loser = np.triu(S >= 0.3, k=1).any(axis=0)
        for j, (vid, _) in enumerate(members):
            if not loser[j]:
                expected.add((vid, cid))

    for counts in ({}, {0: 1, 1: 1}, {0: 3}, {0: 4, 1: 2}, {0: 9, 1: 7}):
        got = {
            tuple(r)
            for r in _blocked_semantic_survivors(
                assigned, counts, id_col="vec_id", vec_col="embedding",
                threshold=0.3,
            ).collect()
        }
        assert got == expected, f"block_counts={counts}"


def test_blocked_semantic_survivors_string_ids(spark):
    """The blocked skew-guard path must handle non-numeric ids: loser
    selection (np.maximum / triu over sorted ids) and the anti-join all
    operate on strings."""
    import numpy as np

    from wagtail_vector_index_spark.operators.dedup import (
        _blocked_semantic_survivors,
        assign_centroids_udf,
    )

    rng = np.random.default_rng(3)
    X = rng.normal(size=(40, 3))
    rows = [(f"doc-{i:03d}", [float(v) for v in X[i]]) for i in range(40)]
    emb = spark.createDataFrame(rows, "doc_key string, embedding array<double>")
    cents = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])]
    assigned = emb.withColumn(
        "cid", assign_centroids_udf(cents)(F.col("embedding"))
    ).select("doc_key", "embedding", "cid")

    one_block = {
        tuple(r)
        for r in _blocked_semantic_survivors(
            assigned, {}, id_col="doc_key", vec_col="embedding",
            threshold=0.3,
        ).collect()
    }
    split = {
        tuple(r)
        for r in _blocked_semantic_survivors(
            assigned, {0: 4, 1: 3}, id_col="doc_key", vec_col="embedding",
            threshold=0.3,
        ).collect()
    }
    assert one_block == split and 0 < len(split) < 40


def test_lsh_neardup_guard_parity_random(spark):
    """Differential: forcing tiny bucket caps (heavy block splitting)
    must return exactly the unguarded grouped-GEMM answer — pairs AND
    similarities — on random vectors with planted near-dups."""
    import numpy as np

    from wagtail_vector_index_spark.operators.dedup import lsh_neardup_pairs

    rng = np.random.default_rng(17)
    X = rng.normal(size=(400, 16))
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    for j in range(0, 40, 2):  # 20 planted near-dup pairs
        v = X[j] + rng.normal(scale=0.02, size=16)
        X[j + 1] = v / np.linalg.norm(v)
    rows = [(i, [float(v) for v in X[i]]) for i in range(400)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(
        id_col="vec_id", vec_col="embedding", threshold=0.8,
        num_planes=12, bands=3, dim=16,
    )
    unguarded = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in lsh_neardup_pairs(emb, max_bucket_rows=None, **kw).collect()
    }
    guarded = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in lsh_neardup_pairs(emb, max_bucket_rows=16, **kw).collect()
    }
    assert set(guarded) == set(unguarded) and len(guarded) >= 20
    for k in guarded:
        assert guarded[k] == pytest.approx(unguarded[k], abs=1e-12)


def test_lsh_neardup_skew_verdict_cache(spark):
    """The skew-precheck verdict memoizes per (input version, banding
    params): the second identical call hits the cache and must return
    the identical pair set — and a different cap keys separately."""
    import numpy as np

    from wagtail_vector_index_spark.operators.dedup import (
        _SKEW_VERDICT_CACHE,
        lsh_neardup_pairs,
    )

    rng = np.random.default_rng(5)
    X = rng.normal(size=(120, 8))
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    rows = [(i, [float(v) for v in X[i]]) for i in range(120)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(
        id_col="vec_id", vec_col="embedding", threshold=0.8,
        num_planes=12, bands=3, dim=8,
    )
    _SKEW_VERDICT_CACHE.clear()
    first = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in lsh_neardup_pairs(emb, max_bucket_rows=4, **kw).collect()
    }
    assert len(_SKEW_VERDICT_CACHE) == 1
    (verdict,) = _SKEW_VERDICT_CACHE.values()
    assert verdict  # cap=4 on 120 rows must flag oversized buckets
    again = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in lsh_neardup_pairs(emb, max_bucket_rows=4, **kw).collect()
    }
    assert again == first
    assert len(_SKEW_VERDICT_CACHE) == 1  # cache hit, no new entry
    lsh_neardup_pairs(emb, max_bucket_rows=1000, **kw).collect()
    assert len(_SKEW_VERDICT_CACHE) == 2  # different cap keys separately


def test_incremental_neardup_filter_drops_only_corpus_dupes(spark):
    """Asymmetric ingestion dedup: new rows near-duplicating the corpus
    are dropped; new-vs-new duplicates are NOT (they're the next
    batch's corpus problem); exact copies always collide."""
    from wagtail_vector_index_spark.operators.dedup import (
        incremental_neardup_filter,
        incremental_neardup_pairs,
    )

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog by the river"),
         (2, "completely different content about spark shuffle behavior")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog by the river"),
         (11, "novel text with no overlap whatsoever in any shingle here"),
         (12, "novel text with no overlap whatsoever in any shingle here")],
        "doc_id long, text string",
    )
    pairs = incremental_neardup_pairs(new, corpus, threshold=0.5).collect()
    assert {(r["new_id"], r["corpus_id"]) for r in pairs} == {(10, 1)}
    kept = incremental_neardup_filter(new, corpus, threshold=0.5)
    assert sorted(r["doc_id"] for r in kept.collect()) == [11, 12]


def test_incremental_neardup_reusable_corpus_signatures(spark):
    """Per-batch ingestion loops pass persisted corpus signatures once
    instead of recomputing/cache-pinning them per call; results must be
    identical to the corpus_df path."""
    from wagtail_vector_index_spark.operators.dedup import (
        incremental_neardup_pairs,
        minhash_signatures,
    )

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog by the river"),
         (2, "other standing content entirely unrelated to anything new")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog by the river")],
        "doc_id long, text string",
    )
    via_df = {
        tuple(r)[:2]
        for r in incremental_neardup_pairs(new, corpus, threshold=0.5).collect()
    }
    sigs = minhash_signatures(corpus, cache=False).persist()
    try:
        via_sigs = {
            tuple(r)[:2]
            for r in incremental_neardup_pairs(
                new, corpus_signatures=sigs, threshold=0.5
            ).collect()
        }
    finally:
        sigs.unpersist()
    assert via_df == via_sigs == {(10, 1)}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="exactly one"):
        incremental_neardup_pairs(new, corpus, corpus_signatures=sigs)


def test_corpus_signatures_lifecycle_keeps_storage_flat(spark, documents_df):
    """Ingestion-loop hygiene (r4 ADVICE -> r5 API): with a persisted
    CorpusSignatures reused across batches, repeated dedup_against
    batches must not accumulate pinned storage — the corpus side is ONE
    persisted frame, and the new side's localCheckpoint blocks are
    reclaimed by the ContextCleaner once the batch's frames drop."""
    import gc
    import time

    from wagtail_vector_index_spark.operators.dedup import (
        CorpusSignatures,
        incremental_neardup_filter,
    )

    corpus = documents_df.limit(200).select("doc_id", "text")
    sc = spark.sparkContext

    def persistent_rdds() -> int:
        return sc._jsc.sc().getPersistentRDDs().size()

    with CorpusSignatures.build(corpus) as sigs:
        sigs.df.count()  # materialize the one allowed pin
        base = persistent_rdds()
        for i in range(4):
            batch = documents_df.where(
                F.col("doc_id") % 4 == i
            ).limit(50).select(
                (F.col("doc_id") + 10000 * (i + 1)).alias("doc_id"), "text"
            )
            incremental_neardup_filter(
                batch, None, corpus_signatures=sigs, threshold=0.5
            ).count()
        # let the ContextCleaner reclaim the batches' checkpoint blocks
        # (generous: the cleaner thread is starved on a loaded host —
        # 15s flaked once under a concurrent full-gate run)
        deadline = time.time() + 60
        while time.time() < deadline:
            gc.collect()
            spark._jvm.System.gc()
            if persistent_rdds() <= base + 1:
                break
            time.sleep(0.5)
        assert persistent_rdds() <= base + 1, (
            f"pinned RDDs grew from {base} to {persistent_rdds()} over 4 "
            "batches — per-batch storage is leaking"
        )
    # rollover: the corpus pin itself is released


def test_prefix_jaccard_matches_cocount_exact(spark):
    """Prefix filtering (AllPairs/PPJoin) must return EXACTLY the
    co-count answer — same pairs, same jaccard values — across
    thresholds, including docs with ubiquitous shared shingles (the
    case whose candidates it exists to prune)."""
    from wagtail_vector_index_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )

    rows = [
        (1, "the cat sat on the mat near the door by the house"),
        (2, "the cat sat on the mat near the door by the barn"),
        (3, "the cat sat on the mat close to the gate by a barn"),
        (4, "a completely different sentence about spark joins and shuffles"),
        (5, "another unrelated line mentioning the cat once only here"),
        (6, "the cat sat on the mat near the door by the house"),  # dup of 1
        (7, "short text"),
        (8, "the the the the the the the the"),  # degenerate repetition
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.3, 0.5, 0.8):
        want = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(df, threshold=t).collect()
        }
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs_prefix(df, threshold=t).collect()
        }
        assert got == want, f"threshold {t}: {got} != {want}"
    assert (1, 6) in {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs_prefix(df, threshold=0.8).collect()
    }


def test_prefix_jaccard_exact_threshold_boundary(spark):
    """Float-ceiling boundary (r6 advice fix): with t=0.55 and a
    20-shingle doc, 0.55*20 computes as 11.000000000000002 — a naive
    ceil gives 12, shortening the prefix below the AllPairs bound and
    over-tightening the length filter, so a pair whose Jaccard is
    EXACTLY the threshold gets silently dropped. B ⊂ A with |A|=20,
    |B|=11 ⇒ J = 11/20 = 0.55; the epsilon-robust ceiling must keep
    it, matching the co-count path's >= t contract."""
    from wagtail_vector_index_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )

    words = [f"w{i}" for i in range(20)]
    rows = [
        (1, " ".join(words)),
        (2, " ".join(words[:11])),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    want = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in ngram_jaccard_pairs(df, n=1, threshold=0.55).collect()
    }
    got = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in ngram_jaccard_pairs_prefix(df, n=1, threshold=0.55).collect()
    }
    assert want == {(1, 2): 0.55}
    assert got == want
    # the containment prefix kernel shares the ranking and ceiling: 11
    # of doc 3's 20 shingles occur in doc 4, so C(3 in 4) = 0.55 exactly
    df = spark.createDataFrame(
        [(3, " ".join(words)), (4, " ".join(words[:11] + ["x0", "x1"]))],
        "doc_id long, text string",
    )
    by_method = {
        m: {
            (r["contained"], r["container"]): round(r["containment"], 9)
            for r in ngram_containment_pairs(
                df, n=1, threshold=0.55, method=m
            ).collect()
        }
        for m in ("cocount", "prefix")
    }
    assert by_method["cocount"][(3, 4)] == 0.55
    assert by_method["prefix"] == by_method["cocount"]


def test_prefix_jaccard_property_random_docs(spark):
    """Randomized differential: prefix filter == co-count on corpora of
    random words (heavy shingle overlap by construction)."""
    import random

    from wagtail_vector_index_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(12)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 18))))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.4, 0.7):
        want = {
            (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
            for r in ngram_jaccard_pairs(df, threshold=t).collect()
        }
        got = {
            (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
            for r in ngram_jaccard_pairs_prefix(df, threshold=t).collect()
        }
        assert got == want


def test_hash64_is_hash60_shifted(spark):
    """The 32-bit MinHash base hash is the 60-bit prefix-kernel hash
    shifted right 28 bits — both are prefixes of the SAME sha256 digest
    (8 vs 15 hex chars), so one hashed frame can serve both sides of
    the LSH eval gates. Pinned because lsh_eval_pair_sets relies on it
    for signature equality."""
    from pyspark.sql import functions as F

    from wagtail_vector_index_spark.functions.text_analysis import (
        sha_hash60,
        sha_hash64,
    )

    rows = [(s,) for s in ["a b c", "the cat sat", "", "x", "über täst"]]
    df = spark.createDataFrame(rows, "s string")
    got = df.select(
        sha_hash64(F.col("s")).alias("h64"),
        F.shiftright(sha_hash60(F.col("s")), 28).alias("h60s"),
    ).collect()
    for r in got:
        assert r["h64"] == r["h60s"]


def test_lsh_eval_pair_sets_matches_composed(spark):
    """lsh_eval_pair_sets (one shared shingle+sha pass) must return
    EXACTLY the pair sets of composing ngram_jaccard_pairs_prefix and
    minhash_lsh_candidates — including docs too short to shingle, whose
    (non-)banding behavior must not change."""
    from wagtail_vector_index_spark.operators.dedup import (
        lsh_eval_pair_sets,
        minhash_lsh_candidates,
        ngram_jaccard_pairs_prefix,
    )

    rows = [
        (1, "the cat sat on the mat near the door by the house"),
        (2, "the cat sat on the mat near the door by the barn"),
        (3, "the cat sat on the mat close to the gate by a barn"),
        (4, "a completely different sentence about spark joins and shuffles"),
        (5, "the cat sat on the mat near the door by the house"),  # dup of 1
        (6, "too short"),  # < n words: empty shingle array
        (7, "tiny"),  # another, so empty-sig docs could pair
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    exact, cand = lsh_eval_pair_sets(
        df, n=3, num_hashes=16, bands=8, threshold=0.3
    )
    want_exact = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in ngram_jaccard_pairs_prefix(df, n=3, threshold=0.3).collect()
    }
    got_exact = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in exact.collect()
    }
    assert got_exact == want_exact
    want_cand = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(
            df, n=3, num_hashes=16, bands=8
        ).collect()
    }
    got_cand = {(r["id_a"], r["id_b"]) for r in cand.collect()}
    assert got_cand == want_cand


def test_keep_representatives_exact_prefer_col(spark):
    """prefer_col keeps the component member maximizing the column
    (min-id tie-break), including chained clusters and singletons."""
    from wagtail_vector_index_spark.operators.dedup import (
        keep_representatives_exact,
    )

    docs = spark.createDataFrame(
        [(1, 10.0), (2, 30.0), (3, 30.0), (4, 5.0), (9, 7.0)],
        "doc_id long, q double",
    )
    # chain 1~2~3 (one cluster), 4 alone in pairs, 9 never paired
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 4)], "id_a long, id_b long"
    )
    kept = {
        r["doc_id"]
        for r in keep_representatives_exact(
            docs, pairs, prefer_col="q"
        ).collect()
    }
    # cluster {1,2,3}: max q is 30 shared by 2 and 3 -> min id 2 wins
    assert kept == {2, 4, 9}


def test_connected_components_star_cutoff_keeps_one_row_per_node(
    spark, star_route
):
    """max_iter exhaustion mid-collapse must degrade gracefully: one
    row per node (best-known label), never conflicting duplicates."""
    from wagtail_vector_index_spark.operators.dedup import connected_components

    chain = [(i, i + 1) for i in range(199)]
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    out = connected_components(pairs, max_iter=2).collect()
    assert len(out) == 200
    assert len({r["id"] for r in out}) == 200
    # labels never exceed the node id (monotone toward the minimum)
    assert all(r["component"] <= r["id"] for r in out)


def test_keep_representatives_exact_prefer_col_component_column(spark):
    """A caller frame that already carries a 'component' column (e.g.
    from a prior dedup_components pass) must not break the prefer_col
    path with an ambiguous reference."""
    from wagtail_vector_index_spark.operators.dedup import (
        keep_representatives_exact,
    )

    docs = spark.createDataFrame(
        [(1, 5.0, "x"), (2, 9.0, "x"), (3, 1.0, "y")],
        "doc_id long, q double, component string",
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    kept = keep_representatives_exact(docs, pairs, prefer_col="q").collect()
    assert {r["doc_id"] for r in kept} == {2, 3}
    assert "component" in kept[0].asDict()  # caller column preserved


def test_substring_duplicate_coverage_closed_form(spark):
    """Hand-checkable ExactSubstr coverage (r6): overlapping duplicated
    windows merge via min(gap, k); disjoint spans add; unique docs
    report zero; sub-k docs are excluded."""
    from wagtail_vector_index_spark.operators.dedup import (
        substring_duplicate_coverage,
    )

    shared = "one two three four"  # a duplicated 4-token span
    rows = [
        # docs 1 and 2 share the 4-gram -> each fully covered over it
        (1, shared + " aaa bbb ccc"),
        (2, "xxx yyy " + shared + " zzz"),
        # doc 3: unique words only
        (3, "p q r s t u v"),
        # doc 4: shorter than k -> excluded
        (4, "a b"),
        # doc 5: the shared span twice WITHIN one doc (intra-doc dup)
        (5, shared + " mid1 mid2 mid3 mid4 " + shared),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in substring_duplicate_coverage(df, k=4).collect()
    }
    assert set(out) == {1, 2, 3, 5}
    # docs 1/2: exactly one duplicated window of 4 tokens
    assert out[1]["n_dup_windows"] == 1 and out[1]["covered_tokens"] == 4
    assert out[1]["coverage"] == round(4 / 7, 4)
    assert out[2]["covered_tokens"] == 4 and out[2]["n_toks"] == 7
    assert out[3]["n_dup_windows"] == 0 and out[3]["coverage"] == 0.0
    # doc 5: two disjoint duplicated windows (gap 8 >= k) -> 8 tokens
    assert out[5]["n_dup_windows"] == 2 and out[5]["covered_tokens"] == 8
    assert out[5]["n_toks"] == 12


def test_substring_coverage_overlapping_windows_union(spark):
    """A long duplicated run produces overlapping k-windows whose UNION
    (not sum) is counted: two copies of an 8-token run with k=4 give
    coverage of exactly 8 tokens each — 5 windows x 4 tokens would
    overcount to 20."""
    from wagtail_vector_index_spark.operators.dedup import (
        substring_duplicate_coverage,
    )

    run = "r1 r2 r3 r4 r5 r6 r7 r8"
    rows = [(1, run + " u1 u2"), (2, "v1 v2 " + run)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in substring_duplicate_coverage(df, k=4).collect()
    }
    assert out[1]["n_dup_windows"] == 5
    assert out[1]["covered_tokens"] == 8
    assert out[2]["covered_tokens"] == 8


def test_containment_catches_subset_that_jaccard_misses(spark):
    """A short doc fully quoted inside a long one: containment 1.0 in
    the short->long direction, while Jaccard sits near |A|/|B| and a
    0.5 Jaccard threshold never fires."""
    from wagtail_vector_index_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "alpha beta gamma delta epsilon"
    long = short + " " + " ".join(f"tok{i} filler{i} pad{i}" for i in range(12))
    docs = spark.createDataFrame(
        [(1, short), (2, long), (3, "совсем unrelated words entirely here")],
        ["doc_id", "text"],
    )
    pairs = ngram_containment_pairs(docs, n=3, threshold=0.9).collect()
    assert [(r["contained"], r["container"]) for r in pairs] == [(1, 2)]
    assert pairs[0]["containment"] == 1.0
    jac = ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    assert jac == []


def test_containment_emits_both_directions_for_twins(spark):
    from wagtail_vector_index_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    t = "one two three four five six"
    docs = spark.createDataFrame([(1, t), (2, t)], ["doc_id", "text"])
    pairs = sorted(
        (r["contained"], r["container"], r["containment"])
        for r in ngram_containment_pairs(docs, n=3, threshold=0.5).collect()
    )
    assert pairs == [(1, 2, 1.0), (2, 1, 1.0)]


def test_lsh_neardup_skew_verdict_keyed_on_data_version(spark, tmp_path):
    """Re-reading the SAME parquet path after the data grew must NOT
    reuse the old skew verdict (the plan hash alone can't see the
    change; the file-listing fingerprint does) — otherwise the
    max_bucket_rows memory guard is silently defeated."""
    import numpy as np

    from wagtail_vector_index_spark.operators.dedup import (
        _SKEW_VERDICT_CACHE,
        lsh_neardup_pairs,
    )

    rng = np.random.default_rng(11)
    X = rng.normal(size=(60, 8))
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    path = str(tmp_path / "emb")
    kw = dict(
        id_col="vec_id", vec_col="embedding", threshold=0.8,
        num_planes=12, bands=3, dim=8, max_bucket_rows=4,
    )

    def write(n):
        rows = [(i, [float(v) for v in X[i % 60]]) for i in range(n)]
        spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        ).coalesce(1).write.mode("overwrite").parquet(path)

    _SKEW_VERDICT_CACHE.clear()
    write(20)
    lsh_neardup_pairs(spark.read.parquet(path), **kw).collect()
    assert len(_SKEW_VERDICT_CACHE) == 1
    # same path, new data version: a fresh verdict entry must appear
    write(60)
    lsh_neardup_pairs(spark.read.parquet(path), **kw).collect()
    assert len(_SKEW_VERDICT_CACHE) == 2
    # and the two verdicts must differ (60 rows under cap=4 has more
    # oversized buckets than 20 rows)
    v1, v2 = _SKEW_VERDICT_CACHE.values()
    assert v1 != v2


def test_collapsed_jaccard_pairs_match_plain(spark):
    """ngram_jaccard_pairs_collapsed must equal ngram_jaccard_pairs
    pair-for-pair (ids AND jaccard) on a corpus with a planted
    identical-text mega-cluster, near-dups, and unique docs."""
    from wagtail_vector_index_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_collapsed,
    )

    boiler = "all work and no play makes jack a dull boy " * 3
    rows = [(i, boiler) for i in range(10)]  # identical cluster
    rows += [
        (20, "the quick brown fox jumps over the lazy dog today"),
        (21, "the quick brown fox jumps over the lazy dog tonight"),
        (22, "completely unrelated text about catalyst plan pushdown"),
        # same shingle SET as 20 via duplicated trailing words
        (23, "the quick brown fox jumps over the lazy dog today today"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for thr in (0.3, 0.5, 0.99):
        plain = {
            (r["id_a"], r["id_b"], round(r["jaccard"], 9))
            for r in ngram_jaccard_pairs(df, n=3, threshold=thr).collect()
        }
        coll = {
            (r["id_a"], r["id_b"], round(r["jaccard"], 9))
            for r in ngram_jaccard_pairs_collapsed(
                df, n=3, threshold=thr
            ).collect()
        }
        assert coll == plain and len(plain) >= 45, thr


def test_dup_cluster_edges_same_components_and_losers(spark):
    """ngram_dup_cluster_edges must give the same connected components
    AND the same keep_representatives survivor set as the full pair
    graph — with linear (not quadratic) edge count on the clique."""
    from wagtail_vector_index_spark.operators.dedup import (
        connected_components,
        keep_representatives,
        ngram_dup_cluster_edges,
        ngram_jaccard_pairs,
    )

    boiler = "all work and no play makes jack a dull boy " * 3
    rows = [(i, boiler) for i in range(8)]
    rows += [
        (20, "the quick brown fox jumps over the lazy dog today"),
        (21, "the quick brown fox jumps over the lazy dog tonight"),
        (22, "completely unrelated text about catalyst plan pushdown"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    full = ngram_jaccard_pairs(df, n=3, threshold=0.5)
    star = ngram_dup_cluster_edges(df, n=3, threshold=0.5)
    # components identical
    cf = {
        (r["id"], r["component"])
        for r in connected_components(full).collect()
    }
    cs = {
        (r["id"], r["component"])
        for r in connected_components(star).collect()
    }
    assert cs == cf and len(cf) > 0
    # survivor set identical
    sf_ = {r["doc_id"] for r in keep_representatives(df, full).collect()}
    ss = {r["doc_id"] for r in keep_representatives(df, star).collect()}
    assert ss == sf_
    # edge count linear on the 8-clique: 7 star edges + cross pairs,
    # vs the full graph's 28 within-clique pairs
    assert star.count() < full.count()


def test_dup_cluster_edges_prefix_matches_cocount_components(spark):
    """method='prefix' must yield edge sets with EXACTLY the same
    connected components as the co-count default — including identical
    docs (star edges), chained near-dups, and hot shared shingles (the
    regime the prefix route exists for)."""
    from wagtail_vector_index_spark.operators.dedup import (
        connected_components,
        ngram_dup_cluster_edges,
    )

    rows = [
        (1, "the cat sat on the mat near the door by the house"),
        (2, "the cat sat on the mat near the door by the barn"),
        (3, "the cat sat on the mat close to the gate by a barn"),
        (4, "a completely different sentence about spark joins and shuffles"),
        (5, "another unrelated line mentioning the cat once only here"),
        (6, "the cat sat on the mat near the door by the house"),  # dup of 1
        (7, "the cat sat on the mat near the door by the house"),  # dup of 1
        (8, "the the the the the the the the"),  # degenerate repetition
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.3, 0.5, 0.8):
        want = {
            (r["id"], r["component"])
            for r in connected_components(
                ngram_dup_cluster_edges(df, threshold=t)
            ).collect()
        }
        got = {
            (r["id"], r["component"])
            for r in connected_components(
                ngram_dup_cluster_edges(df, threshold=t, method="prefix")
            ).collect()
        }
        assert got == want, f"threshold {t}: {got} != {want}"


def test_collapsed_pairs_prefix_matches_cocount(spark):
    """ngram_jaccard_pairs_collapsed(method='prefix') must return the
    same pairs AND jaccard values as the co-count default, including
    the expanded identical-set (jaccard 1.0) pairs."""
    from wagtail_vector_index_spark.operators.dedup import (
        ngram_jaccard_pairs_collapsed,
    )

    rows = [
        (1, "the cat sat on the mat near the door by the house"),
        (2, "the cat sat on the mat near the door by the barn"),
        (3, "the cat sat on the mat close to the gate by a barn"),
        (4, "a completely different sentence about spark joins here"),
        (5, "the cat sat on the mat near the door by the house"),  # dup of 1
        (6, "the cat sat on the mat near the door by the house"),  # dup of 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.3, 0.5):
        want = {
            (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
            for r in ngram_jaccard_pairs_collapsed(df, threshold=t).collect()
        }
        got = {
            (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
            for r in ngram_jaccard_pairs_collapsed(
                df, threshold=t, method="prefix"
            ).collect()
        }
        assert got == want, f"threshold {t}: {got} != {want}"


def test_dup_aware_weights_pair_method_parity(spark):
    """Corpus.with_dup_aware_weights must produce identical weights via
    either pair source."""
    from wagtail_vector_index_spark.operators.corpus import Corpus

    rows = [
        (i, "s", "the cat sat on the mat near the door by the house")
        for i in range(4)
    ] + [(9, "s", "something else entirely unrelated to the cluster")]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    a = sorted(
        (r["doc_id"], r["weight"])
        for r in Corpus(df).with_dup_aware_weights().df.collect()
    )
    b = sorted(
        (r["doc_id"], r["weight"])
        for r in Corpus(df)
        .with_dup_aware_weights(pair_method="prefix")
        .df.collect()
    )
    assert a == b


def test_minhash_estimate_verify_matches_signature_fold(spark):
    """verify='estimate' must score each candidate pair exactly
    matches/num_hashes over the SAME signatures the exact path bands
    on, with identical docs scoring 1.0 and the pair set a subset of
    the band candidates."""
    from wagtail_vector_index_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
    )

    rows = [
        (1, "the cat sat on the mat near the door by the house"),
        (2, "the cat sat on the mat near the door by the barn"),
        (3, "a completely different sentence about spark joins here"),
        (4, "the cat sat on the mat near the door by the house"),  # dup of 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = {
        r["doc_id"]: list(r["sig"])
        for r in minhash_signatures(df, cache=False).collect()
    }
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(
            df, threshold=0.0, verify="estimate"
        ).collect()
    }
    assert got, "banding must produce candidates on this corpus"
    for (a, b), est in got.items():
        matches = sum(x == y for x, y in zip(sigs[a], sigs[b]))
        assert est == matches / 16.0, (a, b, est, matches)
    assert got[(1, 4)] == 1.0
    # threshold filters on the estimate
    high = minhash_lsh_pairs(df, threshold=0.9, verify="estimate").collect()
    assert {(r["id_a"], r["id_b"]) for r in high} <= set(got)
    assert all(r["jaccard"] >= 0.9 for r in high)


def test_dedup_fuzzy_forwards_estimate_verify(spark):
    """Corpus.dedup_fuzzy(method='minhash', verify='estimate') must
    apply the signature-agreement verify end-to-end: identical docs
    dedup (estimate 1.0 >= threshold), unrelated docs survive."""
    from wagtail_vector_index_spark.operators.corpus import Corpus

    rows = [
        (1, "s", "the cat sat on the mat near the door by the house"),
        (2, "s", "the cat sat on the mat near the door by the house"),
        (3, "s", "a completely different sentence about spark joins here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    kept = sorted(
        r["doc_id"]
        for r in Corpus(df)
        .dedup_fuzzy(method="minhash", threshold=0.9, verify="estimate")
        .df.collect()
    )
    assert kept == [1, 3]


def test_incremental_neardup_estimate_verify(spark):
    """verify='estimate' on the asymmetric ingestion path: identical
    new-vs-corpus docs score 1.0 and filter out; unrelated docs pass;
    estimates equal the signature-agreement fold."""
    from wagtail_vector_index_spark.operators.dedup import (
        incremental_neardup_filter,
        incremental_neardup_pairs,
        minhash_signatures,
    )

    corpus = spark.createDataFrame(
        [
            (100, "the cat sat on the mat near the door by the house"),
            (101, "some corpus document with entirely other content here"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (1, "the cat sat on the mat near the door by the house"),
            (2, "fresh unseen words that match nothing in the corpus side"),
        ],
        "doc_id long, text string",
    )
    pairs = incremental_neardup_pairs(
        new, corpus, threshold=0.0, verify="estimate"
    ).collect()
    sigs = {
        r["doc_id"]: list(r["sig"])
        for df in (new, corpus)
        for r in minhash_signatures(df, cache=False).collect()
    }
    assert pairs, "band join must produce candidates"
    for r in pairs:
        m = sum(
            x == y for x, y in zip(sigs[r["new_id"]], sigs[r["corpus_id"]])
        )
        assert r["jaccard"] == m / 16.0
    kept = sorted(
        r["doc_id"]
        for r in incremental_neardup_filter(
            new, corpus, threshold=0.9, verify="estimate"
        ).collect()
    )
    assert kept == [2]


def test_incremental_estimate_accepts_signatures_only_corpus(spark):
    """A signatures-only CorpusSignatures (include_shingles=False) must
    serve verify='estimate' batches; the exact path keeps requiring
    shingles."""
    import pytest

    from wagtail_vector_index_spark.operators.dedup import (
        CorpusSignatures,
        incremental_neardup_pairs,
    )

    corpus = spark.createDataFrame(
        [(100, "the cat sat on the mat near the door by the house")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "the cat sat on the mat near the door by the house")],
        "doc_id long, text string",
    )
    with CorpusSignatures.build(corpus, include_shingles=False) as sigs:
        assert "shingles" not in sigs.df.columns
        got = incremental_neardup_pairs(
            new, corpus_signatures=sigs, threshold=0.9, verify="estimate"
        ).collect()
        assert [(r["new_id"], r["corpus_id"], r["jaccard"]) for r in got] == [
            (1, 100, 1.0)
        ]
        with pytest.raises(Exception):
            incremental_neardup_pairs(
                new, corpus_signatures=sigs, threshold=0.9
            ).collect()


def test_cluster_edges_prefix_property_random_docs(spark):
    """Randomized differential for the production prefix route: on a
    hot-shingle random corpus (tiny vocab -> heavy sharing, plus planted
    identical docs), method='prefix' must yield the same connected
    components AND the same collapsed pair set as the co-count default."""
    import random

    from wagtail_vector_index_spark.operators.dedup import (
        connected_components,
        ngram_dup_cluster_edges,
        ngram_jaccard_pairs_collapsed,
    )

    rng = random.Random(13)
    vocab = [f"w{i}" for i in range(12)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 18))))
        for i in range(36)
    ]
    rows += [(100 + j, rows[j][1]) for j in range(4)]  # identical dups
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.4, 0.7):
        want_c = {
            (r["id"], r["component"])
            for r in connected_components(
                ngram_dup_cluster_edges(df, threshold=t)
            ).collect()
        }
        got_c = {
            (r["id"], r["component"])
            for r in connected_components(
                ngram_dup_cluster_edges(df, threshold=t, method="prefix")
            ).collect()
        }
        assert got_c == want_c, f"components diverge at t={t}"
        want_p = {
            (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
            for r in ngram_jaccard_pairs_collapsed(df, threshold=t).collect()
        }
        got_p = {
            (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
            for r in ngram_jaccard_pairs_collapsed(
                df, threshold=t, method="prefix"
            ).collect()
        }
        assert got_p == want_p, f"pairs diverge at t={t}"


def test_choose_pair_method_routes_by_cocount_size(spark):
    """choose_pair_method must keep co-count on benign corpora (shared
    shingles rare) and switch to prefix when the exact co-count join
    size blows past the budget — the mechanized docs/scale.md rule."""
    from wagtail_vector_index_spark.operators.dedup import (
        choose_pair_method,
    )

    benign = spark.createDataFrame(
        [(i, [f"u{i}a", f"u{i}b", f"u{i}c"]) for i in range(50)],
        "doc_id long, shingles array<string>",
    )
    m, stats = choose_pair_method(benign)
    assert m == "cocount"
    assert stats["cocount_rows"] == 0.0 and stats["exploded_rows"] == 150.0
    # hot shingle shared by every doc: C = 50*49/2 = 1225 exact
    hot = spark.createDataFrame(
        [(i, ["the cat sat", f"u{i}"]) for i in range(50)],
        "doc_id long, shingles array<string>",
    )
    m2, stats2 = choose_pair_method(hot)
    assert stats2["cocount_rows"] == 1225.0 and stats2["max_df"] == 50.0
    # within the default absolute floor -> still cocount
    assert m2 == "cocount"
    # force the budget down: the same corpus must route to prefix
    m3, _ = choose_pair_method(
        hot, cocount_budget_rows=100, cocount_budget_ratio=1.0
    )
    assert m3 == "prefix"
    # empty corpus: no rows, cocount, no crash
    empty = spark.createDataFrame([], "doc_id long, shingles array<string>")
    m4, stats4 = choose_pair_method(empty)
    assert m4 == "cocount" and stats4["cocount_rows"] == 0.0


def test_auto_pair_method_matches_pinned_routes(spark):
    """method='auto' (the new default) must return exactly the same
    pairs/edges as BOTH pinned routes on a corpus with identical
    clusters, near-dups, and a hot shared shingle."""
    from wagtail_vector_index_spark.operators.dedup import (
        connected_components,
        ngram_dup_cluster_edges,
        ngram_jaccard_pairs_collapsed,
    )

    rows = [(i, "the cat sat on the mat near the door by the house")
            for i in range(5)]
    rows += [
        (10, "the cat sat on the mat near the door by the barn"),
        (11, "a completely different sentence about spark joins here"),
        (12, "the the the the the the the the"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.3, 0.6):
        want_pairs = {
            (r["id_a"], r["id_b"], round(r["jaccard"], 9))
            for r in ngram_jaccard_pairs_collapsed(
                df, threshold=t, method="cocount"
            ).collect()
        }
        for m in ("auto", "prefix"):
            got = {
                (r["id_a"], r["id_b"], round(r["jaccard"], 9))
                for r in ngram_jaccard_pairs_collapsed(
                    df, threshold=t, method=m
                ).collect()
            }
            assert got == want_pairs, (t, m)
        want_comp = {
            (r["id"], r["component"])
            for r in connected_components(
                ngram_dup_cluster_edges(df, threshold=t, method="cocount")
            ).collect()
        }
        got_comp = {
            (r["id"], r["component"])
            for r in connected_components(
                ngram_dup_cluster_edges(df, threshold=t, method="auto")
            ).collect()
        }
        assert got_comp == want_comp, t


def test_auto_pair_method_rejects_unknown_and_caches(spark, tmp_path):
    """Unknown methods raise up front; the auto verdict is memoized per
    (plan, data version) so a repeated corpus pays the decision scan
    once, and a new data version gets a fresh verdict."""
    import pytest as _pytest

    from wagtail_vector_index_spark.operators.dedup import (
        _PAIR_METHOD_CACHE,
        ngram_dup_cluster_edges,
    )

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f")], "doc_id long, text string"
    )
    with _pytest.raises(ValueError, match="unknown method"):
        ngram_dup_cluster_edges(df, method="bogus").collect()

    path = str(tmp_path / "docs")
    df.write.mode("overwrite").parquet(path)
    _PAIR_METHOD_CACHE.clear()
    fdf = spark.read.parquet(path)
    ngram_dup_cluster_edges(fdf, threshold=0.5).collect()
    assert len(_PAIR_METHOD_CACHE) == 1
    ngram_dup_cluster_edges(fdf, threshold=0.5).collect()
    assert len(_PAIR_METHOD_CACHE) == 1  # hit, no new entry
    # same path, new data version (extra part file) -> fresh verdict
    spark.createDataFrame(
        [(3, "x y z w v")], "doc_id long, text string"
    ).write.mode("append").parquet(path)
    ngram_dup_cluster_edges(spark.read.parquet(path), threshold=0.5).collect()
    assert len(_PAIR_METHOD_CACHE) == 2


def test_incremental_neardup_signatures_only_exact_verify_raises(spark):
    """verify='exact' against a signatures-only CorpusSignatures must
    fail fast with a clear contract error, not an unresolved-column
    AnalysisException from deep plan analysis."""
    import pytest as _pytest

    from wagtail_vector_index_spark.operators.dedup import (
        CorpusSignatures,
        incremental_neardup_pairs,
    )

    corpus = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "h i j k l m n")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(10, "a b c d e f g")], "doc_id long, text string"
    )
    with CorpusSignatures.build(corpus, include_shingles=False) as sigs:
        with _pytest.raises(ValueError, match="include_shingles"):
            incremental_neardup_pairs(
                new, corpus_signatures=sigs, verify="exact"
            )
        # estimate mode stays fine on the same signatures-only state
        got = incremental_neardup_pairs(
            new, corpus_signatures=sigs, verify="estimate", threshold=0.5
        ).collect()
        assert {r["corpus_id"] for r in got} == {1}


def test_corpus_signatures_extend_matches_rebuild_and_stays_flat(spark):
    """extend() must roll the standing state to exactly the signatures a
    fresh build over the concatenated corpus would produce, while plan
    depth and pinned storage stay flat across batches (the r10 ingestion
    staging found the naive persist-union rollover growing per-batch
    wall 13s->61s in three batches)."""
    from wagtail_vector_index_spark.operators.dedup import (
        CorpusSignatures,
        incremental_neardup_filter,
    )

    def mk(lo, hi):
        # fully disjoint token sets: no near-dup pairs, so kept == batch
        # and the rolled state must equal a fresh build over everything
        return spark.createDataFrame(
            [(i, " ".join(f"t{i}x{j}" for j in range(8)))
             for i in range(lo, hi)],
            "doc_id long, text string",
        )

    sc = spark.sparkContext

    def pinned():
        return sc._jsc.sc().getPersistentRDDs().size()

    with CorpusSignatures.build(
        mk(0, 40), include_shingles=False
    ) as sigs:
        sigs.df.count()
        base_pin = pinned()
        depths = []
        for b in range(3):
            batch = mk(100 + 40 * b, 140 + 40 * b)
            kept = incremental_neardup_filter(
                batch, None, corpus_signatures=sigs,
                threshold=0.9, verify="estimate",
            )
            sigs.extend(kept)
            # lineage truncated: the state's plan is a leaf scan, never
            # the accumulated union/dedup tree
            depths.append(
                sigs.df._jdf.queryExecution().optimizedPlan()
                .toString().count("Union")
            )
        assert depths == [0, 0, 0], depths
        # old states release via the ContextCleaner once their refs drop
        # (same GC-loop pattern as the lifecycle test above); the last
        # batch's frames hold the final kept-side checkpoint until they
        # leave scope, so drop them first
        del kept, batch
        import gc
        import time as _time

        deadline = _time.time() + 60
        while _time.time() < deadline:
            gc.collect()
            spark._jvm.System.gc()
            if pinned() <= base_pin + 1:
                break
            _time.sleep(0.5)
        assert pinned() <= base_pin + 1  # old states released, not stacked
        got = sorted(
            (r["doc_id"], tuple(r["sig"])) for r in sigs.df.collect()
        )
    whole = mk(0, 40)
    for b in range(3):
        whole = whole.unionByName(mk(100 + 40 * b, 140 + 40 * b))
    with CorpusSignatures.build(whole, include_shingles=False) as fresh:
        want = sorted(
            (r["doc_id"], tuple(r["sig"])) for r in fresh.df.collect()
        )
    assert got == want
    # durable rollover (r11): snapshot -> load -> extend must land on
    # the same state as a fresh build over everything — the
    # executor-loss recovery path a cluster ingestion loop uses
    import tempfile

    snap = tempfile.mkdtemp(prefix="wvi_sigsnap_") + "/state"
    with CorpusSignatures.build(mk(0, 40), include_shingles=False) as s1:
        s1.extend(mk(100, 140))
        s1.snapshot(snap)
    resumed = CorpusSignatures.load(spark, snap)
    assert resumed._params["include_shingles"] is False
    resumed.extend(mk(140, 180))
    got2 = sorted(
        (r["doc_id"], tuple(r["sig"])) for r in resumed.df.collect()
    )
    with CorpusSignatures.build(
        mk(0, 40).unionByName(mk(100, 180)), include_shingles=False
    ) as fresh2:
        want2 = sorted(
            (r["doc_id"], tuple(r["sig"])) for r in fresh2.df.collect()
        )
    assert got2 == want2
    # snapshot back to the SAME path the state was loaded from (the
    # load -> extend -> snapshot loop): the staged swap must not
    # overwrite the files backing the plan while writing them
    resumed.snapshot(snap)
    reloaded = CorpusSignatures.load(spark, snap)
    assert sorted(
        (r["doc_id"], tuple(r["sig"])) for r in reloaded.df.collect()
    ) == got2
    resumed.unpersist()

    # extend() without build params is a clear contract error
    import pytest as _pytest

    bare = CorpusSignatures(spark.range(1).toDF("doc_id"))
    with _pytest.raises(ValueError, match="build"):
        bare.extend(mk(0, 1))


def test_containment_prefix_matches_cocount(spark):
    """_prefix_containment_pairs must return exactly the co-count
    formulation's directed (contained, container, containment) rows —
    subset-quote case, identical docs, degenerate repetition, and a
    hot shared shingle included."""
    from wagtail_vector_index_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    rows = [
        (1, "the cat sat on the mat near the door by the house today"),
        (2, "the cat sat on the mat"),  # quoted subset of 1
        (3, "the cat sat on the mat near the door by the house today"),
        (4, "a completely different sentence about spark joins here"),
        (5, "the the the the the the"),
        (6, "intro words then the cat sat on the mat near the door by "
            "the house today and a long tail of extra commentary text"),
        (7, "too short"),  # no 3-gram: an empty shingle set pairs nothing
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.6, 0.8, 1.0):
        want = {
            (r["contained"], r["container"]): round(r["containment"], 9)
            for r in ngram_containment_pairs(
                df, n=3, threshold=t, method="cocount"
            ).collect()
        }
        for m in ("prefix", "auto"):
            got = {
                (r["contained"], r["container"]): round(r["containment"], 9)
                for r in ngram_containment_pairs(
                    df, n=3, threshold=t, method=m
                ).collect()
            }
            assert got == want, (t, m, got, want)
        if t <= 0.8:  # the planted subset-quote must actually be caught
            assert (2, 1) in want and want[(2, 1)] == 1.0


def test_containment_prefix_property_random_docs(spark):
    """Randomized differential: prefix containment == co-count on
    corpora of random words (heavy shingle overlap by construction)."""
    import random

    from wagtail_vector_index_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(12)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 18))))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.5, 0.8):
        want = {
            (r["contained"], r["container"]): round(r["containment"], 9)
            for r in ngram_containment_pairs(
                df, threshold=t, method="cocount"
            ).collect()
        }
        got = {
            (r["contained"], r["container"]): round(r["containment"], 9)
            for r in ngram_containment_pairs(
                df, threshold=t, method="prefix"
            ).collect()
        }
        assert got == want, t


def test_containment_collapse_matches_bruteforce(spark):
    """r11 identical-set collapse differential, independent of BOTH
    join routes: directed containment pairs must equal a Python
    brute force over the per-doc shingle sets — corpus includes an
    identical-set cluster of 4 (within-group ordered pairs, cross-group
    expansion) and near-miss / subset docs."""
    import itertools
    import random

    from pyspark.sql import functions as F

    from wagtail_vector_index_spark.functions.text_analysis import (
        word_shingles_col,
    )
    from wagtail_vector_index_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(10)]
    boiler = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(i, boiler) for i in range(4)]  # identical-set cluster
    rows += [(4, "alpha beta gamma delta")]  # subset of the cluster
    rows += [
        (10 + i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 15))))
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sets = {
        r["doc_id"]: frozenset(r["sh"])
        for r in df.select(
            "doc_id", word_shingles_col(F.col("text"), 3).alias("sh")
        ).collect()
    }
    for t in (0.5, 0.8, 1.0):
        want = {}
        for a, b in itertools.permutations(sets, 2):
            c = len(sets[a] & sets[b]) / len(sets[a])
            if c >= t:
                want[(a, b)] = round(c, 9)
        for m in ("cocount", "prefix", "auto"):
            got = {
                (r["contained"], r["container"]): round(r["containment"], 9)
                for r in ngram_containment_pairs(
                    df, n=3, threshold=t, method=m
                ).collect()
            }
            assert got == want, (t, m)
    # the cluster must appear as 12 ordered within-group pairs at 1.0
    got_1 = ngram_containment_pairs(df, n=3, threshold=1.0).collect()
    cluster = {
        (r["contained"], r["container"])
        for r in got_1
        if r["contained"] < 4 and r["container"] < 4
    }
    assert len(cluster) == 12


def test_pair_route_decision_telemetry(spark):
    """method='auto' resolutions are observable: a fresh decision logs
    family/method + the choose_pair_method stats; a memoized re-run of
    the same data version logs cached=True."""
    from wagtail_vector_index_spark.operators.dedup import (
        _PAIR_METHOD_CACHE,
        _ROUTE_DECISION_LOG,
        last_pair_route_decisions,
        ngram_containment_pairs,
        ngram_jaccard_pairs_collapsed,
    )

    df = spark.createDataFrame(
        [(i, f"doc number {i} with words {i % 3}") for i in range(30)],
        "doc_id long, text string",
    )
    # parquet-backed so the data-version fingerprint (and thus the memo)
    # engages
    import tempfile

    p = tempfile.mkdtemp(prefix="wvi_route_telemetry_") + "/docs"
    df.write.mode("overwrite").parquet(p)
    pdf = spark.read.parquet(p)

    _PAIR_METHOD_CACHE.clear()
    _ROUTE_DECISION_LOG.clear()
    ngram_jaccard_pairs_collapsed(pdf, threshold=0.5, method="auto").count()
    recs = last_pair_route_decisions()
    assert recs, "a decision was recorded"
    fresh = recs[-1]
    assert fresh["family"] == "jaccard" and fresh["cached"] is False
    assert {"cocount_rows", "budget", "exploded_rows", "max_df"} <= set(fresh)
    assert fresh["method"] in ("cocount", "prefix")

    ngram_jaccard_pairs_collapsed(pdf, threshold=0.5, method="auto").count()
    hit = last_pair_route_decisions()[-1]
    assert hit["cached"] is True and hit["method"] == fresh["method"]
    # r12: a memoized hit still carries the ORIGINAL decision stats
    # (cached alongside the method), so a log read after a warm
    # resolution sees WHY the route was chosen
    for key in ("cocount_rows", "budget", "exploded_rows", "max_df"):
        assert hit[key] == fresh[key], key

    # containment records under its own family label AND its memo key
    # actually hits on a second resolution (the r10 bug: checkpointing
    # before the key computation made every key unique). Clear the memo
    # first: jaccard and containment share the cache by design (same
    # groups frame => same decision), which would make call 1 a hit.
    _PAIR_METHOD_CACHE.clear()
    n_before = len(last_pair_route_decisions(100))
    ngram_containment_pairs(pdf, threshold=0.8, method="auto").count()
    ngram_containment_pairs(pdf, threshold=0.8, method="auto").count()
    tail = last_pair_route_decisions(100)[n_before:]
    assert [r["family"] for r in tail] == ["containment", "containment"]
    assert tail[0]["cached"] is False and tail[1]["cached"] is True


def test_remove_duplicated_spans_keep_first_semantics(spark):
    """ExactSubstr apply: the globally-first occurrence of a duplicated
    k-window keeps its tokens; every other occurrence loses exactly the
    union of its duplicated-window positions; untouched docs keep text
    object identity."""
    from wagtail_vector_index_spark.operators.dedup import (
        remove_duplicated_spans,
    )

    boiler = "alpha beta gamma delta"  # one 4-token window
    rows = [
        (1, f"{boiler} unique tail one"),       # first occurrence: kept
        (2, f"intro words {boiler} more text"), # later: loses the window
        (3, "completely unrelated content here entirely"),  # untouched
        (4, f"{boiler} {boiler}"),  # two more occurrences, both removed
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["text"]
        for r in remove_duplicated_spans(df, k=4).collect()
    }
    assert got[1] == rows[0][1]          # first occurrence untouched
    assert got[3] == rows[2][1]          # no dup windows -> identity
    assert got[2] == "intro words more text"
    # doc 4: windows at pos 1 and 5 both non-first; the straddling
    # windows (pos 2-4) are unique ("delta alpha..." etc.), so exactly
    # tokens 1-4 and 5-8 go
    assert got[4] == ""


def test_remove_duplicated_spans_within_doc_and_overlap_union(spark):
    """A phrase repeated INSIDE one document collapses to its first
    occurrence, and overlapping duplicated windows union their
    positions (no double-removal, no misalignment)."""
    from wagtail_vector_index_spark.operators.dedup import (
        remove_duplicated_spans,
    )

    # "a b c a b c": k=3 windows: (a b c)@1, (b c a)@2, (c a b)@3,
    # (a b c)@4 -> only (a b c) duplicates; pos 4 is non-first, so
    # tokens 4-6 drop
    df = spark.createDataFrame(
        [(1, "a b c a b c")], "doc_id long, text string"
    )
    got = remove_duplicated_spans(df, k=3).collect()[0]["text"]
    assert got == "a b c"
    # overlapping duplicated windows in the SAME later doc: doc 2 holds
    # "x1..x5" whose two 4-windows both duplicate doc 1's -> union is
    # tokens 1-5, not 8
    df2 = spark.createDataFrame(
        [
            (1, "x1 x2 x3 x4 x5 tail one"),
            (2, "x1 x2 x3 x4 x5 other thing"),
        ],
        "doc_id long, text string",
    )
    got2 = {
        r["doc_id"]: r["text"]
        for r in remove_duplicated_spans(df2, k=4).collect()
    }
    assert got2[1] == "x1 x2 x3 x4 x5 tail one"
    assert got2[2] == "other thing"


def test_corpus_trim_duplicated_spans_facade(spark):
    from wagtail_vector_index_spark.operators.corpus import Corpus

    df = spark.createDataFrame(
        [
            (1, "s", "one two three four tail"),
            (2, "s", "one two three four different"),
        ],
        "doc_id long, source string, text string",
    )
    got = {
        r["doc_id"]: r["text"]
        for r in Corpus(df).trim_duplicated_spans(k=4).df.collect()
    }
    assert got[1] == "one two three four tail"
    assert got[2] == "different"
