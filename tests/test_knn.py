"""k-NN operator tests, including the reference's threshold-sweep contract
(tests/test_index.py:256-284: with marker vectors, threshold 0.9 -> 0 hits,
0.6 -> 1, 0.1 -> 2, disabled -> all)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from wagtail_vector_index_spark.operators.knn import (
    gemm_topk_join,
    similarity_join,
    topk_similar,
)

MARKERS = [
    (1, [0.9, 0.1, 0.0]),   # "Very similar"
    (2, [0.7, 0.3, 0.0]),   # "Somewhat similar"
    (3, [1.0, 0.0, 0.0]),   # "test"
    (4, [0.1, 0.1, 0.8]),   # unrelated
]


@pytest.fixture(scope="module")
def marker_df(spark):
    return spark.createDataFrame(MARKERS, "doc_id long, vector array<double>")


@pytest.mark.parametrize(
    "threshold,expected_ids",
    [(0.999, {3}), (0.9, {1, 3, 2}), (0.6, {1, 2, 3}), (0.0, {1, 2, 3, 4})],
)
def test_threshold_then_limit(marker_df, threshold, expected_ids):
    out = topk_similar(
        marker_df,
        [1.0, 0.0, 0.0],
        limit=10,
        similarity_threshold=threshold,
    )
    assert {r["doc_id"] for r in out.collect()} == expected_ids


def test_topk_limit_and_order(marker_df):
    out = topk_similar(marker_df, [1.0, 0.0, 0.0], limit=2).collect()
    assert [r["doc_id"] for r in out] == [3, 1]
    assert out[0]["similarity"] == pytest.approx(1.0)


def test_topk_dimension_filter(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0, 0.0])], "doc_id long, vector array<double>"
    )
    out = topk_similar(df, [1.0, 0.0], limit=10).collect()
    assert [r["doc_id"] for r in out] == [1]


def test_topk_plans_take_ordered(marker_df):
    # physical plan must use TakeOrderedAndProject, not a global Sort
    explained = (
        topk_similar(marker_df, [1.0, 0.0, 0.0], limit=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in explained


def test_similarity_join_topk_per_probe(spark, marker_df):
    probes = spark.createDataFrame(
        [(10, [1.0, 0.0, 0.0]), (20, [0.0, 0.0, 1.0])],
        "probe_id long, probe_vec array<double>",
    )
    out = similarity_join(probes, marker_df, limit=2).collect()
    by_probe = {}
    for r in out:
        by_probe.setdefault(r["probe_id"], []).append(r["doc_id"])
    assert by_probe[10] == [3, 1]
    assert by_probe[20] == [4, 1]  # 4 is closest to z-axis; tie at 0 broken by id


def test_gemm_matches_declarative(spark, embeddings_df):
    probes = (
        embeddings_df.limit(8)
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("embedding").cast("array<double>").alias("probe_vec"),
        )
    )
    index = embeddings_df.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vector")
    )
    declarative = similarity_join(
        probes, index, index_id="vec_id", index_vec="vector", limit=5
    ).select("probe_id", "vec_id")
    gemm = gemm_topk_join(
        probes, index, index_id="vec_id", index_vec="vector", limit=5
    ).select("probe_id", "vec_id")
    d = {(r["probe_id"], r["vec_id"]) for r in declarative.collect()}
    g = {(r["probe_id"], r["vec_id"]) for r in gemm.collect()}
    assert d == g


def test_gemm_sim_values_match_numpy(spark, embeddings_df):
    rows = embeddings_df.limit(20).collect()
    M = np.array([r["embedding"] for r in rows], dtype=np.float64)
    ids = [r["vec_id"] for r in rows]
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in zip(ids, M)], "vec_id long, vector array<double>"
    )
    probes = df.select(
        F.col("vec_id").alias("probe_id"), F.col("vector").alias("probe_vec")
    ).limit(3)
    out = gemm_topk_join(
        probes, df, index_id="vec_id", index_vec="vector", limit=1
    ).collect()
    for r in out:
        # top-1 of each probe is itself with sim 1.0
        assert r["probe_id"] == r["vec_id"]
        assert r["similarity"] == pytest.approx(1.0)


def test_gemm_string_ids(spark):
    """gemm_topk_join must carry string keys (the document store's
    doc_key) through the scale path, not assume long ids."""
    rows = [(f"doc:{i}", v) for i, v in MARKERS]
    df = spark.createDataFrame(rows, "doc_key string, vector array<double>")
    probes = df.select(
        F.col("doc_key").alias("probe_id"), F.col("vector").alias("probe_vec")
    ).limit(2)
    out = gemm_topk_join(
        probes, df, index_id="doc_key", index_vec="vector", limit=1
    ).collect()
    assert len(out) == 2
    for r in out:
        assert isinstance(r["probe_id"], str) and isinstance(r["doc_key"], str)
        assert r["probe_id"] == r["doc_key"]  # top-1 is itself
    # empty probe set keeps the string schema too
    empty = gemm_topk_join(
        probes.limit(0), df, index_id="doc_key", index_vec="vector", limit=1
    )
    assert dict(empty.dtypes)["probe_id"] == "string"
    assert empty.count() == 0


def test_lsh_topk_results_subset_of_brute_force(spark, embeddings_df):
    """LSH ANN candidates re-rank by exact cosine, so every returned row
    must appear in the brute-force ranking with the same similarity."""
    from pyspark.sql import functions as F

    from wagtail_vector_index_spark.operators.knn import lsh_topk

    index = embeddings_df.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vector")
    )
    probe = list(embeddings_df.where(F.col("vec_id") == 0).first()["embedding"])
    approx = lsh_topk(
        index.where(F.col("vec_id") != 0), probe, num_planes=12, limit=10
    ).collect()
    exact = topk_similar(
        index.where(F.col("vec_id") != 0),
        probe,
        vector_col="vector",
        id_col="vec_id",
        limit=500,
    ).collect()
    exact_sims = {r["vec_id"]: r["similarity"] for r in exact}
    assert 0 < len(approx) <= 10
    for r in approx:
        assert r["vec_id"] in exact_sims
        assert abs(r["similarity"] - exact_sims[r["vec_id"]]) < 1e-12


def test_ivf_topk_batch_matches_single_probe(spark, embeddings_df):
    """The batch IVF operator must return, for each probe, exactly the
    rows the single-probe ivf_topk returns with the same codebook."""
    from pyspark.sql import functions as F

    from wagtail_vector_index_spark.operators.knn import ivf_topk, ivf_topk_batch

    vecs = embeddings_df.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vector")
    )
    index = vecs.where(F.col("vec_id") >= 16)
    centroids = vecs.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cid"), F.col("vector").alias("cv")
    )
    probes = vecs.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"), F.col("vector").alias("probe_vec")
    )
    batch = ivf_topk_batch(probes, index, centroids, nprobe=2, limit=5)
    got = {
        (r["probe_id"], r["vec_id"]): r["similarity"] for r in batch.collect()
    }
    for p in probes.collect():
        single = ivf_topk(
            index, centroids, list(p["probe_vec"]), nprobe=2, limit=5
        ).collect()
        for r in single:
            key = (p["probe_id"], r["vec_id"])
            assert key in got
            assert abs(got[key] - r["similarity"]) < 1e-12
        assert len(single) == sum(1 for k in got if k[0] == p["probe_id"])


def test_lsh_topk_batch_matches_single_probe(spark, embeddings_df):
    """Batch LSH must return, per probe, exactly what single-probe
    lsh_topk returns with the same planes and probe hamming."""
    from pyspark.sql import functions as F

    from wagtail_vector_index_spark.operators.knn import lsh_topk, lsh_topk_batch

    vecs = embeddings_df.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vector")
    )
    index = vecs.where(F.col("vec_id") >= 16)
    probes = vecs.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"), F.col("vector").alias("probe_vec")
    )
    batch = lsh_topk_batch(
        probes, index, num_planes=12, dim=64, max_probe_hamming=2, limit=5
    )
    got = {
        (r["probe_id"], r["vec_id"]): r["similarity"] for r in batch.collect()
    }
    for p in probes.collect():
        single = lsh_topk(
            index, list(p["probe_vec"]), num_planes=12,
            max_probe_hamming=2, limit=5,
        ).collect()
        for r in single:
            key = (p["probe_id"], r["vec_id"])
            assert key in got
            assert abs(got[key] - r["similarity"]) < 1e-12
        assert len(single) == sum(1 for k in got if k[0] == p["probe_id"])


def test_mmr_rerank_batches_probes_and_diversifies(spark, embeddings_df):
    """MMR over a batched shortlist: lambda=1 reduces to plain top-k
    order; lambda<1 must not increase the selected set's maximum
    pairwise similarity; all probes run through ONE plan."""
    import numpy as np

    from wagtail_vector_index_spark.functions.vector import similarity_col
    from wagtail_vector_index_spark.operators.mmr import mmr_rerank
    from pyspark.sql import Window

    emb = embeddings_df.limit(300).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vector")
    )
    probes = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"), F.col("vector").alias("qv")
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("similarity").desc(), F.col("vec_id").asc()
    )
    shortlist = (
        emb.where(F.col("vec_id") >= 3)
        .crossJoin(F.broadcast(probes))
        .withColumn(
            "similarity", similarity_col(F.col("vector"), F.col("qv"), "cosine")
        )
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= 40)
        .select("probe_id", "vec_id", "vector", "similarity", "__rn")
    )

    plain = mmr_rerank(shortlist, k=8, lam=1.0).collect()
    by_probe = {}
    for r in plain:
        by_probe.setdefault(r["probe_id"], []).append((r["mmr_rank"], r["vec_id"]))
    # lambda=1: rank order == similarity order
    exp = {}
    for r in shortlist.where(F.col("__rn") <= 8).collect():
        exp.setdefault(r["probe_id"], []).append((r["__rn"], r["vec_id"]))
    for p in exp:
        assert sorted(by_probe[p]) == sorted(exp[p])

    # lambda=0.5 diversifies: max pairwise sim of selected set does not
    # increase vs the plain top-8, for every probe
    vecs = {
        r["vec_id"]: np.array(r["vector"], dtype=float)
        for r in emb.collect()
    }

    def max_pair_sim(ids):
        V = np.array([vecs[i] / np.linalg.norm(vecs[i]) for i in ids])
        S = V @ V.T
        np.fill_diagonal(S, -1)
        return S.max()

    diverse = mmr_rerank(shortlist, k=8, lam=0.5).collect()
    dsel = {}
    for r in diverse:
        dsel.setdefault(r["probe_id"], []).append(r["vec_id"])
    for p, ids in exp.items():
        plain_ids = [v for _, v in sorted(ids)]
        assert max_pair_sim(dsel[p]) <= max_pair_sim(plain_ids) + 1e-12
        assert len(dsel[p]) == 8


def test_mmr_rerank_matches_bruteforce_python(spark):
    """Differential: the Arrow MMR kernel equals a straightforward
    Python greedy reference on random shortlists (several probes, ties
    broken identically)."""
    import numpy as np

    from wagtail_vector_index_spark.operators.mmr import mmr_rerank

    rng = np.random.default_rng(23)
    n_probes, n_cand, dim, k, lam = 3, 25, 6, 7, 0.6
    rows = []
    vecs = {}
    for p in range(n_probes):
        for c in range(n_cand):
            v = rng.normal(size=dim)
            v /= np.linalg.norm(v)
            cid = p * 1000 + c
            vecs[cid] = v
            rows.append((p, cid, [float(x) for x in v], float(rng.uniform(-1, 1))))
    sl = spark.createDataFrame(
        rows, "probe_id int, vec_id long, vector array<double>, similarity double"
    )
    got = {}
    for r in mmr_rerank(sl, k=k, lam=lam).collect():
        got.setdefault(r["probe_id"], []).append((r["mmr_rank"], r["vec_id"]))

    for p in range(n_probes):
        cand = [(cid, sim) for (pp, cid, _, sim) in rows if pp == p]
        sel = []
        for _ in range(k):
            best, bs = None, None
            for cid, sim in cand:
                if cid in sel:
                    continue
                pen = max(
                    (float(vecs[cid] @ vecs[s]) for s in sel), default=0.0
                )
                sc = lam * sim - (1 - lam) * pen
                if bs is None or sc > bs or (sc == bs and cid < best):
                    best, bs = cid, sc
            sel.append(best)
        assert sorted(got[p]) == [(i + 1, s) for i, s in enumerate(sel)], p


def test_mutual_knn_graph_filters_hub_edges(spark):
    """Two tight pairs + one hub-ish outlier: reciprocal pairs survive,
    the outlier's one-directional edges don't, and engines agree."""
    import math

    from wagtail_vector_index_spark.operators.knn import mutual_knn_graph

    def unit(theta):
        return [math.cos(theta), math.sin(theta)]

    rows = [
        (0, unit(0.00)), (1, unit(0.02)),      # tight pair A
        (2, unit(1.50)), (3, unit(1.52)),      # tight pair B
        (4, unit(0.75)),                       # lone midpoint vector
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {
        (r["a"], r["b"]): r["similarity"]
        for r in mutual_knn_graph(df, k=1, engine="sql").collect()
    }
    assert set(out) == {(0, 1), (2, 3)}
    assert all(v > 0.99 for v in out.values())
    gem = {
        (r["a"], r["b"]): r["similarity"]
        for r in mutual_knn_graph(df, k=1, engine="gemm").collect()
    }
    assert gem == out


def test_mutual_knn_graph_k_covers_everything_makes_it_symmetric_topk(spark):
    """With k >= n-1 every directed edge exists, so the mutual graph is
    all unordered pairs — the semi-join keeps exactly one copy each."""
    from wagtail_vector_index_spark.operators.knn import mutual_knn_graph

    rows = [(i, [float(i % 3 + 1), float((i * 2) % 5 + 1)]) for i in range(6)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = mutual_knn_graph(df, k=5, engine="sql").collect()
    assert len(out) == 15  # C(6,2)
    assert all(r["a"] < r["b"] for r in out)


def test_mutual_knn_graph_gemm_sql_parity_real_embeddings(spark):
    """The oracle-gated gemm path and the SQL-replayable declarative
    path must produce the identical edge set (ids AND rounded sims) on
    the real embeddings table — the parity that lets the driver gate
    verify the production plan."""
    from wagtail_vector_index_spark.operators.knn import mutual_knn_graph

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    kw = dict(id_col="vec_id", vec_col="embedding", k=5)
    gem = {
        (r["a"], r["b"]): r["similarity"]
        for r in mutual_knn_graph(emb, engine="gemm", **kw).collect()
    }
    sql = {
        (r["a"], r["b"]): r["similarity"]
        for r in mutual_knn_graph(emb, engine="sql", **kw).collect()
    }
    assert gem == sql
    assert len(gem) > 0


def test_gemm_block_engine_parity_real_embeddings(spark, embeddings_df):
    """engine='block' (no driver collect) must equal engine='broadcast'
    exactly — ids AND similarities — including under a threshold."""
    probes = embeddings_df.limit(16).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").cast("array<double>").alias("probe_vec"),
    )
    index = embeddings_df.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vector")
    )
    for threshold in (0.0, 0.2):
        kw = dict(
            index_id="vec_id",
            index_vec="vector",
            limit=5,
            similarity_threshold=threshold,
        )
        bc = {
            (r["probe_id"], r["vec_id"], round(r["similarity"], 9))
            for r in gemm_topk_join(probes, index, engine="broadcast", **kw).collect()
        }
        blk = {
            (r["probe_id"], r["vec_id"], round(r["similarity"], 9))
            for r in gemm_topk_join(
                probes, index, engine="block", blocks=3, **kw
            ).collect()
        }
        assert blk == bc and len(bc) > 0


def test_gemm_auto_guard_routes_oversized_probes_to_block(spark, embeddings_df):
    """engine='auto' with a probe set over max_broadcast_rows must take
    the blocked path (never the driver collect) and still return the
    exact broadcast-engine result."""
    probes = embeddings_df.limit(8).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").cast("array<double>").alias("probe_vec"),
    )
    index = embeddings_df.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vector")
    )
    kw = dict(index_id="vec_id", index_vec="vector", limit=3)
    expected = {
        (r["probe_id"], r["vec_id"], round(r["similarity"], 9))
        for r in gemm_topk_join(probes, index, engine="broadcast", **kw).collect()
    }
    # cutoff of 2 forces auto -> block for the 8-probe set
    got = {
        (r["probe_id"], r["vec_id"], round(r["similarity"], 9))
        for r in gemm_topk_join(
            probes, index, engine="auto", max_broadcast_rows=2, blocks=2, **kw
        ).collect()
    }
    assert got == expected and len(got) > 0


def test_gemm_block_mixed_id_types(spark):
    """Block engine carries a string probe id against a long index id —
    each side keeps its own type through the blocked union."""
    df = spark.createDataFrame(MARKERS, "doc_id long, vector array<double>")
    probes = spark.createDataFrame(
        [("q:a", [1.0, 0.0, 0.0]), ("q:b", [0.0, 0.0, 1.0])],
        "probe_id string, probe_vec array<double>",
    )
    out = gemm_topk_join(
        probes, df, index_id="doc_id", index_vec="vector", limit=1, engine="block"
    ).collect()
    got = {r["probe_id"]: r["doc_id"] for r in out}
    assert got == {"q:a": 3, "q:b": 4}
    assert all(isinstance(r["probe_id"], str) for r in out)
    # empty probe side keeps schema and returns nothing
    empty = gemm_topk_join(
        probes.limit(0), df, index_id="doc_id", index_vec="vector",
        limit=1, engine="block",
    )
    assert dict(empty.dtypes)["probe_id"] == "string"
    assert empty.count() == 0


def test_gemm_block_random_differential(spark):
    """Seeded randomized differential: engine='block' vs a pure-numpy
    brute-force reference across edge shapes — k > n, blocks > rows on
    a side, duplicate vectors, threshold on/off. Generic-position
    random vectors keep similarities well-separated so BLAS summation
    order can't flip a rank."""
    rng = np.random.default_rng(42)
    n_idx, n_probe, d = 120, 40, 6
    X = rng.normal(size=(n_idx, d))
    X[7] = X[3]  # planted duplicate vector (distinct ids)
    P = rng.normal(size=(n_probe, d))
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    Pn = P / np.linalg.norm(P, axis=1, keepdims=True)
    sims = Xn @ Pn.T  # (n_idx, n_probe)

    index = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(n_idx)],
        "vec_id long, vector array<double>",
    )
    probes = spark.createDataFrame(
        [(1000 + j, [float(v) for v in P[j]]) for j in range(n_probe)],
        "probe_id long, probe_vec array<double>",
    )

    def brute(k, thr):
        want = set()
        for j in range(n_probe):
            order = sorted(range(n_idx), key=lambda i: (-sims[i, j], i))
            kept = [i for i in order if sims[i, j] >= thr] if thr else order
            for i in kept[:k]:
                want.add((1000 + j, i))
        return want

    for k, blocks, thr in [
        (1, 3, 0.0),
        (3, 7, 0.0),
        (3, 3, 0.3),
        (200, 3, 0.0),   # k > n: every (probe, index) pair survives
        (2, 64, 0.0),    # blocks >> rows: most block pairs empty
    ]:
        got = {
            (r["probe_id"], r["vec_id"])
            for r in gemm_topk_join(
                probes, index, index_id="vec_id", index_vec="vector",
                limit=k, similarity_threshold=thr,
                engine="block", blocks=blocks,
            ).collect()
        }
        assert got == brute(k, thr), (k, blocks, thr)


def test_mutual_knn_graph_block_parity_real_embeddings(spark):
    """engine='block' (corpus-as-probes with NO driver collect) must
    equal the gemm and sql engines edge-for-edge on real embeddings."""
    from wagtail_vector_index_spark.operators.knn import mutual_knn_graph

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    kw = dict(id_col="vec_id", vec_col="embedding", k=5)
    blk = {
        (r["a"], r["b"]): r["similarity"]
        for r in mutual_knn_graph(emb, engine="block", blocks=3, **kw).collect()
    }
    gem = {
        (r["a"], r["b"]): r["similarity"]
        for r in mutual_knn_graph(emb, engine="gemm", **kw).collect()
    }
    assert blk == gem
    assert len(blk) > 0


def test_hard_negative_topk_matches_brute_window(spark):
    """The label-masked GEMM operator must equal the brute definition:
    per anchor, the most-similar different-label vector."""
    import math

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from wagtail_vector_index_spark.functions.vector import similarity_col
    from wagtail_vector_index_spark.operators.knn import hard_negative_topk

    def unit(theta):
        return [math.cos(theta), math.sin(theta)]

    rows = [(i, i % 3, unit(0.37 * i)) for i in range(12)]
    df = spark.createDataFrame(rows, ["vec_id", "label", "v"])

    got = {
        (r["anchor_id"], r["vec_id"]): round(r["similarity"], 9)
        for r in hard_negative_topk(
            df, id_col="vec_id", vec_col="v", label_col="label", limit=1
        ).collect()
    }

    a = df.select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("la"),
        F.col("v").alias("av"),
    )
    b = df.select("vec_id", F.col("label").alias("lb"), F.col("v").alias("bv"))
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("sim").desc(), F.col("vec_id").asc()
    )
    want = {
        (r["anchor_id"], r["vec_id"]): round(r["sim"], 9)
        for r in a.join(b, F.col("la") != F.col("lb"))
        .withColumn("sim", similarity_col(F.col("av"), F.col("bv"), "cosine"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .collect()
    }
    assert got == want


def test_hard_negative_topk_excludes_same_label_even_if_identical(spark):
    """An identical vector with the same label must never appear; the
    best cross-label one wins even at lower similarity."""
    from wagtail_vector_index_spark.operators.knn import hard_negative_topk

    rows = [
        (0, 0, [1.0, 0.0]),
        (1, 0, [1.0, 0.0]),      # identical, same label -> masked
        (2, 1, [0.0, 1.0]),      # orthogonal, other label -> the negative
    ]
    df = spark.createDataFrame(rows, ["vec_id", "label", "v"])
    out = {
        r["anchor_id"]: r["vec_id"]
        for r in hard_negative_topk(
            df, id_col="vec_id", vec_col="v", label_col="label", limit=1
        ).collect()
    }
    assert out[0] == 2 and out[1] == 2 and out[2] in (0, 1)


def test_hard_negative_topk_block_matches_broadcast(spark):
    """engine="block" (no driver collect) must equal engine="broadcast"
    exactly — ids and similarities — on the real embeddings table,
    including limit>1 and a small block count that forces multi-block
    group pairs."""
    from wagtail_vector_index_spark.operators.knn import hard_negative_topk

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    kw = dict(id_col="vec_id", vec_col="v", label_col="label", limit=3)
    bro = {
        (r["anchor_id"], r["vec_id"]): round(r["similarity"], 9)
        for r in hard_negative_topk(emb, engine="broadcast", **kw).collect()
    }
    blk = {
        (r["anchor_id"], r["vec_id"]): round(r["similarity"], 9)
        for r in hard_negative_topk(
            emb, engine="block", blocks=3, **kw
        ).collect()
    }
    assert blk == bro
    assert len(blk) > 0


def test_hard_negative_topk_separate_anchor_frame(spark):
    """anchors= mines negatives for a query subset against the whole
    corpus: result keys are exactly the anchor ids, and each anchor's
    winner matches the corpus-as-anchors run restricted to those ids."""
    from wagtail_vector_index_spark.operators.knn import hard_negative_topk

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    anchors = emb.where(F.col("vec_id") % 7 == 0)
    kw = dict(id_col="vec_id", vec_col="v", label_col="label", limit=1)
    sub = {
        (r["anchor_id"], r["vec_id"]): round(r["similarity"], 9)
        for r in hard_negative_topk(
            emb, anchors=anchors, engine="block", blocks=3, **kw
        ).collect()
    }
    anchor_ids = {r["vec_id"] for r in anchors.select("vec_id").collect()}
    assert {a for a, _ in sub} == anchor_ids
    full = {
        (r["anchor_id"], r["vec_id"]): round(r["similarity"], 9)
        for r in hard_negative_topk(emb, engine="broadcast", **kw).collect()
        if r["anchor_id"] in anchor_ids
    }
    assert sub == full


def test_hard_negative_topk_rejects_unknown_engine(spark):
    import pytest

    from wagtail_vector_index_spark.operators.knn import hard_negative_topk

    df = spark.createDataFrame(
        [(0, 0, [1.0, 0.0])], ["vec_id", "label", "v"]
    )
    with pytest.raises(ValueError):
        hard_negative_topk(
            df, id_col="vec_id", vec_col="v", label_col="label",
            engine="nope",
        )


def test_hard_negative_topk_block_mixed_id_types(spark):
    """A string-id anchor frame against a long-id corpus: the block
    engine carries anchor and index ids in separate columns, so it
    returns exactly the broadcast engine's rows, string anchor ids
    included."""
    from wagtail_vector_index_spark.operators.knn import hard_negative_topk

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    anchors = emb.where(F.col("vec_id") % 5 == 0).select(
        F.concat(F.lit("q:"), F.col("vec_id").cast("string")).alias("vec_id"),
        "label",
        "v",
    )
    kw = dict(
        anchors=anchors, id_col="vec_id", vec_col="v", label_col="label",
        limit=2,
    )
    bro = {
        (r["anchor_id"], r["vec_id"]): round(r["similarity"], 9)
        for r in hard_negative_topk(emb, engine="broadcast", **kw).collect()
    }
    blk = {
        (r["anchor_id"], r["vec_id"]): round(r["similarity"], 9)
        for r in hard_negative_topk(
            emb, engine="block", blocks=3, **kw
        ).collect()
    }
    assert blk == bro and len(blk) > 0
    assert all(isinstance(a, str) and isinstance(i, int) for a, i in blk)


def test_gemm_topk_chunked_kernel_matches_unchunked(monkeypatch):
    """_gemm_topk and the pair kernel (_cosine_pairs, _pair_losers) must
    be invariant to the sims-slab budget: a 1-cell slab (maximal
    chunking) and an unbounded slab give identical top-k, threshold,
    label-mask, pair and loser results — the bounded slab is a memory
    shape, never a semantic one."""
    import numpy as np

    from wagtail_vector_index_spark.operators import knn

    rng = np.random.default_rng(7)
    M = rng.normal(size=(23, 6))
    M /= np.linalg.norm(M, axis=1, keepdims=True)
    P = rng.normal(size=(11, 6))
    P /= np.linalg.norm(P, axis=1, keepdims=True)
    ids = np.arange(23)
    p_ids = np.arange(100, 111)
    m_labels = rng.integers(0, 3, size=23)
    p_labels = rng.integers(0, 3, size=11)
    # diagonal mode on unsorted ids, plus an all-zero row (id 99)
    shuffled = rng.permutation(23)
    diagonal = [(shuffled, M)]
    cross = [(ids, M), (p_ids, P)]
    with_zero = [
        (np.append(shuffled, 99), knn._unit_rows(np.vstack([M, np.zeros(6)])))
    ]

    def topk(**kw):
        return lambda: {
            (int(p), int(i), round(float(s), 12))
            for p, i, s in zip(*knn._gemm_topk(ids, M, p_ids, P, 4, **kw))
        }

    def pairs(sides, thr):
        return lambda: {
            (int(lo), int(hi), round(float(s), 12))
            for slab in knn._cosine_pairs(sides, thr)
            for lo, hi, s in zip(*slab)
        }

    def losers(sides, thr):
        return lambda: {int(x) for x in knn._pair_losers(sides, thr)}

    cases = {
        "topk": topk(threshold=None),
        "topk threshold": topk(threshold=0.3),
        "topk labels": topk(m_labels=m_labels, p_labels=p_labels),
        "pairs diagonal": pairs(diagonal, 0.3),
        "pairs cross": pairs(cross, 0.3),
        "pairs diagonal zero row": pairs(with_zero, 0.2),
        "losers diagonal": losers(diagonal, 0.3),
        "losers cross": losers(cross, 0.3),
    }
    for name, run in cases.items():
        wide = run()
        monkeypatch.setattr(knn, "_SIMS_SLAB_DOUBLES", 1)
        tiny = run()
        monkeypatch.undo()
        # row order may differ across chunkings; the pair set (what the
        # downstream Window consumes) must not
        assert tiny == wide and len(wide) > 0, name

    # each qualifying pair comes out once, low id first; the losers are
    # the pairs' higher ids
    def brute(sides, thr):
        (a_ids, A), (b_ids, B) = sides if len(sides) == 2 else sides * 2
        return {
            (min(a_ids[i], b_ids[j]), max(a_ids[i], b_ids[j]))
            for i, j in zip(*np.nonzero(A @ B.T >= thr))
            if a_ids[i] != b_ids[j]
        }

    for mode, sides in (("diagonal", diagonal), ("cross", cross)):
        want = brute(sides, 0.3)
        assert {(lo, hi) for lo, hi, _ in cases[f"pairs {mode}"]()} == want
        assert cases[f"losers {mode}"]() == {hi for _, hi in want}
    # a zero vector scores 0 against everything: no match above 0
    zero_pairs = cases["pairs diagonal zero row"]()
    assert all(99 not in (lo, hi) for lo, hi, _ in zero_pairs)
    assert all(lo < hi for lo, hi, _ in zero_pairs)


def test_auto_block_grid_scales_with_rows():
    """blocks='auto' grid: per-side ceil(rows/target) at scale (memory
    bound grows with data), grown to the parallelism floor when tiny."""
    from wagtail_vector_index_spark.operators.knn import (
        _BLOCK_TARGET_ROWS,
        _auto_block_grid,
    )

    # huge asymmetric input: each side sized independently
    pb, ib = _auto_block_grid(1_000_000, 50_000_000, 64)
    assert pb == -(-1_000_000 // _BLOCK_TARGET_ROWS)
    assert ib == -(-50_000_000 // _BLOCK_TARGET_ROWS)
    # tiny input: grid grows to cover the parallelism floor
    pb, ib = _auto_block_grid(1_000, 1_000, 64)
    assert pb * ib >= 64
    # 10x the data -> at least ~10x the blocks on the big side
    _, ib10 = _auto_block_grid(1_000, 10 * _BLOCK_TARGET_ROWS * 64, 64)
    assert ib10 >= 640


def test_gemm_block_auto_blocks_parity(spark, embeddings_df):
    """blocks='auto' (counts-derived grid) must equal the broadcast
    engine exactly, like any pinned grid."""
    probes = embeddings_df.limit(12).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").cast("array<double>").alias("probe_vec"),
    )
    index = embeddings_df.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vector")
    )
    kw = dict(index_id="vec_id", index_vec="vector", limit=4)
    bc = {
        (r["probe_id"], r["vec_id"], round(r["similarity"], 9))
        for r in gemm_topk_join(probes, index, engine="broadcast", **kw).collect()
    }
    auto = {
        (r["probe_id"], r["vec_id"], round(r["similarity"], 9))
        for r in gemm_topk_join(
            probes, index, engine="block", blocks="auto", **kw
        ).collect()
    }
    assert auto == bc and len(auto) > 0


def test_ivf_assign_tie_break_and_dim_guard(spark):
    """The r12 zero-shuffle ivf_assign must keep the old window
    semantics bit for bit: similarity ties resolve to the LOWEST cid
    regardless of codebook row order, and rows with no matching-dim
    centroid are dropped (the old inner join's behavior)."""
    from wagtail_vector_index_spark.operators.knn import ivf_assign

    cdf = spark.createDataFrame(
        [(9, [1.0, 0.0]), (3, [1.0, 0.0]), (5, [0.0, 1.0])],
        "cid int, cv array<double>",
    )
    idx = spark.createDataFrame(
        [(1, [2.0, 0.0]), (2, [0.0, 3.0]), (3, [1.0, 1.0])],
        "vec_id int, vector array<double>",
    )
    got = {r["vec_id"]: r["cid"] for r in ivf_assign(idx, cdf).collect()}
    # vec 1: exact tie between cid 9 and cid 3 -> 3; vec 3: equidistant
    # between cid 3 and cid 5 -> 3
    assert got == {1: 3, 2: 5, 3: 3}

    mixed = spark.createDataFrame(
        [(7, [1.0, 0.0, 0.0]), (8, [1.0, 0.0])],
        "vec_id int, vector array<double>",
    )
    survivors = ivf_assign(mixed, cdf).select("vec_id", "cid").collect()
    assert [(r["vec_id"], r["cid"]) for r in survivors] == [(8, 3)]
