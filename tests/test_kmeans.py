"""K-means codebook training: inertia decreases, assignment is total."""

import pytest
from pyspark.sql import functions as F

from wagtail_vector_index_spark.operators.kmeans import inertia, train_codebook
from wagtail_vector_index_spark.operators.knn import ivf_assign


@pytest.fixture(scope="module")
def vectors(spark, embeddings_df):
    return embeddings_df.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vector")
    ).cache()


def test_training_reduces_inertia(vectors):
    # one round's assignment is against the initial codebook (the 8
    # lowest-id vectors)
    before = inertia(train_codebook(vectors, k=8, iterations=1)[1])
    centroids, assigned = train_codebook(vectors, k=8, iterations=3)
    after = inertia(assigned)
    assert after <= before + 1e-12
    assert after < before  # real movement on this data


def test_assignment_is_total_and_valid(vectors):
    centroids, assigned = train_codebook(vectors, k=8, iterations=2)
    n = vectors.count()
    assert assigned.count() == n
    cids = {r["cid"] for r in assigned.select("cid").distinct().collect()}
    assert cids <= set(range(8))
    assert len(centroids) == 8
    dim = len(centroids[0][1])
    assert all(len(cv) == dim for _, cv in centroids)


def test_trained_codebook_improves_ivf_recall(spark, vectors):
    """A trained codebook should give IVF at-least-as-good recall@10 as
    the first-k placeholder for the same nprobe."""
    from wagtail_vector_index_spark.operators.knn import ivf_topk, topk_similar

    probe = vectors.where(F.col("vec_id") == 5).first()["vector"]
    exact = {
        r["vec_id"]
        for r in topk_similar(
            vectors.where(F.col("vec_id") != 5),
            list(probe),
            vector_col="vector",
            id_col="vec_id",
            limit=10,
        ).collect()
    }

    def recall(centroid_rows):
        cdf = spark.createDataFrame(centroid_rows, "cid int, cv array<double>")
        got = {
            r["vec_id"]
            for r in ivf_topk(
                vectors.where(F.col("vec_id") != 5),
                cdf,
                list(probe),
                nprobe=2,
                limit=10,
            ).collect()
        }
        return len(got & exact) / len(exact)

    naive = [
        (i, [float(x) for x in r["vector"]])
        for i, r in enumerate(vectors.orderBy("vec_id").limit(8).collect())
    ]
    trained, _ = train_codebook(vectors, k=8, iterations=3)
    assert recall(trained) >= recall(naive) - 0.2  # not worse (tolerance)
    assert recall(trained) > 0


def test_mixed_dimension_row_is_dropped_from_training(spark):
    """A row whose dimension matches no centroid takes no part in Lloyd
    training (as in the IVF build): the centroids equal those trained
    without it, and it is absent from the assignment."""
    rows = [
        (0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.5, 0.1]), (3, [0.1, 2.0]),
        (4, [1.4, -0.1]), (5, [-0.1, 1.0]), (6, [1.3, 0.0]), (7, [0.0, 1.2]),
    ]
    schema = "vec_id long, vector array<double>"
    clean = spark.createDataFrame(rows, schema)
    mixed = spark.createDataFrame(rows + [(8, [100.0, 100.0, 100.0])], schema)
    want, _ = train_codebook(clean, k=2, iterations=2)
    got, assigned = train_codebook(mixed, k=2, iterations=2)
    assert got == want
    ids = sorted(r["vec_id"] for r in assigned.collect())
    assert ids == list(range(8))


def test_norm_hoisted_cosine_bit_identical(vectors):
    """The r12 norm-hoisted assignment cosine (||row|| folded once per
    row, ||centroid|| once per codebook) must be BIT-identical to
    functions.vector.similarity_col's per-pair fold — the ann oracle
    gates replay every Lloyd argmax by value, so even a one-ulp drift
    here is a correctness bug, not a perf detail."""
    import struct

    from wagtail_vector_index_spark.functions.vector import (
        dot_product,
        l2_norm,
        similarity_col,
    )

    spark = vectors.sparkSession
    cents = [
        [float(x) for x in r["vector"]]
        for r in vectors.orderBy("vec_id").limit(12).collect()
    ]
    mat = spark.createDataFrame(
        [([c for c in cents],)], "cvm array<array<double>>"
    ).withColumn(
        "cnorms", F.transform(F.col("cvm"), lambda cv: l2_norm(cv))
    )
    old = F.transform(
        F.col("cvm"), lambda cv: similarity_col(F.col("vector"), cv, "cosine")
    )

    def entries(nv):
        return F.transform(
            F.col("cvm"),
            lambda cv, i: dot_product(F.col("vector"), cv)
            / (nv * F.element_at(F.col("cnorms"), i + F.lit(1))),
        )

    new = F.element_at(
        F.transform(F.array(l2_norm(F.col("vector"))), lambda nv: entries(nv)),
        1,
    )
    rows = (
        vectors.crossJoin(F.broadcast(mat))
        .select(old.alias("o"), new.alias("n"))
        .collect()
    )
    assert rows
    for r in rows:
        for a, b in zip(r["o"], r["n"]):
            assert struct.pack("<d", a) == struct.pack("<d", b)


def test_onelevel_mean_agg_matches_posexplode_reference(vectors):
    """r13: train_codebook's re-estimation became ONE groupBy(cid) of
    per-position avg(element_at(vector, i)) aggregates (driver-known
    dim) instead of posexplode + (cid,pos) + cid double aggregation.
    Pin the rewrite against the old shape: same assignment, both mean
    paths, 6-dp rounded (the cross-engine pin train_codebook's gated
    callers use) — centroid vectors must be identical."""
    init = [
        (i, [float(x) for x in r["vector"]])
        for i, r in enumerate(vectors.orderBy("vec_id").limit(8).collect())
    ]
    assigned = ivf_assign(
        vectors,
        vectors.sparkSession.createDataFrame(init, "cid int, cv array<double>"),
    )
    dim = len(init[0][1])
    one_level = {
        r["cid"]: [float(r[i + 1]) for i in range(dim)]
        for r in assigned.groupBy("cid")
        .agg(
            *[
                F.round(
                    F.avg(F.element_at(F.col("vector"), i + 1)), 6
                ).alias(f"m{i}")
                for i in range(dim)
            ]
        )
        .collect()
    }
    per_pos = (
        assigned.select("cid", F.posexplode(F.col("vector")))
        .groupBy("cid", "pos")
        .agg(F.round(F.avg("col"), 6).alias("mean_val"))
    )
    reference = {
        r["cid"]: [float(x) for x in r["cv"]]
        for r in per_pos.groupBy("cid")
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col("pos"), F.col("mean_val")))
                ),
                lambda s: s["mean_val"],
            ).alias("cv")
        )
        .collect()
    }
    assert one_level == reference
