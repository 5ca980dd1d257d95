"""K-means codebook training (Lloyd's algorithm) as DataFrame iterations.

The IVF index (operators/knn.py::ivf_topk) needs a codebook; a trained
one beats the first-k-vectors placeholder on recall. Each iteration is
two declarative stages — assignment (broadcast codebook argmax, the same
ivf_assign shape) and re-estimation (posexplode + (cluster, pos) mean) —
so the full training runs without any driver-side math beyond collecting
k centroids per round (k × dim doubles, tiny by construction).

Iterative refinement has no single-query SQL equivalent, so this
operator is exercised by tests (inertia must decrease monotonically)
rather than the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _assign(index_df: DataFrame, centroids: list[tuple[int, list[float]]],
            *, vec_col: str) -> DataFrame:
    """Best-centroid id per row (cosine argmax, tie -> lowest cid).

    ZERO-SHUFFLE (r12): the codebook rides a broadcast 1-row matrix
    frame (k x dim literals in the plan would charge ~1s of Catalyst
    analysis per round — the jl_recall lesson), and the argmax is an
    ``array_max`` over per-centroid (sim, -index) structs computed in
    the scan projection. The previous shape exploded every index row
    k-fold through a broadcast join and shuffled the exploded VECTOR
    payloads into a row-keyed window (one k x |index| exchange per
    Lloyd round) just to keep the best row. Centroids are evaluated in
    ascending-cid order so the struct-max tie-break (max sim, then max
    -index) is bit-identical to the old (sim desc, cid asc) window.

    NORM-HOISTED (r12, second pass — the ivf_assign rewrite applied to
    training): ||row|| folds once per row (lambda-bound so the
    optimizer cannot re-inline it per centroid) and each ||centroid||
    folds once per codebook in the broadcast build. Same sequential
    folds, same ``dot / (nv * nc)`` grouping as
    ``functions.vector.cosine_similarity`` — ``s`` (and therefore every
    argmax, ``__csim``, and the oracle's Lloyd replay) is
    bit-identical; only where the norm subtrees evaluate moved. Cuts
    the dominant interpreted-fold cost of every Lloyd round ~2x."""
    return _assign_with_exprs(
        index_df,
        _mat_frame(index_df.sparkSession, centroids),
        _assign_exprs(index_df.columns, vec_col),
    )


def _mat_frame(spark, centroids: list[tuple[int, list[float]]]):
    """The broadcast 1-row codebook matrix frame (cids, vectors, norms)."""
    from wagtail_vector_index_spark.functions.vector import l2_norm

    ordered = sorted(centroids, key=lambda c: c[0])
    return spark.createDataFrame(
        [(
            [int(cid) for cid, _ in ordered],
            [[float(x) for x in cv] for _, cv in ordered],
        )],
        "__cids array<int>, __cvm array<array<double>>",
    ).withColumn(
        "__cnorms",
        F.transform(F.col("__cvm"), lambda cv: l2_norm(cv)),
    )


def _assign_exprs(columns: list[str], vec_col: str):
    """(best, out_cols) Column trees for the assignment projection.

    Split out of ``_assign`` (r13): Columns are immutable unresolved
    expression trees keyed by NAME, so one build serves every Lloyd
    round — the per-round Python tree construction was ~20% of
    train_codebook's measured wall (plan_build 1.1s of 4.9s warm,
    OPTIMIZATION_r13.md Batch 2)."""
    from wagtail_vector_index_spark.functions.vector import (
        dot_product,
        l2_norm,
    )

    def _entries(nv):
        return F.transform(
            F.col("__cvm"),
            lambda cv, i: F.struct(
                (
                    dot_product(F.col(vec_col), cv)
                    / (nv * F.element_at(F.col("__cnorms"), i + F.lit(1)))
                ).alias("s"),
                (-i).alias("ni"),
            ),
        )

    best = F.element_at(
        F.transform(
            F.array(l2_norm(F.col(vec_col))),
            lambda nv: F.array_max(_entries(nv)),
        ),
        1,
    )
    out_cols = [F.col(c) for c in columns] + [
        F.element_at(
            F.col("__cids"), (-F.col("__best.ni") + F.lit(1)).cast("int")
        ).alias("cid"),
        F.col("__best.s").alias("__csim"),
    ]
    return best, out_cols


def _assign_with_exprs(index_df: DataFrame, mat, exprs) -> DataFrame:
    best, out_cols = exprs
    return (
        index_df.crossJoin(F.broadcast(mat))
        .withColumn("__best", best)
        .select(*out_cols)
    )


def train_codebook(
    df: DataFrame,
    *,
    k: int = 16,
    iterations: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "vector",
    round_decimals: int | None = None,
) -> tuple[list[tuple[int, list[float]]], DataFrame]:
    """Train a k-centroid cosine codebook; returns (centroids, assigned).

    Deterministic: initial centroids are the k lowest-id vectors; each
    round re-estimates centroids as the element-wise mean of their
    cluster (posexplode + group — the vector_centroids shape). The
    returned ``assigned`` DataFrame carries the final (row, cid, __csim)
    assignment for bucketing/partitioning the index.

    ``round_decimals`` rounds each re-estimated mean — the determinism
    pin for cross-engine replay: aggregation order makes two engines'
    means differ in the last ulps, and over several Lloyd rounds that
    drift can flip an argmax; rounding (6 dp in the oracle gate) lands
    both engines on identical centroids while moving each coordinate by
    <= 5e-7, which is noise for clustering quality. The parallelism
    spread below changes the input partitioning and therefore the
    float-summation ORDER of each cluster mean, so it is applied ONLY
    when ``round_decimals`` pins the result (r13, ADVICE): the default
    ``round_decimals=None`` path keeps the caller's partitioning and
    the "Deterministic" claim above stays exactly true for it.
    """
    # Training-side parallelism guard (r12): a narrow source (one small
    # parquet file, a 1-partition checkpoint) serializes every Lloyd
    # round's argmax pass — the CPU-bound step — onto one core. Spread
    # it to the cluster's parallelism by id hash; no-op when the input
    # is already wide (the 100 TB case), so no extra shuffle at scale.
    # r13: the probe is the shared operators/_util.ensure_parallelism
    # (file count JVM-side, physical-partition fallback for checkpointed
    # frames) instead of an inconsistent local df.rdd probe (ADVICE).
    spark = df.sparkSession
    if round_decimals is not None:
        from wagtail_vector_index_spark.operators._util import (
            ensure_parallelism,
        )

        df = ensure_parallelism(df, id_col)
    init = (
        df.orderBy(F.col(id_col).asc())
        .limit(k)
        .select(vec_col)
        .collect()
    )
    centroids = [(i, [float(x) for x in r[0]]) for i, r in enumerate(init)]

    # r13 (profile-driven, OPTIMIZATION_r13.md Batch 2: warm 5-round
    # training = plan_build 1.1s + collect 3.7s; execution data is
    # k x dim doubles — plan work dominated): the assignment Column
    # trees build ONCE (they reference the matrix frame's columns by
    # name, so the same tree serves every round), and the mean
    # re-estimation is ONE groupBy(cid) with a per-position
    # avg(element_at(vector, i)) for the driver-known dim — one
    # exchange of k x dim partial aggregates instead of posexplode's
    # |index| x dim row blowup through (cid,pos) + cid exchanges.
    # Values: avg over element_at(vector, i) aggregates exactly the
    # rows posexplode produced for position i (element_at is null past
    # a short array, and avg skips nulls); only the float-summation
    # ASSOCIATION ORDER moves (partial aggs per input partition vs per
    # (cid,pos) shuffle partition) — the same order-of-summation class
    # the ``round_decimals`` pin already absorbs for cross-engine
    # replay, verified by the learned gate's full Lloyd value replay
    # at three SFs.
    exprs = _assign_exprs(df.columns, vec_col)
    dim = len(centroids[0][1]) if centroids else 0

    def _mean(i: int):
        m = F.avg(F.element_at(F.col(vec_col), i + 1))
        if round_decimals is not None:
            m = F.round(m, round_decimals)
        return m.alias(f"__m{i}")

    mean_cols = [_mean(i) for i in range(dim)]

    assigned = None
    for _ in range(iterations):
        assigned = _assign_with_exprs(
            df, _mat_frame(spark, centroids), exprs
        )
        if not dim:
            continue
        new_rows = assigned.groupBy("cid").agg(*mean_cols).collect()
        updated = {
            r["cid"]: [float(r[i + 1]) for i in range(dim)]
            for r in new_rows
        }
        # empty clusters keep their previous centroid
        centroids = [
            (cid, updated.get(cid, cv)) for cid, cv in centroids
        ]
    return centroids, assigned


def inertia(assigned: DataFrame) -> float:
    """Mean cosine distance of rows to their centroid (lower is better)."""
    row = assigned.select(
        F.avg(F.lit(1.0) - F.col("__csim")).alias("inertia")
    ).first()
    return float(row["inertia"])
