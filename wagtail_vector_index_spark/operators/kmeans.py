"""K-means codebook training (Lloyd's algorithm) as DataFrame iterations.

The IVF index (operators/knn.py::ivf_topk) needs a codebook; a trained
one beats the first-k-vectors placeholder on recall. Each iteration is
two declarative stages — assignment (the broadcast-codebook cosine
argmax of ``knn.ivf_assign``, one expression shared with the IVF build,
so rows whose dimension matches no centroid are dropped here too) and
re-estimation (one ``groupBy(cid)`` of per-position means) — so the
full training runs without any driver-side math beyond collecting k
centroids per round (k × dim doubles, tiny by construction).

Iterative refinement has no single-query SQL equivalent, so this
operator is exercised by tests (inertia must decrease monotonically)
rather than the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wagtail_vector_index_spark.operators.knn import (
    _assign_over,
    _cosine_argmax_exprs,
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
    cluster. Rows whose dimension matches no centroid are dropped. The
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
    # trees build ONCE (they reference the codebook frame's columns by
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
    dim_match, best, nearest = _cosine_argmax_exprs(vec_col)
    out_cols = [F.col(c) for c in df.columns] + [
        nearest.alias("cid"), F.col("__best.s").alias("__csim"),
    ]
    dim = len(centroids[0][1]) if centroids else 0

    def _mean(i: int):
        m = F.avg(F.element_at(F.col(vec_col), i + 1))
        if round_decimals is not None:
            m = F.round(m, round_decimals)
        return m.alias(f"__m{i}")

    mean_cols = [_mean(i) for i in range(dim)]

    assigned = None
    for _ in range(iterations):
        # centroids stay in ascending-cid order, as the argmax needs
        codebook = spark.createDataFrame(
            [(centroids,)], "__cb array<struct<i: int, v: array<double>>>"
        )
        assigned = _assign_over(df, codebook, dim_match, best, out_cols)
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
