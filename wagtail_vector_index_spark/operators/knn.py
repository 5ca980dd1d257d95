"""k-NN retrieval operators.

Reference semantics (threshold-then-limit, stable ordering):
- brute-force scan + sort + limit: numpy provider
  (src/wagtail_vector_index/storage/numpy/provider.py:38-59) — but with
  *correct* cosine (see functions/vector.py docstring re the reference bug)
- SQL top-k with dim + index-name filters: pgvector provider
  (src/wagtail_vector_index/storage/pgvector/provider.py:106-123)
- threshold ∈ [0,1], 0 == off, applied BEFORE the limit
  (docs/vector-indexes.md:195-229)

Physical shape in Spark:
- single probe:  filter(dim) → similarity column (whole-stage codegen) →
  filter(threshold) → orderBy(sim desc, id) → limit(k). Catalyst plans
  TakeOrderedAndProject — per-partition top-k heaps + a single-partition
  merge of k-row heads, never a global sort. Scales to any index size.
- many probes (similarity join): broadcast the probe side when small, else
  block GEMM inside mapInPandas emitting per-partition per-probe top-k,
  then one Window to cut the global top-k per probe. The GEMM path turns
  N·M scalar expression evaluations into numpy matrix multiplies — the
  vectorization the reference gets from numpy (numpy/provider.py:46-51),
  but per-partition and parallel.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from wagtail_vector_index_spark.functions.vector import similarity_col


def topk_similar(
    index_df: DataFrame,
    query_vector: Sequence[float],
    *,
    vector_col: str = "vector",
    id_col: str = "doc_id",
    limit: int = 5,
    similarity_threshold: float = 0.0,
    method: str = "cosine",
    sim_alias: str = "similarity",
) -> DataFrame:
    """Top-k rows of ``index_df`` most similar to one probe vector.

    Dimension filter first (partition-prunable when the table is
    partitioned by dim), threshold before limit, ties broken on id for
    determinism.
    """
    q = F.lit([float(x) for x in query_vector]).cast("array<double>")
    out = (
        index_df.where(F.array_size(F.col(vector_col)) == len(query_vector))
        .withColumn(sim_alias, similarity_col(F.col(vector_col), q, method))
    )
    if similarity_threshold:
        out = out.where(F.col(sim_alias) >= F.lit(float(similarity_threshold)))
    return out.orderBy(F.col(sim_alias).desc(), F.col(id_col).asc()).limit(limit)


def similarity_join(
    probes_df: DataFrame,
    index_df: DataFrame,
    *,
    probe_id: str = "probe_id",
    probe_vec: str = "probe_vec",
    index_id: str = "doc_id",
    index_vec: str = "vector",
    limit: int = 5,
    similarity_threshold: float = 0.0,
    method: str = "cosine",
    sim_alias: str = "similarity",
) -> DataFrame:
    """Top-k join: for every probe row, the k most-similar index rows.

    Declarative path: broadcast-cross-join + codegen'd similarity + window
    top-k. The cross join is NOT quadratic shuffle — the probe side is
    broadcast, so each index partition streams once past the in-memory
    probe table. For probe sets too big to broadcast, use
    :func:`gemm_topk_join`.
    """
    p = F.broadcast(
        probes_df.select(
            F.col(probe_id), F.col(probe_vec).cast("array<double>").alias(probe_vec)
        )
    )
    joined = index_df.join(
        p, F.array_size(F.col(index_vec)) == F.array_size(F.col(probe_vec)), "inner"
    ).withColumn(sim_alias, similarity_col(F.col(index_vec), F.col(probe_vec), method))
    if similarity_threshold:
        joined = joined.where(F.col(sim_alias) >= F.lit(float(similarity_threshold)))
    w = Window.partitionBy(probe_id).orderBy(
        F.col(sim_alias).desc(), F.col(index_id).asc()
    )
    return (
        joined.withColumn("__rank", F.row_number().over(w))
        .where(F.col("__rank") <= limit)
        .drop("__rank", probe_vec)
    )


def _cosine_argmax_exprs(vec_col: str) -> tuple[Column, Column, Column]:
    """``(dim_match, best, cid)`` Column trees of the nearest-centroid
    cosine argmax over a :func:`_assign_over` codebook — the one
    assignment expression of the IVF build and of Lloyd training.

    ``best`` is the ``array_max`` of per-centroid ``(s, ni)`` =
    ``(cosine, -index)`` structs in ascending-cid order, so ties go to
    the lowest cid. NORM-HOISTED (r12): ||row|| folds once per row
    (bound to a lambda variable via a 1-element transform, so the
    optimizer cannot re-inline it per centroid) and ||centroid|| comes
    from ``__cbn``; same sequential folds and ``dot / (nv * nc)``
    grouping as ``functions.vector.cosine_similarity``, so every
    similarity and argmax is bit-identical to the per-pair fold.
    Columns are trees keyed by NAME, so one build serves every Lloyd
    round (r13, OPTIMIZATION_r13.md Batch 2)."""
    from wagtail_vector_index_spark.functions.vector import (
        dot_product,
        l2_norm,
    )

    vec = F.col(vec_col)

    def _entries(nv):
        # mismatched dims score null, which struct-max ranks below
        # every real score
        return F.transform(
            F.col("__cb"),
            lambda c, i: F.struct(
                F.when(
                    F.array_size(c["v"]) == F.array_size(vec),
                    dot_product(vec, c["v"])
                    / (nv * F.element_at(F.col("__cbn"), i + F.lit(1))),
                ).alias("s"),
                (-i).alias("ni"),
            ),
        )

    best = F.element_at(
        F.transform(
            F.array(l2_norm(vec)), lambda nv: F.array_max(_entries(nv))
        ),
        1,
    )
    # The no-matching-dim filter must NOT reference __best:
    # PushDownPredicates substitutes a filtered computed column's
    # EXPRESSION below the projection (guide §4.4's duplication — no
    # cheapness guard, unlike CollapseProject), which would evaluate
    # the whole k-sim argmax twice per row (measured +0.65s on the
    # sf0.1 eval gates). A lookup in the codebook's centroid SIZES
    # (``__cbd``) is the equivalent predicate at negligible cost, and
    # __best then has a single consumer. It must hold no lambda over
    # the row vector either: an ``exists(__cb, c -> size(c.v) =
    # size(vector))`` join predicate was copied into the codebook side
    # by InferFiltersFromConstraints + PushDownPredicates when the
    # vector's attribute had a low expression id (a session's first
    # frame), failing the task with "Could not find vector".
    dim_match = F.array_contains(F.col("__cbd"), F.array_size(vec))
    cid = F.element_at(
        F.col("__cb"), (-F.col("__best.ni") + F.lit(1)).cast("int")
    )["i"]
    return dim_match, best, cid


def _assign_over(
    index_df: DataFrame, codebook: DataFrame, dim_match: Column,
    best: Column, out_cols: list[Column],
) -> DataFrame:
    """Rows of ``index_df`` with a same-dimension centroid, projected to
    ``out_cols`` over the argmax ``__best`` against ``codebook``: one
    row whose ``__cb`` is ``array<struct<i, v>>`` sorted by ``i``. Each
    centroid's norm (``__cbn``) and size (``__cbd``) fold once per
    codebook, and the codebook is broadcast."""
    from wagtail_vector_index_spark.functions.vector import l2_norm

    cb = codebook.withColumns({
        "__cbn": F.transform(F.col("__cb"), lambda c: l2_norm(c["v"])),
        "__cbd": F.transform(F.col("__cb"), lambda c: F.array_size(c["v"])),
    })
    return (
        index_df.crossJoin(F.broadcast(cb))
        .where(dim_match)
        .withColumn("__best", best)
        .select(*out_cols)
    )


def ivf_assign(
    index_df: DataFrame,
    centroids_df: DataFrame,
    *,
    index_id: str = "vec_id",
    index_vec: str = "vector",
    centroid_id: str = "cid",
    centroid_vec: str = "cv",
) -> DataFrame:
    """Assign every index row to its most-cosine-similar centroid.

    At 100 TB this is the partitioning step of an IVF index: the output
    (id, cid) keys a repartition/bucketing so each posting list is
    co-located.

    ZERO-SHUFFLE (r12): the codebook is a broadcast 1-row (cid, cv)
    struct array sorted by cid and the argmax runs in the scan
    projection; the index side never moves. Rows with no matching-dim
    centroid are dropped. Also the expression twin of
    ``dedup.assign_centroids_udf``."""
    dim_match, best, cid = _cosine_argmax_exprs(index_vec)
    codebook = centroids_df.groupBy().agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col(centroid_id).alias("i"),
                    F.col(centroid_vec).alias("v"),
                )
            )
        ).alias("__cb")
    )
    return _assign_over(
        index_df, codebook, dim_match, best,
        [F.col(c) for c in index_df.columns] + [cid.alias(centroid_id)],
    )


def ivf_topk(
    index_df: DataFrame,
    centroids_df: DataFrame,
    query_vector: Sequence[float],
    *,
    index_id: str = "vec_id",
    index_vec: str = "vector",
    centroid_id: str = "cid",
    centroid_vec: str = "cv",
    nprobe: int = 2,
    limit: int = 10,
    sim_alias: str = "similarity",
) -> DataFrame:
    """IVF-style approximate top-k, computed *in-flight*: assignment runs
    over the full index as part of the query. Use this for ad-hoc/one-shot
    exploration only — a served index should be built once with
    :class:`~wagtail_vector_index_spark.operators.ann_index.IvfIndex`,
    whose queries scan only the ``nprobe`` probed partitions (file-level
    pruning) instead of re-assigning every row per query.

    Recall is approximate (vectors assigned elsewhere are invisible) —
    the classic IVF trade, deterministic given a fixed codebook, and
    byte-identical between this and the materialized path.
    """
    q = F.lit([float(x) for x in query_vector]).cast("array<double>")
    probed = (
        centroids_df.withColumn("__qsim", similarity_col(F.col(centroid_vec), q, "cosine"))
        .orderBy(F.col("__qsim").desc(), F.col(centroid_id).asc())
        .limit(nprobe)
        .select(centroid_id)
    )
    assigned = ivf_assign(
        index_df,
        centroids_df,
        index_id=index_id,
        index_vec=index_vec,
        centroid_id=centroid_id,
        centroid_vec=centroid_vec,
    )
    candidates = assigned.join(F.broadcast(probed), centroid_id, "left_semi")
    return topk_similar(
        candidates,
        query_vector,
        vector_col=index_vec,
        id_col=index_id,
        limit=limit,
        sim_alias=sim_alias,
    )


def ivf_topk_batch(
    probes_df: DataFrame,
    index_df: DataFrame,
    centroids_df: DataFrame,
    *,
    probe_id: str = "probe_id",
    probe_vec: str = "probe_vec",
    index_id: str = "vec_id",
    index_vec: str = "vector",
    centroid_id: str = "cid",
    centroid_vec: str = "cv",
    nprobe: int = 2,
    limit: int = 10,
    sim_alias: str = "similarity",
) -> DataFrame:
    """Batch IVF ANN: top-``limit`` per probe for a whole DataFrame of
    probes, in one job with no driver loop.

    Plan shape (the 100 TB story): the index is assigned to centroids
    once (one pass, broadcast codebook); per-probe centroid ranking
    touches only probes x k rows; the prune is an equi-join of the
    assignment against the broadcast (probe, cid) pairs — so each index
    row is scored only for probes that probed its cluster, ~nprobe/k of
    the brute-force work. Per-probe top-k runs as WindowGroupLimit
    (partial before the exchange). Against a materialized
    :class:`~wagtail_vector_index_spark.operators.ann_index.IvfIndex`,
    skip the assign: its vectors table already carries ``cid``.
    """
    p = probes_df.select(
        F.col(probe_id),
        F.col(probe_vec).cast("array<double>").alias(probe_vec),
    )
    probed = similarity_join(
        p,
        centroids_df.select(centroid_id, F.col(centroid_vec).alias("vector")),
        probe_id=probe_id,
        probe_vec=probe_vec,
        index_id=centroid_id,
        index_vec="vector",
        limit=nprobe,
        sim_alias="__csim",
    ).select(probe_id, centroid_id)
    assigned = ivf_assign(
        index_df,
        centroids_df,
        index_id=index_id,
        index_vec=index_vec,
        centroid_id=centroid_id,
        centroid_vec=centroid_vec,
    )
    # dim guard matches topk_similar/similarity_join: a probe whose
    # dimensionality differs from an index row is excluded, not emitted
    # with a NULL similarity
    cands = (
        assigned.join(F.broadcast(probed), centroid_id)
        .join(F.broadcast(p), probe_id)
        .where(F.array_size(F.col(index_vec)) == F.array_size(F.col(probe_vec)))
    )
    w = Window.partitionBy(probe_id).orderBy(
        F.col(sim_alias).desc(), F.col(index_id).asc()
    )
    return (
        cands.withColumn(
            sim_alias, similarity_col(F.col(index_vec), F.col(probe_vec), "cosine")
        )
        .withColumn("__rank", F.row_number().over(w))
        .where(F.col("__rank") <= limit)
        .drop("__rank", probe_vec, centroid_id)
    )


def lsh_candidates_batch(
    probes_df: DataFrame,
    index_df: DataFrame,
    *,
    probe_id: str = "probe_id",
    probe_vec: str = "probe_vec",
    index_vec: str = "vector",
    num_planes: int = 12,
    dim: int | None = None,
    max_probe_hamming: int = 2,
    sim_alias: str = "similarity",
) -> DataFrame:
    """Scored LSH candidate pairs for a batch of probes: every
    (probe, index row) whose sign-buckets are within ``max_probe_hamming``
    bits, with the exact cosine attached. Shared candidate stage for
    :func:`lsh_topk_batch` and recall/scan-fraction evaluation.

    ``dim`` defaults to the first probe's dimensionality — hardcoding a
    wrong dim would build planes that zip-pad against the vectors and
    silently bucket everything to 0 (no pruning at all).

    Scale shape: index buckets are computed once per row (one pass over
    the scan); probe buckets ride the tiny broadcast side. The candidate
    filter is a broadcast nested-loop join whose predicate is a codegen'd
    ``bit_count(xor) <= h`` — each index row is tested against P probes
    with two ALU ops each, never shuffled.
    """
    if dim is None:
        first = probes_df.select(probe_vec).first()
        if first is None:
            raise ValueError("probes_df is empty and dim was not given")
        dim = len(first[0])
    planes = hyperplane_lsh_planes(num_planes, dim)
    bucketed = index_df.withColumn(
        "__bucket", lsh_bucket_col(F.col(index_vec), planes)
    )
    p = probes_df.select(
        F.col(probe_id),
        F.col(probe_vec).cast("array<double>").alias(probe_vec),
    ).withColumn("__qbucket", lsh_bucket_col(F.col(probe_vec), planes))
    return (
        bucketed.join(
            F.broadcast(p),
            (
                F.bit_count(F.col("__bucket").bitwiseXOR(F.col("__qbucket")))
                <= max_probe_hamming
            )
            & (
                F.array_size(F.col(index_vec)) == F.array_size(F.col(probe_vec))
            ),
        )
        .withColumn(
            sim_alias, similarity_col(F.col(index_vec), F.col(probe_vec), "cosine")
        )
        .drop("__bucket", "__qbucket")
    )


def lsh_topk_batch(
    probes_df: DataFrame,
    index_df: DataFrame,
    *,
    probe_id: str = "probe_id",
    probe_vec: str = "probe_vec",
    index_id: str = "vec_id",
    index_vec: str = "vector",
    num_planes: int = 12,
    dim: int | None = None,
    max_probe_hamming: int = 2,
    limit: int = 10,
    sim_alias: str = "similarity",
) -> DataFrame:
    """Batch hyperplane-LSH ANN: top-``limit`` per probe for a DataFrame
    of probes, one job, no driver loop — the LSH sibling of
    :func:`ivf_topk_batch`. Candidates come from
    :func:`lsh_candidates_batch`; per-probe top-k runs as
    WindowGroupLimit. Against a materialized
    :class:`~wagtail_vector_index_spark.operators.ann_index.LshIndex`,
    skip the bucket pass: its vectors table already carries the bucket.
    """
    cands = lsh_candidates_batch(
        probes_df,
        index_df,
        probe_id=probe_id,
        probe_vec=probe_vec,
        index_vec=index_vec,
        num_planes=num_planes,
        dim=dim,
        max_probe_hamming=max_probe_hamming,
        sim_alias=sim_alias,
    )
    w = Window.partitionBy(probe_id).orderBy(
        F.col(sim_alias).desc(), F.col(index_id).asc()
    )
    return (
        cands.withColumn("__rank", F.row_number().over(w))
        .where(F.col("__rank") <= limit)
        .drop("__rank", probe_vec)
    )


def hyperplane_lsh_planes(num_planes: int, dim: int) -> list[list[float]]:
    """Deterministic random hyperplanes for cosine LSH, derived from the
    sha256 hash embedder (values centered to [-0.5, 0.5)). Reproducible
    anywhere — including as float literals in the DuckDB oracle."""
    from wagtail_vector_index_spark.embedding.hash_backend import (
        HashEmbeddingBackend,
    )

    backend = HashEmbeddingBackend(dimensions=dim)
    return [
        [v - 0.5 for v in backend.embed_one(f"plane|{j}")]
        for j in range(num_planes)
    ]


def lsh_bucket_col(vec: Column, planes: Sequence[Sequence[float]]) -> Column:
    """Sign-bucket key: bit j = 1 iff dot(vec, plane_j) > 0. Vectors in
    the same bucket are likely cosine-close; multiprobe = small hamming
    distance between bucket keys.

    The planes enter the plan as ONE 2-D array literal folded with
    higher-order functions, not as num_planes unrolled dot-product
    subtrees: the unrolled form put planes×dim literal nodes into the
    expression tree, which cost seconds of py4j plan construction AND
    seconds of Catalyst re-optimization on every action. The fold is
    interpreted per row, but bucketing runs once per input row (not per
    candidate pair), so tree size dominates wall-clock, not row math.
    Float semantics are unchanged: per plane, the same sequential
    zip_with/aggregate dot product and the same `> 0` sign test."""
    planes_lit = F.lit([[float(x) for x in p] for p in planes]).cast(
        "array<array<double>>"
    )
    vec_d = vec.cast("array<double>")
    n = len(planes)
    dots = F.transform(
        planes_lit,
        lambda p: F.aggregate(
            F.zip_with(vec_d, p, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    weights = F.lit([1 << j for j in range(n)]).cast("array<long>")
    return F.aggregate(
        F.zip_with(
            dots,
            weights,
            lambda d, w: F.when(d > 0, w).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def lsh_topk(
    index_df: DataFrame,
    query_vector: Sequence[float],
    *,
    index_id: str = "vec_id",
    index_vec: str = "vector",
    num_planes: int = 12,
    max_probe_hamming: int = 2,
    limit: int = 10,
    sim_alias: str = "similarity",
) -> DataFrame:
    """Hyperplane-LSH approximate cosine top-k, computed *in-flight*:
    candidates are rows whose sign-bucket is within ``max_probe_hamming``
    bits of the query's bucket (multiprobe), exact-cosine re-ranked —
    but every row's bucket is recomputed per query. For a served index use
    :class:`~wagtail_vector_index_spark.operators.ann_index.LshIndex`,
    which persists the buckets as partitions so non-probed buckets are
    pruned at file listing. The LSH sibling of ivf_topk."""
    dim = len(query_vector)
    planes = hyperplane_lsh_planes(num_planes, dim)
    q = [float(x) for x in query_vector]
    q_bucket = 0
    for j, p in enumerate(planes):
        if sum(a * b for a, b in zip(q, p)) > 0:
            q_bucket |= 1 << j
    bucketed = index_df.withColumn(
        "__bucket", lsh_bucket_col(F.col(index_vec), planes)
    )
    candidates = bucketed.where(
        F.bit_count(F.col("__bucket").bitwiseXOR(F.lit(q_bucket)))
        <= max_probe_hamming
    ).drop("__bucket")
    return topk_similar(
        candidates,
        query_vector,
        vector_col=index_vec,
        id_col=index_id,
        limit=limit,
        sim_alias=sim_alias,
    )


# Per-GEMM sims-slab budget, in float64 cells (~32 MB). Every cosine GEMM
# kernel below (top-k and pair) chunks its multiply over the right-hand
# operand's rows so the similarity slab never materializes whole: peak
# kernel memory is the two unit-vector blocks plus one bounded slab,
# O(rows + slab), regardless of group or probe-set size. Without this the
# slab is quadratic in group size (rows_p*rows_i/blocks^2 for the block
# engine; batch_rows*n_probes for the broadcast engine; bucket/cluster
# rows^2 for the dedup groups) — the executor-OOM shape at 100 TB.
_SIMS_SLAB_DOUBLES = 4_000_000

# Target per-side rows per (probe-block, index-block) group for the
# auto-sized block grid: 65k rows x 768 dims x 8 B ~ 400 MB worst-case
# vectors per side per task at embedding widths, well under executor
# memory; the sims slab is bounded separately (above).
_BLOCK_TARGET_ROWS = 65_536


def _unit_rows(X) -> np.ndarray:
    """Rows of ``X`` as float64 unit vectors — the one normalizer of every
    cosine kernel. The norm is floored at 1e-300, so an all-zero row
    stays zero (cosine 0 against everything) instead of dividing by
    zero."""
    X = np.asarray(X, dtype=np.float64)
    return X / np.maximum(np.sqrt((X * X).sum(axis=1, keepdims=True)), 1e-300)


def _gemm_topk(
    ids: np.ndarray,
    M_unit: np.ndarray,
    p_ids: np.ndarray,
    p_unit: np.ndarray,
    k: int,
    *,
    threshold: float | None = None,
    m_labels: np.ndarray | None = None,
    p_labels: np.ndarray | None = None,
):
    """Shared chunked GEMM top-k kernel: for every probe (column) the
    local top-``k`` index rows by cosine, multiplying at most
    ``_SIMS_SLAB_DOUBLES`` cells at a time. With ``m_labels``/``p_labels``
    same-label pairs are masked below the cosine floor (hard-negative
    mining); with ``threshold`` pairs below it are dropped. Returns
    (probe_ids, index_ids, sims) 1-D arrays."""
    n = M_unit.shape[0]
    total_p = p_unit.shape[0]
    take = min(int(k), n)
    chunk = max(1, _SIMS_SLAB_DOUBLES // max(n, 1))
    outs: list[tuple[np.ndarray, np.ndarray, np.ndarray]] = []
    for s in range(0, total_p, chunk):
        e = min(s + chunk, total_p)
        sims = M_unit @ p_unit[s:e].T  # (n_index, <=chunk probes)
        if m_labels is not None:
            sims[m_labels[:, None] == p_labels[None, s:e]] = -2.0
        top_idx = np.argpartition(-sims, take - 1, axis=0)[:take]
        rows_probe = np.repeat(p_ids[s:e][np.newaxis, :], take, axis=0).ravel()
        rows_index = ids[top_idx].ravel()
        rows_sim = np.take_along_axis(sims, top_idx, axis=0).ravel()
        if m_labels is not None:
            keep = rows_sim > -2.0
            rows_probe, rows_index, rows_sim = (
                rows_probe[keep], rows_index[keep], rows_sim[keep],
            )
        if threshold:
            keep = rows_sim >= threshold
            rows_probe, rows_index, rows_sim = (
                rows_probe[keep], rows_index[keep], rows_sim[keep],
            )
        outs.append((rows_probe, rows_index, rows_sim))
    if not outs:
        z = np.array([])
        return z, z, z
    return (
        np.concatenate([o[0] for o in outs]),
        np.concatenate([o[1] for o in outs]),
        np.concatenate([o[2] for o in outs]),
    )


def _cosine_slabs(sides, threshold: float) -> Iterator[tuple]:
    """Shared chunked pair kernel over one or two ``(ids, unit_rows)``
    sides: yields ``(row_ids, col_ids, sims, hit)`` one sims slab at a
    time, multiplying at most ``_SIMS_SLAB_DOUBLES`` cells at a time;
    ``hit`` marks the pairs with cosine ``>= threshold``.

    Diagonal mode (one side): pairs within it. The rows are sorted by
    id and ``hit`` is cut to the strict upper triangle, so every hit has
    the lower id on its row, and the slab for columns ``[s, e)`` only
    multiplies rows ``[0, e)`` — half the flops of the square. Cross
    mode (two sides): every pair across them. Ids are assumed unique
    within a side. No side yields nothing."""
    if not sides:
        return
    diagonal = len(sides) == 1
    ids, unit = sides[0]
    if diagonal:
        order = np.argsort(ids, kind="stable")
        ids, unit = ids[order], unit[order]
        ids_b, unit_b = ids, unit
    else:
        ids_b, unit_b = sides[1]
    chunk = max(1, _SIMS_SLAB_DOUBLES // max(unit.shape[0], 1))
    for s in range(0, unit_b.shape[0], chunk):
        e = min(s + chunk, unit_b.shape[0])
        rows = e if diagonal else unit.shape[0]
        sims = unit[:rows] @ unit_b[s:e].T
        hit = sims >= threshold
        if diagonal:
            hit[s:e] = np.triu(hit[s:e], k=1)
        yield ids[:rows], ids_b[s:e], sims, hit


def _cosine_pairs(
    sides, threshold: float
) -> Iterator[tuple[np.ndarray, np.ndarray, np.ndarray]]:
    """Every pair the pair kernel hits, one slab at a time, as 1-D
    ``(lo, hi, sim)`` arrays with ``lo < hi`` (ids)."""
    for row_ids, col_ids, sims, hit in _cosine_slabs(sides, threshold):
        ra, cb = np.nonzero(hit)
        xa, xb = row_ids[ra], col_ids[cb]
        swap = xa > xb
        yield np.where(swap, xb, xa), np.where(swap, xa, xb), sims[ra, cb]


def _pair_losers(sides, threshold: float) -> np.ndarray:
    """Distinct higher ids over the pairs the pair kernel hits — the
    rows drop-the-higher-id dedup removes — reduced slab by slab. A
    diagonal hit's column holds the higher id, so there a column
    ``any`` replaces materializing the pairs: measured ~4x faster than
    gathering every pair of a 2,000-row cluster whose rows all match."""
    his = []
    for row_ids, col_ids, _, hit in _cosine_slabs(sides, threshold):
        if len(sides) == 1:
            his.append(col_ids[hit.any(axis=0)])
        else:
            ra, cb = np.nonzero(hit)
            his.append(np.unique(np.maximum(row_ids[ra], col_ids[cb])))
    return np.unique(np.concatenate(his)) if his else np.array([], dtype=object)


def _block_group_sides(pdf, id_col: str, vec_col: str) -> list:
    """Pair-kernel sides of one (bi, bj) group laid out by
    :func:`_triangular_block_targets`: a diagonal group pairs its
    side-'a' rows among themselves, any other group pairs side 'a'
    against side 'b'; a group with an empty side has nothing to pair."""
    sides = [pdf[pdf["side"] == "a"]]
    if int(pdf["bi"].iloc[0]) != int(pdf["bj"].iloc[0]):
        sides.append(pdf[pdf["side"] == "b"])
    if not all(len(side) for side in sides):
        return []
    return [
        (side[id_col].to_numpy(), _unit_rows(side[vec_col].tolist()))
        for side in sides
    ]


def _pairs_frame(pairs, sim_alias: str):
    """:func:`_cosine_pairs` output as one ``(id_a, id_b, sim_alias)``
    frame."""
    import pandas as pd

    pairs = list(pairs)
    if not pairs:
        return pd.DataFrame({"id_a": [], "id_b": [], sim_alias: []})
    lo, hi, sim = (np.concatenate(c) for c in zip(*pairs))
    return pd.DataFrame({"id_a": lo, "id_b": hi, sim_alias: sim})


def _hash_block(id_col: str, n) -> Column:
    """Block of a row: its id's xxhash64 modulo ``n`` (an int or an int
    column)."""
    return F.pmod(F.xxhash64(F.col(id_col).cast("string")), n).cast("int")


def _triangular_block_targets(blk: Column, nb: Column) -> Column:
    """Explode a row of block ``blk`` (of ``nb`` blocks) into its
    ``(bi, bj, side)`` block-pair groups: side 'a' of ``(blk, j)`` for
    every ``j >= blk`` and side 'b' of ``(i, blk)`` for every ``i < blk``.
    Every unordered pair of rows then meets in exactly one group — the
    diagonal group ``(blk, blk)`` for two rows of one block — at the
    cost of ``nb`` copies of each row."""
    a = F.transform(
        F.sequence(blk, nb - 1),
        lambda j: F.struct(
            blk.alias("bi"), j.cast("int").alias("bj"), F.lit("a").alias("side")
        ),
    )
    b = F.when(
        blk > 0,
        F.transform(
            F.sequence(F.lit(0), blk - 1),
            lambda i: F.struct(
                i.cast("int").alias("bi"), blk.alias("bj"), F.lit("b").alias("side")
            ),
        ),
    ).otherwise(F.array().cast("array<struct<bi:int,bj:int,side:string>>"))
    return F.explode(F.concat(a, b))


def _auto_block_grid(
    n_probes: int, n_index: int, min_groups: int
) -> tuple[int, int]:
    """Two-sided block grid for the no-collect GEMM engines: each side
    gets ceil(rows/_BLOCK_TARGET_ROWS) blocks (bounding per-group row
    memory — the sims slab is bounded separately by the chunked kernel),
    then the grid is grown toward ``min_groups`` tasks by doubling the
    side with more rows per block, so small inputs still fan out across
    the cluster. Shuffle volume is pb copies of the index side + ib
    copies of the probe side — O(n_p*n_i/target), the irreducible
    replication of exact all-pairs work split into bounded tiles."""
    pb = max(1, -(-int(n_probes) // _BLOCK_TARGET_ROWS))
    ib = max(1, -(-int(n_index) // _BLOCK_TARGET_ROWS))
    while pb * ib < int(min_groups):
        if n_probes / pb >= n_index / ib:
            pb *= 2
        else:
            ib *= 2
    return pb, ib


def _resolve_block_grid(
    blocks: int | str,
    probes_df: DataFrame,
    index_df: DataFrame,
    n_probes: int | None = None,
) -> tuple[int, int]:
    """Resolve the ``blocks`` argument: an int pins a square grid (exact
    legacy behavior for tests/tuning); ``"auto"`` counts both sides (two
    cheap jobs, negligible next to the quadratic GEMM they size) and
    derives the grid from data volume + cluster parallelism."""
    if blocks != "auto":
        b = int(blocks)
        return b, b
    n_p = int(n_probes) if n_probes is not None else probes_df.count()
    n_i = index_df.count()
    min_groups = 2 * probes_df.sparkSession.sparkContext.defaultParallelism
    return _auto_block_grid(n_p, n_i, min_groups)


def gemm_topk_join(
    probes_df: DataFrame,
    index_df: DataFrame,
    *,
    probe_id: str = "probe_id",
    probe_vec: str = "probe_vec",
    index_id: str = "doc_id",
    index_vec: str = "vector",
    limit: int = 5,
    similarity_threshold: float = 0.0,
    sim_alias: str = "similarity",
    engine: str = "auto",
    blocks: int | str = "auto",
    max_broadcast_rows: int = 200_000,
) -> DataFrame:
    """Cosine top-k similarity join via numpy GEMM. Two physical engines,
    identical results and tie order (similarity desc, id asc via the
    shared final Window):

    - ``engine="broadcast"``: the probe matrix is collected to the
      driver, L2-normalized once, and shipped to every partition (an
      explicit broadcast of a dense ndarray — far smaller than the
      row-form probe table). Each index partition is normalized and
      multiplied (``index @ probes.T``) in one BLAS call; per-partition
      top-k candidates (argpartition, k per probe per partition) stream
      out, and a final Window cuts the exact global top-k. Shuffle
      volume is O(num_partitions · N_probes · k), independent of index
      size — the right plan while the probe set fits the driver.
    - ``engine="block"``: NOTHING collects. Probes hash into ``pb``
      blocks and index rows into ``ib`` blocks; every (probe-block,
      index-block) pair is one grouped-Arrow task running the same GEMM
      and emitting its local per-probe top-k. Per-group row memory is
      O(rows/blocks) on each side and the sims slab is bounded by the
      chunked kernel (``_gemm_topk``) — the corpus-as-probes 100 TB path.

    ``engine="auto"`` (default) bounds-counts the probe side
    (``limit(max_broadcast_rows+1).count()`` — never a full scan) and
    picks broadcast iff it is at most ``max_broadcast_rows``, so no
    caller can drive a corpus-sized probe set into the driver collect.

    ``blocks="auto"`` (default) sizes the block grid from both sides'
    row counts (per-side blocks = ceil(rows/65536), grown to >= 2x
    cluster parallelism tasks), so the grid scales with the data instead
    of a fixed constant; an int pins a square grid exactly.

    :func:`hard_negative_topk` runs on these same two engines, with a
    label column on each side masking same-label pairs.
    """
    return _gemm_topk_engines(
        probes_df,
        index_df,
        probe_id=probe_id,
        probe_vec=probe_vec,
        index_id=index_id,
        index_vec=index_vec,
        limit=limit,
        similarity_threshold=similarity_threshold,
        sim_alias=sim_alias,
        engine=engine,
        blocks=blocks,
        max_broadcast_rows=max_broadcast_rows,
    )


def _gemm_topk_engines(
    probes_df: DataFrame,
    index_df: DataFrame,
    *,
    probe_id: str,
    probe_vec: str,
    index_id: str,
    index_vec: str,
    limit: int,
    similarity_threshold: float,
    sim_alias: str,
    engine: str,
    blocks: int | str,
    max_broadcast_rows: int,
    labels: tuple[str, str] | None = None,
) -> DataFrame:
    """:func:`gemm_topk_join`'s engines. ``labels`` names a (probe,
    index) pair of label columns; same-label pairs are then masked out
    inside ``_gemm_topk`` (hard-negative mining)."""
    if engine not in ("auto", "broadcast", "block"):
        raise ValueError(f"unknown engine {engine!r}")
    # id columns keep their source types (doc keys are strings, vec ids are
    # longs) — the output schema mirrors the inputs instead of assuming long
    out_schema = T.StructType(
        [
            T.StructField(probe_id, probes_df.schema[probe_id].dataType),
            T.StructField(index_id, index_df.schema[index_id].dataType),
            T.StructField(sim_alias, T.DoubleType()),
        ]
    )
    if engine == "auto":
        cutoff = int(max_broadcast_rows)
        engine = (
            "broadcast"
            if probes_df.limit(cutoff + 1).count() <= cutoff
            else "block"
        )
    w = Window.partitionBy(probe_id).orderBy(
        F.col(sim_alias).desc(), F.col(index_id).asc()
    )
    if engine == "block":
        pb, ib = _resolve_block_grid(blocks, probes_df, index_df)
        candidates = _block_topk_candidates(
            probes_df,
            index_df,
            probe_id=probe_id,
            probe_vec=probe_vec,
            index_id=index_id,
            index_vec=index_vec,
            limit=int(limit),
            similarity_threshold=float(similarity_threshold),
            probe_blocks=pb,
            index_blocks=ib,
            out_schema=out_schema,
            labels=labels,
        )
        return (
            candidates.withColumn("__rank", F.row_number().over(w))
            .where(F.col("__rank") <= limit)
            .drop("__rank")
        )

    p_label, i_label = labels or (None, None)
    probe_rows = probes_df.select(
        probe_id, probe_vec, *([p_label] if labels else [])
    ).collect()
    if not probe_rows:
        return probes_df.sparkSession.createDataFrame([], out_schema)
    probe_ids = np.array([r[0] for r in probe_rows])
    P_unit = _unit_rows([r[1] for r in probe_rows])
    probe_labels = np.array([r[2] for r in probe_rows]) if labels else None
    sc = probes_df.sparkSession.sparkContext
    bc = sc.broadcast((probe_ids, P_unit, probe_labels))

    dim = P_unit.shape[1]
    k = limit
    threshold = float(similarity_threshold)

    def _partition_topk(batches: Iterator) -> Iterator:
        import pandas as pd

        p_ids, p_unit, p_labels = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[index_id].to_numpy()
            M_unit = _unit_rows(pdf[index_vec].tolist())
            if M_unit.shape[1] != dim:
                continue
            rows_probe, rows_index, rows_sim = _gemm_topk(
                ids, M_unit, p_ids, p_unit, k, threshold=threshold,
                m_labels=pdf[i_label].to_numpy() if labels else None,
                p_labels=p_labels,
            )
            yield pd.DataFrame(
                {probe_id: rows_probe, index_id: rows_index, sim_alias: rows_sim}
            )

    candidates = index_df.select(
        index_id, index_vec, *([i_label] if labels else [])
    ).mapInPandas(_partition_topk, schema=out_schema)
    return (
        candidates.withColumn("__rank", F.row_number().over(w))
        .where(F.col("__rank") <= limit)
        .drop("__rank")
    )


def _block_topk_candidates(
    probes_df: DataFrame,
    index_df: DataFrame,
    *,
    probe_id: str,
    probe_vec: str,
    index_id: str,
    index_vec: str,
    limit: int,
    similarity_threshold: float,
    probe_blocks: int,
    index_blocks: int,
    out_schema: T.StructType,
    labels: tuple[str, str] | None = None,
) -> DataFrame:
    """Blocked GEMM top-k candidates: probes hashed into ``probe_blocks``
    blocks and replicated once per index block, index rows hashed into
    ``index_blocks`` and replicated once per probe block; each (gp, gi)
    group runs a chunked BLAS multiply (``_gemm_topk`` — sims slab
    bounded, same-label pairs masked when ``labels`` is given) and emits
    its LOCAL per-probe top-``limit`` — a superset of the global winners,
    cut exactly by the caller's Window. No driver collect, no broadcast;
    per-group row memory O(rows/blocks) on each side, slab memory O(1).
    Probe and index ids (and labels) keep their own, possibly different,
    types — each side rides its own columns through the union, the other
    side's read as null."""
    import pandas as pd

    pb = int(probe_blocks)
    ib = int(index_blocks)
    k = int(limit)
    threshold = float(similarity_threshold)
    p_label, i_label = labels or (None, None)

    def _tagged(src, side, id_c, vec_c, label_c, own_blocks, other_blocks):
        # a row of block blk on its own side meets every block of the other
        blk = _hash_block(id_c, own_blocks)
        fan = F.explode(F.sequence(F.lit(0), F.lit(other_blocks - 1)))
        gp, gi = (blk, fan) if side == "p" else (fan, blk)
        cols = [
            gp.alias("gp"),
            gi.alias("gi"),
            F.col(id_c).alias(f"__{side}id"),
            F.col(vec_c).cast("array<double>").alias("__vec"),
            F.lit(side).alias("side"),
        ]
        if label_c:
            cols.append(F.col(label_c).alias(f"__{side}label"))
        return src.select(*cols)

    union = _tagged(probes_df, "p", probe_id, probe_vec, p_label, pb, ib).unionByName(
        _tagged(index_df, "i", index_id, index_vec, i_label, ib, pb),
        allowMissingColumns=True,
    )
    names = out_schema.names
    empty = pd.DataFrame({n: [] for n in names})

    def _block_pair(pdf: pd.DataFrame) -> pd.DataFrame:
        p = pdf[pdf["side"] == "p"]
        idx = pdf[pdf["side"] == "i"]
        if not len(p) or not len(idx):
            return empty
        A = _unit_rows(p["__vec"].tolist())
        # mirror the broadcast engine's dim guard: index rows whose
        # dimensionality differs from the probes are excluded, per row
        idx = idx[idx["__vec"].map(len) == A.shape[1]]
        if not len(idx):
            return empty
        rows = _gemm_topk(
            idx["__iid"].to_numpy(),
            _unit_rows(idx["__vec"].tolist()),
            p["__pid"].to_numpy(),
            A,
            k,
            threshold=threshold,
            m_labels=idx["__ilabel"].to_numpy() if labels else None,
            p_labels=p["__plabel"].to_numpy() if labels else None,
        )
        return pd.DataFrame(dict(zip(names, rows)))

    return union.groupBy("gp", "gi").applyInPandas(_block_pair, schema=out_schema)


def hard_negative_topk(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "vector",
    label_col: str = "label",
    limit: int = 1,
    sim_alias: str = "similarity",
    anchors: DataFrame | None = None,
    engine: str = "auto",
    blocks: int | str = "auto",
    max_broadcast_rows: int = 200_000,
) -> DataFrame:
    """Per-vector hardest CROSS-LABEL neighbors: for every anchor row,
    the ``limit`` most-cosine-similar rows carrying a different label —
    hard-negative mining for contrastive training (FaceNet/DPR).
    ``anchors`` defaults to ``df`` itself (corpus-as-anchors); pass a
    separate DataFrame (same three columns) to mine negatives for a
    query/train set against a larger corpus. Returns
    ``(anchor_id, id_col, sim_alias)``.

    Runs on :func:`gemm_topk_join`'s two engines with the anchors as
    probes: each GEMM slab forces same-label entries below the cosine
    floor before the top-k cut, so they never rank. ``engine``,
    ``blocks`` and ``max_broadcast_rows`` mean what they mean there —
    ``"broadcast"`` collects the anchor block once (shuffle
    O(partitions x anchors x k), independent of index size),
    ``"block"`` collects nothing (the corpus-as-anchors 100 TB path),
    ``"auto"`` bounds-counts the anchor side and picks broadcast iff it
    is at most ``max_broadcast_rows``. Both engines share the
    (similarity desc, id asc) tie order, and anchor ids may have a
    different type than the index ids on either engine.
    """
    anchor_src = df if anchors is None else anchors
    return _gemm_topk_engines(
        anchor_src.select(
            F.col(id_col).alias("anchor_id"),
            F.col(vec_col).alias("__avec"),
            F.col(label_col).alias("__alabel"),
        ),
        df,
        probe_id="anchor_id",
        probe_vec="__avec",
        index_id=id_col,
        index_vec=vec_col,
        limit=limit,
        similarity_threshold=0.0,
        sim_alias=sim_alias,
        engine=engine,
        blocks=blocks,
        max_broadcast_rows=max_broadcast_rows,
        labels=("__alabel", label_col),
    )


def mutual_knn_graph(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    engine: str = "gemm",
    round_decimals: int | None = 6,
    blocks: int | str = "auto",
    max_broadcast_rows: int = 200_000,
) -> DataFrame:
    """Mutual k-NN graph over one embedding table: canonical edges
    (a, b, similarity) with ``a < b`` where b is in a's cosine top-k
    AND a is in b's — the reciprocal-neighbor graph whose edges are
    the high-precision input to clustering, near-dup mining, and
    diversity analysis (one-directional kNN edges are noisy around hub
    vectors; mutuality filters the hubs out).

    Both directions come from ONE top-(k+1) self-join pass (self
    matches dropped after ranking); the mutuality check is a
    self-semi-join of that edge list against its own swap — edge-keyed,
    no second scan of the vectors. ``engine="gemm"`` ranks via GEMM
    (:func:`gemm_topk_join` with its own auto broadcast/block guard:
    the whole corpus is the probe side here, so past
    ``max_broadcast_rows`` the blocked no-collect engine takes over —
    the 100 TB path); ``engine="block"`` forces the blocked engine;
    ``engine="sql"`` uses the declarative broadcast form
    (:func:`similarity_join`), exactly replayable in ANSI SQL — all
    share the (similarity desc, id asc) tie order and identical
    results."""
    if engine not in ("gemm", "block", "sql"):
        raise ValueError(f"unknown engine {engine!r}")
    probes = df.select(
        F.col(id_col).alias("__pid"),
        F.col(vec_col).cast("array<double>").alias("__pv"),
    )
    index = df.select(
        F.col(id_col).alias("__iid"),
        F.col(vec_col).cast("array<double>").alias("__iv"),
    )
    if engine == "sql":
        nn = similarity_join(
            probes,
            index,
            probe_id="__pid",
            probe_vec="__pv",
            index_id="__iid",
            index_vec="__iv",
            limit=int(k) + 1,
        )
    else:
        nn = gemm_topk_join(
            probes,
            index,
            probe_id="__pid",
            probe_vec="__pv",
            index_id="__iid",
            index_vec="__iv",
            limit=int(k) + 1,
            engine="auto" if engine == "gemm" else "block",
            blocks=blocks,
            max_broadcast_rows=int(max_broadcast_rows),
        )
    sim = F.col("similarity")
    if round_decimals is not None:
        sim = F.round(sim, round_decimals)
    edges = nn.where(F.col("__pid") != F.col("__iid")).select(
        F.col("__pid").alias("a"),
        F.col("__iid").alias("b"),
        sim.alias("similarity"),
    )
    swapped = edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    return edges.join(swapped, ["a", "b"], "left_semi").where(
        F.col("a") < F.col("b")
    )
