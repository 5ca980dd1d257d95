"""Skew- and layout-aware join utilities (100 TB machinery).

AQE's skew-join handling (spark.sql.adaptive.skewJoin) covers sort-merge
joins at runtime; these helpers cover the cases it can't:

- ``salted_join``: explicit key salting for aggregation-after-join or
  broadcast-infeasible hot keys. The big side gets a random salt in
  [0, buckets); the small side is exploded ``buckets``-fold so every
  (key, salt) partner exists. Correctness is unchanged — the join key
  becomes (key, salt) and the salt is dropped after.
- ``salted_count``: hot-key aggregation in two stages (partial per salt,
  then final) — the groupBy equivalent.

Salting multiplies the small side by ``buckets``; pick the smallest
bucket count that flattens the skew (AQE's advisory partition size is a
good guide).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    *,
    buckets: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join ``big ⋈ small`` on column ``on`` with salted keys.

    Use when a handful of hot key values dominate ``big`` and the small
    side can't broadcast: the hot key's rows spread over ``buckets``
    partitions instead of one straggler task.
    """
    salted_big = big.withColumn(
        "__salt", (F.rand(seed=42) * buckets).cast("int")
    )
    salted_small = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(buckets)]))
    )
    return salted_big.join(salted_small, [on, "__salt"], how).drop("__salt")


def salted_count(
    df: DataFrame, key: str, *, buckets: int = 32
) -> DataFrame:
    """Two-stage count per key: partial count on (key, salt), then final
    sum on key — the hot key never lands in a single reduce task."""
    partial = (
        df.withColumn("__salt", (F.rand(seed=42) * buckets).cast("int"))
        .groupBy(key, "__salt")
        .agg(F.count(F.lit(1)).alias("__partial"))
    )
    return partial.groupBy(key).agg(F.sum("__partial").alias("n"))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict,
    *,
    seed: int = 42,
) -> DataFrame:
    """Per-stratum Bernoulli sampling (training-data mixture control):
    ``fractions`` maps stratum value -> keep probability. Deterministic
    per seed; strata absent from the map are dropped — the shape used to
    rebalance source/language/quality mixes in a training corpus."""
    return df.sampleBy(strata_col, fractions, seed=seed)


def sha_bucket_col(key, *, buckets: int = 100000):
    """Content-addressed bucket in [0, buckets): first 8 hex chars of
    sha256(key) mod buckets — the single source of the bucketing scheme
    shared by deterministic_keep_col and mix_epochs (DuckDB twin:
    ``('0x' || substr(sha256(k), 1, 8))::UBIGINT % buckets``)."""
    return (
        F.conv(F.substring(F.sha2(key.cast("string"), 256), 1, 8), 16, 10)
        .cast("long")
        % buckets
    )


def deterministic_keep_col(key, rate: float, *, buckets: int = 100000):
    """Content-addressed Bernoulli filter: keep a row iff the first 8 hex
    chars of sha256(key) land below ``rate`` of the bucket space.

    Unlike ``df.sample`` (seeded per-partition RNG — resplit the data and
    membership changes), this is a pure function of the key: stable
    across runs, partitionings, and engines, so samples are reproducible
    and the same row never flips in or out between pipeline versions.
    Portable to SQL oracles (sha256 hex is engine-neutral)."""
    return sha_bucket_col(key, buckets=buckets) < int(round(rate * buckets))


def weighted_mix(
    df: DataFrame,
    weights: dict[str, float],
    *,
    group_col: str = "source",
    key_col: str = "doc_id",
    buckets: int = 100000,
) -> DataFrame:
    """Deterministic dataset mixing: per-group keep rates (0..1) applied
    via the content-addressed filter — the curation step that rebalances
    a training corpus (e.g. downweight crawl, upweight reference text).
    Groups absent from ``weights`` (and NULL groups) are dropped. One
    narrow filter, no shuffle, no RNG: each row hashes its key once and
    compares the bucket with its group's threshold, looked up in a
    literal ``group -> threshold`` map (one sha256 per row however many
    groups there are)."""
    if not weights:
        raise ValueError("weights must not be empty")
    thresholds = []
    for group, rate in sorted(weights.items()):
        if not 0.0 <= rate <= 1.0:
            raise ValueError(f"rate for {group!r} must be in [0, 1], got {rate}")
        thresholds += [F.lit(group), F.lit(int(round(rate * buckets)))]
    return df.where(
        sha_bucket_col(F.col(key_col), buckets=buckets)
        < F.create_map(*thresholds)[F.col(group_col)]
    )


def split_col(key, fractions: dict[str, float], *, buckets: int = 100000):
    """Deterministic dataset-split label from cumulative sha-bucket
    thresholds: a row's split is a pure function of its key, so
    train/val/test membership is stable across runs, partitionings, and
    engines — and a document can never leak from val into train between
    pipeline versions (the property seeded RNG splits lack). Fractions
    iterate in sorted-name order (the oracle must sort identically);
    they must sum to <= 1 — rows past the cumulative total get NULL
    (callers drop or keep them explicitly)."""
    total = 0.0
    expr = None
    b = sha_bucket_col(key, buckets=buckets)
    for name, frac in sorted(fractions.items()):
        if frac < 0:
            raise ValueError(f"fraction for {name!r} must be >= 0, got {frac}")
        total += frac
        cond = b < int(round(total * buckets))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    if expr is None:
        raise ValueError("fractions must not be empty")
    if total > 1.0 + 1e-9:
        raise ValueError(f"fractions sum to {total}, must be <= 1")
    return expr


def mix_epochs(
    df: DataFrame,
    weights: dict[str, float],
    *,
    group_col: str = "source",
    key_col: str = "doc_id",
    epoch_col: str = "epoch",
    buckets: int = 100000,
) -> DataFrame:
    """Deterministic dataset mixing with UPSAMPLING: per-group rates may
    exceed 1 — rate 2.5 emits every row twice plus a content-addressed
    50% chance of a third copy (``epoch_col`` = 0..copies-1 distinguishes
    the replicas downstream). This is the "epochs per source" knob of a
    training mix (e.g. 3 epochs of reference text, 0.4 of crawl).

    Scale shape: copies come from exploding a per-row generated sequence
    — one narrow pipeline, no join against a replication table and no
    second scan of the source (fan-out replication pattern). The
    fractional copy reuses the sha-bucket filter with a per-group salt,
    so membership is a pure function of (key, group) — stable across
    runs, partitionings, and engines.
    """
    if not weights:
        raise ValueError("weights must not be empty")
    # per-group (full copies, fractional threshold in bucket space) —
    # computed once in Python and injected as literals, so the row-side
    # work is a when-chain + one sha256, no float arithmetic to mirror
    n_full_expr = None
    thr_expr = None
    for group, rate in sorted(weights.items()):
        if rate < 0.0:
            raise ValueError(f"rate for {group!r} must be >= 0, got {rate}")
        n_full = int(rate)
        thr = int(round((rate - n_full) * buckets))
        cond = F.col(group_col) == group
        n_full_expr = (
            F.when(cond, F.lit(n_full))
            if n_full_expr is None
            else n_full_expr.when(cond, F.lit(n_full))
        )
        thr_expr = (
            F.when(cond, F.lit(thr))
            if thr_expr is None
            else thr_expr.when(cond, F.lit(thr))
        )
    n_full_col = n_full_expr.otherwise(F.lit(0))
    thr_col = thr_expr.otherwise(F.lit(0))
    # fractional-copy membership: same sha-bucket scheme, salted with the
    # group so it decorrelates from any plain deterministic_keep_col use
    bucket = sha_bucket_col(
        F.concat(F.col(key_col).cast("string"), F.lit(":"), F.col(group_col)),
        buckets=buckets,
    )
    copies = n_full_col + F.when(bucket < thr_col, F.lit(1)).otherwise(F.lit(0))
    epochs = F.when(copies > 0, F.sequence(F.lit(0), copies - 1)).otherwise(
        F.array().cast("array<int>")
    )
    return df.withColumn(epoch_col, F.explode(epochs))


def weighted_sample(
    df: DataFrame,
    *,
    key_col: str,
    weight_col: str,
    k: int,
    group_col: str | None = None,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k rows (per group), by the
    Efraimidis-Spirakis A-ES scheme ("Weighted random sampling with a
    reservoir", IPL 2006): each row draws a uniform u and is ranked by
    u^(1/w) — equivalently by ascending -ln(u)/w, the exponential-clocks
    form used here — and the k best ranks are the sample, which is
    distributed exactly as sequential weighted draws without
    replacement.

    Two engine-grade properties:

    - **Deterministic**: u is content-addressed
      (``(sha_hash64(key)+1)/2^32``, the same sha-uniform every sampler
      in this repo uses), so the sample is a pure function of
      (key, weight) — stable across runs, partitionings, and engines,
      and exactly replayable by a SQL oracle. The selection key is
      rounded to 12 dp with the row key as tie-break, pinning the one
      place (libm ``ln``) where engines could disagree by an ulp.
    - **Scalable**: per-group selection is a ranked window, which
      Catalyst executes with a map-side WindowGroupLimit (only ~k rows
      per group per task reach the exchange); the global form is an
      ``orderBy().limit(k)`` TakeOrderedAndProject. Rows with
      non-positive weight are excluded, matching the w>0 domain of the
      scheme.

    The training-pipeline use: quality- or length-weighted corpus
    subsampling where a Bernoulli rate (``deterministic_keep_col``)
    can't hit an exact row budget and uniform sampling ignores the
    weights.
    """
    from pyspark.sql import Window

    from wagtail_vector_index_spark.functions.text_analysis import sha_hash64

    u = (sha_hash64(F.col(key_col).cast("string")) + F.lit(1)) / F.lit(
        4294967296.0
    )
    w = F.col(weight_col).cast("double")
    sel = F.round(-F.log(u) / w, 12)
    src = df.where(w > F.lit(0.0)).withColumn("__sel", sel)
    if group_col is None:
        return (
            src.orderBy(F.col("__sel").asc(), F.col(key_col).asc())
            .limit(int(k))
            .drop("__sel")
        )
    win = Window.partitionBy(group_col).orderBy(
        F.col("__sel").asc(), F.col(key_col).asc()
    )
    return (
        src.withColumn("__rn", F.row_number().over(win))
        .where(F.col("__rn") <= int(k))
        .drop("__sel", "__rn")
    )


def bloom_semi_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    *,
    m_bits: int = 1 << 16,
    k_hashes: int = 5,
    exact: bool = True,
) -> DataFrame:
    """Semi-join ``big`` against ``small``'s keys through a DETERMINISTIC
    Bloom filter — the runtime-filter pattern for 100 TB joins: instead
    of shuffling the big side to meet the key set, a ``m_bits``-bit
    filter (here 8 KiB at the default) built from the small side
    broadcasts, and big-side rows whose k probe bits are not all set
    are dropped MAP-SIDE before any exchange. Bloom filters have no
    false negatives, so no qualifying row is lost; ``exact=True`` (the
    default) finishes with a broadcast semi join that removes the
    ~(1 - e^{-kn/m})^k false positives, making the result exactly the
    plain semi join at a fraction of the shuffled bytes. Spark's own
    AQE runtime filters do this opportunistically; this operator is
    the explicit form under the caller's control (xxhash64-derived bit
    positions — XXH64 is a published, version-stable algorithm, unlike
    engine-internal runtime-filter state; the probe hash rides
    whole-stage codegen, see the r12 note below).

    The filter is a ``m_bits/64``-row (word_index, word) frame built
    with one explode + ``bit_or`` agg on the small side and joined
    broadcast; per big row the k probes fold over a map lookup
    expression, all JVM."""
    if m_bits % 64:
        raise ValueError("m_bits must be a multiple of 64")

    # Probe positions from xxhash64 — a published, engine-version-stable
    # algorithm (XXH64), evaluated inside whole-stage codegen. r12: the
    # old form computed k sha256 digests over freshly-concatenated
    # prefix strings PER ROW of the big side — measured as the probe
    # pass's dominant CPU (sha was ~10x the cost of everything else in
    # the filter). Two rejected rewrites, for the record: (a) k probe
    # positions double-hashed from ONE sha digest via named projected
    # columns — CollapseProject + filter pushdown re-inlined the
    # conv(sha2(...)) subtree into every reference (30 sha2 nodes in
    # the collapsed plan, the r11 n-gram cliff); (b) the same bound
    # through higher-order-function lambdas so the digest evaluates
    # once — HOF lambdas execute INTERPRETED, outside codegen, and the
    # per-row interpreter overhead exceeded the sha it saved. Hash
    #-family choice does not touch results: no false negatives either
    # way, and exact=True removes the false positives, so the output
    # is the plain semi join regardless.

    def positions(col):
        return [
            F.pmod(F.xxhash64(F.lit(j), col), F.lit(m_bits))
            for j in range(int(k_hashes))
        ]

    keys = small.select(F.col(key).alias("__k")).distinct()
    bits = (
        keys.select(
            F.explode(F.array(*positions(F.col("__k")))).alias("__p")
        )
        .select(
            F.expr("__p DIV 64").alias("__w"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(__p % 64 AS INT))"
            ).alias("__b"),
        )
        .groupBy("__w")
        .agg(F.bit_or("__b").alias("__word"))
    )
    # ship the words as ONE map per executor via a broadcast 1-row
    # frame (a m/64-row join per probe would re-shuffle big)
    table = bits.agg(
        F.map_from_arrays(
            F.collect_list("__w"), F.collect_list("__word")
        ).alias("__bloom")
    )
    # probe: k codegen'd bit tests; the positions are cheap enough that
    # optimizer re-inlining costs nothing (unlike the sha forms above)
    def _bit_set(p):
        word = F.coalesce(
            F.element_at(F.col("__bloom"), F.floor(p / F.lit(64)).cast("long")),
            F.lit(0).cast("long"),
        )
        mask = F.call_function(
            "shiftleft",
            F.lit(1).cast("long"),
            F.pmod(p, F.lit(64)).cast("int"),
        )
        return word.bitwiseAND(mask) != F.lit(0)

    cond = None
    for p in positions(F.col(key)):
        c = _bit_set(p)
        cond = c if cond is None else cond & c
    filtered = (
        big.crossJoin(F.broadcast(table))
        .where(cond)
        .select(*big.columns)
    )
    if not exact:
        return filtered
    # exactness pass: a PLAIN semi join (no broadcast hint — the whole
    # point is that `small` may be too big to broadcast while its bloom
    # is 8 KiB; only the bloom SURVIVORS reach this exchange, which is
    # the shuffled-bytes saving). AQE still broadcasts when small
    # actually fits.
    return filtered.join(
        keys, F.col(key) == F.col("__k"), "left_semi"
    )
