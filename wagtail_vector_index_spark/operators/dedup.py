"""Deduplication operators for training-data pipelines (north-star EXT).

Five strategies, all shuffle-disciplined for 100 TB:

- exact:          groupBy(content hash) — one shuffle on a 64-hex key, the
                  map-side partial agg collapses duplicates early.
- minhash LSH:    shingle → minhash signature → band keys → self-join on
                  band buckets (shuffle on short band-hash keys only) →
                  exact-Jaccard verify on the candidate pairs. Signature
                  and band hashing are sha2-based and portable to the
                  DuckDB oracle.
- simhash:        32-bit fingerprint per doc, near-dup = small hamming
                  distance; candidates via rotate-and-band or (small N)
                  direct pair join.
- n-gram Jaccard: exact all-pairs via shingle-explode co-count join —
                  quadratic only in docs *sharing a shingle*, not all docs.
- embedding:      cosine near-dup pairs over an embedding column, via the
                  same banded-candidate or GEMM paths as the knn operators.

Every function returns a DataFrame. The banded/bucketed/block paths keep
all data distributed; :func:`simhash_pairs_dense` broadcasts the (8
bytes/doc) fingerprint table through the block manager without touching
the driver, and the one explicitly-dense variant that does collect —
:func:`gemm_neardup_pairs`, which gathers the normalized matrix on the
driver — says so in its docstring and has the distributed
:func:`block_neardup_pairs` twin for when the matrix outgrows it.
"""

from __future__ import annotations

import logging
import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from wagtail_vector_index_spark.operators.arrowgroup import (
    streamed_group_apply,
)
from wagtail_vector_index_spark.functions.text_analysis import (
    fingerprint_col,
    lsh_band_keys_col,
    minhash_signature_col,
    apply_keep_mask_col,
    explode_nofilter,
    keep_mask_col,
    posexplode_nofilter,
    rolling_window_hash60_col,
    sha_hash60,
    sha_hash64,
    shingle_hashes_col,
    tokens_col,
    word_shingles_col,
)
from wagtail_vector_index_spark.functions.vector import cosine_similarity


# Promoted to operators/_util.ensure_parallelism (r13, ADVICE): one
# public width guard instead of three modules importing this privately.
# The old name stays as an alias for in-package callers.
from wagtail_vector_index_spark.operators._util import (  # noqa: E402
    ensure_parallelism as _ensure_parallelism,
)


def exact_duplicates(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Group by normalized-content fingerprint; keep the representative
    (min id) and the duplicate count. Output: fingerprint, keep_id, n_docs."""
    return (
        df.select(F.col(id_col), fingerprint_col(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def _co_counts(ex: DataFrame, id_col: str) -> DataFrame:
    """Canonical (id_a < id_b) shared-shingle co-counts over an exploded
    (id, n_sh, sh) frame: one shuffle on the shingle key + one on the
    pair key. Shared by the Jaccard and containment pair generators."""
    a = ex.select(
        F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"), F.col("sh")
    )
    b = ex.select(
        F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"), F.col("sh")
    )
    return (
        a.join(b, "sh")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )


def _exploded_shingles(shingled: DataFrame, id_col: str) -> DataFrame:
    """Exploded (id, n_sh, sh) rows over pre-shingled input, hashed and
    cached for a co-count self-join.

    The join key is a 60-bit sha256 prefix of the shingle, not the string:
    the wide shuffle then carries three longs per row instead of a text
    n-gram (~1.5x on the whole job), and long hashing/compare beats string
    in the join and partial agg. 60 bits keep the co-counts exact in
    practice (collision expectation n^2/2^61: ~4e-8 at 3e5 distinct
    shingles, ~0.25 at 1e9); the oracle joins raw strings, so the gate
    itself would surface a collision ever changing a result.

    The cache() — WITHOUT a blocking count — materializes the frame
    before the self-join: the InMemoryRelation boundary (which stops
    projection collapse from inlining the sha into both join sides)
    exists at plan time, and concurrent first-fill tasks serialize on
    the block manager's per-partition write lock — an eager count()
    only added a full pass that serialized the job (r3 verdict item 7).
    """
    sizes = shingled.select(
        F.col(id_col), F.size("shingles").alias("n_sh"), F.col("shingles")
    )
    return (
        sizes.select(
            id_col, "n_sh", explode_nofilter(F.col("shingles")).alias("__shs")
        )
        .select(id_col, "n_sh", sha_hash60(F.col("__shs")).alias("sh"))
        .cache()
    )


def _exact_jaccard_pairs(
    shingled: DataFrame, *, id_col: str, threshold: float
) -> DataFrame:
    """Exact Jaccard over pre-shingled rows (id, shingles array<string>).

    Co-count join: explode distinct shingles, self-join on shingle (only
    docs sharing a shingle ever pair), count intersections, divide by
    |A|+|B|-|A∩B|. One shuffle on the shingle key + one on the pair key
    (see :func:`_exploded_shingles` for the hashed-key and cache notes).
    """
    inter = _co_counts(_exploded_shingles(shingled, id_col), id_col)
    return inter.select(
        "id_a",
        "id_b",
        (
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
        ).alias("jaccard"),
    ).where(F.col("jaccard") >= F.lit(threshold))


def substring_duplicate_coverage(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Exact duplicated-substring coverage (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better",
    ExactSubstr): slide a k-token window over every document, flag
    windows whose content occurs >= 2 times ANYWHERE in the corpus
    (cross-document or repeated within one document), and report per
    document how much of it sits inside a duplicated span. This is the
    sub-document counterpart of whole-document fingerprints and the
    fixed-grain counterpart of the content-defined-chunk shared-passage
    detector: memorization-risk boilerplate (license headers, quoted
    blocks, templated intros) shows up as high coverage even when the
    whole document is unique. The paper drops or trims spans >= 50 BPE
    tokens; ``k`` plays that role at word grain.

    Returns one row per document with >= k tokens: (``id_col``,
    ``n_toks``, ``n_dup_windows``, ``covered_tokens``, ``coverage``).
    ``covered_tokens`` is the exact size of the UNION of the
    duplicated k-windows — computed with a closed form instead of an
    interval-merge fold: for consecutive duplicated window starts p,
    p' in a document, the union gains ``min(p' - p, k)`` tokens
    (windows are fixed-length, so a gap >= k means no overlap), one
    ``lead()`` over a per-document window — doc-keyed, never global.

    Scale shape: one sha256 per TOKEN (not per window — the window key
    is a rotate-XOR fold of pre-bound 60-bit token hashes,
    :func:`rolling_window_hash60_col`, r12: the per-window
    slice+array_join+sha built and hashed a ~k-token string per
    window, the measured dominant CPU of both ExactSubstr passes), ONE
    exchange of the window rows on the 60-bit hash with a windowed
    count flagging duplicates (r12 — replaces the dup-hash agg +
    join-back + localCheckpoint: single-pass, one exchange instead of
    two at scale), one doc-keyed window + agg.
    All JVM expressions; 60-bit (not the 32-bit :func:`sha_hash64`
    fingerprint convention) because this family keys a DESTRUCTIVE
    apply (:func:`remove_duplicated_spans`): a false collision marks a
    unique window duplicated, and at tens of millions of windows
    32-bit collisions are expected in bulk. The MEASURE twin shares
    the convention so coverage and trim agree on what "duplicated"
    means.
    """
    kk = int(k)
    # r12: same narrow-source spread as the APPLY twin below.
    df = _ensure_parallelism(df, id_col)
    toks = df.select(
        F.col(id_col), tokens_col(F.col(text_col)).alias("__tk")
    )
    sized = toks.select(
        id_col, "__tk", F.size("__tk").cast("long").alias("n_toks")
    ).where(F.col("n_toks") >= kk)
    wins = (
        sized.select(
            id_col,
            F.transform(F.col("__tk"), lambda t: sha_hash60(t)).alias(
                "__th"
            ),
        )
        .select(
            id_col,
            posexplode_nofilter(
                rolling_window_hash60_col(F.col("__th"), kk)
            ).alias("__p0", "wh"),
        )
        .select(id_col, (F.col("__p0") + 1).alias("pos"), "wh")
    )
    # ONE exchange on the window hash: the duplicated-flag comes from a
    # count() OVER (PARTITION BY wh) instead of a separate dup-hash agg
    # joined back (r12 — the agg+join shape exchanged the window set
    # for the agg AND paid a second pass for the join-back, behind a
    # localCheckpoint; the window shape is single-pass. A hot window
    # content (the boilerplate this family exists to find) concentrates
    # its group in one task, where the agg shape's partial agg would
    # have combined map-side — but the group rows are ~30 B and
    # WindowExec buffers through ExternalAppendOnlyUnsafeRowArray,
    # which SPILLS: a pathological group degrades to disk speed, never
    # OOM. The APPLY twin shares the shape.)
    wdup = Window.partitionBy("wh")
    flagged = (
        wins.withColumn("__c", F.count(F.lit(1)).over(wdup))
        .where(F.col("__c") >= 2)
        .select(id_col, "pos")
    )
    wnd = Window.partitionBy(id_col).orderBy("pos")
    agg = (
        flagged.withColumn(
            "__cov",
            F.least(
                F.lit(kk),
                F.coalesce(
                    F.lead("pos").over(wnd) - F.col("pos"), F.lit(kk)
                ),
            ),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_dup_windows"),
            F.sum("__cov").alias("covered_tokens"),
        )
    )
    return (
        sized.select(id_col, "n_toks")
        .join(agg, id_col, "left")
        .select(
            id_col,
            "n_toks",
            F.coalesce(F.col("n_dup_windows"), F.lit(0)).alias(
                "n_dup_windows"
            ),
            F.coalesce(F.col("covered_tokens"), F.lit(0)).alias(
                "covered_tokens"
            ),
            # single integer division — identical doubles in any
            # engine, no order-dependent accumulation to pin
            F.round(
                F.coalesce(F.col("covered_tokens"), F.lit(0))
                / F.col("n_toks"),
                4,
            ).alias("coverage"),
        )
    )


def remove_duplicated_spans(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    with_stats: bool = False,
) -> DataFrame:
    """ExactSubstr dedup APPLY (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): for every ``k``-token
    window whose content occurs >= 2 times ANYWHERE in the corpus, keep
    its FIRST occurrence — minimum (id, window start) in the global
    order, a deterministic SQL-replayable stand-in for the paper's
    keep-one rule — and remove the window's tokens from every other
    occurrence. The sub-document counterpart of
    :func:`keep_representatives`: a unique page quoting a license
    header loses the header and keeps the page, where whole-document
    dedup would either miss it or drop the page
    (:func:`substring_duplicate_coverage` is the MEASURE twin of this
    APPLY; both share the window-hash kernel and the k-window union
    closed form's positions).

    Returns the corpus with ``text_col`` rewritten; documents with no
    removed window pass through with text OBJECT identity preserved
    (the left join misses). ``with_stats=True`` appends ``n_tokens``
    (original token count) and ``n_removed`` (tokens dropped) — both
    derived from state the trim already computed, so consumers that
    want a trim report (the ``pipeline_exactsubstr_trim`` gate shape)
    avoid re-tokenizing the corpus AND the rebuilt text. Untouched
    documents carry ``n_removed = 0`` and a NULL ``n_tokens``
    (computing it would cost exactly the tokenize pass the option
    exists to avoid). Overlapping removed windows union exactly
    (distinct expanded positions), and a window is compared by CONTENT
    (hash), so a phrase repeated inside one document collapses to its
    first occurrence too.

    Scale shape: one sha256 per TOKEN + a rotate-XOR rolling window
    key (:func:`rolling_window_hash60_col`, r12 — the old shape built
    and sha'd a ~k-token string per window, the pass's dominant CPU),
    one explode (n-k+1 windows/doc), ONE exchange of the window rows
    on the 60-bit hash with keep-first flags from count()+min(struct)
    OVER (PARTITION BY wh) (r12 — replaces the dup-hash agg +
    join-back behind a localCheckpoint: single-pass, one window-set
    exchange instead of two at scale; 60-bit because this is a
    DESTRUCTIVE apply — a false collision silently deletes k real
    tokens, and 32-bit birthday collisions are expected in bulk at
    corpus scale), one per-doc sorted-set agg, then pure JVM array
    lambdas on each doc's own row — the corpus text itself never shuffles
    (rebuild happens on the original rows via a hash join on
    ``id_col``). The rebuild is LINEAR in document length: a boolean
    keep-mask is assembled from the sorted removed positions (each
    removal contributes its preceding gap of Trues plus one False —
    O(n_toks + n_removed) array work) and zipped against the token
    array once. The per-token ``array_contains(removed, i)`` membership
    shape is O(n_toks x n_removed) per document — invisible on
    ~100-token web docs, a cliff on book-length documents (10^5 tokens
    mostly duplicated => 10^10 comparisons on ONE row; the r11
    long-document staging measures both shapes). The oracle replays
    the same hash convention and semantics."""
    kk = int(k)
    # r12: spread a narrow source before the per-token sha pass — the
    # map-only corpus pass is this operator's CPU and a single-split
    # table serializes it onto one core (no-op on a wide input; both
    # consumers of the spread frame reuse one exchange).
    df = _ensure_parallelism(df, id_col)
    wins = (
        df.select(
            F.col(id_col), tokens_col(F.col(text_col)).alias("__tk")
        )
        .select(id_col, F.size("__tk").alias("__n"), "__tk")
        .where(F.col("__n") >= kk)
        .select(
            id_col,
            "__n",
            # one sha per TOKEN; the window key is the rotate-XOR fold
            # of the bound token hashes (rolling_window_hash60_col,
            # r12) — not a per-window slice+join+sha of a ~k-token
            # string, which was the dominant CPU of this pass
            F.transform(F.col("__tk"), lambda t: sha_hash60(t)).alias(
                "__th"
            ),
        )
        .select(
            id_col,
            F.col("__n").alias("__nt"),
            posexplode_nofilter(
                rolling_window_hash60_col(F.col("__th"), kk)
            ).alias("__p0", "wh"),
        )
        .select(id_col, "__nt", (F.col("__p0") + 1).alias("pos"), "wh")
    )
    # keep-first flags from count() + min(struct) OVER (PARTITION BY
    # wh) — r12, same single-exchange argument as the MEASURE twin:
    # the previous shape ran a dup-hash agg AND joined it back to a
    # localCheckpointed copy of the window rows (two consumers, two
    # window-set exchanges at scale, one materialization); this is one
    # pass over one exchange. Hot-window groups (the boilerplate this
    # operator removes) buffer through WindowExec's spilling row array
    # — disk speed on a pathological key, never OOM.
    wdup = Window.partitionBy("wh")
    # Expand window starts to TOKEN indices BEFORE the per-doc agg: the
    # collect_set dedups overlapping windows once per doc, and the
    # rebuild filter below scans a STORED array attribute. Building the
    # expanded-union array as an expression in the rebuild projection
    # instead (transform+flatten+array_distinct over the window starts)
    # re-evaluates it per token once projection collapse inlines it into
    # the filter lambda — the same recompute-cliff class as the r9
    # span-scrub bug; the 10x-replica staging (45k docs rebuilt, every
    # window duplicated) ran 8+ minutes in that shape and 19s in this
    # one. A window always fits its document (pos <= n-k+1), so the
    # expanded indices need no capping.
    removals = (
        wins.select(
            id_col,
            "__nt",
            "pos",
            F.count(F.lit(1)).over(wdup).alias("__c"),
            F.min(F.struct(F.col(id_col), F.col("pos")))
            .over(wdup)
            .alias("__first"),
        )
        .where(
            (F.col("__c") >= 2)
            & (
                (F.col(id_col) != F.col("__first").getField(id_col))
                | (F.col("pos") != F.col("__first").getField("pos"))
            )
        )
        .select(
            id_col,
            "__nt",
            F.explode(
                F.sequence(F.col("pos") - 1, F.col("pos") + kk - 2)
            ).alias("__i"),
        )
        .groupBy(id_col)
        # sorted in the agg (once per doc) — the mask build below
        # consumes positions in ascending order; the token count rides
        # along so the stats option never re-tokenizes
        .agg(
            F.sort_array(F.collect_set("__i")).alias("__poss"),
            F.first("__nt").alias("__nt"),
        )
    )
    joined = df.join(removals, id_col, "left")
    toks = tokens_col(F.col(text_col))
    # LINEAR keep-mask rebuild (r11; replaces the per-token
    # array_contains membership test, which was O(n_toks x removals)
    # per doc — quadratic on book-length documents). See keep_mask_col.
    # The mask length comes from the aggregated __nt attribute (equal
    # to size(toks) by construction), not size(tokens_col(...)) — no
    # extra tokenize.
    mask = keep_mask_col(F.col("__poss"), F.col("__nt"))
    cleaned = F.concat_ws(" ", apply_keep_mask_col(toks, mask))
    out = joined.withColumn(
        text_col,
        F.when(F.col("__poss").isNull(), F.col(text_col)).otherwise(cleaned),
    )
    if with_stats:
        out = out.withColumn(
            "n_tokens", F.col("__nt").cast("long")
        ).withColumn(
            "n_removed",
            F.coalesce(F.size("__poss"), F.lit(0)).cast("long"),
        )
    return out.drop("__poss", "__nt")


def _shingled(
    df: DataFrame, *, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, shingles): the word-``n``-gram shingle sets every shingle
    path starts from, after the single-split parallelism guard."""
    return _ensure_parallelism(df, id_col).select(
        F.col(id_col), word_shingles_col(F.col(text_col), n).alias("shingles")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact word-n-gram Jaccard near-duplicate pairs (id_a < id_b).

    This is the reference-shaped base formulation (plain co-count
    join): quadratic per hot shingle and per identical-text cluster.
    Production callers want :func:`ngram_jaccard_pairs_collapsed`
    (identical output; identical-set collapse + ``method="auto"``
    hot-shingle routing) or :func:`ngram_dup_cluster_edges` when only
    connectivity is needed downstream."""
    return _exact_jaccard_pairs(
        _shingled(df, id_col=id_col, text_col=text_col, n=n),
        id_col=id_col,
        threshold=threshold,
    )


def _shingle_set_groups(
    df: DataFrame, *, id_col: str, text_col: str, n: int
) -> tuple[DataFrame, DataFrame]:
    """Collapse documents with IDENTICAL word-``n``-gram shingle SETS
    into groups — the mega-duplicate-cluster guard for the exact-Jaccard
    pair generators.

    Jaccard is a pure function of the two shingle sets, so every member
    of a group behaves identically against every other document: the
    quadratic co-count join only needs to run over one REPRESENTATIVE
    (min id) per group, and results expand back exactly afterwards. A
    crawl's identical-boilerplate cluster (the co-count join's worst
    case: R copies sharing S shingles cost R^2*S join rows) collapses
    to ONE row before the join — no recall loss, because only
    provably-identical sets collapse. The group key is
    sha256 over the JSON encoding of the SORTED shingle array (shingles
    are already distinct; JSON escaping makes the encoding injective —
    no join-separator ambiguity), i.e. a fingerprint of the set itself,
    not of the raw text — docs differing only in whitespace/token order
    that yield the same set still group.

    Returns ``(members, groups)``: members = (id, __g); groups =
    (__g, __rep, shingles, __gsize) with one row per distinct shingle
    set, carrying the representative's shingle array for the rep-grain
    pair join (picked up via min_by in the same agg — no join-back
    pass)."""
    shingled = _shingled(df, id_col=id_col, text_col=text_col, n=n)
    hashed = shingled.select(
        id_col,
        "shingles",
        F.sha2(F.to_json(F.array_sort("shingles")), 256).alias("__g"),
    )
    members = hashed.select(id_col, "__g")
    groups = hashed.groupBy("__g").agg(
        F.min(id_col).alias("__rep"),
        F.min_by("shingles", F.col(id_col)).alias("shingles"),
        F.count(F.lit(1)).alias("__gsize"),
    )
    return members, groups


def choose_pair_method(
    shingled: DataFrame,
    *,
    cocount_budget_rows: int = 50_000_000,
    cocount_budget_ratio: float = 16.0,
) -> tuple[str, dict]:
    """Route an exact-Jaccard pair join — ``"cocount"`` vs ``"prefix"``
    — from ONE bounded aggregation over the corpus's shingle
    document-frequency distribution. This is the mechanized form of the
    selection rule the r9 100x organic staging (SCALE.md, docs/scale.md)
    established: on a crawl-shaped Zipfian vocabulary the head shingles
    are shared by thousands of documents each, the co-count join is
    quadratic per hot shingle (12s -> 261s for 10x data at 50k docs,
    DNF at 500k), while the AllPairs prefix route never joins on head
    shingles and stays near-linear; on benign corpora (shared shingles
    rare) co-count's two-shuffle plan wins outright.

    The decision statistic is EXACT, not sampled: the co-count join
    materializes precisely ``C = sum_sh df*(df-1)/2`` pair rows (df =
    per-shingle document frequency over ``shingled``, shingle arrays
    are distinct within a doc), so one explode + count + single-row agg
    yields the true join size before running it. ``"cocount"`` is kept
    iff ``C <= max(cocount_budget_rows, cocount_budget_ratio * E)``
    where ``E = sum_sh df`` is the exploded row count (the linear work
    every route pays): the absolute floor keeps small corpora on the
    cheaper two-shuffle plan regardless of skew (a bounded join is a
    bounded join), and the ratio term caps the quadratic blow-up
    relative to corpus size at any scale — a 100 TB corpus gets a
    proportionally larger budget, a hot-shingle corpus blows past the
    ratio long before the join runs. Shingles are xxhash64'd for the
    decision count (collisions only merge two df counts and INFLATE C
    — errs toward the scale-safe route).

    Returns ``(method, stats)`` with stats carrying ``cocount_rows``,
    ``exploded_rows``, ``max_df`` and the evaluated ``budget`` so
    callers can log the decision. Cost: one shuffle over exploded
    shingle hashes (8-byte keys) + a single-row collect — the same
    order as the first stage of either route it chooses between.
    """
    row = (
        shingled.select(explode_nofilter(F.col("shingles")).alias("__s"))
        .select(F.xxhash64("__s").alias("sh"))
        .groupBy("sh")
        .agg(F.count(F.lit(1)).cast("double").alias("df"))
        .agg(
            F.coalesce(F.sum("df"), F.lit(0.0)).alias("rows"),
            F.coalesce(
                F.sum(F.col("df") * (F.col("df") - F.lit(1.0)) / 2),
                F.lit(0.0),
            ).alias("cocount_rows"),
            F.coalesce(F.max("df"), F.lit(0.0)).alias("max_df"),
        )
        .collect()[0]
    )
    budget = max(
        float(cocount_budget_rows), float(cocount_budget_ratio) * row["rows"]
    )
    method = "cocount" if row["cocount_rows"] <= budget else "prefix"
    return method, {
        "cocount_rows": row["cocount_rows"],
        "exploded_rows": row["rows"],
        "max_df": row["max_df"],
        "budget": budget,
    }


# Memoized auto-route verdicts, keyed (plan semanticHash, data version
# fingerprint) exactly like _SKEW_VERDICT_CACHE: the decision is a pure
# function of the data version (same plan + same immutable parquet part
# files => same shingle distribution), so a per-session corpus re-run —
# a gate suite, an ingestion loop over a standing corpus — pays the
# decision scan once. Either route returns the identical pair set, so a
# (impossible-without-in-place-file-mutation) stale hit could only
# change the plan shape, never the answer. Bounded at 64 entries.
# Values are (method, stats): the decision statistics ride along so a
# telemetry record emitted on a warm hit still carries WHY the route
# was chosen (r12 — a 100-TB operator reading the log after a memoized
# resolution used to see an empty stats dict).
_PAIR_METHOD_CACHE: dict[tuple, tuple[str, dict]] = {}

# Rolling log of auto-route decisions (r11, verdict #6): at 100 TB an
# operator needs to see WHY a job picked prefix over cocount without
# re-running the decision aggregation. Every `method="auto"` resolution
# appends one record here (and emits a logging.INFO line); cache hits
# append too, flagged `cached=True`, carrying the stats the decision
# was originally resolved from (cached with the method, not
# re-measured). Bounded; read with last_pair_route_decisions().
_ROUTE_DECISION_LOG: list[dict] = []
_ROUTE_DECISION_LOG_MAX = 256

_logger = logging.getLogger(__name__)


def _record_route_decision(
    family: str, method: str, stats: dict, *, cached: bool
) -> None:
    rec = {"family": family, "method": method, "cached": cached, **stats}
    _ROUTE_DECISION_LOG.append(rec)
    del _ROUTE_DECISION_LOG[:-_ROUTE_DECISION_LOG_MAX]
    if cached:
        _logger.debug("pair-route decision (memoized): %s", rec)
    else:
        _logger.info(
            "pair-route decision: family=%s method=%s cocount_rows=%.4g "
            "budget=%.4g exploded_rows=%.4g max_df=%g",
            family, method, stats.get("cocount_rows", float("nan")),
            stats.get("budget", float("nan")),
            stats.get("exploded_rows", float("nan")),
            stats.get("max_df", float("nan")),
        )


def last_pair_route_decisions(n: int = 10) -> list[dict]:
    """The most recent ``n`` ``method="auto"`` routing decisions, newest
    last — each a dict with ``family`` (``"jaccard"`` grouped-set or
    ``"containment"``), ``method`` chosen, ``cached`` (memoized hit —
    stats carried over from the original resolution, not re-measured),
    and the :func:`choose_pair_method` statistics (``cocount_rows``,
    ``budget``, ``exploded_rows``, ``max_df``). The same records are
    emitted as ``logging.INFO`` lines on this module's logger at
    decision time — wire that to your job log to see every route
    verdict in a 100-TB run."""
    return list(_ROUTE_DECISION_LOG[-int(n):])


def _resolve_pair_method(
    method: str, groups: DataFrame, *, family: str = "jaccard"
) -> tuple[str, DataFrame]:
    """Shared ``"auto"`` resolution for the collapsed pair generators:
    lazily localCheckpoint the identical-set group frame (the decision
    aggregation and the pair join both read it — one materialization,
    blocks reclaimed by the ContextCleaner when the frame drops), then
    decide on the REPRESENTATIVES' shingle sets, which is exactly what
    the pair join will see. NOTE: resolving ``"auto"`` runs an EAGER
    Spark job (the bounded decision aggregation) at DataFrame-
    CONSTRUCTION time — callers composing plans lazily should pin
    ``method="cocount"``/``"prefix"``. The memo key is computed on the
    PRE-checkpoint frame (a localCheckpoint replaces the plan with a
    fresh LogicalRDD whose semanticHash changes per call — keying on it
    would never hit); the checkpoint happens only after a miss."""
    if method not in ("auto", "cocount", "prefix"):
        raise ValueError(
            f"unknown method: {method!r}; expected auto | cocount | prefix"
        )
    if method != "auto":
        return method, groups
    key = None
    version = _data_version_fingerprint(groups)
    if version is not None:
        try:
            key = (groups.semanticHash(), version)
        except Exception:
            key = None
    if key is not None and key in _PAIR_METHOD_CACHE:
        chosen, stats = _PAIR_METHOD_CACHE[key]
        _record_route_decision(family, chosen, stats, cached=True)
        return chosen, groups
    groups = groups.localCheckpoint(eager=False)
    chosen, stats = choose_pair_method(groups.select("shingles"))
    _record_route_decision(family, chosen, stats, cached=False)
    if key is not None:
        if len(_PAIR_METHOD_CACHE) >= 64:
            _PAIR_METHOD_CACHE.pop(next(iter(_PAIR_METHOD_CACHE)))
        _PAIR_METHOD_CACHE[key] = (chosen, stats)
    return chosen, groups


def _collapsed_rep_pairs(
    df: DataFrame,
    *,
    family: str,
    id_col: str,
    text_col: str,
    n: int,
    threshold: float,
    method: str,
) -> tuple[DataFrame, DataFrame]:
    """Collapse -> route -> representative pairs, shared by the collapsed
    pair generators: identical shingle sets collapse to one
    representative (:func:`_shingle_set_groups`), ``method`` resolves on
    the representatives' sets (:func:`_resolve_pair_method`), and the
    family's co-count or prefix kernel pairs the representatives —
    ``family="jaccard"`` gives canonical (id_a, id_b, jaccard) rows,
    ``"containment"`` directed (contained, container, containment) rows.
    Returns ``(member_reps, rep_pairs)``, member_reps = (id, __rep)
    mapping every document to its group's representative."""
    members, groups = _shingle_set_groups(
        df, id_col=id_col, text_col=text_col, n=n
    )
    method, groups = _resolve_pair_method(method, groups, family=family)
    if family == "containment":
        cocount, prefix = _cocount_containment_pairs, _prefix_containment_pairs
    else:
        cocount, prefix = _exact_jaccard_pairs, _prefix_jaccard_pairs
    kernel = prefix if method == "prefix" else cocount
    reps = groups.select(F.col("__rep").alias(id_col), "shingles")
    member_reps = members.join(groups.select("__g", "__rep"), "__g").select(
        F.col(id_col), F.col("__rep")
    )
    return member_reps, kernel(reps, id_col=id_col, threshold=threshold)


def _expand_rep_pairs(
    member_reps: DataFrame,
    rep_pairs: DataFrame,
    *,
    id_col: str,
    threshold: float,
    directed: bool,
) -> DataFrame:
    """Expand :func:`_collapsed_rep_pairs` output back to every member
    pair — exact, because identical sets score identically: cross-group
    pairs inherit their representative pair's value, within-group pairs
    score 1.0 by construction. Undirected (Jaccard) rows come out
    canonical (``least``/``greatest``, ``<`` within a group); directed
    (containment) rows keep their orientation and take every ordered
    ``!=`` pair within a group.

    The member -> representative map is lazily localCheckpointed: FOUR
    consumers below (both expansion sides of the cross pairs + both
    sides of the within-group self-join), and without the barrier each
    consumer re-runs the full text-scan -> shingle -> sha-of-sorted-set
    pass that feeds it — measured ~5.2s of the dedup_jaccard_exact
    gate's 5.9s at sf0.1 (the pair join itself is 0.66s). The
    materialized frame is two columns, linear in corpus size; blocks are
    reclaimed by the ContextCleaner when the frame drops."""
    a, b, value = (
        ("contained", "container", "containment")
        if directed
        else ("id_a", "id_b", "jaccard")
    )
    mg = member_reps.localCheckpoint(eager=False)
    xa, xb = F.col("__xa"), F.col("__xb")
    cross = (
        rep_pairs.join(
            mg.select(F.col("__rep").alias(a), F.col(id_col).alias("__xa")), a
        )
        .join(
            mg.select(F.col("__rep").alias(b), F.col(id_col).alias("__xb")), b
        )
        .select(
            (xa if directed else F.least(xa, xb)).alias(a),
            (xb if directed else F.greatest(xa, xb)).alias(b),
            value,
        )
    )
    if float(threshold) > 1.0:  # identical sets (value 1.0) don't qualify
        return cross
    l, r = mg.alias("l"), mg.alias("r")
    la, rb = F.col(f"l.{id_col}"), F.col(f"r.{id_col}")
    within = (
        l.join(r, F.col("l.__rep") == F.col("r.__rep"))
        .where(la != rb if directed else la < rb)
        .select(la.alias(a), rb.alias(b), F.lit(1.0).alias(value))
    )
    return cross.unionByName(within)


def ngram_jaccard_pairs_collapsed(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    method: str = "auto",
) -> DataFrame:
    """Identical output to :func:`ngram_jaccard_pairs` (every qualifying
    (id_a < id_b, jaccard) pair), but identical-shingle-set documents
    collapse to one representative BEFORE the quadratic co-count join
    (:func:`_shingle_set_groups`): the join and intersection agg run at
    unique-set grain, then pairs expand back — cross-group pairs inherit
    the representative pair's jaccard (sets identical => same value),
    within-group pairs are jaccard 1.0 by construction. Exact, not
    approximate: only provably-identical sets collapse.

    The OUTPUT is still inherently quadratic in mega-cluster size (R
    identical docs = R(R-1)/2 pairs — that's the answer, not a plan
    artifact); what this removes is the quadratic JOIN/AGG work. When
    only connectivity is needed downstream (components, cluster sizes,
    weights), use :func:`ngram_dup_cluster_edges` — linear output too.

    ``method`` picks the representative-pair joiner exactly as on
    :func:`ngram_dup_cluster_edges`: ``"auto"`` (default) runs the
    bounded :func:`choose_pair_method` aggregation and routes by the
    EXACT co-count join size; ``"cocount"`` pins the two-shuffle plan
    (fastest on benign shingle distributions), ``"prefix"`` pins
    AllPairs for hot-shingle / Zipf-head corpora where any single
    shared shingle mates thousands of documents (jaccard values then
    come from the hashed-shingle verify — same collision caveat as the
    prefix gate). NOTE: ``"auto"`` runs an EAGER Spark job (the
    bounded decision aggregation, memoized per data version) at
    DataFrame-CONSTRUCTION time — pin the method for pure-lazy
    composition; decisions are observable via
    :func:`last_pair_route_decisions`."""
    member_reps, rep_pairs = _collapsed_rep_pairs(
        df, family="jaccard", id_col=id_col, text_col=text_col, n=n,
        threshold=threshold, method=method,
    )
    return _expand_rep_pairs(
        member_reps, rep_pairs,
        id_col=id_col, threshold=threshold, directed=False,
    )


def ngram_dup_cluster_edges(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    method: str = "auto",
) -> DataFrame:
    """Edge list (id_a, id_b) whose connected components are EXACTLY the
    components of the full :func:`ngram_jaccard_pairs` graph, with
    output LINEAR in corpus size: identical-shingle-set groups
    contribute a representative->member star (connectivity-equivalent to
    their clique — every member reaches every other through the rep),
    and qualifying representative pairs carry the cross-group edges
    (identical sets => every member pair qualifies iff the rep pair
    does). The mega-cluster-safe pair source for components / cluster
    sizes / dup-aware weights, where enumerating a clique's R(R-1)/2
    edges buys nothing.

    ``method`` picks the representative-pair joiner. ``"auto"``
    (default) runs :func:`choose_pair_method` — one bounded aggregation
    counting the EXACT co-count join size — and keeps co-count only
    when that size is within budget; the scale-safe default, so a
    crawl-shaped corpus pointed at this function never hits the engine
    that DNF'd. ``"cocount"`` pins the two-shuffle co-count join —
    fastest on corpora whose shared shingles are rare (the
    identical-set collapse already removed exact-duplicate mass).
    ``"prefix"`` pins the AllPairs prefix filter
    (:func:`_prefix_jaccard_pairs`) — identical output, required on
    HOT-SHINGLE corpora: on a realistic Zipfian vocabulary the head
    grams ("of the and"-class) are shared by thousands of documents
    each, every such shingle mates O(k²) co-count rows, and the
    co-count join detonates even after the collapse (SCALE.md 100x-docs
    staging: 16s -> 416s for 10x at 50k docs, unrunnable at 500k; the
    prefix route never joins on head shingles and stays near-linear).
    NOTE: ``"auto"`` runs an EAGER Spark job at construction time
    (memoized per data version; see :func:`last_pair_route_decisions`)
    — pin the method for pure-lazy composition."""
    member_reps, rep_pairs = _collapsed_rep_pairs(
        df, family="jaccard", id_col=id_col, text_col=text_col, n=n,
        threshold=threshold, method=method,
    )
    rep_pairs = rep_pairs.select("id_a", "id_b")
    if float(threshold) > 1.0:  # identical sets (J=1.0) don't qualify
        return rep_pairs
    star = member_reps.where(F.col(id_col) != F.col("__rep")).select(
        F.col("__rep").alias("id_a"), F.col(id_col).alias("id_b")
    )
    return rep_pairs.unionByName(star)


def _cocount_containment_pairs(
    shingled: DataFrame, *, id_col: str, threshold: float
) -> DataFrame:
    """Directed containment pairs from ONE co-count pass over
    pre-shingled rows — both directions fan out of each canonical
    (id_a < id_b) intersection row, so containment costs nothing over
    Jaccard here. Quadratic per hot shingle like every co-count join;
    the caller's ``"auto"`` routing guards that.

    The intersection frame is lazily localCheckpointed: BOTH union
    branches below read it, and without the barrier each branch
    carries its own copy of the join+agg subtree — AQE's exchange
    reuse usually collapses them, but the materialized frame makes
    the single execution structural rather than optimizer-dependent
    (r12 books staging: small consistent win warm, no regression).
    The frame is one row per co-occurring pair, which the ``"auto"``
    router's budget bounds BEFORE this route is chosen; blocks are
    reclaimed by the ContextCleaner when the frame drops."""
    inter = _co_counts(
        _exploded_shingles(shingled, id_col), id_col
    ).localCheckpoint(eager=False)
    t = F.lit(float(threshold))
    fwd = inter.select(
        F.col("id_a").alias("contained"),
        F.col("id_b").alias("container"),
        (F.col("n_inter") / F.col("n_a")).alias("containment"),
    )
    rev = inter.select(
        F.col("id_b").alias("contained"),
        F.col("id_a").alias("container"),
        (F.col("n_inter") / F.col("n_b")).alias("containment"),
    )
    return fwd.unionByName(rev).where(F.col("containment") >= t)


def ngram_containment_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    method: str = "auto",
) -> DataFrame:
    """ASYMMETRIC containment near-duplicate pairs: directed rows
    (contained, container, containment) where
    ``C(A in B) = |shingles(A) ∩ shingles(B)| / |shingles(A)| >=
    threshold`` and A != B.

    Jaccard misses subset duplication by construction: a 50-shingle
    document quoted verbatim inside a 500-shingle page scores
    J ~= 0.1 but containment 1.0 — the quoted-boilerplate /
    aggregator-page case a training-data pipeline must catch (the
    same asymmetry motivates the suffix-array ExactSubstr pass; this
    is its set-grain sibling).

    IDENTICAL-SET COLLAPSE (r11, parity with the Jaccard family):
    containment is a pure function of the two shingle sets, so
    documents with identical sets collapse to one representative
    BEFORE the pair join (:func:`_shingle_set_groups`) and results
    expand back exactly — cross-group directed pairs inherit the
    representative pair's containment, within-group ordered pairs are
    containment 1.0 by construction. A boilerplate cluster of R
    identical docs previously entered the join as R individuals and
    cost R² join rows on the co-count route; now it costs one.

    ``method="cocount"``: both directions come from ONE co-count pass
    (:func:`_co_counts` — the identical two-shuffle plan as
    :func:`ngram_jaccard_pairs`): each canonical (id_a < id_b) pair
    row fans out into up to two directed rows, ``ni/n_a`` and
    ``ni/n_b``, so containment costs nothing over Jaccard. Like every
    co-count join it is quadratic per hot shingle, so ``"auto"``
    (default) runs the same bounded :func:`choose_pair_method`
    aggregation as the Jaccard family — shared memo cache, decided on
    the representatives' sets, which is what the join sees — and
    switches to ``"prefix"`` (:func:`_prefix_containment_pairs` —
    contained-side prefix vs container-side full list) on Zipf-head
    corpora (r10 staging: co-count 31s at 20k Zipfian docs and
    detonating quadratically, prefix near-linear). NOTE:
    ``method="auto"`` runs an EAGER decision job at construction time
    (memoized per data version); pin the method for pure-lazy
    composition."""
    member_reps, rep_pairs = _collapsed_rep_pairs(
        df, family="containment", id_col=id_col, text_col=text_col, n=n,
        threshold=threshold, method=method,
    )
    return _expand_rep_pairs(
        member_reps, rep_pairs,
        id_col=id_col, threshold=threshold, directed=True,
    )


def _prefix_containment_pairs(
    shingled: DataFrame, *, id_col: str, threshold: float
) -> DataFrame:
    """Prefix-filtered exact containment over pre-shingled rows —
    identical output to the co-count formulation of
    :func:`ngram_containment_pairs`, hot-shingle safe.

    The asymmetric adaptation of the AllPairs lemma: ``C(A in B) >= t``
    means ``overlap >= ceil(t * n_a)``, so if NONE of A's first
    ``n_a - ceil(t*n_a) + 1`` shingles (rarest-first global
    document-frequency order, id tie-break) occurs in B, at most
    ``ceil(t*n_a) - 1`` shingles can be shared and the pair cannot
    qualify — the prefix lives on the CONTAINED side only; the
    container side joins its full list (a container has no upper size
    bound, so it gets no prefix). Hot Zipf-head shingles sort LAST in
    every ranked list and therefore almost never enter a contained
    prefix: the join's fan-out per hot shingle is (its tiny
    prefix-side df) x (its full-side df), linear-ish, where the
    co-count join pays df² (r10 staging: 31s at 20k Zipfian docs and
    detonating quadratically).

    Per-row pruning mirrors :func:`_prefix_jaccard_pairs`: a length
    filter (``n_b >= ceil(t*n_a)``) and the first-common-shingle
    position bound (``min(n_a - ra, n_b - rb) + 1 >= ceil(t*n_a)``;
    sound because a qualifying pair's first common shingle sits in the
    contained prefix — no shared shingle precedes it in either list —
    and always passes, same invariant note as the Jaccard kernel).
    Survivors verify exactly on the :func:`_shingle_hash60_frame`
    arrays the ranking was exploded from; same collision caveat as
    every hashed-shingle path here. Both directions fall out of the one
    join because every document appears on the contained side with its
    prefix AND on the container side in full."""
    t = float(threshold)
    sized, ranked = _allpairs_ranked(
        _shingle_hash60_frame(shingled, id_col=id_col), id_col=id_col
    )
    pre = _ranked_side(
        ranked.where(
            F.col("__rn") <= F.col("n_sh") - _tceil(t, F.col("n_sh")) + 1
        ),
        id_col, "contained", "a",
    )
    full = _ranked_side(ranked, id_col, "container", "b")
    alpha = _tceil(t, F.col("n_a"))
    capacity = (
        F.least(F.col("n_a") - F.col("__ra"), F.col("n_b") - F.col("__rb"))
        + 1
    )
    cand = (
        pre.join(full, "sh")
        .where(
            (F.col("contained") != F.col("container"))
            & (F.col("n_b") >= alpha)
            & (capacity >= alpha)
        )
        .select("contained", "container")
        .dropDuplicates(["contained", "container"])
    )
    va = sized.select(
        F.col(id_col).alias("contained"), F.col("__hs").alias("__a")
    )
    vb = sized.select(
        F.col(id_col).alias("container"), F.col("__hs").alias("__b")
    )
    return (
        cand.join(va, "contained")
        .join(vb, "container")
        .withColumn(
            "containment",
            F.size(F.array_intersect("__a", "__b")) / F.size("__a"),
        )
        .where(F.col("containment") >= F.lit(t))
        .select("contained", "container", "containment")
    )


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact word-n-gram Jaccard pairs via PREFIX FILTERING (the
    AllPairs/PPJoin family — Bayardo et al. WWW'07, Xiao et al.
    WWW'08): identical output to :func:`ngram_jaccard_pairs`, far fewer
    candidates at realistic thresholds.

    The co-count formulation joins documents on EVERY shared shingle,
    so one ubiquitous shingle mates everything that contains it. Prefix
    filtering orders each document's shingles by ascending global
    document frequency (rarest first, id tie-break — a total order) and
    joins only on each document's first ``n_sh - ceil(t * n_sh) + 1``
    shingles: if J(x, y) >= t the two prefixes must share a shingle, so
    no qualifying pair is lost, while the frequent shingles that cause
    the candidate blowup sit in the suffixes and never join. A length
    filter (``t*n_a <= n_b`` and vice versa) prunes impossible pairs in
    the same join; survivors are verified exactly on the full shingle
    arrays (:func:`_jaccard_verify`, the same verify the MinHash path
    uses — shingle arrays are distinct, so array-intersect equals the
    co-count).

    WHEN to use which (measured, SCALE.md): on benign corpora (shared
    shingles rare) the co-count's two-shuffle plan wins outright — the
    prefix machinery (document-frequency pass + per-doc ranking +
    per-candidate verify) is pure overhead there. On boilerplate-heavy
    corpora — a template sentence, a license header, a navigation
    footer shared by most documents — every ubiquitous shingle mates
    O(N²) co-count rows and the co-count join detonates, while the
    prefix join never touches those shingles; that skewed-token regime
    at threshold >= ~0.5 is what this variant is for. Verification
    runs on per-document sorted 60-bit-hash arrays (built once from
    the same exploded pass), not string arrays — smaller shuffle,
    cheaper intersects, same collision caveat the co-count join
    already documents. Differentially tested against
    ngram_jaccard_pairs and gated by dedup_jaccard_prefix against the
    same co-count oracle family.
    """
    return _prefix_jaccard_pairs(
        _shingled(df, id_col=id_col, text_col=text_col, n=n),
        id_col=id_col,
        threshold=threshold,
    )


def _shingle_hash60_frame(shingled: DataFrame, *, id_col: str) -> DataFrame:
    """(id, __hs): per-document SORTED 60-bit shingle-hash arrays from
    pre-shingled rows (id, shingles array<string>) — ONE sha256 per
    shingle, lazily localCheckpointed so every consumer reads the
    materialized longs instead of re-tokenizing/re-hashing the corpus.

    The 60-bit key is the prefix kernel's join/verify convention
    (``sha_hash60``); the 32-bit MinHash base (``sha_hash64``) is the
    SAME digest's first 8 hex chars, so ``__hs >> 28`` recovers it
    exactly — one hashed frame serves both the AllPairs verify arrays
    and MinHash signature derivation (the LSH eval gates share it).
    Rows with empty/null shingle arrays are KEPT (callers that must
    drop them filter on ``size(__hs)`` themselves): the banded-LSH side
    folds empty arrays into a null signature exactly as hashing the raw
    shingles would, and filtering here would change its candidate set.

    The sort costs O(k log k) per doc once and makes the array directly
    usable as the exact-verify operand — the groupBy(id)/collect_list
    exchange the kernel previously paid to rebuild per-doc arrays from
    exploded rows is gone (guide §2.4). Blocks are reclaimed by the
    ContextCleaner when the frame drops (no session-lifetime pin)."""
    return shingled.select(
        F.col(id_col),
        F.sort_array(
            F.transform(F.col("shingles"), lambda s: sha_hash60(s))
        ).alias("__hs"),
    ).localCheckpoint(eager=False)


def _tceil(t: float, ncol: Column) -> Column:
    """``ceil(t * n)`` for the AllPairs prefix, length and position
    bounds. Computed in float it can land just ABOVE an exact integer
    (0.55 * 20 = 11.000000000000002 -> ceil 12, true 11), which would
    shorten the prefix below the AllPairs lemma's bound and over-tighten
    the length filter — silently dropping pairs whose score is exactly
    t. Subtracting an epsilon far larger than the product's
    representation error (but far smaller than 1) errs only in the safe
    direction: a longer prefix / looser filter admits extra candidates,
    and the exact verify removes them."""
    return F.ceil(F.lit(t) * ncol - F.lit(1e-9))


def _allpairs_ranked(
    hashed: DataFrame, *, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """The AllPairs ranking (Bayardo et al. WWW'07) both prefix kernels
    share, over a :func:`_shingle_hash60_frame` result. Returns
    ``(sized, ranked)``: sized = (id, __hs, n_sh) for documents with at
    least one shingle — the verify operands; ranked = one (id, n_sh,
    sh, __df, __rn) row per shingle, ``__rn`` numbering each document's
    hashes rarest-first by global document frequency with the hash as
    tie-break — a total order every document shares, so hot head
    shingles sort last and stay out of the prefixes. Re-exploding the
    materialized long arrays per consumer is a cheap Generate over a
    LogicalRDD — no sha, no string handling."""
    sized = hashed.select(
        id_col, "__hs", F.size("__hs").alias("n_sh")
    ).where(F.col("n_sh") > 0)
    ex = sized.select(
        id_col, "n_sh", explode_nofilter(F.col("__hs")).alias("sh")
    )
    dfreq = ex.groupBy("sh").agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy(id_col).orderBy(
        F.col("__df").asc(), F.col("sh").asc()
    )
    return sized, ex.join(dfreq, "sh").withColumn(
        "__rn", F.row_number().over(w)
    )


def _ranked_side(
    ranked: DataFrame, id_col: str, pair_id: str, side: str
) -> DataFrame:
    """One side of a prefix kernel's shingle join: (``pair_id``,
    ``n_<side>``, ``__r<side>``, sh) rows from :func:`_allpairs_ranked`."""
    return ranked.select(
        F.col(id_col).alias(pair_id),
        F.col("n_sh").alias(f"n_{side}"),
        F.col("__rn").alias(f"__r{side}"),
        "sh",
    )


def _prefix_jaccard_pairs(
    shingled: DataFrame, *, id_col: str, threshold: float
) -> DataFrame:
    """Prefix-filtered exact Jaccard over pre-shingled rows (id,
    shingles array<string>) — the AllPairs kernel behind
    :func:`ngram_jaccard_pairs_prefix`, factored out so callers that
    already hold shingle sets (identical-set representatives in
    :func:`ngram_dup_cluster_edges`) can route hot-shingle corpora
    through it without re-shingling."""
    return _prefix_jaccard_pairs_hashed(
        _shingle_hash60_frame(shingled, id_col=id_col),
        id_col=id_col,
        threshold=threshold,
    )


def _prefix_jaccard_pairs_hashed(
    hashed: DataFrame, *, id_col: str, threshold: float
) -> DataFrame:
    """The AllPairs kernel over a :func:`_shingle_hash60_frame` result —
    split out so the LSH eval gates can share ONE hashed frame between
    this exact side and the banded-candidate side."""
    t = float(threshold)
    sized, ranked = _allpairs_ranked(hashed, id_col=id_col)
    pre = ranked.where(
        F.col("__rn") <= F.col("n_sh") - _tceil(t, F.col("n_sh")) + 1
    )
    a = _ranked_side(pre, id_col, "id_a", "a")
    b = _ranked_side(pre, id_col, "id_b", "b")
    # PPJoin POSITION filter (Xiao et al. WWW'08 §3.2): both docs'
    # shingle lists are sorted by the same (global df, sh) total order.
    # The capacity bound overlap <= min(n_a - ra, n_b - rb) + 1 holds
    # for the pair's FIRST common shingle (no shared shingles can
    # precede it in either list); on later match rows shared shingles
    # MAY precede the matched one and the bound does not hold. The
    # filter is nonetheless sound because a qualifying pair always
    # survives via its first-common-shingle row before dropDuplicates
    # — do NOT tighten it to prune per-row without revisiting this. The
    # Jaccard threshold in overlap terms is o >= ceil(t/(1+t) *
    # (n_a + n_b)); rows whose capacity bound can't reach it are pruned
    # BEFORE the pair ever fetches its full arrays for the verify.
    alpha = _tceil(t / (1.0 + t), F.col("n_a") + F.col("n_b"))
    capacity = (
        F.least(F.col("n_a") - F.col("__ra"), F.col("n_b") - F.col("__rb"))
        + 1
    )
    cand = (
        a.join(b, "sh")
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("n_b") >= _tceil(t, F.col("n_a")))
            & (F.col("n_a") >= _tceil(t, F.col("n_b")))
            & (capacity >= alpha)
        )
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # verify arrays come straight from the materialized per-doc sorted
    # arrays — no groupBy/collect_list exchange to rebuild them
    return _jaccard_verify(
        cand,
        sized.select(F.col(id_col).alias("id_a"), F.col("__hs").alias("sh_a")),
        sized.select(F.col(id_col).alias("id_b"), F.col("__hs").alias("sh_b")),
        t,
    )


def minhash_signatures(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    cache: bool = True,
) -> DataFrame:
    """(id, shingles, sig): the shared MinHash prep for every banded
    dedup path — shingle, hash each shingle ONCE (separate projection so
    CollapseProject can't inline the sha256 into all seed derivations),
    derive the signature with affine arithmetic. ``cache=True`` wraps the
    frame in a lazy ``localCheckpoint`` so the band-join + verify-fetch-
    back double consumption computes it once: the same optimizer barrier
    as ``cache()``, but its blocks are released when the frame is
    dropped instead of pinning a CacheManager entry for the session's
    life. Pass ``cache=False`` when YOU persist it (e.g. the
    standing-corpus side of a per-batch ingestion loop — persist once,
    reuse every batch, unpersist on corpus rollover)."""
    shingled = _shingled(df, id_col=id_col, text_col=text_col, n=n)
    sig = (
        shingled.withColumn("hs", shingle_hashes_col(F.col("shingles")))
        .withColumn("sig", minhash_signature_col(F.col("hs"), num_hashes))
        .drop("hs")
    )
    return sig.localCheckpoint(eager=False) if cache else sig


def _jaccard_col(a: str, b: str) -> Column:
    """Exact Jaccard ``|a ∩ b| / |a ∪ b|`` of two distinct-element
    arrays (shingle sets or their sorted 60-bit hashes)."""
    inter = F.size(F.array_intersect(a, b))
    return inter / (F.size(a) + F.size(b) - inter)


def _agreement_col(a: str, b: str) -> Column:
    """Matching positions of two equal-length MinHash signatures;
    divided by their length it is the unbiased Jaccard estimate
    (E[matches/k] = J)."""
    return F.size(
        F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda m: m)
    )


def _jaccard_verify(
    candidates: DataFrame,
    side_a: DataFrame,
    side_b: DataFrame,
    threshold: float,
    score: Column | None = None,
) -> DataFrame:
    """Verify (id_a, id_b) candidates against two sides keyed ``id_a`` /
    ``id_b``: keep ``(id_a, id_b, jaccard)`` rows whose ``score`` is at
    least ``threshold``. The default score is the exact Jaccard of the
    sides' ``sh_a`` / ``sh_b`` arrays; the signature-agreement verifies
    pass their estimate instead. The shared tail of the AllPairs kernel
    and every banded MinHash path."""
    if score is None:
        score = _jaccard_col("sh_a", "sh_b")
    return (
        candidates.join(side_a, "id_a")
        .join(side_b, "id_b")
        .withColumn("jaccard", score)
        .where(F.col("jaccard") >= F.lit(float(threshold)))
        .select("id_a", "id_b", "jaccard")
    )


def _band_candidates(sig: DataFrame, id_col: str, bands: int, rows_per_band: int) -> DataFrame:
    """(id_a, id_b) candidate pairs from a minhash-signature frame: band
    the signatures, self-join on the band key, dedup. The wide shuffle
    carries two longs + a short hash, never the shingle arrays."""
    banded = sig.select(
        id_col,
        F.explode(lsh_band_keys_col(F.col("sig"), bands, rows_per_band)).alias("band"),
    )
    return (
        banded.alias("a")
        .join(banded.alias("b"), "band")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_lsh_candidates(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
) -> DataFrame:
    """UNVERIFIED LSH candidate pairs — the banding stage alone, exposed
    for recall evaluation (``dedup_lsh_recall``) and for pipelines that
    verify with a different similarity than Jaccard. Same banding as
    :func:`minhash_lsh_pairs`; output is a superset of its pairs."""
    sig = minhash_signatures(
        df, id_col=id_col, text_col=text_col, n=n, num_hashes=num_hashes,
        cache=False,
    )
    return _band_candidates(sig, id_col, bands, num_hashes // bands)


def lsh_eval_pair_sets(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.3,
) -> tuple[DataFrame, DataFrame]:
    """(exact_pairs, candidate_pairs) for the LSH precision/recall eval
    gates, from ONE tokenize+shingle+sha pass over the corpus.

    ``exact_pairs`` is exactly :func:`ngram_jaccard_pairs_prefix`'s
    output at ``threshold``; ``candidate_pairs`` is exactly
    :func:`minhash_lsh_candidates`'s. Composing those two operators
    instead runs the whole tokenize -> n-gram -> sha-per-shingle pass
    TWICE (the two subtrees diverge below the first exchange, so
    ReuseExchange cannot deduplicate them); here both sides read one
    lazily-materialized :func:`_shingle_hash60_frame`. The MinHash base
    hashes derive from the shared 60-bit keys as ``__hs >> 28`` — the
    first 8 hex chars of the same sha256 digest, bit-for-bit what
    ``shingle_hashes_col`` computes (pinned by
    ``test_hash64_is_hash60_shifted``) — so signatures, band keys and
    the candidate set are unchanged."""
    shingled = _shingled(df, id_col=id_col, text_col=text_col, n=n)
    hashed = _shingle_hash60_frame(shingled, id_col=id_col)
    exact = _prefix_jaccard_pairs_hashed(
        hashed, id_col=id_col, threshold=threshold
    )
    sig = hashed.select(
        F.col(id_col),
        minhash_signature_col(
            F.transform(F.col("__hs"), lambda h: F.shiftright(h, 28)),
            num_hashes,
        ).alias("sig"),
    )
    cand = _band_candidates(sig, id_col, bands, num_hashes // bands)
    return exact, cand


def minhash_lsh_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    verify: str = "exact",
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs, exact-Jaccard verified.

    Candidate generation never compares all pairs: docs meet only inside a
    band bucket. At scale the band-key join is the only wide shuffle, and
    its key is a 64-hex band hash — skew-free by construction. Verified
    pairs carry their exact Jaccard, so output ⊆ ngram_jaccard_pairs with
    LSH-probabilistic recall.

    ``verify="estimate"`` verifies candidates by SIGNATURE AGREEMENT
    instead (matching positions / num_hashes — the unbiased MinHash
    estimator, E[matches/k] = J): the verify join then fetches 16 longs
    per side instead of the full shingle arrays, the dominant shuffle
    of the exact path at corpus scale. The returned ``jaccard`` column
    is the estimate (granularity 1/num_hashes; spread measured per
    corpus by the ``dedup_minhash_estimate`` calibration gate — run it
    before trusting the estimator as the production verify).
    """
    sig = minhash_signatures(
        df, id_col=id_col, text_col=text_col, n=n, num_hashes=num_hashes
    )
    candidates = _band_candidates(sig, id_col, bands, num_hashes // bands)
    if verify == "estimate":
        col, a, b = "sig", "sig_a", "sig_b"
        score = _agreement_col(a, b) / F.lit(float(num_hashes))
    elif verify == "exact":
        col, a, b, score = "shingles", "sh_a", "sh_b", None
    else:
        raise ValueError(f"unknown verify: {verify!r}")
    # fetch signatures / shingles back only for the (few) candidate pairs
    return _jaccard_verify(
        candidates,
        sig.select(F.col(id_col).alias("id_a"), F.col(col).alias(a)),
        sig.select(F.col(id_col).alias("id_b"), F.col(col).alias(b)),
        threshold,
        score,
    )


def minhash_band_sweep(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands_grid: tuple[int, ...] = (2, 4, 8, 16),
    threshold: float = 0.1,
) -> DataFrame:
    """Banding tuning curve — (bands, rows_per_band, n_candidates,
    n_verified, precision) for every split in ``bands_grid`` of ONE
    ``num_hashes``-long MinHash signature. The knob sweep a dedup
    deployment runs before fixing its banding: more bands = higher
    recall = more candidate pairs to verify; this measures the price.

    Mega-cluster safe: identical word-n-gram shingle SETS collapse to
    one representative (:func:`_shingle_set_groups`) before any join.
    Identical sets imply identical signatures, hence identical band
    keys in every config, so candidate/verified COUNTS expand back
    arithmetically — cross-group rep pairs multiply by
    ``gsize_a * gsize_b``, within-group pairs contribute
    ``C(gsize, 2)`` to every config (they share all bands). A crawl's
    boilerplate cluster of R copies costs ONE banded row, not R^2/2
    join rows — count-grain expansion means the quadratic answer is
    never even enumerated (unlike the pair-output gates, where the
    answer itself is quadratic). Exact: only provably-identical sets
    collapse, and the expansion is the identity the collapse proves.

    The signature pass runs once; a generated explode fans each rep's
    band keys across all configs with the config id baked into the key,
    so one self-join serves the whole grid."""
    if threshold > 1.0:
        raise ValueError("threshold > 1.0 would verify nothing")
    for b in bands_grid:
        if num_hashes % b:
            raise ValueError(f"bands={b} does not divide num_hashes={num_hashes}")
    _, groups = _shingle_set_groups(
        df, id_col=id_col, text_col=text_col, n=n
    )
    reps = (
        groups.withColumn("hs", shingle_hashes_col(F.col("shingles")))
        .withColumn("sig", minhash_signature_col(F.col("hs"), num_hashes))
        .select("__rep", "__gsize", "shingles", "sig")
        .cache()
    )

    def _cfg_entries(b: int):
        return F.transform(
            lsh_band_keys_col(F.col("sig"), b, num_hashes // b),
            lambda k: F.struct(
                F.lit(b).cast("long").alias("bands"),
                F.concat(F.lit(f"{b}|"), k).alias("band"),
            ),
        )

    banded = reps.select(
        "__rep",
        F.explode(
            F.flatten(F.array(*[_cfg_entries(b) for b in bands_grid]))
        ).alias("e"),
    ).select(
        "__rep", F.col("e.bands").alias("bands"), F.col("e.band").alias("band")
    )
    cross = (
        banded.alias("a")
        .join(banded.alias("b"), "band")
        .where(F.col("a.__rep") < F.col("b.__rep"))
        .select(
            F.col("a.bands").alias("bands"),
            F.col("a.__rep").alias("rep_a"),
            F.col("b.__rep").alias("rep_b"),
        )
        .dropDuplicates(["bands", "rep_a", "rep_b"])
    )
    ga = reps.select(
        F.col("__rep").alias("rep_a"),
        F.col("__gsize").alias("gs_a"),
        F.col("shingles").alias("sh_a"),
    )
    gb = reps.select(
        F.col("__rep").alias("rep_b"),
        F.col("__gsize").alias("gs_b"),
        F.col("shingles").alias("sh_b"),
    )
    weighted = (
        cross.join(ga, "rep_a")
        .join(gb, "rep_b")
        .select(
            "bands",
            (F.col("gs_a") * F.col("gs_b")).alias("w"),
            F.when(_jaccard_col("sh_a", "sh_b") >= F.lit(float(threshold)), 1)
            .otherwise(0)
            .alias("ok"),
        )
        .groupBy("bands")
        .agg(
            F.sum("w").alias("cross_cand"),
            F.sum(F.col("w") * F.col("ok")).alias("cross_ver"),
        )
    )
    # within-group pairs share ALL bands in every config and verify at
    # jaccard 1.0 — one scalar, identical for each grid entry
    within = reps.agg(
        F.coalesce(
            F.sum(F.col("__gsize") * (F.col("__gsize") - 1) / 2), F.lit(0)
        )
        .cast("long")
        .alias("within")
    )
    grid = df.sparkSession.createDataFrame(
        [(int(b), int(num_hashes // b)) for b in bands_grid],
        "bands long, rows_per_band long",
    )
    return (
        grid.join(weighted, "bands", "left")
        .crossJoin(F.broadcast(within))
        .select(
            "bands",
            "rows_per_band",
            (F.coalesce("cross_cand", F.lit(0)) + F.col("within")).alias(
                "n_candidates"
            ),
            (F.coalesce("cross_ver", F.lit(0)) + F.col("within")).alias(
                "n_verified"
            ),
        )
        .withColumn(
            "precision",
            F.round(F.col("n_verified") / F.col("n_candidates"), 6),
        )
        .orderBy("bands")
    )


def simhash_fingerprints(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc 32-bit SimHash fingerprint (bigint).

    Bulk path: explode tokens -> one sha256-derived int per token (its own
    projection, hashed once) -> 32 conditional-sum bit votes as codegen'd
    partial aggregates -> recombine. Identical output to the column-level
    fold ``simhash32_col`` (kept for per-row use), but the aggregation is
    whole-stage-codegen'd and map-side partial — the shape that survives a
    100 TB corpus.
    """
    toks = df.select(
        F.col(id_col), F.explode(tokens_col(F.col(text_col))).alias("tok")
    )
    hashed = toks.select(id_col, sha_hash64(F.col("tok")).alias("h"))
    votes = hashed.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, F.lit(1)
                ).otherwise(F.lit(-1))
            ).alias(f"v{b}")
            for b in range(32)
        ]
    )
    combined = votes.select(
        F.col(id_col),
        sum(
            [
                F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
                    F.lit(0).cast("long")
                )
                for b in range(32)
            ],
            F.lit(0).cast("long"),
        ).alias("simhash"),
    )
    return combined


def simhash_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 4,
    band_bits: int = 4,
) -> DataFrame:
    """SimHash near-duplicate pairs (hamming distance <= max_hamming).

    Candidates via banding the 32-bit fingerprint into ``32/band_bits``
    bands — a pair within hamming distance (bands-1) shares at least one
    exact band (pigeonhole), so recall is exact iff
    ``max_hamming <= 32/band_bits - 1``. The default band_bits=4 gives 8
    bands, exact up to hamming 7; configurations that would silently drop
    qualifying pairs are rejected.
    """
    if max_hamming > 32 // band_bits - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the pigeonhole guarantee of "
            f"{32 // band_bits} bands (exact only for hamming <= "
            f"{32 // band_bits - 1}); lower band_bits or max_hamming"
        )
    # cache: the fingerprint fold is the expensive part; without a
    # materialization barrier it recomputes once per band per join side
    df = _ensure_parallelism(df, id_col)
    fp = simhash_fingerprints(df, id_col=id_col, text_col=text_col).cache()
    # no blocking count — see _exact_jaccard_pairs for why cache() alone
    # is both the optimizer barrier and race-safe
    n_bands = 32 // band_bits
    mask = (1 << band_bits) - 1
    banded = fp.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_no"),
                        F.shiftright(F.col("simhash"), b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "simhash", "band.band_no", "band.band_val")
    left = banded.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("h_a"), "band_no", "band_val"
    )
    right = banded.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("h_b"), "band_no", "band_val"
    )
    return (
        left.join(right, ["band_no", "band_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "h_a", "h_b")
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def embedding_neardup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, sim >= threshold).

    Declarative self-join; Catalyst broadcasts the smaller side. For index
    sizes beyond broadcast, route through operators.knn.gemm_topk_join with
    the table as both probes and index.
    """
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", cosine_similarity(F.col("v_a"), F.col("v_b")))
        .where(F.col("cos_sim") >= F.lit(threshold))
        .select("id_a", "id_b", "cos_sim")
    )


def gemm_neardup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    sim_alias: str = "cos_sim",
) -> DataFrame:
    """Embedding-cosine near-dup pairs via per-partition numpy GEMM.

    The (broadcastable) full matrix ships to every partition once; each
    partition multiplies its slice against it in one BLAS call and emits
    only pairs (id_a < id_b) above the threshold — work per partition is
    O(rows_part · N · d) vectorized, output is only the survivors. ~50×
    faster than the expression-fold pair join for d=64. For tables beyond
    broadcast size, generate candidates with an LSH/band bucketing first
    (see minhash_lsh_pairs) and verify only candidates.
    """
    import numpy as np
    import pandas as pd

    from wagtail_vector_index_spark.operators.knn import _unit_rows

    rows = df.select(id_col, vec_col).collect()
    ids = np.array([r[0] for r in rows])
    bc = df.sparkSession.sparkContext.broadcast(
        (ids, _unit_rows([r[1] for r in rows]))
    )
    thr = float(threshold)

    id_type = df.schema[id_col].dataType
    schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField(sim_alias, T.DoubleType()),
        ]
    )

    def _pairs(batches):
        all_ids, all_unit = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            part_ids = pdf[id_col].to_numpy()
            sims = _unit_rows(pdf[vec_col].tolist()) @ all_unit.T
            ra, ca = np.where(sims >= thr)
            keep = part_ids[ra] < all_ids[ca]
            yield pd.DataFrame(
                {
                    "id_a": part_ids[ra[keep]],
                    "id_b": all_ids[ca[keep]],
                    sim_alias: sims[ra[keep], ca[keep]],
                }
            )

    return df.select(id_col, vec_col).mapInPandas(_pairs, schema=schema)


def block_neardup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    blocks: int = 8,
    sim_alias: str = "cos_sim",
) -> DataFrame:
    """Exact embedding-cosine near-dup pairs via *distributed* block GEMM —
    the scale-safe sibling of :func:`gemm_neardup_pairs` (which broadcasts
    the full matrix from the driver and therefore caps out at driver
    memory).

    Rows are hashed into ``blocks`` blocks; every unordered block pair
    (i <= j) becomes one group holding block i's rows (side a) and block
    j's (side b), and each group runs the shared chunked pair kernel
    (``knn._cosine_slabs``) emitting only the pairs above threshold.
    Work is O(N²/B²) per group spread over B(B+1)/2
    groups; shuffle volume is ~B copies of each row — choose B ~ cluster
    width at 100 TB. Nothing ever collects to the driver, no side needs to
    broadcast, and the result is exactly the all-pairs answer (each
    unordered row pair lands in exactly one block-pair group).

    The B-fold replication is a single generated-column explode (each row
    computes its own B (bi, bj, side) targets), not a join against a
    block-pair table — one narrow scan-project-explode pipeline into the
    group shuffle, measured ~2x faster than the join+union formulation
    which read the source twice.
    """
    from wagtail_vector_index_spark.operators.knn import (
        _block_group_sides,
        _cosine_pairs,
        _hash_block,
        _pairs_frame,
        _triangular_block_targets,
    )

    union = (
        df.select(id_col, vec_col)
        .withColumn("blk", _hash_block(id_col, blocks))
        .withColumn("t", _triangular_block_targets(F.col("blk"), F.lit(blocks)))
        .select("t.bi", "t.bj", F.col(id_col), F.col(vec_col), "t.side")
    )

    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField(sim_alias, T.DoubleType()),
        ]
    )
    thr = float(threshold)

    def _block_pair(pdf):
        # the pair kernel bounds each task's sims slab, however big the
        # block pair
        return _pairs_frame(
            _cosine_pairs(_block_group_sides(pdf, id_col, vec_col), thr),
            sim_alias,
        )

    return union.groupBy("bi", "bj").applyInPandas(_block_pair, schema=out_schema)


# Skew-precheck verdicts keyed by (input plan fingerprint, DATA-VERSION
# fingerprint, banding params): bucket-population skew is a property of
# the data version, not of the query — the session-local stand-in for
# manifest-attached statistics. The plan hash (semanticHash) alone is
# NOT a version signal — re-reading the same parquet path after the
# data grew yields the same plan hash — so the key also folds in the
# input FILE LISTING (immutable parquet part files: appends add files,
# overwrites rename them), restoring the max_bucket_rows memory guard
# across data versions. A hit is therefore same-plan AND same-files;
# a stale verdict can only happen if a file is mutated in place, which
# parquet writers never do. The verdict only picks the fan-out factors
# of the verify shuffle (plan shape); ANY factor >= 1 yields the
# identical pair set, so even then the pair set is unaffected — only
# the per-bucket GEMM bound would be. Bounded at 64 entries.
_SKEW_VERDICT_CACHE: dict[tuple, dict[tuple[int, int], int]] = {}


def _data_version_fingerprint(df: DataFrame) -> str | None:
    """Data-version signal to pair with the plan hash in verdict cache
    keys. File-backed plans: sha of the input file listing (parquet part
    files are immutable — appends add files, overwrites rename them, so
    same-plan/same-files implies same data). Purely in-memory plans
    (LocalRelation / Range / LogicalRDD leaves): ``"local"`` — a
    LocalRelation's data is embedded in the plan and a LogicalRDD's plan
    hash carries the (immutable) RDD identity, so ``semanticHash`` alone
    already versions them. Anything else (JDBC, streaming leaves): None
    — nothing signals a data change, callers must skip verdict
    caching."""
    import hashlib

    try:
        files = df.inputFiles()
    except Exception:
        return None
    if files:
        return hashlib.sha256("\n".join(sorted(files)).encode()).hexdigest()
    try:
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        for i in range(leaves.size()):
            name = leaves.apply(i).getClass().getSimpleName()
            if name not in (
                "LocalRelation", "OneRowRelation", "Range", "LogicalRDD"
            ):
                return None
        return "local"
    except Exception:
        return None


def lsh_neardup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    num_planes: int = 12,
    bands: int = 3,
    sim_alias: str = "cos_sim",
    dim: int | None = None,
    max_bucket_rows: int | None = 4096,
) -> DataFrame:
    """Embedding near-dup pairs via banded hyperplane-LSH candidates +
    exact-cosine verification — the sub-quadratic scale path.

    Each vector gets a ``num_planes``-bit sign-bucket (sha256-derived
    planes, knn.hyperplane_lsh_planes); the bits split into ``bands``
    bands and pairs agreeing on at least one whole band become candidates
    (pigeonhole: covers bucket-hamming <= bands-1). Recall is
    LSH-probabilistic — pairs whose buckets differ in every band are
    invisible, the classic trade; use :func:`block_neardup_pairs` when
    exact recall is required.

    Plan shape (r4 redesign — grouped-GEMM verify): banding is a
    codegen'd projection; rows shuffle ONCE, keyed by (band, bucket,
    block pair), carrying each vector ``bands`` times (+ block fan-out
    for oversized buckets); each group verifies its bucket with ONE
    BLAS multiply and emits only the pairs already above threshold; the
    final (id_a, id_b) aggregate dedups the <= ``bands`` copies of each
    qualifying pair. Compared to the r3 shape (ids-only band self-join,
    two vector fetch-back joins, per-pair codegen'd cosine, threshold
    after a pair-level aggregate), this removes both fetch-back joins
    and — decisive at scale — makes the shuffled verify volume
    O(qualifying pairs), not O(candidate pairs): the near-quadratic
    candidate set never crosses the wire, it lives only inside each
    bucket's GEMM. Measured at the 10x staging this took the verify
    stage from 49.1s to ~3s.

    ``max_bucket_rows`` is the same skew guard as semantic_dedup: bucket
    populations are data-dependent (a dense embedding cluster lands in
    one bucket), so bucket counts (<= bands * 2^bits rows, one narrow
    agg) route oversized buckets through hash-block pair groups of at
    most cap^2 GEMM work. ``None`` skips the count pass and trusts the
    data to be spread. Per-task memory is bounded either way: the
    bucket verify multiplies through the shared chunked pair kernel
    (``knn._cosine_slabs``), one bounded sims slab at a time.
    """
    from wagtail_vector_index_spark.operators.knn import (
        _block_group_sides,
        _cosine_pairs,
        _hash_block,
        _pairs_frame,
        _triangular_block_targets,
        hyperplane_lsh_planes,
        lsh_bucket_col,
    )

    if dim is None:
        # pass dim explicitly to save this probe job on the query path
        first = df.select(vec_col).first()
        if first is None:
            return df.sparkSession.createDataFrame(
                [], f"id_a {df.schema[id_col].dataType.simpleString()}, "
                f"id_b {df.schema[id_col].dataType.simpleString()}, "
                f"{sim_alias} double"
            )
        dim = len(first[0])
    planes = hyperplane_lsh_planes(num_planes, dim)
    bits_per_band = num_planes // bands
    mask = (1 << bits_per_band) - 1

    # no _ensure_parallelism here: banding is cheap arithmetic
    # (planes*dim flops/row — ~0.2 s per 128 MB partition even
    # single-threaded), unlike the CPU-bound sha/shingle passes of the
    # text dedups; multi-file inputs (the 100 TB case) parallelize at the
    # scan, and skipping the repartition removes a whole exchange+stage
    # from the narrow local case.
    src = df.select(
        id_col, F.col(vec_col).cast("array<double>").alias(vec_col)
    )
    banded = (
        src.withColumn("__bucket", lsh_bucket_col(F.col(vec_col), planes))
        .select(
            id_col,
            vec_col,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band_no"),
                            F.shiftright(F.col("__bucket"), b * bits_per_band)
                            .bitwiseAND(F.lit(mask))
                            .alias("band_val"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("band"),
        )
        .select(id_col, vec_col, "band.band_no", "band.band_val")
    )

    # Skew guard: bucket populations, then ceil(m/cap) hash blocks for
    # any oversized bucket (<= bands * 2^bits_per_band count rows).
    block_counts: dict[tuple[int, int], int] = {}
    if max_bucket_rows is not None:
        cap = int(max_bucket_rows)
        cache_key = None
        # Data-version signal: the plan hash is the same before and
        # after a same-path data refresh, so caching requires a
        # file-listing fingerprint too (non-file inputs: no cache).
        version = _data_version_fingerprint(df)
        if version is not None:
            try:
                cache_key = (
                    df.semanticHash(), version, id_col, vec_col,
                    int(num_planes), int(bands), cap,
                )
            except Exception:  # plan not hashable
                cache_key = None
        if cache_key is not None and cache_key in _SKEW_VERDICT_CACHE:
            block_counts = dict(_SKEW_VERDICT_CACHE[cache_key])
        else:
            # The precheck job is a NARROW branch of the banding plan:
            # Catalyst prunes everything but the vector column (needed
            # for the bucket arithmetic) out of its scan, and the
            # map-side partial agg collapses to <= bands *
            # 2^bits_per_band rows per task before the (tiny) shuffle.
            # r5 removed the banded-frame cache() that used to sit
            # here: it pinned bands x rows INCLUDING VECTORS in storage
            # for the lifetime of the session to save re-running cheap
            # projection arithmetic, which is the wrong trade at
            # 100 TB — the verify job just re-scans the (columnar,
            # pruned) source once. r8: the VERDICT (not the frame) is
            # memoized per input version — see _SKEW_VERDICT_CACHE.
            for r in (
                banded.groupBy("band_no", "band_val")
                .count()
                .where(F.col("count") > cap)
                .collect()
            ):
                block_counts[(int(r["band_no"]), int(r["band_val"]))] = -(
                    -int(r["count"]) // cap
                )
            if cache_key is not None:
                if len(_SKEW_VERDICT_CACHE) >= 64:
                    _SKEW_VERDICT_CACHE.pop(next(iter(_SKEW_VERDICT_CACHE)))
                _SKEW_VERDICT_CACHE[cache_key] = dict(block_counts)
    if block_counts:
        spark = df.sparkSession
        bdf = spark.createDataFrame(
            [(b, v, nb) for (b, v), nb in block_counts.items()],
            "band_no int, band_val bigint, nb int",
        )
        banded = (
            banded.join(F.broadcast(bdf), ["band_no", "band_val"], "left")
            .na.fill({"nb": 1})
            .withColumn("blk", _hash_block(id_col, F.col("nb")))
            .withColumn(
                "t", _triangular_block_targets(F.col("blk"), F.col("nb"))
            )
        )
        union = banded.select(
            "band_no", "band_val", "t.bi", "t.bj", F.col(id_col),
            F.col(vec_col), "t.side",
        )
    else:
        # no oversized bucket (the precheck said so, or the guard is
        # off): the block fan-out is an identity — every row is side
        # 'a' of the (0, 0) diagonal. Emitting literals instead of the
        # nb-join + target explode removes a generator + hash from the
        # shuffle input projection: measured ~1s at sf0.1.
        union = banded.select(
            "band_no", "band_val",
            F.lit(0).alias("bi"), F.lit(0).alias("bj"),
            F.col(id_col), F.col(vec_col),
            F.lit("a").alias("side"),
        )

    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField(sim_alias, T.DoubleType()),
        ]
    )
    thr = float(threshold)

    def _bucket_pairs(pdf):
        return _pairs_frame(
            _cosine_pairs(_block_group_sides(pdf, id_col, vec_col), thr),
            sim_alias,
        )

    # streamed_group_apply = same one-shuffle grouped verify, but the
    # hundreds of small bucket groups cross the Arrow boundary as whole
    # batches instead of one frame per group — measured 2.7s -> 0.9s on
    # this stage at sf0.1 (operators/arrowgroup.py docstring).
    per_band = streamed_group_apply(
        union, ["band_no", "band_val", "bi", "bj"], _bucket_pairs, out_schema
    )
    # A pair agreeing on k bands is emitted k times with the identical
    # similarity (same two vectors, same BLAS reduction) — first() over
    # the pair key dedups, shuffling only qualifying pairs.
    return per_band.groupBy("id_a", "id_b").agg(
        F.first(sim_alias).alias(sim_alias)
    )

def keep_representatives(
    df: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """Drop the higher-id member of every duplicate pair (single-pass
    approximation of connected components — exact when duplicate clusters
    are cliques, the common case for near-dup text). For chained near-dups
    (A≈B≈C but A̸≈C) use :func:`keep_representatives_exact`, which
    clusters first."""
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


# Largest pair frame (raw rows, self-loops and duplicates included) that
# connected_components labels on the driver instead of running the
# large-star/small-star loop. The loop's fixed cost is ~15 Spark jobs
# even for a handful of edges; 100k rows of two ids is a few MB on the
# driver and measured ~5x faster than the loop at that size (4 cores).
_CC_DRIVER_MAX_EDGES = 100_000


def _orders_like_spark_min(t: T.DataType) -> bool:
    """True for the id types whose Python ``<`` and ``==`` equal Spark's
    ``min`` and equality: integral types, and strings under the default
    ``UTF8_BINARY`` collation (UTF-8 byte order is code-point order).
    Floats (NaN sorts last in Spark, unordered in Python), collated
    strings and every other type keep the star loop."""
    return isinstance(
        t, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ) or t == T.StringType()


def _union_find_labels(rows) -> list[tuple]:
    """``(node, component minimum)`` for every non-NULL end of the
    ``(u, v)`` rows, self-loops included. The root of every set is its
    minimum, so the label is read straight off ``find``. An edge with a
    NULL end joins nothing (as the star loop's ``u != v`` filter), and
    NULL itself gets one ``(None, None)`` row, as in the star roster."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while x != root:
            parent[x], x = root, parent[x]
        return root

    has_null = False
    for u, v in rows:
        for x in (u, v):
            if x is None:
                has_null = True
            else:
                parent.setdefault(x, x)
        if u is not None and v is not None:
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
    labels = [(x, find(x)) for x in parent]
    if has_null:
        labels.append((None, None))
    return labels


def connected_components(
    pairs: DataFrame,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
    out_id: str = "id",
    out_comp: str = "component",
    max_iter: int = 30,
    algorithm: str = "star",
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over an undirected duplicate-pair graph.
    Returns one row per node that appears in a pair: (``out_id``,
    ``out_comp``) where the component label is the smallest node id
    reachable from it. Nodes in no pair are their own component — callers
    wanting the full corpus should left-join and ``coalesce(component,
    id)`` (see the ``dedup_components`` catalog query).

    ``algorithm="star"`` (default) runs the alternating
    large-star/small-star pointer-doubling algorithm (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14): each round
    rewires every node's larger neighbors to its minimum neighbor
    (large-star), then collapses each node's smaller neighborhood onto
    its minimum (small-star). Paths halve every round, so convergence is
    O(log n) rounds regardless of graph diameter, and the edge set
    SHRINKS toward per-component stars as it goes — later rounds join
    strictly less data. That is the 100 TB shape: a web-scale duplicate
    graph with a 10k-hop chain finishes in ~14 rounds where label
    propagation needs 5k.

    ``algorithm="label"`` keeps the previous min-label propagation
    (each round: one join of the cached symmetric edge list against the
    label table + one map-side-combinable ``groupBy(min)``). Rounds are
    O(graph diameter) — fine for near-clique duplicate clusters
    (diameter 1-2), pathological for chains; the full edge set is
    joined every round.

    Small graphs skip the star loop: when the pair frame has at most
    ``_CC_DRIVER_MAX_EDGES`` rows and integral or default-collation
    string ids, ``algorithm="star"`` collects it with one bounded job and
    labels it with a union-find on the driver (see :func:`_cc_star`).
    The labels are the same either way.

    Pass ``stats={}`` to receive ``stats["rounds"]`` (checkpointed
    rounds actually executed) for either algorithm; the star algorithm
    also sets ``stats["route"]`` to ``"driver"`` (zero rounds) or
    ``"star"``.
    """
    if algorithm == "star":
        return _cc_star(
            pairs,
            id_a=id_a,
            id_b=id_b,
            out_id=out_id,
            out_comp=out_comp,
            max_iter=max_iter,
            stats=stats,
        )
    if algorithm != "label":
        raise ValueError(f"unknown algorithm {algorithm!r}")
    return _cc_label_propagation(
        pairs,
        id_a=id_a,
        id_b=id_b,
        out_id=out_id,
        out_comp=out_comp,
        max_iter=max_iter,
        stats=stats,
    )


def _cc_star(
    pairs: DataFrame,
    *,
    id_a: str,
    id_b: str,
    out_id: str,
    out_comp: str,
    max_iter: int,
    stats: dict | None,
) -> DataFrame:
    """Alternating large-star/small-star (see :func:`connected_components`).

    Each round is two half-steps over the current edge frame ``e(u, v)``:

    - large-star: symmetrize, compute ``m(u) = min(neighbors(u) + [u])``
      with one map-side-combinable agg, then rewire every STRICTLY LARGER
      neighbor to the minimum: emit ``(v, m(u))`` for ``v > u``.
    - small-star: orient every edge large→small, compute
      ``m(u) = min(smaller neighbors)``, then collapse the whole smaller
      neighborhood (and ``u`` itself) onto that minimum.

    Both half-steps preserve connectivity and only ever lower the
    reachable minimum, so the fixpoint — every component a star centered
    at its minimum id — is exact. Convergence is detected STRUCTURALLY
    (r12): the fixpoint is exactly a star forest (every child points at
    one center, no center is itself a child), and that property is
    checkable on the just-checkpointed edge frame with one exchange of
    2|E| skinny (node, role) rows — so the loop stops AT the converged
    round instead of paying a full extra no-op round for an
    unchanged-signature confirmation (the pre-r12 probe compared
    (count, hash-sum) signatures across rounds, which by construction
    needs round N+1 to certify round N). An already-star input — the
    common case when the identical-set collapse produced pure
    rep→member stars and no cross-group pairs qualified — now runs
    ZERO rounds. Probe cost accounting at scale: +1 skinny exchange per
    non-final round, −1 full round (≈4 edge-set exchanges + 2 joins);
    net positive for any convergence under ~2·max_iter rounds.
    localCheckpoint per round truncates the otherwise-exponential
    iterative lineage.

    The input pair frame is materialized ONCE (r12): ``pairs`` is
    consumed twice — the edge loop and the post-loop ``nodes`` roster —
    and before r12 the second consumption re-ran the caller's whole
    pair-generation pipeline (shingle, group, pair join) inside the
    final action. One skinny localCheckpoint of (u, v) now feeds both.

    Driver route: a small graph never enters the loop. When both id
    columns share a type on which Python orders like Spark's ``min``
    (:func:`_orders_like_spark_min`), one bounded collect of at most
    ``_CC_DRIVER_MAX_EDGES + 1`` checkpointed rows decides; if the frame
    fits, :func:`_union_find_labels` labels it on the driver and the
    labels come back through ``createDataFrame`` with the ids' type
    (``stats["rounds"] = 0``, ``stats["route"] = "driver"``). A larger
    graph pays that one small job and runs the loop unchanged.
    """
    raw = pairs.select(
        F.col(id_a).alias("u"), F.col(id_b).alias("v")
    ).localCheckpoint(eager=True)
    id_type = raw.schema["u"].dataType
    if id_type == raw.schema["v"].dataType and _orders_like_spark_min(
        id_type
    ):
        # coalesce(1): one job whose single task stops reading after
        # the limit; a bare limit().collect() scans partitions in
        # growing batches, one job each
        head = raw.coalesce(1).limit(_CC_DRIVER_MAX_EDGES + 1).collect()
        if len(head) <= _CC_DRIVER_MAX_EDGES:
            if stats is not None:
                stats["rounds"] = 0
                stats["route"] = "driver"
            return raw.sparkSession.createDataFrame(
                _union_find_labels(head),
                T.StructType(
                    [
                        T.StructField(out_id, id_type),
                        T.StructField(out_comp, id_type),
                    ]
                ),
            )
    edges = (
        raw.where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _large_star(e: DataFrame) -> DataFrame:
        sym = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        return (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        o = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins = o.groupBy("u").agg(F.min("v").alias("m"))
        j = o.join(mins, "u")
        return (
            j.where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins.select("u", F.col("m").alias("v")))
            .distinct()
        )

    def _is_star_forest(e: DataFrame) -> bool:
        # Fixpoint test: star forest iff every edge is oriented
        # child→center with center < child (u > v), no node has two
        # child edges, and no node is both a child (u) and a center
        # (v). The orientation clause matters only for the PRE-loop
        # check — a reversed star (center in the u slot) is structurally
        # a star but NOT a fixpoint, and the final min-per-u label agg
        # would read it backwards; every post-round frame already
        # satisfies u > v by small-star construction. One exchange of
        # 2|E| (node, role) rows + a single-row agg — the checkpointed
        # frame is read locally. Exact, not probabilistic: a premature
        # stop would mislabel components, so no sketch shortcuts here.
        roles = e.select(
            F.col("u").alias("__n"),
            F.lit(1).alias("__child"),
            F.lit(0).alias("__center"),
            F.when(F.col("v") > F.col("u"), 1).otherwise(0).alias("__rev"),
        ).unionByName(
            e.select(
                F.col("v").alias("__n"),
                F.lit(0).alias("__child"),
                F.lit(1).alias("__center"),
                F.lit(0).alias("__rev"),
            )
        )
        row = (
            roles.groupBy("__n")
            .agg(
                F.sum("__child").alias("nc"),
                F.max("__center").alias("ctr"),
                F.sum("__rev").alias("nrev"),
            )
            .agg(
                F.coalesce(
                    F.sum(
                        F.when(
                            (F.col("nc") > 1)
                            | ((F.col("nc") > 0) & (F.col("ctr") > 0))
                            | (F.col("nrev") > 0),
                            1,
                        ).otherwise(0)
                    ),
                    F.lit(0),
                ).alias("viol")
            )
            .collect()[0]
        )
        return row["viol"] == 0

    rounds = 0
    if not _is_star_forest(edges):
        for _ in range(max_iter):
            edges = _small_star(_large_star(edges)).localCheckpoint(
                eager=True
            )
            rounds += 1
            if _is_star_forest(edges):
                break
    if stats is not None:
        stats["rounds"] = rounds
        stats["route"] = "star"

    # At fixpoint every component is a star oriented child→center, the
    # center being the component minimum. Labels: every child points at
    # its center; centers (and nodes whose only pairs were self-loops,
    # which never enter the edge frame) label themselves. The min-agg
    # keeps the one-row-per-node contract even if max_iter cut the loop
    # before the star fixpoint (a node could still hold edges to two
    # targets mid-collapse; the label then degrades to the node's best
    # known target — same graceful-cutoff class as label propagation —
    # instead of emitting conflicting duplicate rows).
    # roster from the checkpointed raw frame — NOT from ``pairs``, whose
    # un-materialized plan would re-run the caller's entire
    # pair-generation pipeline inside this final action (r12)
    nodes = (
        raw.select(F.col("u").alias(out_id))
        .unionByName(raw.select(F.col("v").alias(out_id)))
        .distinct()
    )
    child_labels = edges.groupBy(F.col("u").alias(out_id)).agg(
        F.min("v").alias(out_comp)
    )
    return nodes.join(child_labels, out_id, "left").select(
        F.col(out_id),
        F.coalesce(F.col(out_comp), F.col(out_id)).alias(out_comp),
    )


def _cc_label_propagation(
    pairs: DataFrame,
    *,
    id_a: str,
    id_b: str,
    out_id: str,
    out_comp: str,
    max_iter: int,
    stats: dict | None,
) -> DataFrame:
    """Min-label propagation (see :func:`connected_components`,
    ``algorithm="label"``)."""
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    adj = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).cache()
    # localCheckpoint (not cache) each round: an iterative self-referencing
    # plan otherwise grows exponentially — by ~10 rounds the driver OOMs
    # just *printing* the plan. Checkpointing truncates lineage so every
    # round starts from a materialized leaf. (On a real cluster with
    # unreliable executors, set a checkpoint dir and swap in checkpoint().)
    lbl = (
        adj.select(F.col("src").alias(out_id))
        .distinct()
        .withColumn(out_comp, F.col(out_id))
        .localCheckpoint(eager=True)
    )
    # integral ids only: casting a scaled decimal (e.g. 10.4) to
    # decimal(38,0) would round away sub-integer label decreases and
    # declare a false fixpoint
    comp_type = lbl.schema[out_comp].dataType
    numeric_ids = isinstance(
        comp_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ) or (isinstance(comp_type, T.DecimalType) and comp_type.scale == 0)

    def _potential(labels: DataFrame):
        # labels only ever decrease, so sum(labels) is a strictly
        # decreasing potential: unchanged sum == fixpoint. One map-side-
        # combinable agg over the checkpointed label table — cheaper than
        # joining old vs new labels every round. decimal(38) keeps the
        # sum exact for any realistic id magnitude x node count.
        return labels.agg(
            F.sum(F.col(out_comp).cast("decimal(38,0)"))
        ).collect()[0][0]

    def _potential_hash(labels: DataFrame):
        # string ids: labels decrease lexicographically, so any change
        # alters the label multiset; sum(xxhash64(label)) detects that
        # with the same one-agg cost as the numeric potential (vs the
        # old per-round join+count — O(rounds) extra shuffles). A missed
        # change needs colliding 64-bit hash SUMS: ~2^-64 per round,
        # and max_iter still bounds the loop if it ever happened.
        # decimal(38,0) sum: exact and overflow-free under ANSI mode
        # (a bare long sum of 64-bit hashes overflows almost surely)
        return labels.agg(
            F.sum(F.xxhash64(F.col(out_comp)).cast("decimal(38,0)"))
        ).collect()[0][0]

    def _propagate(labels: DataFrame) -> DataFrame:
        nbr = labels.select(
            F.col(out_id).alias("dst"), F.col(out_comp).alias("nbr_comp")
        )
        msgs = adj.join(nbr, "dst").select(
            F.col("src").alias(out_id), F.col("nbr_comp").alias(out_comp)
        )
        return (
            msgs.unionByName(labels)
            .groupBy(out_id)
            .agg(F.min(out_comp).alias(out_comp))
        )

    measure = _potential if numeric_ids else _potential_hash
    prev = measure(lbl)
    rounds = 0
    try:
        # TWO propagation hops per checkpoint round: each checkpoint +
        # potential agg is a fixed multi-job cost, and plan growth over
        # two hops is still tiny, so doubling the stride halves the
        # per-round overhead; fixpoint detection is merely deferred to
        # the next even hop (labels are monotone, so correctness is
        # unaffected — worst case one redundant propagation).
        for _ in range((max_iter + 1) // 2):
            new = _propagate(_propagate(lbl)).localCheckpoint(eager=True)
            rounds += 1
            pot = measure(new)
            lbl = new
            if pot == prev:
                break
            prev = pot
    finally:
        adj.unpersist()
    if stats is not None:
        stats["rounds"] = rounds
    return lbl


def keep_representatives_exact(
    df: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    prefer_col: str | None = None,
) -> DataFrame:
    """Exact duplicate-cluster pruning: connected components over the
    pairs graph, then one representative per component. Unlike
    :func:`keep_representatives`, chained near-dups (A≈B≈C with A̸≈C)
    collapse to a single representative.

    By default the representative is the minimum id (cheap: losers
    anti-join straight off the component labels). With ``prefer_col``
    the representative is the component member MAXIMIZING that column
    (min id tie-break) — what production dedup actually wants: keep the
    highest-quality / longest / newest member of each duplicate
    cluster, not whichever got the smallest id. That path labels the
    corpus (left join + coalesce, singletons label themselves) and
    ranks within components with one WindowGroupLimit — still
    shuffle-on-key work end to end."""
    comp = connected_components(pairs)
    if prefer_col is None:
        losers = comp.where(F.col("id") != F.col("component")).select(
            F.col("id").alias(id_col)
        )
        return df.join(losers, id_col, "left_anti")
    # reserved internal names: the caller's frame may itself carry a
    # 'component' column (e.g. output of a prior dedup_components pass),
    # which would make the coalesce ambiguous
    labels = comp.select(
        F.col("id").alias(id_col), F.col("component").alias("__wvi_comp")
    )
    labeled = df.join(labels, id_col, "left").withColumn(
        "__wvi_comp", F.coalesce(F.col("__wvi_comp"), F.col(id_col))
    )
    w = Window.partitionBy("__wvi_comp").orderBy(
        F.col(prefer_col).desc(), F.col(id_col).asc()
    )
    return (
        labeled.withColumn("__wvi_rn", F.row_number().over(w))
        .where(F.col("__wvi_rn") == 1)
        .drop("__wvi_rn", "__wvi_comp")
    )


def simhash_pairs_dense(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs via a broadcast fingerprint self-join — the
    dense counterpart of the banded :func:`simhash_pairs` for corpora
    whose fingerprint table broadcasts (8 bytes/doc: 10^8 docs is still
    <1 GB). Exact, not approximate: every pair is evaluated by the
    codegen'd ``bit_count(xor)`` predicate inside a
    BroadcastNestedLoopJoin — all JVM, no Python stage, and nothing
    collects to the driver (the fingerprint table is computed once into
    the block-manager cache and shipped as a broadcast; the stream side
    scans it once per partition). Use the banded variant when even the
    fingerprint table outgrows the broadcast limit.
    """
    from wagtail_vector_index_spark.functions.text_analysis import simhash32_col

    fp = (
        _ensure_parallelism(df, id_col)
        .select(F.col(id_col), simhash32_col(F.col(text_col)).alias("__sh"))
        # eager localCheckpoint instead of cache()+count(): one
        # materialization job either way, but the checkpoint blocks are
        # reclaimed by the ContextCleaner when the frame drops instead
        # of pinning the CacheManager for the session (r5)
        .localCheckpoint(eager=True)
    )
    a = fp.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("__sh_a"))
    b = fp.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("__sh_b"))
    hamming = F.bit_count(F.col("__sh_a").bitwiseXOR(F.col("__sh_b")))
    return (
        a.join(
            F.broadcast(b),
            (F.col("id_a") < F.col("id_b")) & (hamming <= int(max_hamming)),
        )
        .select("id_a", "id_b", hamming.cast("int").alias("hamming"))
    )


def assign_centroids_udf(centroids: Sequence[tuple[int, Sequence[float]]]):
    """Arrow-batched twin of ``knn.ivf_assign``: one numpy GEMM per
    batch (~µs/row) instead of k interpreted fold-cosines per row
    (~1 ms/row at k=16 × dim 64 — measured 2.4 s for a 2k-row corpus).
    Ties go to the lowest centroid id (centroids sorted by cid, and
    ``np.argmax`` returns the first maximum). fp note: the GEMM's
    summation order differs from the sequential fold by ulps, which can
    flip an argmax only for near-equidistant centroids — the
    dedup_semantic gate verifies the parity empirically on every run."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from wagtail_vector_index_spark.operators.knn import _unit_rows

    cents = sorted(centroids, key=lambda t: int(t[0]))
    cids = np.asarray([c for c, _ in cents], dtype=np.int64)
    Cn = _unit_rows([[float(x) for x in v] for _, v in cents])

    def _assign(col):
        if len(col) == 0:
            return pd.Series([], dtype="int32")
        idx = (_unit_rows(col.tolist()) @ Cn.T).argmax(axis=1)
        return pd.Series(cids[idx].astype(np.int32))

    _assign.__annotations__ = {"col": pd.Series, "return": pd.Series}
    return pandas_udf(_assign, "int")


def _blocked_semantic_survivors(
    assigned: DataFrame,
    block_counts: dict[int, int],
    *,
    id_col: str,
    vec_col: str,
    threshold: float,
) -> DataFrame:
    """Skew-guarded within-cluster dedup: split each cluster into hash
    blocks (``block_counts[cid]`` of them; absent cids get 1) and turn
    every unordered block pair into one bounded GEMM task that emits the
    higher-id member of each qualifying pair as a *loser*; survivors are
    the anti-join. Exactly the :func:`block_neardup_pairs` decomposition,
    run per cluster — same survivor set as the single-task-per-cluster
    kernel because every within-cluster row pair lands in exactly one
    (cid, bi, bj) group and the loser rule (drop the higher id) is
    per-pair, not per-task."""
    import pandas as pd

    from wagtail_vector_index_spark.operators.knn import (
        _block_group_sides,
        _hash_block,
        _pair_losers,
        _triangular_block_targets,
    )

    spark = assigned.sparkSession
    thr = float(threshold)
    id_type = assigned.schema[id_col].dataType
    bdf = spark.createDataFrame(
        [(int(c), int(b)) for c, b in block_counts.items()], "cid int, nb int"
    )
    union = (
        assigned.join(F.broadcast(bdf), "cid", "left")
        .na.fill({"nb": 1})
        .withColumn("blk", _hash_block(id_col, F.col("nb")))
        .withColumn("t", _triangular_block_targets(F.col("blk"), F.col("nb")))
        .select("cid", "t.bi", "t.bj", F.col(id_col), F.col(vec_col), "t.side")
    )

    def _losers(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {id_col: _pair_losers(_block_group_sides(pdf, id_col, vec_col), thr)}
        )

    loser_schema = T.StructType([T.StructField(id_col, id_type)])
    losers = (
        union.groupBy("cid", "bi", "bj")
        .applyInPandas(_losers, schema=loser_schema)
        .distinct()
    )
    return assigned.select(id_col, "cid").join(losers, id_col, "left_anti")


def semantic_dedup(
    df: DataFrame,
    centroids: Sequence[tuple[int, Sequence[float]]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    method: str = "arrow",
    max_cluster_rows: int | None = 8192,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings, compare pairs ONLY within each
    cluster, drop the higher-id member of every pair above the cosine
    threshold. Returns the surviving rows as ``(id_col, cid)``.

    ``method="arrow"`` (default) is the scale path: assignment is a
    zero-shuffle Arrow map (:func:`assign_centroids_udf`), then ONE hash
    exchange on the cluster id feeds a per-cluster numpy GEMM inside
    ``applyInPandas`` (the shared chunked pair kernel,
    ``knn._cosine_slabs``: one bounded sims slab at a time, upper
    triangle only) that marks every id with a smaller-id neighbor >=
    threshold and emits survivors directly — no self-join, no aggregate
    barrier, no anti-join. The quadratic stays bounded per cluster (the
    SemDeDup point). All-zero vectors normalize to zero (cosine 0), so
    at ``threshold <= 0`` they match like any other row.

    **Skew guard** (``max_cluster_rows``): a skewed mega-cluster would
    send one O(n²) GEMM into a single task, so the arrow path first
    counts rows per cluster (a k-row partial agg — one extra scan, no
    shuffle growth); if any cluster exceeds the cap, ALL clusters are
    rerouted through :func:`_blocked_semantic_survivors`, which hash-
    splits each cluster into ``ceil(n/cap)`` blocks and runs one bounded
    GEMM per block pair — per-task work O(cap²) regardless of skew, at
    the cost of ~B-fold replication of the oversized cluster's rows and
    a final loser anti-join. ``None`` disables the precheck (single-pass
    fast path, caller asserts balance).

    ``method="sql"`` is the Catalyst composition (cluster self-join +
    JIT-safe aggregate verify + anti-join) whose every arithmetic step
    an external SQL oracle replays with sequential folds. Survivor sets
    agree between the two (fp summation order can flip a comparison only
    within ulps of the threshold); the dedup_semantic gate verifies the
    arrow path against the SQL oracle at every run.
    """
    if method not in ("arrow", "sql"):
        raise ValueError(f"method must be 'arrow' or 'sql', got {method!r}")
    assigned = df.withColumn(
        "cid", assign_centroids_udf(centroids)(F.col(vec_col))
    ).select(F.col(id_col), F.col(vec_col), F.col("cid"))

    if method == "arrow":
        import pandas as pd

        if max_cluster_rows is not None:
            cap = int(max_cluster_rows)
            # The precheck is a narrow uncached branch (r5): its scan
            # reads only the vector column (the cid derives from the
            # assignment argmin) and the per-cid partial agg collapses
            # to <= k rows per task before the shuffle — no cache pin
            # on the common, untripped path, and the survivor kernel's
            # job keeps a single source scan.
            oversized = (
                assigned.groupBy("cid")
                .count()
                .where(F.col("count") > cap)
                .collect()  # <= k rows (codebook size)
            )
            if oversized:
                # the TRIPPED path has three consumers (losers kernel +
                # both anti-join sides) — there the barrier earns its
                # pin; MEMORY_AND_DISK spills rather than recomputes
                assigned = assigned.cache()
                block_counts = {
                    int(r["cid"]): -(-int(r["count"]) // cap) for r in oversized
                }
                return _blocked_semantic_survivors(
                    assigned,
                    block_counts,
                    id_col=id_col,
                    vec_col=vec_col,
                    threshold=threshold,
                )

        from wagtail_vector_index_spark.operators.knn import (
            _pair_losers,
            _unit_rows,
        )

        id_type = df.schema[id_col].dataType.simpleString()
        thr = float(threshold)

        def _survivors(pdf: pd.DataFrame) -> pd.DataFrame:
            # a member loses iff some lower-id member is >= threshold
            sides = [(pdf[id_col].to_numpy(), _unit_rows(pdf[vec_col].tolist()))]
            losers = _pair_losers(sides, thr)
            return pdf.loc[~pdf[id_col].isin(losers), [id_col, "cid"]]

        return assigned.groupBy("cid").applyInPandas(
            _survivors, schema=f"{id_col} {id_type}, cid int"
        )

    from wagtail_vector_index_spark.functions.vector import (
        cosine_similarity_unrolled,
    )

    dim = len(centroids[0][1])
    a = assigned.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"), F.col("cid")
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"), F.col("cid")
    )
    # The unrolled cosine must not fold into the cluster join's
    # CONDITION: a join condition compiles as one unsplittable method,
    # which blows the JIT/codegen limits at dim 64 and runs interpreted
    # (~300 us/pair) — the same hazard lsh_neardup_pairs documents. The
    # aggregate barrier (first() over the already-unique pair keys) pins
    # the sim evaluation in a code-split, JIT-able aggregate and cannot
    # be pushed below it; it doubles as the losers-distinct.
    sim = cosine_similarity_unrolled("__va", "__vb", dim)
    losers = (
        a.join(b, "cid")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.first(sim).alias("__sim"))
        .where(F.col("__sim") >= F.lit(float(threshold)))
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return assigned.select(id_col, "cid").join(losers, id_col, "left_anti")


class CorpusSignatures:
    """Lifecycle manager for the STANDING-corpus MinHash signatures an
    ingestion loop reuses every batch (the API form of the
    per-batch-loop warning on :func:`incremental_neardup_pairs`).

    ``build()`` computes the signatures once and ``persist()``s them;
    pass the instance (or its ``.df``) as ``corpus_signatures=`` to
    :func:`incremental_neardup_pairs` / ``Corpus.dedup_against`` on
    every batch; call :meth:`unpersist` (or use the instance as a
    context manager) on corpus rollover. Without this, passing
    ``corpus_df`` per batch recomputes the corpus signatures on every
    call.
    """

    def __init__(self, df: DataFrame, *, _params: dict | None = None):
        self.df = df
        self._params = _params

    @classmethod
    def build(
        cls,
        corpus_df: DataFrame,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
        n: int = 3,
        num_hashes: int = 16,
        include_shingles: bool = True,
    ) -> "CorpusSignatures":
        """``include_shingles=False`` persists (id, sig) only — the
        shingle arrays dominate the stored state (each doc's full
        distinct gram set vs 16 longs), so an ingestion loop that
        verifies with ``verify="estimate"`` holds ~an order of
        magnitude less executor storage. Exact-verify callers need the
        default."""
        from pyspark import StorageLevel

        sig = minhash_signatures(
            corpus_df, id_col=id_col, text_col=text_col, n=n,
            num_hashes=num_hashes, cache=False,
        )
        if not include_shingles:
            sig = sig.drop("shingles")
        sig = sig.persist(StorageLevel.MEMORY_AND_DISK)
        return cls(
            sig,
            _params={
                "id_col": id_col,
                "text_col": text_col,
                "n": n,
                "num_hashes": num_hashes,
                "include_shingles": include_shingles,
            },
        )

    def extend(self, new_df: DataFrame) -> "CorpusSignatures":
        """Roll the standing state forward with an ingested batch —
        the CORRECT per-batch rollover for a long ingestion loop.

        Signatures for ``new_df`` are computed with the instance's own
        build parameters (one prep, the two sides cannot drift), the
        union with the current state is EAGERLY localCheckpointed —
        materializing the batch AND truncating lineage, so the state's
        plan stays depth-1 forever — and the previous state's storage
        is released. The naive alternative (persist the union, unpersist
        the old frame) keeps the whole union/dedup lineage tree alive:
        each batch's plan re-embeds every prior batch's band join, and
        the r10 ingestion staging measured its per-batch wall growing
        13s -> 61s within three 50k-doc batches with one leaked pinned
        RDD per batch; this method holds both flat (SCALE.md r10-B).

        Mutates and returns self, so the context-manager form keeps
        releasing whatever the CURRENT state is on exit.

        DURABILITY: the eager localCheckpoint is the ONLY copy of the
        standing state and its blocks are EXECUTOR-LOCAL and
        non-replayable — on a real cluster, executor loss or a
        dynamic-allocation decommission destroys the state
        mid-ingestion-loop with no way to recompute it (lineage was
        truncated by design). Fine for single-JVM/local-mode loops; a
        long-running cluster ingestion loop should either call
        :meth:`snapshot` every N batches (parquet rollover — restart
        via :meth:`load`) or keep the state in the table itself, the
        way ``streaming.maintenance.neardup_corpus_stream`` persists
        per-generation signature sidecars.
        """
        if self._params is None:
            raise ValueError(
                "extend() needs the build parameters; construct via "
                "CorpusSignatures.build(...)"
            )
        p = self._params
        batch = minhash_signatures(
            new_df, id_col=p["id_col"], text_col=p["text_col"], n=p["n"],
            num_hashes=p["num_hashes"], cache=False,
        )
        if not p["include_shingles"]:
            batch = batch.drop("shingles")
        old = self.df
        # eager: materializes now AND truncates lineage to the
        # checkpointed blocks — the next extend unions a depth-1 plan
        self.df = old.unionByName(batch).localCheckpoint(eager=True)
        try:
            old.unpersist()
        except Exception:
            pass  # previous state was itself a checkpoint: blocks
            # release via the ContextCleaner once `old` drops
        return self

    def snapshot(self, path: str) -> "CorpusSignatures":
        """Durable rollover: write the standing state to parquet at
        ``path`` (overwrite), re-point ``self.df`` at the WRITTEN files
        (a leaf scan — replayable from storage, unlike the
        executor-local checkpoint blocks), and release the previous
        in-memory state. Call every N batches in a cluster ingestion
        loop so executor loss costs at most N batches of re-extends
        (resume with :meth:`load`). Mutates and returns self.

        The write is STAGED and swapped in: when the current state was
        itself loaded/snapshotted from ``path`` (the load -> extend ->
        snapshot loop), a direct ``mode("overwrite")`` would delete
        the files backing ``self.df`` while the write job reads them.
        The swap never deletes the previous snapshot before the new
        one is in place: the old directory is renamed ASIDE (O(1)),
        the staged write renamed in, and only then is the aside copy
        removed — so the window with no complete snapshot on disk is
        two renames, not an O(files) rmtree, and a crash inside it
        leaves the aside copy recoverable by hand (a crash never
        touches the in-memory state either way).

        ``path`` must be a POSIX filesystem visible to the DRIVER
        (``os.rename`` semantics — the same local-FS stand-in note as
        ``sources/manifest.py``): on an object store, snapshot to a
        posix staging area or port the swap to the store's
        conditional-put primitive. :meth:`load` reads with plain
        ``spark.read.parquet`` and shares the requirement only insofar
        as the path must name a completed snapshot."""
        import os
        import shutil
        import uuid

        spark = self.df.sparkSession
        nonce = uuid.uuid4().hex[:12]
        stage = f"{path}.stage-{nonce}"
        self.df.write.mode("overwrite").parquet(stage)
        aside = f"{path}.old-{nonce}"
        try:
            os.rename(path, aside)
        except OSError:
            aside = None  # first snapshot: nothing to move aside
        os.rename(stage, path)
        if aside is not None:
            shutil.rmtree(aside, ignore_errors=True)
        old = self.df
        self.df = spark.read.parquet(path)
        try:
            old.unpersist()
        except Exception:
            pass  # checkpointed state: ContextCleaner reclaims on drop
        return self

    @classmethod
    def load(
        cls,
        spark,
        path: str,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
        n: int = 3,
        num_hashes: int = 16,
    ) -> "CorpusSignatures":
        """Resume a :meth:`snapshot`-ted standing state from parquet.
        The MinHash parameters must match the ones the snapshot was
        built with — they parameterize :meth:`extend`'s batch prep and
        are not stored in the files (pass the same config your loop
        owns). ``path`` must name a COMPLETED snapshot (see
        :meth:`snapshot` for the POSIX swap contract: mid-swap there
        is a two-rename window with no complete snapshot at ``path``;
        a load racing it fails cleanly and should retry)."""
        df = spark.read.parquet(path)
        return cls(
            df,
            _params={
                "id_col": id_col,
                "text_col": text_col,
                "n": n,
                "num_hashes": num_hashes,
                "include_shingles": "shingles" in df.columns,
            },
        )

    def unpersist(self) -> None:
        try:
            self.df.unpersist()
        except Exception:
            pass  # checkpointed state: ContextCleaner reclaims on drop

    def __enter__(self) -> "CorpusSignatures":
        return self

    def __exit__(self, *exc) -> None:
        self.unpersist()


def incremental_neardup_pairs(
    new_df: DataFrame,
    corpus_df: DataFrame | None = None,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    corpus_signatures: "DataFrame | CorpusSignatures | None" = None,
    verify: str = "exact",
) -> DataFrame:
    """Asymmetric MinHash near-dup detection for continuous ingestion:
    which NEW rows near-duplicate the STANDING corpus. Returns
    (new_id, corpus_id, jaccard) pairs above threshold.

    ``verify="estimate"`` scores candidates by signature agreement
    (matches/num_hashes) exactly as on :func:`minhash_lsh_pairs` — the
    per-batch verify join then moves 16 longs per corpus row touched
    instead of the corpus row's full shingle array (and a stored
    :class:`CorpusSignatures` no longer needs its shingle column
    materialized into the join at all).

    The band join is new-side x corpus-side only — no corpus self-join,
    no new self-join — so per-batch cost scales with the batch's band
    keys against the corpus's, never corpus². Both sides go through the
    SAME prep as minhash_lsh_pairs (:func:`minhash_signatures` — one
    shared construction, so the two paths cannot drift).

    **Per-batch loops**: pass ``corpus_signatures`` — a
    :class:`CorpusSignatures` (persisted once, unpersisted on corpus
    rollover) or an equivalent frame you persist yourself — instead of
    ``corpus_df``. Passing ``corpus_df`` recomputes the corpus
    signatures (shingling and hashing the whole corpus) on EVERY call.
    Both sides' per-call signatures are lazily localCheckpointed, not
    cache()-pinned: their blocks are reclaimed by the ContextCleaner
    when the batch's frames go out of scope, so nothing accumulates
    across a long ingestion loop."""
    if (corpus_df is None) == (corpus_signatures is None):
        raise ValueError(
            "pass exactly one of corpus_df or corpus_signatures"
        )
    if isinstance(corpus_signatures, CorpusSignatures):
        corpus_signatures = corpus_signatures.df
    rows_per_band = num_hashes // bands
    new_side = minhash_signatures(
        new_df, id_col=id_col, text_col=text_col, n=n,
        num_hashes=num_hashes,
    )
    corpus_side = (
        corpus_signatures
        if corpus_signatures is not None
        else minhash_signatures(
            corpus_df, id_col=id_col, text_col=text_col, n=n,
            num_hashes=num_hashes,
        )
    )

    if verify == "exact" and "shingles" not in corpus_side.columns:
        raise ValueError(
            "verify='exact' needs the corpus side's shingle arrays, but "
            "the provided corpus signatures carry none (built with "
            "include_shingles=False?). Rebuild with include_shingles=True "
            "or use verify='estimate', which scores on signatures alone."
        )

    def sided(side, alias):
        cols = [F.col(id_col).alias(f"{alias}_id"), F.col("sig")]
        if verify == "exact":
            # estimate mode never touches shingles, so a signatures-only
            # CorpusSignatures (include_shingles=False) is accepted there
            cols.insert(1, F.col("shingles").alias(f"{alias}_sh"))
        return side.select(*cols)

    new_side, corpus_side = sided(new_side, "new"), sided(corpus_side, "corpus")

    def banded(side, alias):
        return side.select(
            f"{alias}_id",
            F.explode(
                lsh_band_keys_col(F.col("sig"), bands, rows_per_band)
            ).alias("band"),
        )

    candidates = (
        banded(new_side, "new")
        .join(banded(corpus_side, "corpus"), "band")
        .select(
            F.col("new_id").alias("id_a"), F.col("corpus_id").alias("id_b")
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    if verify == "estimate":
        new_col, corpus_col, a, b = "sig", "sig", "sig_a", "sig_b"
        score = _agreement_col(a, b) / F.lit(float(num_hashes))
    elif verify == "exact":
        new_col, corpus_col, a, b = "new_sh", "corpus_sh", "sh_a", "sh_b"
        score = None
    else:
        raise ValueError(f"unknown verify: {verify!r}")
    verified = _jaccard_verify(
        candidates,
        new_side.select(
            F.col("new_id").alias("id_a"), F.col(new_col).alias(a)
        ),
        corpus_side.select(
            F.col("corpus_id").alias("id_b"), F.col(corpus_col).alias(b)
        ),
        threshold,
        score,
    )
    return verified.select(
        F.col("id_a").alias("new_id"), F.col("id_b").alias("corpus_id"),
        "jaccard",
    )


def incremental_neardup_filter(
    new_df: DataFrame,
    corpus_df: DataFrame,
    **kwargs,
) -> DataFrame:
    """The apply side of :func:`incremental_neardup_pairs`: the rows of
    ``new_df`` that do NOT near-duplicate the standing corpus (the
    batch a continuous-ingestion pipeline actually appends)."""
    id_col = kwargs.get("id_col", "doc_id")
    dupes = incremental_neardup_pairs(new_df, corpus_df, **kwargs).select(
        F.col("new_id").alias(id_col)
    )
    return new_df.join(dupes, id_col, "left_anti")


def remove_boilerplate_lines(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    lines_col: str = "lines",
    group_col: str | None = None,
    min_docs: int = 2,
    sep: str = "\n",
) -> DataFrame:
    """Line-frequency boilerplate removal — the CCNet / RefinedWeb
    cleanup step that strips navigation chrome, cookie banners, and
    per-site footers BEFORE document-level dedup: a line occurring in
    at least ``min_docs`` distinct documents (scoped per ``group_col``,
    typically the source/domain — boilerplate is site-local) is dropped
    from every document; everything else keeps its original order.

    Input carries the pre-split ``lines_col`` (array<string>) so the
    caller owns the line definition (newlines, sentences, fixed word
    windows). Returns one row per input document:
    ``(id, clean_text, n_kept, n_dropped)`` with ``clean_text`` the
    kept lines rejoined by ``sep``; documents whose every line was
    boilerplate (or that had no lines) survive with an empty string.

    Shape at 100 TB (r12): a document's lines live in ONE array cell,
    so the per-(doc, line) dedup that count_distinct existed for is a
    map-side ``array_distinct`` — the frequency count then becomes a
    plain count(*) with map-side partial aggregation (ONE line-grain
    exchange instead of the distinct agg's two). The join back is a
    left-ANTI join against only the lines that ARE boilerplate
    (nd >= min_docs — a tiny fraction of distinct lines, so the
    planner broadcasts it and the probe pays no exchange), and the
    doc-keyed reassembly regroup carries surviving lines only;
    n_dropped falls out as size(lines) - n_kept, never shuffled.
    Line-grain exchanges: 2 (deduped count + kept-line regroup) vs 4
    before. Line frequency is a classic heavy-hitter distribution —
    the key includes the line text itself, so a viral line lands in
    one task only during the bounded count, never during reassembly
    (doc-keyed)."""
    keys = [group_col] if group_col else []
    # one row per DISTINCT line per doc — the local dedup that makes
    # the global distinct-doc count a plain partial-aggregated count(*)
    bad = (
        df.select(
            *keys,
            F.explode(F.array_distinct(F.col(lines_col))).alias(
                "__line"
            ),
        )
        .groupBy(*keys, "__line")
        .agg(F.count(F.lit(1)).alias("__nd"))
        .where(F.col("__nd") >= min_docs)
        .select(*keys, "__line")
    )
    ex = df.select(
        id_col, *keys, F.posexplode(lines_col).alias("__pos", "__line")
    )
    kept = ex.join(bad, [*keys, "__line"], "left_anti")
    per_doc = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("__pos", "__line"))
                ),
                lambda s: s["__line"],
            ),
            sep,
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return (
        df.select(
            id_col,
            F.coalesce(F.size(F.col(lines_col)), F.lit(0))
            .cast("long")
            .alias("__n_total"),
        )
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            (F.col("__n_total") - F.coalesce("n_kept", F.lit(0))).alias(
                "n_dropped"
            ),
        )
    )
