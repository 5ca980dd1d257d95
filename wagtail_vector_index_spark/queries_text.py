"""Text-analysis + dedup query catalog (north-star EXT operators) over the
``documents`` table, each with a value-identical DuckDB oracle.

The oracle SQL re-derives the exact same sha256-based hashing, token and
shingle definitions as the Spark column functions in
functions/text_analysis.py — down to separator bytes — so the value-hash
comparison is exact, not approximate. Jaccard/LSH/simhash parameters are
chosen so the planted near-duplicates in the synthetic corpus surface
(max pairwise 3-gram Jaccard ≈ 0.99 at sf0.01).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from wagtail_vector_index_spark.catalog import _t, register
from wagtail_vector_index_spark.functions.text_analysis import STOPWORDS

# --- shared SQL fragments (must mirror functions/text_analysis.py) ---------

TOKS_SQL = "list_filter(string_split(lower(text), ' '), t -> t <> '')"


def _shingles_sql(toks: str = TOKS_SQL, n: int = 3) -> str:
    return (
        f"list_distinct(list_transform(range(0, greatest(len({toks}) - {n - 1}, 1)), "
        f"i -> array_to_string(({toks})[i + 1:i + {n}], ' ')))"
    )


def _in_list(words: list[str]) -> str:
    return "(" + ", ".join(f"'{w}'" for w in words) + ")"


HS_SQL = (
    "list_transform(shingles, s -> "
    "('0x' || substr(sha256(s), 1, 8))::UBIGINT::BIGINT)"
)

TOKEN_HASHES_SQL = (
    f"list_transform({TOKS_SQL}, t -> "
    "('0x' || substr(sha256(t), 1, 8))::UBIGINT::BIGINT)"
)


def _ngram_fp_sql(n: int, th: str = "th") -> str:
    """DuckDB replay of functions.text_analysis.ngram_fingerprints_col:
    over a pre-computed token-hash list column ``th``, fp(i) =
    XOR_{j<n} (th[i+j] << j), CASE-guarded for docs shorter than n
    tokens (single fingerprint over the available tokens)."""
    chain = f"(CASE WHEN i + 1 <= len({th}) THEN {th}[i + 1] ELSE 0 END)"
    for j in range(1, n):
        term = (
            f"(CASE WHEN i + {j} + 1 <= len({th}) "
            f"THEN ({th}[i + {j} + 1] << {j}) ELSE 0 END)"
        )
        chain = f"xor({chain}, {term})"
    return (
        f"list_transform(range(0, greatest(len({th}) - {n - 1}, 1)), "
        f"i -> {chain})"
    )


def _minhash_sig_sql(num_hashes: int = 16) -> str:
    """Affine minhash over pre-hashed shingles (column ``hs``) — constants
    come from the same minhash_params() the Spark columns use."""
    from wagtail_vector_index_spark.functions.text_analysis import minhash_params

    a, b = minhash_params(num_hashes)
    elems = ", ".join(
        f"list_aggregate(list_transform(hs, h -> ({a[j]} * h + {b[j]}) % 4294967296), 'min')"
        for j in range(num_hashes)
    )
    return f"[{elems}]"


def _band_keys_sql(sig: str, bands: int = 8, rpb: int = 2) -> str:
    keys = ", ".join(
        f"'{b}:' || sha256(array_to_string(({sig})[{b * rpb + 1}:{b * rpb + rpb}], ','))"
        for b in range(bands)
    )
    return f"[{keys}]"


def _simhash_sql() -> str:
    """32 conditional bit-vote aggregates recombined into one bigint —
    mirrors simhash32_col's fold exactly."""
    terms = " + ".join(
        f"(CASE WHEN sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) > 0 "
        f"THEN {1 << b} ELSE 0 END)"
        for b in range(32)
    )
    return terms


FINGERPRINT_SQL = "sha256(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))"


# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle=f"""
    SELECT {FINGERPRINT_SQL} AS fingerprint,
           min(doc_id)       AS keep_id,
           count(*)::BIGINT  AS n_docs
    FROM documents GROUP BY 1
    """,
)
def dedup_exact(spark, sf_dir):
    from wagtail_vector_index_spark.operators.dedup import exact_duplicates

    return exact_duplicates(_t(spark, sf_dir, "documents"))


@register(
    "dedup_jaccard_exact",
    oracle=f"""
    WITH sh AS (SELECT doc_id, {_shingles_sql()} AS shingles FROM documents),
    ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS n_a, b.n AS n_b,
             count(*) AS ni
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4)
    SELECT id_a, id_b, round(ni::DOUBLE / (n_a + n_b - ni), 6) AS jaccard
    FROM inter WHERE ni::DOUBLE / (n_a + n_b - ni) >= 0.1
    """,
)
def dedup_jaccard_exact(spark, sf_dir):
    # identical output to ngram_jaccard_pairs, but identical-shingle-set
    # docs collapse to one representative before the quadratic co-count
    # join — a crawl's boilerplate mega-cluster can't detonate the agg
    from wagtail_vector_index_spark.operators.dedup import (
        ngram_jaccard_pairs_collapsed,
    )

    pairs = ngram_jaccard_pairs_collapsed(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.1
    )
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


@register(
    "dedup_jaccard_prefix",
    oracle=f"""
    WITH sh AS (SELECT doc_id, {_shingles_sql()} AS shingles FROM documents),
    ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS n_a, b.n AS n_b,
             count(*) AS ni
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4)
    SELECT id_a, id_b, round(ni::DOUBLE / (n_a + n_b - ni), 6) AS jaccard
    FROM inter WHERE ni::DOUBLE / (n_a + n_b - ni) >= 0.5
    """,
)
def dedup_jaccard_prefix(spark, sf_dir):
    """Exact Jaccard >= 0.5 via prefix filtering (AllPairs/PPJoin —
    operators/dedup.py::ngram_jaccard_pairs_prefix): documents join
    only on their rarest ``n - ceil(t*n) + 1`` shingles (global
    document-frequency order), so ubiquitous shingles never generate
    candidates; a length filter prunes impossible size ratios in the
    same join and survivors verify on the full shingle arrays. The
    oracle is the plain co-count formulation — prefix filtering is an
    exact optimization, so both must produce identical pairs AND
    values."""
    from wagtail_vector_index_spark.operators.dedup import (
        ngram_jaccard_pairs_prefix,
    )

    pairs = ngram_jaccard_pairs_prefix(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.5
    )
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH sh AS (SELECT doc_id, {_shingles_sql()} AS shingles FROM documents),
    hashed AS (SELECT doc_id, shingles, {HS_SQL} AS hs FROM sh),
    sig AS (SELECT doc_id, shingles, {_minhash_sig_sql()} AS sig FROM hashed),
    bands AS (SELECT doc_id, shingles,
                     unnest({_band_keys_sql('sig')}) AS band FROM sig),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
    verified AS (
      SELECT id_a, id_b,
             len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
               / (len(sa.shingles) + len(sb.shingles)
                  - len(list_intersect(sa.shingles, sb.shingles))) AS jaccard
      FROM cand JOIN sh sa ON id_a = sa.doc_id JOIN sh sb ON id_b = sb.doc_id)
    SELECT id_a, id_b, round(jaccard, 6) AS jaccard
    FROM verified WHERE jaccard >= 0.1
    """,
)
def dedup_minhash_lsh(spark, sf_dir):
    from wagtail_vector_index_spark.operators.dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"),
        n=3,
        num_hashes=16,
        bands=8,
        threshold=0.1,
    )
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


@register(
    "dedup_simhash",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest({TOKS_SQL}) AS tok FROM documents),
    hashes AS (SELECT doc_id,
                      ('0x' || substr(sha256(tok), 1, 8))::UBIGINT::BIGINT AS h
               FROM toks),
    fp AS (SELECT doc_id, ({_simhash_sql()})::BIGINT AS simhash
           FROM hashes GROUP BY doc_id)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.simhash, b.simhash))::INT AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def dedup_simhash(spark, sf_dir):
    # dense path: this corpus is near-dup-heavy (34k qualifying pairs at
    # sf0.1), which blows up banded candidate buckets; broadcast
    # fingerprints + vectorized XOR/popcount evaluates all pairs exactly.
    from wagtail_vector_index_spark.operators.dedup import simhash_pairs_dense

    return simhash_pairs_dense(_t(spark, sf_dir, "documents"), max_hamming=3)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "text_token_count",
    oracle=r"""
    SELECT doc_id,
           greatest(ceil(length(text) / 4),
                    ceil(len(regexp_extract_all(text, '[^\w\s]|\w+')) * 0.75)
           )::BIGINT AS est_tokens
    FROM documents
    """,
)
def text_token_count(spark, sf_dir):
    from wagtail_vector_index_spark.functions.text_splitting import (
        estimated_tokens_col,
    )

    return _t(spark, sf_dir, "documents").select(
        "doc_id", estimated_tokens_col(F.col("text")).alias("est_tokens")
    )


_TRUNC_BUDGETS = (256, 512, 1024, 2048)
_EST_TOKENS_SQL = (
    r"greatest(ceil(length(text) / 4), "
    r"ceil(len(regexp_extract_all(text, '[^\w\s]|\w+')) * 0.75))::BIGINT"
)


@register(
    "pipeline_truncation_stats",
    oracle=f"""
    WITH t AS (SELECT {_EST_TOKENS_SQL} AS tok FROM documents),
    b AS (SELECT unnest([{", ".join(str(b) for b in _TRUNC_BUDGETS)}])
                 AS budget)
    SELECT b.budget,
           count(*) FILTER (WHERE t.tok > b.budget)::BIGINT
             AS docs_truncated,
           coalesce(sum(greatest(t.tok - b.budget, 0)), 0)::BIGINT
             AS tokens_lost,
           round(coalesce(sum(greatest(t.tok - b.budget, 0)), 0)::DOUBLE
                 / sum(t.tok), 6) AS lost_frac
    FROM t CROSS JOIN b
    GROUP BY b.budget ORDER BY b.budget
    """,
)
def pipeline_truncation_stats(spark, sf_dir):
    """Context-window budgeting: for each candidate training budget,
    how many documents exceed it and what fraction of corpus tokens a
    hard truncation would discard — the planning numbers that pick the
    sequence length (and decide between truncation and chunked packing,
    pipeline_pack_sequences) BEFORE a run is configured.

    One scan: per-doc estimated tokens (the same JVM estimator as
    text_token_count) explode against the 4-budget literal array, then
    a map-side-combinable agg to 4 rows — budgets ride a generated
    column, so the doc table is read once, not once per budget."""
    from wagtail_vector_index_spark.functions.text_splitting import (
        estimated_tokens_col,
    )

    toks = _t(spark, sf_dir, "documents").select(
        estimated_tokens_col(F.col("text")).alias("tok")
    )
    budgets = F.array(*[F.lit(b) for b in _TRUNC_BUDGETS])
    return (
        toks.select("tok", F.explode(budgets).alias("budget"))
        .groupBy("budget")
        .agg(
            F.count(F.when(F.col("tok") > F.col("budget"), 1)).alias(
                "docs_truncated"
            ),
            F.sum(
                F.greatest(F.col("tok") - F.col("budget"), F.lit(0))
            ).alias("tokens_lost"),
            F.round(
                F.sum(F.greatest(F.col("tok") - F.col("budget"), F.lit(0)))
                / F.sum("tok"),
                6,
            ).alias("lost_frac"),
        )
        .orderBy("budget")
    )


@register(
    "text_quality",
    oracle=f"""
    WITH q AS (SELECT doc_id, text, {TOKS_SQL} AS toks FROM documents)
    SELECT doc_id,
           length(text)::BIGINT AS n_chars,
           len(toks)::BIGINT    AS n_tokens,
           round((length(text) - (len(toks) - 1))::DOUBLE / len(toks), 4)
             AS avg_token_len,
           round(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE
                 / length(text), 4) AS punct_ratio,
           round(len(list_filter(toks, t -> t IN {_in_list(STOPWORDS['en'])}))::DOUBLE
                 / len(toks), 4) AS stopword_ratio,
           round(len(list_distinct(toks))::DOUBLE / len(toks), 4)
             AS distinct_token_ratio
    FROM q
    """,
)
def text_quality(spark, sf_dir):
    from wagtail_vector_index_spark.functions.text_analysis import (
        quality_metrics_cols,
    )

    m = quality_metrics_cols(F.col("text"))
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        m["n_chars"].alias("n_chars"),
        m["n_tokens"].alias("n_tokens"),
        F.round(m["avg_token_len"], 4).alias("avg_token_len"),
        F.round(m["punct_ratio"], 4).alias("punct_ratio"),
        F.round(m["stopword_ratio"], 4).alias("stopword_ratio"),
        F.round(m["distinct_token_ratio"], 4).alias("distinct_token_ratio"),
    )


@register(
    "pipeline_quality_filter",
    oracle=f"""
    WITH q AS (
      SELECT doc_id, len(list_distinct(toks))::DOUBLE / len(toks) AS r
      FROM (SELECT doc_id, {TOKS_SQL} AS toks FROM documents))
    SELECT doc_id, round(r, 6) AS diversity
    FROM q
    WHERE r > (SELECT quantile_cont(r, 0.25) FROM q)
    """,
)
def pipeline_quality_filter(spark, sf_dir):
    """Corpus curation composition: per-doc quality score (distinct-token
    diversity) -> corpus 25th percentile (exact interpolated — Spark
    `percentile` and DuckDB `quantile_cont` agree bitwise) -> keep docs
    strictly above it. The threshold travels as a broadcast single-row
    crossJoin, the same scalar-subquery shape as q_above_global_avg —
    no second scan, no collect."""
    from wagtail_vector_index_spark.functions.text_analysis import (
        quality_metrics_cols,
    )

    m = quality_metrics_cols(F.col("text"))
    scored = _t(spark, sf_dir, "documents").select(
        "doc_id", m["distinct_token_ratio"].alias("r")
    )
    thr = scored.agg(F.percentile("r", F.lit(0.25)).alias("__thr"))
    return (
        scored.crossJoin(F.broadcast(thr))
        .where(F.col("r") > F.col("__thr"))
        .select("doc_id", F.round("r", 6).alias("diversity"))
    )


def _train_eval_jaccard(docs: DataFrame, eval_set: set[str]) -> DataFrame:
    """(train_id, eval_id, jaccard): 3-gram Jaccard of every training /
    eval document pair sharing a shingle (eval = docs whose source is in
    ``eval_set``) — the cross-set co-count join both decontamination
    gates run, keyed on the 32-bit ``sha_hash64`` of each shingle.

    The hashed shingles are built ONCE into a lazily-checkpointed
    ARRAY-grain frame (one row per doc): referencing the shingle
    expression from both size() and explode() lets CollapseProject
    inline (= recompute) it per consumer, and the train/eval branches
    would double that again. localCheckpoint, not cache(): blocks
    materialize inside the gate's single action and are released by
    the ContextCleaner when the frame drops — a session-lifetime cache
    of the shingle table was the r7 contamination-report leak. Array
    grain beats exploded grain: ~n_sh x fewer materialized rows, and
    each branch explodes only after its source filter."""
    from wagtail_vector_index_spark.functions.text_analysis import (
        shingle_hashes_col,
        word_shingles_col,
    )

    shingled = docs.select(
        "doc_id",
        "source",
        F.array_distinct(
            shingle_hashes_col(word_shingles_col(F.col("text"), 3))
        ).alias("shingles"),
    ).localCheckpoint(eager=False)

    is_eval = F.col("source").isin(eval_set)
    train = shingled.where(~is_eval).select(
        F.col("doc_id").alias("train_id"),
        F.size("shingles").alias("n_t"),
        F.explode("shingles").alias("sh"),
    )
    ev = shingled.where(is_eval).select(
        F.col("doc_id").alias("eval_id"),
        F.size("shingles").alias("n_e"),
        F.explode("shingles").alias("sh"),
    )
    ni = F.col("ni")
    return (
        train.join(ev, "sh")
        .groupBy("train_id", "eval_id", "n_t", "n_e")
        .agg(F.count(F.lit(1)).alias("ni"))
        .select(
            "train_id",
            "eval_id",
            (ni / (F.col("n_t") + F.col("n_e") - ni)).alias("jaccard"),
        )
    )


@register(
    "pipeline_decontaminate",
    oracle=f"""
    WITH sh AS (SELECT doc_id, source, {_shingles_sql()} AS shingles
                FROM documents),
    hsh AS (SELECT doc_id, source, list_distinct({HS_SQL}) AS hs FROM sh),
    ex AS (SELECT doc_id, source, len(hs) AS n, unnest(hs) AS s
           FROM hsh),
    inter AS (
      SELECT t.doc_id AS train_id, e.doc_id AS eval_id,
             t.n AS n_t, e.n AS n_e, count(*) AS ni
      FROM ex t JOIN ex e ON t.s = e.s
      WHERE t.source NOT IN ('src0', 'src1') AND e.source IN ('src0', 'src1')
      GROUP BY 1, 2, 3, 4),
    contaminated AS (
      SELECT DISTINCT train_id FROM inter
      WHERE ni::DOUBLE / (n_t + n_e - ni) >= 0.5)
    SELECT d.doc_id, d.source FROM documents d
    WHERE d.source NOT IN ('src0', 'src1')
      AND d.doc_id NOT IN (SELECT train_id FROM contaminated)
    """,
)
def pipeline_decontaminate(spark, sf_dir):
    """Train/eval decontamination: treat src0+src1 as the held-out eval
    set, flag every training doc whose 3-gram Jaccard against ANY eval
    doc reaches 0.5, and return the clean training corpus. The overlap
    detection is the shingle co-count join restricted to cross-set pairs
    — candidates only meet on shared shingles, so the join never goes
    quadratic in corpus size; the drop is a broadcast-able anti-join on
    the (small) contaminated-id set.

    The join/agg key is the 32-bit sha256-derived shingle hash
    (sha_hash64; DuckDB replays the identical expression), not the raw
    3-gram string — the wide shuffle carries one long instead of a
    ~20-60 B text key, the same trade the prefix-filter dedup path
    documents. Collision caveat (same as there): two distinct shingles
    sharing a hash count as one intersection; both engines hash
    identically so the gate stays exact, and at 32 bits the expectation
    is negligible below ~10^4 distinct shingles per doc pair."""
    docs = _t(spark, sf_dir, "documents")
    eval_set = {"src0", "src1"}
    contaminated = (
        _train_eval_jaccard(docs, eval_set)
        .where(F.col("jaccard") >= F.lit(0.5))
        .select(F.col("train_id").alias("doc_id"))
        .distinct()
    )
    return (
        docs.where(~F.col("source").isin(eval_set))
        .join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "source")
    )


@register(
    "pipeline_ngram_collision",
    oracle=f"""
    WITH t AS (SELECT doc_id, source, {TOKEN_HASHES_SQL} AS th
               FROM documents),
    hsh AS (SELECT doc_id, source,
                   list_distinct({_ngram_fp_sql(13)}) AS hs FROM t),
    ex AS (SELECT doc_id, source, unnest(hs) AS s FROM hsh),
    ev AS (SELECT DISTINCT s FROM ex WHERE source IN ('src0', 'src1')),
    tr AS (SELECT doc_id, s FROM ex WHERE source NOT IN ('src0', 'src1'))
    SELECT tr.doc_id, count(*)::BIGINT AS n_colliding
    FROM tr JOIN ev USING (s)
    GROUP BY tr.doc_id ORDER BY tr.doc_id
    """,
)
def pipeline_ngram_collision(spark, sf_dir):
    """Exact 13-gram collision decontamination — the published GPT-3 /
    PaLM protocol (Brown et al. 2020, appendix C): a training document
    is contaminated if it shares ANY 13-gram with the held-out eval set
    (src0+src1), no similarity threshold involved. The complement of
    pipeline_decontaminate's 3-gram-Jaccard rule: collisions catch
    verbatim spans that a whole-document Jaccard dilutes to nothing in
    a long train doc. Returns each flagged train doc with its count of
    distinct colliding 13-grams (the audit evidence).

    Scale shape: eval 13-grams dedup in ONE distinct agg (the small
    side — eval sets are thousands of docs, not billions); the
    collision test is an equi-join that only meets on shared shingles —
    never quadratic in corpus size, the same co-count discipline as
    decontaminate. All shingling is JVM expressions; zero Python
    stages.

    13-grams are ~60-100 B strings — building them just to hash them
    was the measured floor of this gate (~3.2s of a ~4s wall at sf0.1),
    so the key is the token-hash XOR-shift FINGERPRINT
    (ngram_fingerprints_col: sha256 once per TOKEN, 13 shift-XORs per
    gram, never a gram string; identical expression replayed in the
    oracle via _ngram_fp_sql). Collision caveat as documented on the
    prefix-filter dedup path — and at 44 bits the fingerprint collides
    LESS than the 32-bit string hash it replaces; both engines
    fingerprint identically so the gate stays exact."""
    from wagtail_vector_index_spark.functions.text_analysis import (
        ngram_fingerprints_col,
        token_sha_hashes_col,
    )

    docs = _t(spark, sf_dir, "documents")
    eval_set = {"src0", "src1"}
    # token hashes BOUND to a column before fingerprinting — see
    # token_sha_hashes_col's docstring (unbound inlining recomputes the
    # sha pass once per gram reference; measured 8x)
    ex = (
        docs.select("doc_id", "source", token_sha_hashes_col(F.col("text")).alias("__th"))
        .select(
            "doc_id",
            "source",
            F.explode(
                F.array_distinct(ngram_fingerprints_col(F.col("__th"), 13))
            ).alias("sh"),
        )
    )
    # explicit broadcast: the distinct'd eval gram set is EVAL-SUITE
    # sized (bounded — benchmarks, not corpora), so shipping it to every
    # task means the corpus-sized train side never shuffles for the
    # join; also saves AQE's deferred re-plan (measured: cold 5.8->1.5s)
    ev = F.broadcast(
        ex.where(F.col("source").isin(eval_set)).select("sh").distinct()
    )
    tr = ex.where(~F.col("source").isin(eval_set)).select("doc_id", "sh")
    return (
        tr.join(ev, "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_colliding"))
        .orderBy("doc_id")
    )


_MIX_WEIGHTS = {f"src{i}": (0.9 if i < 10 else 0.3) for i in range(20)}


def _mix_cases_sql() -> str:
    return " ".join(
        f"WHEN source = '{g}' THEN {int(round(w * 100000))}"
        for g, w in sorted(_MIX_WEIGHTS.items())
    )


def _mix_oracle() -> str:
    return f"""
    SELECT doc_id, source FROM documents
    WHERE ('0x' || substr(sha256(doc_id::VARCHAR), 1, 8))::UBIGINT % 100000
          < (CASE {_mix_cases_sql()} ELSE 0 END)
    """


_SPLIT_FRACTIONS = {"train": 0.9, "val": 0.05, "test": 0.05}


def _split_oracle() -> str:
    # mirror split_col: sorted-name iteration, cumulative thresholds on
    # the same sha-bucket space
    total = 0.0
    cases = []
    for name, frac in sorted(_SPLIT_FRACTIONS.items()):
        total += frac
        cases.append(f"WHEN b < {int(round(total * 100000))} THEN '{name}'")
    return f"""
    SELECT doc_id, source, split FROM (
      SELECT doc_id, source,
             (CASE {' '.join(cases)} END) AS split
      FROM (SELECT doc_id, source,
                   ('0x' || substr(sha256(doc_id::VARCHAR), 1, 8))::UBIGINT
                     % 100000 AS b
            FROM documents))
    WHERE split IS NOT NULL
    """


@register("pipeline_train_val_split", oracle=_split_oracle())
def pipeline_train_val_split(spark, sf_dir):
    """Deterministic train/val/test assignment (90/5/5): membership is a
    pure function of the doc id via cumulative sha-bucket thresholds —
    stable across runs, partitionings, and engines, so a document can
    never leak from val into train between pipeline versions. Served
    through the Corpus facade; one narrow JVM projection, no shuffle, no
    RNG."""
    from wagtail_vector_index_spark.operators.corpus import Corpus

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return Corpus(docs).with_split(_SPLIT_FRACTIONS).df.select(
        "doc_id", "source", "split"
    )


def _split_case_sql() -> str:
    total = 0.0
    cases = []
    for name, frac in sorted(_SPLIT_FRACTIONS.items()):
        total += frac
        cases.append(f"WHEN b < {int(round(total * 100000))} THEN '{name}'")
    return f"(CASE {' '.join(cases)} END)"


def _split_leakage_oracle() -> str:
    return f"""
    WITH sp AS (
      SELECT doc_id, {_split_case_sql()} AS split
      FROM (SELECT doc_id,
                   ('0x' || substr(sha256(doc_id::VARCHAR), 1, 8))::UBIGINT
                     % 100000 AS b
            FROM documents)),
    sh AS (SELECT doc_id, {_shingles_sql()} AS shingles FROM documents),
    ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS n_a, b.n AS n_b,
             count(*) AS ni
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4),
    pairs AS (
      SELECT id_a, id_b, round(ni::DOUBLE / (n_a + n_b - ni), 6) AS jaccard
      FROM inter WHERE ni::DOUBLE / (n_a + n_b - ni) >= 0.5)
    SELECT p.id_a, p.id_b, p.jaccard,
           sa.split AS split_a, sb.split AS split_b
    FROM pairs p
    JOIN sp sa ON p.id_a = sa.doc_id
    JOIN sp sb ON p.id_b = sb.doc_id
    WHERE sa.split <> sb.split
    ORDER BY p.id_a, p.id_b
    """


@register("pipeline_split_leakage", oracle=_split_leakage_oracle())
def pipeline_split_leakage(spark, sf_dir):
    """Split-leakage audit: near-duplicate pairs (3-gram Jaccard >= 0.5)
    whose members landed in DIFFERENT train/val/test splits — the
    evaluation-integrity check a random split silently fails (a val doc
    whose near-twin sits in train measures memorization). Deterministic
    end to end: the split is the same sha-bucket pure function as
    pipeline_train_val_split, the pair set the same exact co-count join
    as dedup_jaccard_exact. The production fix is group-aware splitting
    (split by dedup cluster, not by doc); this gate is the detector
    that says you need it.

    Scale shape: pairs meet only on shared shingles (never quadratic);
    the split labels attach via two joins against a narrow
    (doc_id, split) projection computed without a shuffle."""
    from wagtail_vector_index_spark.operators.dedup import (
        ngram_jaccard_pairs_collapsed,
    )
    from wagtail_vector_index_spark.operators.skew import split_col

    docs = _t(spark, sf_dir, "documents")
    sp = docs.select(
        "doc_id", split_col(F.col("doc_id"), _SPLIT_FRACTIONS).alias("split")
    )
    # identical-shingle-set docs collapse before the pair join and
    # expand back after (exact — pair-grain output is preserved); the
    # output stays quadratic in clique size because the ANSWER is, but
    # the join/agg work no longer is. method="auto" (default) routes
    # hot-shingle corpora through the AllPairs prefix filter
    pairs = ngram_jaccard_pairs_collapsed(docs, n=3, threshold=0.5)
    return (
        pairs.join(
            sp.select(
                F.col("doc_id").alias("id_a"), F.col("split").alias("split_a")
            ),
            "id_a",
        )
        .join(
            sp.select(
                F.col("doc_id").alias("id_b"), F.col("split").alias("split_b")
            ),
            "id_b",
        )
        .where(F.col("split_a") != F.col("split_b"))
        .select(
            "id_a",
            "id_b",
            F.round("jaccard", 6).alias("jaccard"),
            "split_a",
            "split_b",
        )
        .orderBy("id_a", "id_b")
    )


@register("pipeline_dataset_mix", oracle=_mix_oracle())
def pipeline_dataset_mix(spark, sf_dir):
    """Deterministic dataset mixing: per-source keep rates (downweight
    half the sources to 0.3, keep the rest at 0.9) applied through the
    content-addressed sha256 filter — reproducible across runs,
    partitionings, and engines, unlike seeded RNG sampling. One narrow
    JVM filter, no shuffle; the oracle re-derives membership from the
    same hex prefix."""
    from wagtail_vector_index_spark.operators.skew import weighted_mix

    return weighted_mix(
        _t(spark, sf_dir, "documents"),
        _MIX_WEIGHTS,
        group_col="source",
        key_col="doc_id",
    ).select("doc_id", "source")


_EPOCH_WEIGHTS = {f"src{i}": (2.5 if i < 5 else (1.0 if i < 10 else 0.4)) for i in range(20)}


def _mix_epochs_oracle() -> str:
    buckets = 100000
    nf_cases = " ".join(
        f"WHEN source = '{g}' THEN {int(w)}"
        for g, w in sorted(_EPOCH_WEIGHTS.items())
    )
    thr_cases = " ".join(
        f"WHEN source = '{g}' THEN {int(round((w - int(w)) * buckets))}"
        for g, w in sorted(_EPOCH_WEIGHTS.items())
    )
    return f"""
    WITH c AS (
      SELECT doc_id, source,
             (CASE {nf_cases} ELSE 0 END)
             + (CASE WHEN ('0x' || substr(sha256(doc_id::VARCHAR || ':' || source), 1, 8))::UBIGINT
                          % {buckets} < (CASE {thr_cases} ELSE 0 END)
                THEN 1 ELSE 0 END) AS copies
      FROM documents)
    SELECT doc_id, source, unnest(range(0, copies))::INT AS epoch
    FROM c WHERE copies > 0
    """


@register("pipeline_mix_epochs", oracle=_mix_epochs_oracle())
def pipeline_mix_epochs(spark, sf_dir):
    """Dataset mixing with UPSAMPLING: sources get 2.5 / 1.0 / 0.4 epochs
    — full copies plus a content-addressed fractional replica, epoch ids
    attached so replicas stay distinct downstream. Fan-out is a per-row
    generated sequence exploded in place (one narrow pipeline, no join
    against a replication table, no second scan); membership is a pure
    function of (doc_id, source), so re-runs and engines agree exactly."""
    from wagtail_vector_index_spark.operators.skew import mix_epochs

    return mix_epochs(
        _t(spark, sf_dir, "documents"),
        _EPOCH_WEIGHTS,
        group_col="source",
        key_col="doc_id",
    ).select("doc_id", "source", "epoch")


def _lang_scores_sql() -> str:
    return ", ".join(
        f"len(list_filter(toks, t -> t IN {_in_list(STOPWORDS[lang])})) AS s_{lang}"
        for lang in sorted(STOPWORDS)
    )


@register(
    "text_lang_id",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, {_lang_scores_sql()}
      FROM (SELECT doc_id, {TOKS_SQL} AS toks FROM documents))
    SELECT doc_id,
           CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                ELSE 'fr' END AS lang_pred
    FROM s
    """,
)
def text_lang_id(spark, sf_dir):
    from wagtail_vector_index_spark.functions.text_analysis import lang_id_col

    return _t(spark, sf_dir, "documents").select(
        "doc_id", lang_id_col(F.col("text")).alias("lang_pred")
    )


@register(
    "doc_fingerprint",
    oracle=f"""
    SELECT doc_id,
           {FINGERPRINT_SQL} AS fingerprint,
           (('0x' || substr(sha256({FINGERPRINT_SQL}), 1, 8))::UBIGINT
             % 1024)::BIGINT AS bucket
    FROM documents
    """,
)
def doc_fingerprint(spark, sf_dir):
    from wagtail_vector_index_spark.functions.text_analysis import (
        fingerprint_bucket_col,
        fingerprint_col,
    )

    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        fingerprint_col(F.col("text")).alias("fingerprint"),
        fingerprint_bucket_col(F.col("text"), 1024).alias("bucket"),
    )


@register(
    "dedup_apply",
    oracle=f"""
    WITH sh AS (SELECT doc_id, {_shingles_sql()} AS shingles FROM documents),
    ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS n_a, b.n AS n_b,
             count(*) AS ni
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4),
    losers AS (
      SELECT DISTINCT id_b FROM inter
      WHERE ni::DOUBLE / (n_a + n_b - ni) >= 0.5)
    SELECT doc_id, source FROM documents
    WHERE doc_id NOT IN (SELECT id_b FROM losers)
    """,
)
def dedup_apply(spark, sf_dir):
    """End-to-end dedup application: find near-dup pairs (exact Jaccard
    >= 0.5), drop the higher-id member of each, return the surviving
    corpus — the keep_representatives anti-join."""
    from wagtail_vector_index_spark.operators.dedup import (
        keep_representatives,
        ngram_dup_cluster_edges,
    )

    docs = _t(spark, sf_dir, "documents")
    # star+rep edges, not the full pair set: a doc is a loser iff it has
    # a smaller qualifying neighbor, and that is preserved exactly —
    # members lose to their (min-id) rep via star edges, and a rep loses
    # iff some smaller rep's group qualifies (identical sets make every
    # member pair equivalent to the rep pair). Mega-dup clusters cost
    # O(R) edges instead of O(R^2).
    pairs = ngram_dup_cluster_edges(docs, n=3, threshold=0.5)
    return keep_representatives(docs, pairs).select("doc_id", "source")


@register(
    "dedup_components",
    oracle=f"""
    WITH RECURSIVE
    sh AS (SELECT doc_id, {_shingles_sql()} AS shingles FROM documents),
    ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS n_a, b.n AS n_b,
             count(*) AS ni
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4),
    pairs AS (
      SELECT id_a, id_b FROM inter
      WHERE ni::DOUBLE / (n_a + n_b - ni) >= 0.1),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs),
    walk(u, r) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.u, w.r FROM edges e JOIN walk w ON e.v = w.u),
    comp AS (SELECT u AS doc_id, min(r) AS component FROM walk GROUP BY u)
    SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
    FROM documents d LEFT JOIN comp c USING (doc_id)
    """,
)
def dedup_components(spark, sf_dir):
    """Duplicate-cluster labeling: near-dup pairs (exact 3-gram Jaccard
    >= 0.1, the loose threshold so clusters chain) -> connected components
    by iterative min-label propagation -> every document labeled with its
    cluster's minimum doc_id (singletons label themselves). The oracle
    re-derives the same clustering with a recursive transitive-closure
    CTE, so chained near-dups (A~B~C without A~C) are pinned exactly —
    the case the single-pass keep_representatives approximation gets
    wrong."""
    from wagtail_vector_index_spark.operators.dedup import (
        connected_components,
        ngram_dup_cluster_edges,
    )

    docs = _t(spark, sf_dir, "documents")
    # connectivity-equivalent star edges: identical-shingle-set groups
    # collapse before the pair join (ngram_dup_cluster_edges; the
    # method="auto" default prefix-routes hot-shingle corpora), so a
    # mega-duplicate cluster contributes O(R) edges, not O(R^2) join rows
    pairs = ngram_dup_cluster_edges(docs, n=3, threshold=0.1)
    comp = connected_components(pairs).withColumnRenamed("id", "doc_id")
    return docs.select("doc_id").join(comp, "doc_id", "left").select(
        "doc_id", F.coalesce("component", "doc_id").alias("component")
    )


@register(
    "pipeline_dup_aware_weights",
    oracle=f"""
    WITH RECURSIVE
    sh AS (SELECT doc_id, {_shingles_sql()} AS shingles FROM documents),
    ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS n_a, b.n AS n_b,
             count(*) AS ni
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4),
    pairs AS (
      SELECT id_a, id_b FROM inter
      WHERE ni::DOUBLE / (n_a + n_b - ni) >= 0.5),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs),
    walk(u, r) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.u, w.r FROM edges e JOIN walk w ON e.v = w.u),
    comp AS (SELECT u AS doc_id, min(r) AS component FROM walk GROUP BY u),
    lbl AS (
      SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
      FROM documents d LEFT JOIN comp c USING (doc_id)),
    sz AS (SELECT component, count(*)::BIGINT AS cluster_size
           FROM lbl GROUP BY component)
    SELECT l.doc_id, l.component, s.cluster_size,
           round(1.0 / s.cluster_size, 6) AS weight
    FROM lbl l JOIN sz s USING (component)
    """,
)
def pipeline_dup_aware_weights(spark, sf_dir):
    """Duplication-aware sampling weights: every document gets weight
    1/cluster_size over its near-dup cluster (3-gram Jaccard >= 0.5,
    transitively closed), so each piece of UNIQUE content contributes
    equal expected mass to a training epoch no matter how many times
    the crawl found it — the soft alternative to hard dedup when
    duplicates carry signal (repetition count correlates with quality;
    cf. data-constrained scaling, Muennighoff et al. 2023). Feed the
    weight column straight into sample_weighted / weighted_mix.

    Same distributed shape as dedup_components (banded pair join ->
    pointer-doubling components) plus one component-keyed count and a
    broadcast-able size join back; the oracle replays the closure as a
    recursive CTE."""
    from wagtail_vector_index_spark.operators.dedup import (
        connected_components,
        ngram_dup_cluster_edges,
    )

    docs = _t(spark, sf_dir, "documents")
    # star edges (linear in cluster size) carry the same components as
    # the full pair graph — the mega-cluster guard for this gate's
    # closure (SCALE.md: 10x identical-text replicas detonated the full
    # co-count join; collapsing identical shingle sets first removes it)
    pairs = ngram_dup_cluster_edges(docs, n=3, threshold=0.5)
    comp = connected_components(pairs).withColumnRenamed("id", "doc_id")
    lbl = docs.select("doc_id").join(comp, "doc_id", "left").select(
        "doc_id", F.coalesce("component", "doc_id").alias("component")
    )
    sz = lbl.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return lbl.join(sz, "component").select(
        "doc_id",
        "component",
        "cluster_size",
        F.round(F.lit(1.0) / F.col("cluster_size"), 6).alias("weight"),
    )


@register(
    "dedup_keep_best",
    oracle=f"""
    WITH RECURSIVE
    sh AS (SELECT doc_id, {_shingles_sql()} AS shingles FROM documents),
    ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS n_a, b.n AS n_b,
             count(*) AS ni
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4),
    pairs AS (
      SELECT id_a, id_b FROM inter
      WHERE ni::DOUBLE / (n_a + n_b - ni) >= 0.1),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs),
    walk(u, r) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.u, w.r FROM edges e JOIN walk w ON e.v = w.u),
    comp AS (SELECT u AS doc_id, min(r) AS component FROM walk GROUP BY u),
    labeled AS (
      SELECT d.doc_id, d.n_chars,
             coalesce(c.component, d.doc_id) AS comp
      FROM documents d LEFT JOIN comp c USING (doc_id))
    SELECT doc_id, n_chars FROM (
      SELECT doc_id, n_chars,
             row_number() OVER (
               PARTITION BY comp ORDER BY n_chars DESC, doc_id) AS rn
      FROM labeled) WHERE rn = 1
    """,
)
def dedup_keep_best(spark, sf_dir):
    """Quality-preferring cluster pruning: near-dup components (exact
    3-gram Jaccard >= 0.1, loose so clusters chain) reduced to the
    LONGEST member of each cluster (min doc_id tie-break) instead of
    the smallest id — keep_representatives_exact(prefer_col=), the
    policy production dedup wants (keep the best copy, drop the rest).
    Components run on the r5 star algorithm; the oracle re-derives the
    clustering with the recursive transitive-closure CTE and ranks
    within components identically."""
    from wagtail_vector_index_spark.operators.dedup import (
        keep_representatives_exact,
        ngram_dup_cluster_edges,
    )

    docs = _t(spark, sf_dir, "documents")
    # representatives only need CONNECTIVITY, not the pair list — the
    # star-edge source is components-identical with linear output even
    # on a mega-duplicate cluster (R members: R-1 star edges, not R^2/2)
    pairs = ngram_dup_cluster_edges(docs, n=3, threshold=0.1)
    return keep_representatives_exact(
        docs, pairs, prefer_col="n_chars"
    ).select("doc_id", "n_chars")


@register(
    "text_bm25",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {TOKS_SQL} AS t FROM documents),
    dl AS (SELECT doc_id, len(t)::DOUBLE AS dl FROM toks),
    stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, tok, count(*)::DOUBLE AS tf
      FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
      WHERE tok IN ('vector', 'join', 'scan')
      GROUP BY 1, 2),
    dfreq AS (SELECT tok, count(*)::DOUBLE AS df FROM tf GROUP BY tok)
    SELECT tf.doc_id,
           round(sum(
             ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
             * (tf.tf * (1.2 + 1))
             / (tf.tf + 1.2 * ((1 - 0.75) + 0.75 * dl.dl / s.avgdl))
           ), 6) AS bm25
    FROM tf JOIN dfreq d USING (tok) JOIN dl USING (doc_id)
         CROSS JOIN stats s
    GROUP BY tf.doc_id
    """,
)
def text_bm25(spark, sf_dir):
    """Lexical retrieval: Okapi BM25 over the corpus for a fixed query
    term set — document length rides the token explode (no corpus
    re-join), document frequencies and corpus stats broadcast. Every
    scored doc is returned (no top-k) so the comparison is
    order-insensitive; the oracle computes the identical smoothed-idf
    expression."""
    from wagtail_vector_index_spark.operators.bm25 import bm25_scores

    scores = bm25_scores(
        _t(spark, sf_dir, "documents"), ["vector", "join", "scan"]
    )
    return scores.select("doc_id", F.round("score", 6).alias("bm25"))


@register(
    "pipeline_pack_sequences",
    oracle=r"""
    WITH RECURSIVE
    toks AS (
      SELECT doc_id,
             greatest(ceil(length(text) / 4),
                      ceil(len(regexp_extract_all(text, '[^\w\s]|\w+')) * 0.75)
             )::BIGINT AS t
      FROM documents),
    d AS (
      SELECT doc_id, t, (doc_id % 8)::INT AS shard,
             row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
      FROM toks),
    walk(shard, rn, doc_id, t, pack, fill) AS (
      SELECT shard, rn, doc_id, t, 0::BIGINT, t FROM d WHERE rn = 1
      UNION ALL
      SELECT d.shard, d.rn, d.doc_id, d.t,
             CASE WHEN w.fill > 0 AND w.fill + d.t > 1024
                  THEN w.pack + 1 ELSE w.pack END,
             CASE WHEN w.fill > 0 AND w.fill + d.t > 1024
                  THEN d.t ELSE w.fill + d.t END
      FROM d JOIN walk w ON d.shard = w.shard AND d.rn = w.rn + 1)
    SELECT doc_id, t AS est_tokens, shard, pack AS pack_id,
           (fill - t) AS pack_offset
    FROM walk
    """,
)
def pipeline_pack_sequences(spark, sf_dir):
    """Greedy sequence packing (LLM context-window prep): estimated token
    counts -> shard by doc_id % 8 -> greedy fold into 1024-token packs in
    id order, partition-locally inside applyInPandas (packing is
    inherently sequential per shard — a window function cannot express
    the running-fill decision). The oracle replays the identical greedy
    fold with a recursive CTE, so every (shard, pack_id, pack_offset)
    assignment is value-pinned."""
    from wagtail_vector_index_spark.functions.text_splitting import (
        estimated_tokens_col,
    )
    from wagtail_vector_index_spark.operators.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", estimated_tokens_col(F.col("text")).alias("est_tokens")
    )
    return pack_sequences(
        docs, id_col="doc_id", tokens="est_tokens", budget=1024, num_shards=8
    )


@register(
    "pipeline_corpus_prep",
    oracle=f"""
    WITH RECURSIVE
    fp AS (
      SELECT doc_id, source, text, {FINGERPRINT_SQL} AS fp FROM documents
      QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1),
    q AS (
      SELECT doc_id, source, text,
             len(list_distinct(toks))::DOUBLE / len(toks) AS r
      FROM (SELECT doc_id, source, text, {TOKS_SQL} AS toks FROM fp)),
    quality AS (
      SELECT doc_id, source, text FROM q
      WHERE r > (SELECT quantile_cont(r, 0.25) FROM q)),
    mixed AS (
      SELECT doc_id, text FROM quality
      WHERE ('0x' || substr(sha256(doc_id::VARCHAR), 1, 8))::UBIGINT % 100000
            < (CASE {_mix_cases_sql()} ELSE 0 END)),
    toks2 AS (
      SELECT doc_id,
             greatest(ceil(length(text) / 4),
                      ceil(len(regexp_extract_all(text, '[^\\w\\s]|\\w+')) * 0.75)
             )::BIGINT AS t
      FROM mixed),
    d AS (
      SELECT doc_id, t, (doc_id % 8)::INT AS shard,
             row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
      FROM toks2),
    walk(shard, rn, doc_id, t, pack, fill) AS (
      SELECT shard, rn, doc_id, t, 0::BIGINT, t FROM d WHERE rn = 1
      UNION ALL
      SELECT d.shard, d.rn, d.doc_id, d.t,
             CASE WHEN w.fill > 0 AND w.fill + d.t > 1024
                  THEN w.pack + 1 ELSE w.pack END,
             CASE WHEN w.fill > 0 AND w.fill + d.t > 1024
                  THEN d.t ELSE w.fill + d.t END
      FROM d JOIN walk w ON d.shard = w.shard AND d.rn = w.rn + 1)
    SELECT doc_id, t AS est_tokens, shard, pack AS pack_id,
           (fill - t) AS pack_offset
    FROM walk
    """,
)
def pipeline_corpus_prep(spark, sf_dir):
    """The whole training-corpus prep as one composed plan: exact dedup
    (keep min id per content fingerprint) -> diversity-percentile quality
    gate over the survivors -> deterministic per-source mixing -> greedy
    sequence packing into 1024-token context windows. Every stage is the
    already-verified operator; this gate pins that they compose — the
    oracle chains the same four stages (incl. the recursive packing
    replay) in one SQL statement."""
    from wagtail_vector_index_spark.functions.text_analysis import (
        fingerprint_col,
        quality_metrics_cols,
    )
    from wagtail_vector_index_spark.functions.text_splitting import (
        estimated_tokens_col,
    )
    from wagtail_vector_index_spark.operators.packing import pack_sequences
    from wagtail_vector_index_spark.operators.skew import weighted_mix

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "text", fingerprint_col(F.col("text")).alias("fp")
    )
    keep = docs.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    surv = docs.join(keep.select("doc_id"), "doc_id", "semi")

    m = quality_metrics_cols(F.col("text"))
    scored = surv.select(
        "doc_id", "source", "text", m["distinct_token_ratio"].alias("r")
    )
    thr = scored.agg(F.percentile("r", F.lit(0.25)).alias("__thr"))
    quality = (
        scored.crossJoin(F.broadcast(thr))
        .where(F.col("r") > F.col("__thr"))
        .select("doc_id", "source", "text")
    )

    mixed = weighted_mix(
        quality, _MIX_WEIGHTS, group_col="source", key_col="doc_id"
    ).select("doc_id", estimated_tokens_col(F.col("text")).alias("est_tokens"))

    return pack_sequences(
        mixed, id_col="doc_id", tokens="est_tokens", budget=1024, num_shards=8
    )


@register(
    "text_wordcount",
    oracle=f"""
    SELECT tok, count(*)::BIGINT AS n
    FROM (SELECT unnest({TOKS_SQL}) AS tok FROM documents)
    GROUP BY tok
    ORDER BY n DESC, tok
    LIMIT 25
    """,
)
def text_wordcount(spark, sf_dir):
    """Corpus vocabulary: explode tokens -> count -> top-k. Map-side
    partial aggregation collapses the token stream before the shuffle;
    TakeOrderedAndProject cuts the top-k without a global sort."""
    from wagtail_vector_index_spark.functions.text_analysis import tokens_col

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens_col(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok").asc())
        .limit(25)
    )


@register(
    "pipeline_weighted_sample",
    oracle="""
    WITH s AS (
      SELECT doc_id, source,
             round(-ln((('0x' || substr(sha256(doc_id::VARCHAR), 1, 8))::UBIGINT
                        + 1) / 4294967296.0)
                   / n_chars::DOUBLE, 12) AS sel
      FROM documents WHERE n_chars::DOUBLE > 0)
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source ORDER BY sel, doc_id) AS rn
      FROM s) WHERE rn <= 20
    """,
)
def pipeline_weighted_sample(spark, sf_dir):
    """Length-weighted corpus subsample: 20 docs per source drawn
    WITHOUT replacement with probability proportional to n_chars —
    Efraimidis-Spirakis exponential clocks over a content-addressed
    uniform (operators/skew.py::weighted_sample), so the 'random'
    sample is a pure function of (doc_id, weight) that the oracle
    replays term for term. Per-group selection runs as a ranked window
    (map-side WindowGroupLimit keeps ~k rows per group per task); the
    curation move it serves is hitting an exact per-source row budget
    where a Bernoulli rate can't."""
    from wagtail_vector_index_spark.operators.skew import weighted_sample

    docs = _t(spark, sf_dir, "documents")
    return weighted_sample(
        docs, key_col="doc_id", weight_col="n_chars", k=20,
        group_col="source",
    ).select("doc_id", "source")


@register(
    "pipeline_shuffle_rank",
    oracle="""
    SELECT doc_id,
           row_number() OVER (
             ORDER BY sha256(doc_id::VARCHAR), doc_id) AS shuffle_rank
    FROM documents
    """,
)
def pipeline_shuffle_rank(spark, sf_dir):
    """Deterministic global shuffle for training order: rank documents by
    sha256 of their id — a reproducible permutation that is a pure
    function of the key (re-runs, resplits, and engines all agree),
    unlike seeded per-partition RNG. At scale the total order is exactly
    the range-partitioned sort Spark already does for write-ordered
    export; the hash key makes it a uniform shuffle rather than an id
    sort."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.orderBy(F.sha2(F.col("doc_id").cast("string"), 256), F.col("doc_id"))
    return docs.select(
        "doc_id", F.row_number().over(w).cast("long").alias("shuffle_rank")
    )


_CDC_BND_SQL = (
    "list_filter(range(16, length(text)), "
    "i -> ('0x' || substr(sha256(substr(text, i - 15, 16)), 1, 8))::UBIGINT "
    "% 64 = 0)"
)


@register(
    "dedup_shared_passages",
    oracle=f"""
    WITH b AS (SELECT doc_id, text, {_CDC_BND_SQL} AS bnd FROM documents),
    ch AS (
      SELECT doc_id,
             CASE WHEN length(text) > 16 THEN
               list_transform(
                 list_zip(
                   list_concat([1], list_transform(bnd, x -> x + 1)),
                   list_concat(bnd, [length(text)])),
                 p -> substr(text, p[1], p[2] - p[1] + 1))
             ELSE [text] END AS chunks
      FROM b),
    fp AS (
      SELECT DISTINCT doc_id, sha256(c) AS chunk_fp
      FROM (SELECT doc_id, unnest(chunks) AS c FROM ch)
      WHERE length(c) >= 8)
    SELECT chunk_fp, count(*)::BIGINT AS n_docs
    FROM fp GROUP BY chunk_fp HAVING count(*) >= 2
    """,
)
def dedup_shared_passages(spark, sf_dir):
    """Sub-document duplicate detection via content-defined chunking:
    rolling-hash boundaries split every document into content-addressed
    chunks, and a chunk fingerprint appearing in >= 2 documents is a
    shared passage — the partial-dup family (boilerplate headers, quoted
    blocks, near-dup tails) that whole-document fingerprints miss.
    Because boundaries depend only on local content, a shared passage
    chunks identically regardless of what precedes it in each document.
    One explode + one map-side-combinable count; tiny chunks (< 8 chars)
    are dropped like every CDC system's min-chunk-size."""
    from wagtail_vector_index_spark.functions.text_analysis import (
        cdc_boundaries_col,
        cdc_chunks_from_boundaries,
    )
    from wagtail_vector_index_spark.operators._util import (
        ensure_parallelism as _ensure_parallelism,
    )

    # the boundary scan is one sha256 per character position — CPU-bound
    # per row. A single-file source must not serialize ~1.5M digests onto
    # one core: spread it first (no-op when the input is already wide;
    # measured 3.3x at sf0.1)
    docs = _ensure_parallelism(_t(spark, sf_dir, "documents"), "doc_id")
    # hoist the boundary scan (one digest per position) into its own
    # projection — embedding it in the chunk construction inlines the
    # scan into starts AND ends (~1.8x slower)
    t = F.coalesce(F.col("text"), F.lit(""))
    with_bnd = docs.select(
        "doc_id",
        "text",
        cdc_boundaries_col(t, window=16, mask=64).alias("__bnd"),
    )
    chunks = cdc_chunks_from_boundaries(
        F.coalesce(F.col("text"), F.lit("")), F.col("__bnd"), window=16
    )
    fps = with_bnd.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.filter(chunks, lambda c: F.length(c) >= 8),
                    lambda c: F.sha2(c, 256),
                )
            )
        ).alias("chunk_fp"),
    )
    return (
        fps.groupBy("chunk_fp")
        # countDistinct, not count: the per-row array_distinct already
        # dedupes within a doc, but the oracle counts DISTINCT doc_id —
        # make the invariant explicit instead of relying on doc_id
        # row-uniqueness
        .agg(F.count_distinct(F.col("doc_id")).alias("n_docs"))
        .where(F.col("n_docs") >= 2)
    )


_SUBSTR_K = 8


def _rot60_sql(e: str, r: int) -> str:
    """DuckDB replay of functions.text_analysis._rot60: rotate a
    [0, 2^60) UBIGINT left by ``r`` within 60 bits, overflow-free (the
    low bits are isolated with a modulo BEFORE the shift)."""
    if r == 0:
        return e
    return (
        f"((({e}) % {1 << (60 - r)}::UBIGINT) << {r}) | (({e}) >> {60 - r})"
    )


def _window_hash_sql(arr: str, k: int) -> str:
    """DuckDB replay of rolling_window_hash60_col's window key at
    1-based position ``pos`` over a per-token 60-bit hash list
    ``arr``: XOR of per-position rotations — one sha per token, never
    a window string."""
    terms = [_rot60_sql(f"{arr}[pos + {j}]", (7 * j) % 60) for j in range(k)]
    out = terms[0]
    for t in terms[1:]:
        out = f"xor({out}, {t})"
    return out


@register(
    "dedup_substring_coverage",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {TOKS_SQL} AS l FROM documents),
    sized AS (SELECT doc_id, l, len(l)::BIGINT AS n FROM tk
              WHERE len(l) >= {_SUBSTR_K}),
    th AS (
      SELECT doc_id, n,
             list_transform(l, t ->
               ('0x' || substr(sha256(t), 1, 15))::UBIGINT) AS h
      FROM sized),
    w AS (
      SELECT doc_id, pos, {_window_hash_sql('h', _SUBSTR_K)} AS wh
      FROM (SELECT doc_id, h,
                   unnest(range(1, n - {_SUBSTR_K} + 2)) AS pos
            FROM th)),
    dup AS (SELECT wh FROM w GROUP BY wh HAVING count(*) >= 2),
    cov AS (
      SELECT doc_id,
             least({_SUBSTR_K},
                   coalesce(lead(pos) OVER (PARTITION BY doc_id
                                            ORDER BY pos) - pos,
                            {_SUBSTR_K})) AS c
      FROM w JOIN dup USING (wh)),
    agg AS (SELECT doc_id, count(*)::BIGINT AS n_dup_windows,
                   sum(c)::BIGINT AS covered
            FROM cov GROUP BY doc_id)
    SELECT s.doc_id, s.n AS n_toks,
           coalesce(a.n_dup_windows, 0)::BIGINT AS n_dup_windows,
           coalesce(a.covered, 0)::BIGINT AS covered_tokens,
           round(coalesce(a.covered, 0)::BIGINT / s.n, 4) AS coverage
    FROM sized s LEFT JOIN agg a USING (doc_id)
    """,
)
def dedup_substring_coverage(spark, sf_dir):
    """ExactSubstr duplicated-span coverage (Lee et al. 2022): for
    every document, the fraction of tokens sitting inside an 8-word
    window whose content occurs >= 2 times anywhere in the corpus —
    the sub-document memorization-risk signal whole-document
    fingerprints miss and the fixed-grain sibling of the
    content-defined-chunk shared-passage gate. Union size via the
    closed form min(next_start - start, k) over a doc-keyed lead()
    (operators/dedup.py::substring_duplicate_coverage); the only
    non-integer step is one final division, so the oracle replays
    values exactly with no accumulation pins."""
    from wagtail_vector_index_spark.operators.dedup import (
        substring_duplicate_coverage,
    )

    return substring_duplicate_coverage(
        _t(spark, sf_dir, "documents"), k=_SUBSTR_K
    )


@register(
    "pipeline_exactsubstr_trim",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {TOKS_SQL} AS l FROM documents),
    sized AS (SELECT doc_id, l, len(l)::BIGINT AS n FROM tk
              WHERE len(l) >= {_SUBSTR_K}),
    th AS (
      SELECT doc_id, n,
             list_transform(l, t ->
               ('0x' || substr(sha256(t), 1, 15))::UBIGINT) AS h
      FROM sized),
    w AS (
      SELECT doc_id, pos, {_window_hash_sql('h', _SUBSTR_K)} AS wh
      FROM (SELECT doc_id, h,
                   unnest(range(1, n - {_SUBSTR_K} + 2)) AS pos
            FROM th)),
    dup AS (SELECT wh FROM w GROUP BY wh HAVING count(*) >= 2),
    ranked AS (
      SELECT doc_id, pos,
             row_number() OVER (PARTITION BY wh ORDER BY doc_id, pos) AS rn
      FROM w JOIN dup USING (wh)),
    removals AS (
      SELECT doc_id, list(DISTINCT pos) AS poss
      FROM ranked WHERE rn > 1 GROUP BY doc_id),
    spans AS (
      SELECT r.doc_id, s.l, s.n,
             list_distinct(flatten(list_transform(r.poss,
               p -> range(p - 1, least(p + {_SUBSTR_K} - 1, n))))) AS dp
      FROM removals r JOIN sized s USING (doc_id)),
    cleaned AS (
      SELECT doc_id, n,
             list_filter(l, (tok, i) -> NOT list_contains(dp, i - 1)) AS keep
      FROM spans)
    SELECT doc_id, n AS n_tokens, (n - len(keep))::BIGINT AS n_removed,
           sha256(coalesce(array_to_string(keep, ' '), '')) AS cleaned_sha
    FROM cleaned ORDER BY doc_id
    """,
)
def pipeline_exactsubstr_trim(spark, sf_dir):
    """ExactSubstr dedup APPLY (Lee et al. 2022): every 8-token window
    whose content occurs >= 2 times anywhere in the corpus keeps only
    its FIRST occurrence (minimum (doc_id, start) — deterministic,
    SQL-replayable keep-one rule); all other occurrences lose the
    window's tokens. The apply twin of dedup_substring_coverage's
    measurement and the sub-document counterpart of dedup_apply: a
    unique page quoting a duplicated license header loses the header,
    keeps the page. Output: one row per MODIFIED document — token
    count, tokens removed, sha of the trimmed text (full-content
    equality witness).

    Scale shape (operators/dedup.py::remove_duplicated_spans): one
    sha per TOKEN + a rotate-XOR rolling window key (r12 — the old
    shape built and sha'd a ~k-token string per window, the pass's
    dominant CPU), one map-side-combinable count+min agg on the
    60-bit window hash (destructive apply, so not the 32-bit
    fingerprint convention), join-back of duplicated
    windows only, per-doc sorted-set agg, then a LINEAR keep-mask
    rebuild zipped against the token array on the doc's own row — the
    corpus text never shuffles, and per-doc rebuild cost is
    O(n_toks + n_removed) even on book-length documents. Zero python
    stages."""
    from wagtail_vector_index_spark.operators.dedup import (
        remove_duplicated_spans,
    )

    # with_stats: n_tokens / n_removed come from state the trim already
    # computed (the aggregated token count + the removed-position set),
    # so the gate never re-tokenizes the corpus or the rebuilt text —
    # two full passes the previous join-back shape paid
    return (
        remove_duplicated_spans(
            _t(spark, sf_dir, "documents"), k=_SUBSTR_K, with_stats=True
        )
        .where(F.col("n_removed") > 0)
        .select(
            "doc_id",
            "n_tokens",
            "n_removed",
            F.sha2(F.col("text"), 256).alias("cleaned_sha"),
        )
        .orderBy("doc_id")
    )


@register(
    "corpus_report",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, source, lang, text, {TOKS_SQL} AS toks,
             {FINGERPRINT_SQL} AS fp
      FROM documents)
    SELECT source,
           count(*)::BIGINT AS n_docs,
           sum(len(toks))::BIGINT AS n_tokens,
           count(DISTINCT fp)::BIGINT AS n_distinct,
           (count(*) - count(DISTINCT fp)) / count(*) AS exact_dup_frac,
           sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) / count(*)
             AS en_frac,
           sum(len(list_distinct(toks)))::BIGINT AS n_distinct_tokens,
           sum(len(list_distinct(toks))) / sum(len(toks))
             AS pooled_distinct_ratio
    FROM base GROUP BY source
    """,
)
def corpus_report(spark, sf_dir):
    """The curator's report card, per source: volume (docs, tokens),
    exact-duplicate fraction (content fingerprints), language mix, and
    mean lexical diversity — the numbers that decide per-source mixing
    weights before training. One scan, one shuffle on the source key,
    every aggregate map-side combinable (count-distinct of the
    fingerprint is Spark's partial-agg distinct, not a collect).

    Lexical diversity is reported as the POOLED ratio (sum of per-doc
    distinct tokens / sum of tokens) — exact int/int division. A rounded
    avg() of per-doc ratios would be the known-flaky oracle shape
    (terminating quotients summed in engine-dependent order can straddle
    a rounding boundary — hit once at sf0.1, see memory invariants)."""
    from wagtail_vector_index_spark.operators.corpus import Corpus

    # served through the Corpus facade — the gate verifies the API path
    return Corpus(_t(spark, sf_dir, "documents")).report(lang_col="lang")


@register(
    "pipeline_export_shards",
    oracle="""
    SELECT (('0x' || substr(sha256(doc_id::VARCHAR), 1, 8))::UBIGINT % 4)::INT
             AS shard,
           count(*)::BIGINT AS records
    FROM documents GROUP BY 1
    """,
)
def pipeline_export_shards(spark, sf_dir):
    """The export sink, gated end-to-end: write the corpus as sharded
    JSONL (content-addressed shard ids, bounded files), read it back,
    and return the per-shard record counts from the distributed manifest.
    The oracle recomputes the sha-based shard assignment directly from
    the source table — so the gate proves write, partition discovery,
    manifest, and membership all agree."""
    import hashlib
    import os
    import tempfile

    from wagtail_vector_index_spark.operators.export import (
        export_jsonl_shards,
        shard_manifest,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    # fixed per-sf path + overwrite mode: repeated gate/bench runs reuse
    # the same directory instead of leaking a corpus copy per invocation
    tag = hashlib.sha256(sf_dir.encode()).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"wvi_export_{tag}")
    export_jsonl_shards(
        docs, out, key_col="doc_id", num_shards=4, max_records_per_file=200
    )
    return (
        shard_manifest(spark, out)
        .groupBy("shard")
        .agg(F.sum("records").alias("records"))
    )


_GOPHER_STOP_SQL = (
    "len(list_intersect(list_distinct(toks), "
    "['the','a','and','of','to','in','is','it','that','for']))"
)


@register(
    "text_gopher_rules",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {TOKS_SQL} AS toks FROM documents),
    m AS (
      SELECT doc_id,
             len(toks)::BIGINT AS n_words,
             greatest(len(toks), 1)::BIGINT AS denom,
             list_aggregate(list_transform(toks, t -> length(t)), 'sum')::BIGINT
               AS char_sum,
             len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))::BIGINT
               AS n_alpha,
             (length(text) - length(replace(text, '#', '')))::BIGINT AS n_hash,
             (length(text) - length(replace(text, '...', ''))) / 3 AS n_ell,
             {_GOPHER_STOP_SQL}::BIGINT AS stop_hits
      FROM t)
    SELECT doc_id, n_words,
           (n_words >= 20 AND n_words <= 100000) AS r_word_count,
           (char_sum / denom >= 3.0 AND char_sum / denom <= 10.0)
             AS r_mean_word_len,
           ((n_hash + n_ell) / denom <= 0.1) AS r_symbol_ratio,
           (n_alpha / denom >= 0.8) AS r_alpha_words,
           (stop_hits >= 2) AS r_stopwords
    FROM m
    """,
)
def text_gopher_rules(spark, sf_dir):
    """Gopher-style quality rule battery (Rae et al. 2021, Table A1):
    word-count bounds, mean-word-length bounds, symbol-to-word ratio,
    alphabetic-word fraction, stopword presence — one codegen'd pass per
    document, every ratio an exact int/int division. At 100 TB this is a
    single narrow scan stage; the booleans then drive a filter that
    Catalyst pushes wherever the battery is composed."""
    from wagtail_vector_index_spark.functions.text_analysis import gopher_rules_cols

    docs = _t(spark, sf_dir, "documents")
    rules = gopher_rules_cols(F.col("text"))
    return docs.select(
        "doc_id",
        *[rules[k].alias(k) for k in (
            "n_words", "r_word_count", "r_mean_word_len",
            "r_symbol_ratio", "r_alpha_words", "r_stopwords",
        )],
    )


@register(
    "text_repetition",
    oracle=f"""
    WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
    g AS (
      SELECT doc_id,
             list_transform(range(0, greatest(len(toks) - 2, 1)),
                            i -> array_to_string((toks)[i + 1:i + 3], ' '))
               AS grams
      FROM t)
    SELECT doc_id,
           len(grams)::BIGINT AS total_ngrams,
           len(list_distinct(grams))::BIGINT AS distinct_ngrams,
           (len(grams) - len(list_distinct(grams)))
             / greatest(len(grams), 1) AS dup_ngram_frac
    FROM g
    """,
)
def text_repetition(spark, sf_dir):
    """Within-document n-gram repetition (Gopher's duplicate-n-gram-
    fraction family): total vs distinct word 3-grams per document, with
    the duplicate fraction as an exact int/int division. Array-fold
    shape — no explode, no shuffle; the whole metric rides the scan."""
    from wagtail_vector_index_spark.functions.text_analysis import (
        ngram_repetition_cols,
    )

    docs = _t(spark, sf_dir, "documents")
    m = ngram_repetition_cols(F.col("text"), n=3)
    return docs.select(
        "doc_id",
        m["total_ngrams"].alias("total_ngrams"),
        m["distinct_ngrams"].alias("distinct_ngrams"),
        m["dup_ngram_frac"].alias("dup_ngram_frac"),
    )


def _lang_ngram_oracle() -> str:
    from wagtail_vector_index_spark.functions.text_analysis import (
        char_trigram_profiles,
    )

    profiles = char_trigram_profiles()
    score_cols = []
    for lang in sorted(profiles):
        prof = profiles[lang]
        arr = ", ".join("'" + t.replace("'", "''") + "'" for t in prof)
        score_cols.append(
            f"len(list_intersect(tris, [{arr}])) / {len(prof)} AS s_{lang}"
        )
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in sorted(profiles)) + ")"
    cases = " ".join(
        f"WHEN s_{lang} = best AND best > 0 THEN '{lang}'"
        for lang in sorted(profiles)
    )
    return f"""
    WITH t AS (
      SELECT doc_id,
             '_' || regexp_replace(lower(text), '\\s+', '_', 'g') || '_' AS p
      FROM documents),
    tr AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(length(p) - 2, 1) + 1),
               i -> substr(p, i, 3))) AS tris
      FROM t),
    s AS (SELECT doc_id, {", ".join(score_cols)} FROM tr),
    b AS (SELECT *, {best} AS best FROM s)
    SELECT doc_id, CASE {cases} ELSE 'und' END AS lang_ngram FROM b
    """


@register("text_lang_id_ngram", oracle=_lang_ngram_oracle())
def text_lang_id_ngram(spark, sf_dir):
    """Character-n-gram language ID (Cavnar & Trenkle 1994 shape):
    boundary-padded char trigrams of the document, scored against
    per-language trigram profiles (profile-normalized overlap, argmax,
    deterministic tie-break). The trigram set is computed once into its
    own projection and reused by all four language scores — one codegen
    pass per document, no shuffle. Complements text_lang_id's
    stopword-hit heuristic with the classic profile method."""
    from wagtail_vector_index_spark.functions.text_analysis import (
        char_trigrams_col,
        lang_id_from_trigrams_col,
    )
    from wagtail_vector_index_spark.operators._util import (
        ensure_parallelism as _ensure_parallelism,
    )

    # the trigram build is the CPU of this query (one intersect set per
    # profile over ~L trigrams/doc) and the table arrives as ONE split
    # at bench scale — spread it like dedup_shared_passages does (r12:
    # noop A/B 1.8s -> 0.3s warm; the 4 MB text exchange is far cheaper
    # than serializing the build on one core, reversing the earlier
    # "single-task scan" judgment, which was made under contention).
    # No-op on an already-wide source, so free at 100 TB.
    docs = _ensure_parallelism(_t(spark, sf_dir, "documents"), "doc_id")
    withtris = docs.select(
        "doc_id", char_trigrams_col(F.col("text")).alias("__tris")
    )
    return withtris.select(
        "doc_id", lang_id_from_trigrams_col(F.col("__tris")).alias("lang_ngram")
    )


@register(
    "text_top_ngram_frac",
    oracle=f"""
    WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
    g AS (
      SELECT doc_id,
             unnest(list_transform(range(0, greatest(len(toks) - 1, 1)),
                    i -> array_to_string((toks)[i + 1:i + 2], ' '))) AS gram
      FROM t),
    c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2),
    m AS (
      SELECT doc_id, max(cnt)::BIGINT AS top_cnt, sum(cnt)::BIGINT AS total
      FROM c GROUP BY doc_id)
    SELECT doc_id, top_cnt, total, top_cnt / total AS top_ngram_frac
    FROM m
    """,
)
def text_top_ngram_frac(spark, sf_dir):
    """Gopher's top-n-gram-fraction signal (Rae et al. 2021): the share
    of a document's word 2-grams taken by its single most frequent
    2-gram — high values flag template/boilerplate text. Explode ->
    per-(doc, gram) count -> per-doc max: two shuffles both keyed on
    doc_id (the second reuses the first's partitioning), map-side
    combine collapses repeated grams before the exchange. The fraction
    is int/int — exact in both engines."""
    from wagtail_vector_index_spark.functions.text_analysis import word_ngrams_col

    docs = _t(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id", F.explode(word_ngrams_col(F.col("text"), 2)).alias("gram")
    )
    counts = grams.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("cnt"))
    return counts.groupBy("doc_id").agg(
        F.max("cnt").alias("top_cnt"),
        F.sum("cnt").alias("total"),
        (F.max("cnt") / F.sum("cnt")).alias("top_ngram_frac"),
    )


@register(
    "text_unigram_logprob",
    oracle=f"""
    WITH tk AS (SELECT doc_id, unnest({TOKS_SQL}) AS tok FROM documents),
    freq AS (SELECT tok, count(*)::BIGINT AS c FROM tk GROUP BY tok),
    tot AS (SELECT count(*)::BIGINT AS n FROM tk)
    SELECT doc_id, count(*)::BIGINT AS n_toks,
           round(avg(ln(c::DOUBLE / n)), 4) AS logprob
    FROM tk JOIN freq USING (tok), tot
    GROUP BY doc_id
    """,
)
def text_unigram_logprob(spark, sf_dir):
    """Corpus-level unigram language-model scoring (the CCNet quality
    signal shape, Wenzek et al. 2019): pass 1 builds the token frequency
    table, pass 2 scores each document by its mean token log-probability.

    Scale shape: the explode shuffles once to build `freq` (map-side
    partial agg collapses the Zipf head before the exchange); the score
    join broadcasts the vocabulary — a natural-language vocab stays
    broadcastable (~1e6 rows) even at 100 TB corpus size, so the scoring
    pass is shuffle-free on the big side. avg(ln) is rounded at 4 dp:
    the summands are transcendental, so engine summation order can't
    land on a rounding boundary (see memory: int/int + irrational rule).
    """
    from wagtail_vector_index_spark.functions.text_analysis import tokens_col

    docs = _t(spark, sf_dir, "documents")
    tk = docs.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("tok"))
    freq = tk.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = freq.agg(F.sum("c").alias("n"))
    return (
        tk.join(F.broadcast(freq), "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.round(F.avg(F.log(F.col("c") / F.col("n"))), 4).alias("logprob"),
        )
    )


@register(
    "sketch_heavy_hitters",
    oracle=f"""
    WITH tk AS (SELECT unnest({TOKS_SQL}) AS tok FROM documents),
    cnt AS (SELECT tok, count(*)::BIGINT AS freq FROM tk GROUP BY tok),
    tot AS (SELECT sum(freq)::BIGINT AS n FROM cnt)
    SELECT tok, freq, freq > n / 256 AS guaranteed_exact
    FROM (SELECT tok, freq,
                 row_number() OVER (ORDER BY freq DESC, tok) AS rn
          FROM cnt) CROSS JOIN tot
    WHERE rn <= 10
    """,
)
def sketch_heavy_hitters(spark, sf_dir):
    """Exact top-10 frequent tokens via bounded-state candidate
    generation (operators/sketches.py::heavy_hitters): per-partition
    SpaceSaving summaries (256 counters of state per task — the
    exchange carries partitions x 256 candidate rows instead of one
    row per DISTINCT token) feed an exact broadcast-filtered recount.
    The guaranteed_exact column certifies the SpaceSaving union bound
    (k-th frequency > n/capacity), which the oracle — a plain full
    groupBy top-10 — must agree with value for value: the certificate
    IS the claim that the bounded-state path lost nothing."""
    from wagtail_vector_index_spark.functions.text_analysis import tokens_col
    from wagtail_vector_index_spark.operators.sketches import heavy_hitters

    toks = _t(spark, sf_dir, "documents").select(
        F.explode(tokens_col(F.col("text"))).alias("tok")
    )
    return heavy_hitters(toks, value_col="tok", k=10, capacity=256)


@register(
    "sketch_heavy_hitters_grouped",
    oracle=f"""
    WITH tk AS (
      SELECT lang, unnest({TOKS_SQL}) AS tok FROM documents),
    cnt AS (SELECT lang, tok, count(*)::BIGINT AS freq
            FROM tk GROUP BY lang, tok),
    tot AS (SELECT lang, sum(freq)::BIGINT AS n FROM cnt GROUP BY lang)
    SELECT lang, tok, freq, freq > n / 256 AS guaranteed_exact
    FROM (SELECT lang, tok, freq,
                 row_number() OVER (
                   PARTITION BY lang ORDER BY freq DESC, tok) AS rn
          FROM cnt) JOIN tot USING (lang)
    WHERE rn <= 5
    """,
)
def sketch_heavy_hitters_grouped(spark, sf_dir):
    """GROUPED heavy hitters (r6): top-5 tokens per language — the
    per-segment frequency dashboard (top URLs per host, top n-grams per
    source). Each task keeps an independent SpaceSaving summary per
    group inside ONE Arrow fold (O(groups x capacity) state, the same
    bounded-state contract as the grouped KMV/quantile folds), the
    exact recount broadcast-filters per (group, value), and the
    per-group certificate ``freq > n_lang/capacity`` carries the
    SpaceSaving union bound group-wise
    (operators/sketches.py::heavy_hitters(group_cols=...)). The
    eviction path's exactness-under-skew is pinned separately by a
    tiny-capacity Zipf test (test_sketches.py)."""
    from wagtail_vector_index_spark.functions.text_analysis import tokens_col
    from wagtail_vector_index_spark.operators.sketches import heavy_hitters

    toks = _t(spark, sf_dir, "documents").select(
        "lang", F.explode(tokens_col(F.col("text"))).alias("tok")
    )
    return heavy_hitters(
        toks, value_col="tok", k=5, capacity=256, group_cols=["lang"]
    )


@register(
    "text_collocations_pmi",
    oracle=f"""
    WITH tk AS (SELECT {TOKS_SQL} AS l FROM documents),
    uni AS MATERIALIZED (
      SELECT tok, count(*)::BIGINT AS c
      FROM (SELECT unnest(l) AS tok FROM tk) GROUP BY tok),
    nu AS (SELECT sum(c)::DOUBLE AS nu FROM uni),
    pairs AS (
      SELECT z[1] AS prev, z[2] AS tok FROM (
        SELECT unnest(list_zip(l[1:len(l) - 1], l[2:len(l)])) AS z
        FROM tk WHERE len(l) >= 2)),
    bi AS MATERIALIZED (
      SELECT prev, tok, count(*)::BIGINT AS pair_freq
      FROM pairs GROUP BY prev, tok),
    nb AS (SELECT sum(pair_freq)::DOUBLE AS nb FROM bi)
    SELECT bi.prev AS prev, bi.tok AS tok, pair_freq,
           round(ln((pair_freq::DOUBLE * nu.nu * nu.nu)
                    / (nb.nb * ua.c::DOUBLE * ub.c::DOUBLE)), 6) AS pmi
    FROM bi JOIN uni ua ON ua.tok = bi.prev
    JOIN uni ub ON ub.tok = bi.tok
    CROSS JOIN nu CROSS JOIN nb
    WHERE pair_freq >= 5
    QUALIFY row_number() OVER (ORDER BY pmi DESC, bi.prev, bi.tok) <= 20
    """,
)
def text_collocations_pmi(spark, sf_dir):
    """Top-20 collocations by pointwise mutual information (Church &
    Hanks 1990) over the corpus — the phrase-discovery pass a
    tokenizer-training pipeline runs before vocab construction
    (operators/lm.py::collocations_pmi). The PMI is one left-associated
    expression mirrored verbatim in the oracle, so both engines execute
    the identical IEEE sequence on integer-product inputs; min_count=5
    drops the rare-pair noise floor, and top-k is a TakeOrdered on the
    (already vocab²-bounded) bigram table."""
    from wagtail_vector_index_spark.operators.lm import collocations_pmi

    return collocations_pmi(
        _t(spark, sf_dir, "documents"), text_col="text", min_count=5, k=20
    )


_PPLX_LAM = 0.7
_PPLX_ORACLE = f"""
    WITH tk AS (SELECT doc_id, {TOKS_SQL} AS l FROM documents),
    uni AS MATERIALIZED (
      SELECT tok, count(*)::BIGINT AS c
      FROM (SELECT unnest(l) AS tok FROM tk) GROUP BY tok),
    tot AS (SELECT sum(c)::BIGINT AS n FROM uni),
    pairs AS (
      SELECT doc_id, z[1] AS prev, z[2] AS tok FROM (
        SELECT doc_id,
               unnest(list_zip(l[1:len(l) - 1], l[2:len(l)])) AS z
        FROM tk WHERE len(l) >= 2)),
    bi AS MATERIALIZED (
      SELECT prev, tok, count(*)::BIGINT AS cb
      FROM pairs GROUP BY prev, tok),
    sc AS MATERIALIZED (
      SELECT p.doc_id,
             round(avg(ln({_PPLX_LAM!r} * (bi.cb::DOUBLE / up.c)
                          + {(1.0 - _PPLX_LAM)!r} * (ut.c::DOUBLE / tot.n))),
                   4) AS logprob
      FROM pairs p
      JOIN bi ON bi.prev = p.prev AND bi.tok = p.tok
      JOIN uni up ON up.tok = p.prev
      JOIN uni ut ON ut.tok = p.tok
      CROSS JOIN tot
      GROUP BY p.doc_id),
    th AS (SELECT round(quantile_cont(logprob, {(1 / 3)!r}), 4) AS t1,
                  round(quantile_cont(logprob, {(2 / 3)!r}), 4) AS t2
           FROM sc)
    SELECT CASE WHEN logprob > t2 THEN 'head'
                WHEN logprob > t1 THEN 'middle'
                ELSE 'tail' END AS bucket,
           count(*)::BIGINT AS n_docs,
           round(sum(logprob), 4) AS sum_logprob
    FROM sc CROSS JOIN th
    GROUP BY 1
    """


@register("pipeline_perplexity_buckets", oracle=_PPLX_ORACLE)
def pipeline_perplexity_buckets(spark, sf_dir):
    """CCNet-style perplexity bucketing (Wenzek et al. 2019): score
    every document under a corpus-trained interpolated bigram LM
    (operators/lm.py — the replayable stand-in for CCNet's KenLM) and
    split the corpus into head/middle/tail by score tertiles, the
    quality split a web-crawl curation pipeline applies before
    training. The unigram table broadcasts; the bigram scoring join
    shuffles on (prev, tok) — the 100 TB-safe shape since observed
    bigrams outgrow any broadcast. Determinism pins: 4 dp per-document
    scores, grid-rounded tertile thresholds (never near a rounding
    boundary — see perplexity_buckets), round(SUM) per bucket. The
    oracle replays counts, interpolation, thresholds, and buckets."""
    from wagtail_vector_index_spark.operators.lm import perplexity_buckets

    return perplexity_buckets(
        _t(spark, sf_dir, "documents"), lam=_PPLX_LAM
    )


@register(
    "streaming_stateful_dedup",
    oracle=f"""
    SELECT {FINGERPRINT_SQL} AS fingerprint, min(doc_id) AS doc_id
    FROM documents GROUP BY 1
    """,
)
def streaming_stateful_dedup(spark, sf_dir):
    """applyInPandasWithState cross-batch dedup, run as an availableNow
    stream over the corpus — the emitted first-seen rows must equal the
    batch min-per-fingerprint oracle (stream == batch, again)."""
    import tempfile
    import uuid

    from wagtail_vector_index_spark.functions.text_analysis import fingerprint_col
    from wagtail_vector_index_spark.streaming.stateful import streaming_dedup

    docs = _t(spark, sf_dir, "documents")
    staged = tempfile.mkdtemp(prefix="wvi_sdedup_")
    docs.write.mode("overwrite").parquet(staged)
    stream = (
        spark.readStream.schema(docs.schema)
        .parquet(staged)
        .select(
            fingerprint_col(F.col("text")).alias("fingerprint"), F.col("doc_id")
        )
    )
    sink = f"stateful_dedup_{uuid.uuid4().hex[:8]}"
    q = (
        streaming_dedup(stream)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="wvi_sdk_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(sink)


@register(
    "streaming_neardup_corpus",
    oracle=f"""
    WITH RECURSIVE
    sh AS (SELECT doc_id, {_shingles_sql()} AS shingles FROM documents),
    hashed AS (SELECT doc_id, shingles, {HS_SQL} AS hs FROM sh),
    sig AS (SELECT doc_id, shingles, {_minhash_sig_sql()} AS sig FROM hashed),
    bands AS (SELECT doc_id, shingles,
                     unnest({_band_keys_sql('sig')}) AS band FROM sig),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
    verified AS (
      SELECT id_a, id_b FROM cand
      JOIN sh sa ON id_a = sa.doc_id JOIN sh sb ON id_b = sb.doc_id
      WHERE len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
              / (len(sa.shingles) + len(sb.shingles)
                 - len(list_intersect(sa.shingles, sb.shingles))) >= 0.5),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM verified
      UNION
      SELECT id_b, id_a FROM verified),
    walk(u, r) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.u, w.r FROM edges e JOIN walk w ON e.v = w.u),
    comp AS (SELECT u AS doc_id, min(r) AS component FROM walk GROUP BY u)
    SELECT d.doc_id FROM documents d LEFT JOIN comp c USING (doc_id)
    WHERE coalesce(c.component, d.doc_id) = d.doc_id
    """,
)
def streaming_neardup_corpus(spark, sf_dir):
    """Streaming fuzzy-dedup corpus maintenance
    (streaming/maintenance.py::neardup_corpus_stream) run as an
    availableNow stream over the corpus: survivors land in a
    manifest-committed table (exactly-once per batch token) and must
    equal the batch-mode MinHash-LSH + exact-component + min-id-per-
    cluster answer — stream == batch. The oracle re-derives band
    candidates, exact-Jaccard verification, the transitive closure, and
    the surviving representatives entirely in SQL; the multi-batch
    ordering semantics (earlier batches win over later near-dups) are
    pinned by the sequential-parity pytest."""
    import tempfile

    from wagtail_vector_index_spark.sources.manifest import read_live_table
    from wagtail_vector_index_spark.streaming.maintenance import (
        neardup_corpus_stream,
    )

    docs = _t(spark, sf_dir, "documents")
    staged = tempfile.mkdtemp(prefix="wvi_sneardup_src_")
    docs.coalesce(1).write.mode("overwrite").parquet(staged)
    table = tempfile.mkdtemp(prefix="wvi_sneardup_tbl_") + "/corpus"
    stream = spark.readStream.schema(docs.schema).parquet(staged)
    q = neardup_corpus_stream(
        stream,
        path=table,
        checkpoint_dir=tempfile.mkdtemp(prefix="wvi_sneardup_ck_"),
        threshold=0.5,
    )
    q.awaitTermination(300)
    return read_live_table(spark, table).select("doc_id")


@register(
    "pipeline_source_cap",
    oracle="""
    SELECT doc_id, source, n_chars FROM (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rk
      FROM documents) WHERE rk <= 10
    """,
)
def pipeline_source_cap(spark, sf_dir):
    """Domain/source cap — keep the 10 largest documents per source
    (n_chars rank, doc-id tie-break): the standard curation defense
    against one domain dominating a 100 TB mix. Served through the
    Corpus facade (operators/corpus.py::cap_per_source), so the gate
    oracle-verifies the API path: ONE window shuffle on the source key,
    planned as WindowGroupLimit pushdown (rank filter applied before the
    full sort materializes per partition)."""
    from wagtail_vector_index_spark.operators.corpus import Corpus

    capped = Corpus(_t(spark, sf_dir, "documents")).cap_per_source(
        10, by="n_chars"
    )
    return capped.df.select("doc_id", "source", "n_chars")


_W_SQL = (
    "(('0x' || substr(sha256('w' || (('0x' || substr(sha256(tok), 1, 8))"
    "::UBIGINT % 256)::VARCHAR), 1, 8))::UBIGINT / 4294967296.0) * 2 - 1"
)


@register(
    "text_quality_classifier",
    oracle=f"""
    WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
    w AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens,
                 list_transform(toks, tok -> {_W_SQL}) AS ws
          FROM t)
    SELECT doc_id, n_tokens,
           round(1.0 / (1.0 + exp(-8.0 * (list_sum(ws) / n_tokens))), 6)
             AS quality
    FROM w WHERE n_tokens > 0
    """,
)
def text_quality_classifier(spark, sf_dir):
    """Model-based quality scoring: a hashed linear classifier (word ->
    sha-bucket -> weight -> mean -> sigmoid), the Spark-expressible
    skeleton of fastText-style quality filters (cf. CCNet/Gopher
    pipelines). Weights are sha-derived stand-ins, so the full dataflow
    — double sha per token, fold, logistic — is replayed exactly by the
    DuckDB oracle; swapping in trained weights changes only the literal
    table. Pure map over the corpus: no shuffle, no Python stage, scores
    100 TB at scan speed."""
    from wagtail_vector_index_spark.functions.text_analysis import (
        hashed_linear_quality_col,
        tokens_col,
    )

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.size(tokens_col(F.col("text"))).cast("long").alias("n_tokens"),
            F.round(
                hashed_linear_quality_col(F.col("text"), dims=256, scale=8.0), 6
            ).alias("quality"),
        )
        .where(F.col("n_tokens") > 0)
    )


@register(
    "text_zipf_slope",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({TOKS_SQL}) AS tok FROM documents),
    freq AS (
      SELECT tok, count(*)::BIGINT AS n FROM tok GROUP BY tok),
    ranked AS (
      SELECT n, row_number() OVER (ORDER BY n DESC, tok) AS rnk FROM freq)
    SELECT count(*)::BIGINT AS vocab,
           round(regr_slope(ln(n::DOUBLE), ln(rnk::DOUBLE)), 4) AS zipf_slope
    FROM ranked
    """,
)
def text_zipf_slope(spark, sf_dir):
    """Corpus-statistics gate: the Zipf exponent of the vocabulary —
    regr_slope of log-frequency against log-rank (natural text sits near
    -1; synthetic or templated corpora drift far from it, making the
    slope a cheap corpus-health signal). Token explode -> partial-agg'd
    frequency count -> global rank (one final sort on the vocab, the
    only non-scalable step — at web scale you'd rank the top-k slice) ->
    built-in least-squares aggregate, identical in both engines."""
    docs = _t(spark, sf_dir, "documents")
    from wagtail_vector_index_spark.functions.text_analysis import tokens_col

    freq = (
        docs.select(F.explode(tokens_col(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy(F.col("n").desc(), F.col("tok").asc())
    ranked = freq.withColumn("rnk", F.row_number().over(w))
    return ranked.agg(
        F.count(F.lit(1)).alias("vocab"),
        F.round(
            F.regr_slope(F.log(F.col("n").cast("double")), F.log(F.col("rnk").cast("double"))),
            4,
        ).alias("zipf_slope"),
    )


_DSIR_BUCKET = "('0x' || substr(sha256(tok), 1, 8))::UBIGINT % 256"


@register(
    "pipeline_dsir_select",
    oracle=f"""
    WITH
    tt AS (SELECT unnest({TOKS_SQL}) AS tok FROM documents
           WHERE source IN ('src0', 'src1')),
    rt AS (SELECT doc_id, unnest({TOKS_SQL}) AS tok FROM documents
           WHERE source NOT IN ('src0', 'src1')),
    tb AS (SELECT {_DSIR_BUCKET} AS bucket, count(*) AS tn FROM tt GROUP BY 1),
    rb AS (SELECT {_DSIR_BUCKET} AS bucket, count(*) AS rn FROM rt GROUP BY 1),
    tot AS (SELECT (SELECT sum(tn) FROM tb) AS ttot,
                   (SELECT sum(rn) FROM rb) AS rtot),
    w AS (SELECT bucket,
                 ln((coalesce(tn, 0) + 1) / (ttot + 256))
                 - ln((coalesce(rn, 0) + 1) / (rtot + 256)) AS w
          FROM tb FULL JOIN rb USING (bucket) CROSS JOIN tot),
    ds AS (SELECT r.doc_id, sum(w.w) AS log_w
           FROM (SELECT doc_id, {_DSIR_BUCKET} AS bucket FROM rt) r
           JOIN w USING (bucket) GROUP BY 1),
    alldocs AS (SELECT doc_id FROM documents
                WHERE source NOT IN ('src0', 'src1')),
    sc AS (SELECT a.doc_id, coalesce(ds.log_w, 0) AS log_w
           FROM alldocs a LEFT JOIN ds USING (doc_id)),
    n AS (SELECT count(*)::DOUBLE AS n FROM alldocs)
    SELECT doc_id, round(log_w, 6) AS log_w
    FROM (SELECT doc_id, log_w,
                 row_number() OVER (ORDER BY log_w DESC, doc_id) AS rnk
          FROM sc) CROSS JOIN n
    WHERE rnk <= ceil(n.n * 0.2)
    """,
)
def pipeline_dsir_select(spark, sf_dir):
    """DSIR-style importance selection (Xie et al. 2023): treat sources
    src0+src1 as the target domain, score every other document by the
    log-ratio of Laplace-smoothed hashed-unigram distributions (256
    sha-derived buckets), keep the top 20% by weight. Distributions are
    B-row broadcast tables, scoring is one map-side-combinable sum per
    doc — the data-selection step a 100 TB pretraining pipeline runs to
    match a quality domain. The oracle re-derives every hash bucket,
    both smoothed distributions, each document's weight sum, and the
    rank cutoff."""
    from wagtail_vector_index_spark.operators.importance import dsir_select

    docs = _t(spark, sf_dir, "documents")
    target = docs.where(F.col("source").isin("src0", "src1"))
    raw = docs.where(~F.col("source").isin("src0", "src1"))
    out = dsir_select(
        raw, target, id_col="doc_id", text_col="text",
        buckets=256, keep_fraction=0.2,
    )
    return out.select("doc_id", F.round("log_w", 6).alias("log_w"))


def _cm_bucket(r: int) -> str:
    return (
        f"('0x' || substr(sha256('cm{r}:' || tok), 1, 8))::UBIGINT % 256"
    )


@register(
    "sketch_countmin_tokens",
    oracle=f"""
    WITH toks AS (SELECT unnest({TOKS_SQL}) AS tok FROM documents),
    exact AS (
      SELECT tok, count(*)::BIGINT AS exact_count
      FROM toks GROUP BY tok
      ORDER BY exact_count DESC, tok LIMIT 10),
    hashed AS (
      {" UNION ALL ".join(
          f"SELECT {r} AS row, {_cm_bucket(r)} AS bucket FROM toks"
          for r in range(4)
      )}),
    cm AS (SELECT row, bucket, count(*) AS c FROM hashed GROUP BY 1, 2),
    probes AS (
      {" UNION ALL ".join(
          f"SELECT tok, exact_count, {r} AS row, {_cm_bucket(r)} AS bucket "
          "FROM exact" for r in range(4)
      )}),
    est AS (
      SELECT tok, exact_count, min(coalesce(cm.c, 0)) AS cm_estimate
      FROM probes LEFT JOIN cm USING (row, bucket)
      GROUP BY tok, exact_count)
    SELECT tok, exact_count, cm_estimate::BIGINT AS cm_estimate,
           (cm_estimate >= exact_count) AS never_undercounts
    FROM est
    """,
)
def sketch_countmin_tokens(spark, sf_dir):
    """Count-min heavy-hitter estimation (Cormode & Muthukrishnan 2005):
    a 4 x 256 salted-sha counter table over the corpus token stream —
    counters are SUMS, so the sketch is order-independent, mergeable
    across executors, and exactly replayable — probed for the exact
    top-10 tokens. The gate pins every counter, every min-estimate, and
    the never-undercounts invariant alongside the exact counts."""
    from wagtail_vector_index_spark.functions.text_analysis import tokens_col
    from wagtail_vector_index_spark.operators.sketches import (
        countmin_estimates,
    )

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens_col(F.col("text"))).alias("tok"))
    w = Window.orderBy(F.col("exact_count").desc(), F.col("tok").asc())
    top = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= 10)
        .drop("__rn")
    )
    est = countmin_estimates(
        toks, value_col="tok", candidates=top.select("tok"),
        depth=4, width=256,
    )
    return top.join(est, "tok").select(
        "tok",
        "exact_count",
        F.col("cm_estimate").cast("long").alias("cm_estimate"),
        (F.col("cm_estimate") >= F.col("exact_count")).alias(
            "never_undercounts"
        ),
    )


def _bpe_merge_ctes(num_merges: int) -> list[str]:
    # sentinel-prefixed symbols: chr(1)||sym||' ' per symbol; ONE
    # replace pass per merge == the classic left-to-right fold (see
    # operators/bpe.py module doc)
    sy = ("list_transform(list_filter(string_split(syms, ' '), "
          "x -> x <> ''), x -> x[2:])")
    parts = [
        f"""v0 AS (
      SELECT regexp_replace(w, '(.)', chr(1) || '\\1 ', 'g') AS syms,
             count(*) AS n
      FROM (SELECT unnest({TOKS_SQL}) AS w FROM documents)
      WHERE NOT contains(w, chr(1))
      GROUP BY 1)"""
    ]
    for i in range(1, num_merges + 1):
        parts.append(f"""p{i} AS (
      SELECT sy[j] AS a, sy[j + 1] AS b, sum(n)::BIGINT AS cnt FROM (
        SELECT unnest(generate_series(1, len(sy) - 1)) AS j, sy, n
        FROM (SELECT {sy} AS sy, n FROM v{i - 1}) t) u
      GROUP BY 1, 2)""")
        parts.append(f"""m{i} AS (
      SELECT a, b, cnt FROM p{i}
      ORDER BY cnt DESC, a ASC, b ASC LIMIT 1)""")
        parts.append(f"""v{i} AS (
      SELECT replace(v.syms,
                     chr(1) || m.a || ' ' || chr(1) || m.b || ' ',
                     chr(1) || m.a || m.b || ' ') AS syms, v.n
      FROM v{i - 1} v CROSS JOIN m{i} m)""")
    return parts


def _bpe_oracle(num_merges: int) -> str:
    parts = _bpe_merge_ctes(num_merges)
    ctes = ",\n    ".join(parts)
    sel = "\n    UNION ALL ".join(
        f"SELECT {i} AS merge_rank, a AS left_sym, b AS right_sym, cnt "
        f"AS pair_count FROM m{i}"
        for i in range(1, num_merges + 1)
    )
    return f"WITH {ctes}\n    {sel}"


@register("pipeline_bpe_merges", oracle=_bpe_oracle(10))
def pipeline_bpe_merges(spark, sf_dir):
    """Distributed BPE tokenizer training (Sennrich 2016): the top-10
    learned merges over the corpus vocabulary, each round a weighted
    adjacent-pair count (map-side-combinable integer sums — no fp
    order-dependence anywhere) + a one-row argmax collect + a fixpoint
    replace applied across the vocabulary. The oracle replays all ten
    rounds as chained CTEs using the IDENTICAL nested-replace
    construction, so cross-engine parity is structural, not numeric
    (operators/bpe.py)."""
    from wagtail_vector_index_spark.operators.bpe import learn_bpe_merges

    docs = _t(spark, sf_dir, "documents")
    merges = learn_bpe_merges(docs, text_col="text", num_merges=10)
    return spark.createDataFrame(
        merges,
        "merge_rank int, left_sym string, right_sym string, pair_count long",
    )


@register(
    "pipeline_incremental_neardup",
    oracle=f"""
    WITH sh AS (SELECT doc_id, {_shingles_sql()} AS shingles FROM documents),
    hashed AS (SELECT doc_id, shingles, {HS_SQL} AS hs FROM sh),
    sig AS (SELECT doc_id, shingles, {_minhash_sig_sql()} AS sig FROM hashed),
    bands AS (SELECT doc_id, unnest({_band_keys_sql('sig')}) AS band
              FROM sig),
    cand AS (
      SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
      FROM bands n JOIN bands c ON n.band = c.band
      WHERE n.doc_id >= 400 AND c.doc_id < 400),
    verified AS (
      SELECT new_id, corpus_id,
             len(list_intersect(sn.shingles, sc.shingles))::DOUBLE
               / (len(sn.shingles) + len(sc.shingles)
                  - len(list_intersect(sn.shingles, sc.shingles))) AS jaccard
      FROM cand JOIN sh sn ON new_id = sn.doc_id
                JOIN sh sc ON corpus_id = sc.doc_id)
    SELECT new_id, corpus_id, round(jaccard, 6) AS jaccard
    FROM verified WHERE jaccard >= 0.1
    """,
)
def pipeline_incremental_neardup(spark, sf_dir):
    """Continuous-ingestion fuzzy dedup: which NEW documents (doc_id >=
    400, the incoming batch) near-duplicate the STANDING corpus (doc_id
    < 400) — asymmetric banded MinHash, so ingestion cost scales with
    the batch's band keys against the corpus's, never corpus^2
    (operators/dedup.py::incremental_neardup_pairs; the filter twin
    drops the matches before append). The oracle replays shingling,
    signatures, the asymmetric band join, and the exact-Jaccard
    verify."""
    from wagtail_vector_index_spark.operators.dedup import (
        incremental_neardup_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = incremental_neardup_pairs(
        docs.where(F.col("doc_id") >= 400),
        docs.where(F.col("doc_id") < 400),
        n=3,
        num_hashes=16,
        bands=8,
        threshold=0.1,
    )
    return pairs.select(
        "new_id", "corpus_id", F.round("jaccard", 6).alias("jaccard")
    )


@register(
    "text_keywords_tfidf",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, unnest({TOKS_SQL}) AS tok FROM documents),
    tf AS (SELECT doc_id, tok, count(*)::BIGINT AS tf
           FROM tk GROUP BY doc_id, tok),
    dfreq AS (SELECT tok, count(*)::BIGINT AS df FROM tf GROUP BY tok),
    n AS (SELECT count(*)::BIGINT AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.tok, tf.tf,
             round(tf.tf * ln(n.n::DOUBLE / dfreq.df), 6) AS score
      FROM tf JOIN dfreq USING (tok), n)
    SELECT doc_id, tok AS keyword, tf, score
    FROM (SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY score DESC, tok) AS rn
          FROM scored)
    WHERE rn <= 3
    """,
)
def text_keywords_tfidf(spark, sf_dir):
    """Per-document keyword extraction: top-3 tokens by tf-idf — the
    model-free tagging/faceting pass a 100 TB corpus pipeline runs to
    route documents (operators/bm25.py::tfidf_keywords). One explode
    feeds both aggregates (tf on (doc, token), df derived from the tf
    grain on token); the token-keyed tf x df join is left to AQE
    because the df side is vocabulary-sized — smaller than the corpus
    but not always broadcastable; top-3 per doc is a WindowGroupLimit."""
    from wagtail_vector_index_spark.operators.bm25 import tfidf_keywords

    docs = _t(spark, sf_dir, "documents")
    return tfidf_keywords(docs, id_col="doc_id", text_col="text", k=3)


@register(
    "dedup_containment",
    oracle=f"""
    WITH sh AS (SELECT doc_id, {_shingles_sql()} AS shingles FROM documents),
    ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS n_a, b.n AS n_b,
             count(*) AS ni
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4),
    dirs AS (
      SELECT id_a AS contained, id_b AS container,
             ni::DOUBLE / n_a AS c FROM inter
      UNION ALL
      SELECT id_b, id_a, ni::DOUBLE / n_b FROM inter)
    SELECT contained, container, round(c, 6) AS containment
    FROM dirs WHERE c >= 0.6
    """,
)
def dedup_containment(spark, sf_dir):
    """ASYMMETRIC near-dup: directed (contained, container) pairs with
    shingle containment |A∩B|/|A| >= 0.6 — the quoted-boilerplate /
    subset-duplication case Jaccard structurally misses (a short doc
    quoted inside a long page has J ~= |A|/|B| but containment 1.0).
    Both directions come from the SAME single co-count pass as the
    Jaccard gate (operators/dedup.py::ngram_containment_pairs): each
    canonical pair row fans out into two directed candidates, so the
    asymmetric measure costs nothing over the symmetric one."""
    from wagtail_vector_index_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    pairs = ngram_containment_pairs(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.6
    )
    return pairs.select(
        "contained", "container", F.round("containment", 6).alias("containment")
    )


@register(
    "search_posting_lists",
    oracle=f"""
    WITH tf AS (
      SELECT tok, doc_id, count(*) AS tf
      FROM (SELECT doc_id, unnest({TOKS_SQL}) AS tok FROM documents)
      GROUP BY 1, 2),
    d AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    top AS (SELECT tok, df FROM d ORDER BY df DESC, tok LIMIT 25),
    r AS (
      SELECT tf.tok, doc_id, tf.tf,
             row_number() OVER (PARTITION BY tf.tok
                                ORDER BY tf.tf DESC, doc_id) AS rn
      FROM tf JOIN top USING (tok)),
    p AS (
      SELECT tok, array_to_string(list(doc_id ORDER BY rn), ',') AS postings
      FROM r WHERE rn <= 8 GROUP BY tok)
    SELECT top.tok, top.df, p.postings FROM top JOIN p USING (tok)
    """,
)
def search_posting_lists(spark, sf_dir):
    """Inverted-index build, the search-engine core: token -> document
    frequency + the head of its posting list (top-8 docs by term
    frequency), reported for the 25 highest-df terms. The token stream
    collapses map-side at (tok, doc) grain before any exchange; the df
    table cuts to 25 rows via TakeOrderedAndProject and broadcast-semi-
    joins back, so the per-token posting window (a map-side
    WindowGroupLimit) only ever ranks the 25 surviving tokens'
    postings. At 100 TB posting lists are the thing you cap — the
    head-of-list shape here is how impact-ordered indexes (WAND-style)
    store them."""
    from wagtail_vector_index_spark.functions.text_analysis import tokens_col

    docs = _t(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "doc_id", F.explode(tokens_col(F.col("text"))).alias("tok")
        )
        .groupBy("tok", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    top = (
        tf.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.col("df").desc(), F.col("tok").asc())
        .limit(25)
    )
    ranked = tf.join(F.broadcast(top), "tok").withColumn(
        "__rn",
        F.row_number().over(
            Window.partitionBy("tok").orderBy(
                F.col("tf").desc(), F.col("doc_id").asc()
            )
        ),
    )
    postings = (
        ranked.where(F.col("__rn") <= 8)
        .groupBy("tok", "df")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__rn", "doc_id"))),
                    lambda s: s["doc_id"].cast("string"),
                ),
                ",",
            ).alias("postings")
        )
    )
    return postings.select("tok", "df", "postings")


def _bpe_encode_oracle(num_merges: int) -> str:
    # merge learning CTEs (shared with pipeline_bpe_merges), then the
    # SAME sentinel-replace per learned merge applied at doc-word grain
    parts = list(_bpe_merge_ctes(num_merges))
    parts.append(f"""e0 AS (
      SELECT doc_id, regexp_replace(w, '(.)', chr(1) || '\\1 ', 'g') AS syms
      FROM (SELECT doc_id, unnest({TOKS_SQL}) AS w FROM documents)
      WHERE NOT contains(w, chr(1)))""")
    for i in range(1, num_merges + 1):
        parts.append(f"""e{i} AS (
      SELECT doc_id,
             replace(e.syms,
                     chr(1) || m.a || ' ' || chr(1) || m.b || ' ',
                     chr(1) || m.a || m.b || ' ') AS syms
      FROM e{i - 1} e CROSS JOIN m{i} m)""")
    ctes = ",\n    ".join(parts)
    return f"""WITH {ctes}
    SELECT doc_id, count(*)::BIGINT AS n_words,
           sum(len(list_filter(string_split(syms, ' '),
                               x -> x <> '')))::BIGINT AS n_bpe_tokens
    FROM e{num_merges} GROUP BY doc_id"""


@register("pipeline_bpe_encode", oracle=_bpe_encode_oracle(10))
def pipeline_bpe_encode(spark, sf_dir):
    """Tokenizer INFERENCE at corpus scale: train the 10-merge BPE
    tokenizer (pipeline_bpe_merges) and apply it to every document —
    per word, the learned merges collapse symbol pairs
    (operators/bpe.py::bpe_segment_col, the sentinel-replace
    construction that equals the classic left-to-right fold), reported
    as per-document word and BPE-token counts (the token-budget
    accounting every training-data pipeline runs before packing).
    Training is a 10-round driver loop over the VOCABULARY (not the
    corpus); encoding is a pure JVM expression chain — zero Python
    stages, embarrassingly parallel over documents, so at 100 TB the
    encode pass is a map over the corpus with the merge table compiled
    into the plan."""
    from wagtail_vector_index_spark.functions.text_analysis import tokens_col
    from wagtail_vector_index_spark.operators.bpe import (
        SENTINEL,
        bpe_segment_col,
        learn_bpe_merges,
    )

    docs = _t(spark, sf_dir, "documents")
    merges = learn_bpe_merges(docs, text_col="text", num_merges=10)
    words = F.filter(
        tokens_col(F.col("text")), lambda w: ~w.contains(SENTINEL)
    )
    segs = F.flatten(
        F.transform(words, lambda w: bpe_segment_col(w, merges))
    )
    return docs.select(
        "doc_id",
        F.size(words).cast("long").alias("n_words"),
        F.size(segs).cast("long").alias("n_bpe_tokens"),
    )

@register(
    "dedup_source_overlap",
    oracle=f"""
    WITH sh AS (
      SELECT source AS t, unnest({_shingles_sql()}) AS v
      FROM documents
      WHERE source IN ('src0', 'src1', 'src2', 'src3', 'src4')),
    d AS (SELECT DISTINCT t, v FROM sh),
    uu AS (SELECT t, ('0x' || substr(sha256(v), 1, 8))::UBIGINT
                     / 4294967296.0 AS u FROM d),
    r AS (
      SELECT t, u, row_number() OVER (PARTITION BY t ORDER BY u) AS rn
      FROM uu),
    sk AS (
      SELECT t, list_sort(list(u)) AS kvals
      FROM r WHERE rn <= 64 GROUP BY t),
    cnt AS (SELECT t, count(*) AS c FROM d GROUP BY t),
    ix AS (
      SELECT a.t AS ta, b.t AS tb, count(*) AS ci
      FROM d a JOIN d b ON a.v = b.v AND a.t < b.t
      GROUP BY 1, 2),
    pair AS (
      SELECT a.t AS tag_a, b.t AS tag_b, a.kvals AS ka, b.kvals AS kb,
             list_sort(list_distinct(a.kvals || b.kvals))[1:64] AS m,
             ca.c AS cca, cb.c AS ccb, coalesce(ix.ci, 0) AS cci
      FROM sk a JOIN sk b ON a.t < b.t
      JOIN cnt ca ON ca.t = a.t JOIN cnt cb ON cb.t = b.t
      LEFT JOIN ix ON ix.ta = a.t AND ix.tb = b.t),
    est AS (
      SELECT tag_a, tag_b, cca, ccb, cci,
             CASE WHEN len(m) >= 64 THEN 63.0 / m[len(m)]
                  ELSE len(m)::DOUBLE END AS union_est,
             len(list_filter(m, x -> list_contains(ka, x)
                                    AND list_contains(kb, x))) AS ic,
             len(m) >= 64 AS sat
      FROM pair)
    SELECT tag_a, tag_b, (cca + ccb - cci) AS union_exact,
           round(union_est, 2) AS union_est,
           cci AS intersect_exact,
           round(CASE WHEN sat THEN ic / 64.0 * union_est
                      ELSE ic::DOUBLE END, 2) AS intersect_est
    FROM est
    """,
)
def dedup_source_overlap(spark, sf_dir):
    """Cross-SOURCE content-overlap matrix: how much 3-gram shingle
    vocabulary every pair of sources shares — the corpus-composition
    audit run before mixing sources into a training set (boilerplate
    or mirrored content shows up as a fat intersection). Reuses
    sketches.py::kmv_overlap_matrix verbatim with tag=source and
    value=shingle: one scan + one grouped bottom-k fold answers all
    pairs; the exact companions ride the same fold via pair tags."""
    from wagtail_vector_index_spark.functions.text_analysis import (
        word_shingles_col,
    )
    from wagtail_vector_index_spark.operators.sketches import (
        kmv_overlap_matrix,
    )

    docs = _t(spark, sf_dir, "documents").where(
        F.col("source").isin("src0", "src1", "src2", "src3", "src4")
    )
    sh = docs.select(
        "source",
        F.explode(word_shingles_col(F.col("text"), 3)).alias("shingle"),
    )
    out = kmv_overlap_matrix(
        sh, value_col="shingle", tag_col="source", k=64
    )
    return out.select(
        "tag_a",
        "tag_b",
        "union_exact",
        F.round("union_est", 2).alias("union_est"),
        "intersect_exact",
        F.round("intersect_est", 2).alias("intersect_est"),
    )


@register(
    "pipeline_quality_calibrate",
    oracle="""
    WITH r AS (
      SELECT source, doc_id, n_chars,
             percent_rank() OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id) AS pr
      FROM documents)
    SELECT source, count(*)::BIGINT AS n_selected,
           min(n_chars)::BIGINT AS min_chars
    FROM r WHERE pr >= 0.8
    GROUP BY source
    """,
)
def pipeline_quality_calibrate(spark, sf_dir):
    """Per-source score calibration for balanced corpus mixing: select
    the top 20% of each SOURCE by quality proxy (percent_rank within
    source) instead of a global threshold — the equal-rate selection
    that stops verbose sources from crowding out terse ones in the
    training mix. The window partitions by source, so at 100 TB every
    task ranks only its sources' rows; no global sort exists. Output
    pins both the per-source selected counts (equal by construction on
    balanced data — the point) and each source's admission threshold."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").asc(), F.col("doc_id").asc()
    )
    r = docs.withColumn("pr", F.percent_rank().over(w))
    return (
        r.where(F.col("pr") >= 0.8)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_selected"),
            F.min("n_chars").alias("min_chars"),
        )
    )


@register(
    "er_blocked_pairs",
    oracle="""
    WITH c AS (
      SELECT c_name, substr(c_name, 1, 16) AS blk
      FROM customer)
    SELECT a.blk, count(*)::BIGINT AS n_pairs,
           count(DISTINCT a.c_name)::BIGINT AS n_left
    FROM c a JOIN c b
      ON a.blk = b.blk AND a.c_name < b.c_name
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    GROUP BY 1
    """,
)
def er_blocked_pairs(spark, sf_dir):
    """Entity resolution / record linkage: blocked fuzzy self-match on
    customer names — candidate pairs share a BLOCKING KEY (here the
    16-char name prefix) and verify with edit distance <= 1. This is
    the standard two-stage linkage shape (Christen 2012): blocking
    turns the O(n^2) all-pairs compare into per-block compares, the
    same candidates-then-verify discipline as the MinHash-LSH dedup
    family (operators/dedup.py) but keyed on deterministic attributes
    instead of content sketches.

    Scale shape: the self-join shuffles on the block key only, so each
    task compares one block's rows; block size is bounded by the key
    design (a 2-digit tail here => <= 100 names/block). An oversized
    block is the classic ER skew failure — the fix is a tighter
    blocking key or the repo's bucket-cap guard pattern
    (operators/skew.py), not a bigger executor. ``F.levenshtein`` is
    JVM-side (whole-stage codegen), never a Python UDF. Output: per
    block, the surviving pair count and distinct left names — the
    review-queue size a linkage pipeline feeds downstream."""
    c = _t(spark, sf_dir, "customer").select(
        "c_name", F.substring("c_name", 1, 16).alias("blk")
    )
    a = c.select(F.col("blk"), F.col("c_name").alias("__na"))
    b = c.select(F.col("blk").alias("__bb"), F.col("c_name").alias("__nb"))
    pairs = a.join(
        b,
        (F.col("blk") == F.col("__bb")) & (F.col("__na") < F.col("__nb")),
    ).where(F.levenshtein(F.col("__na"), F.col("__nb")) <= 1)
    return pairs.groupBy("blk").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.count_distinct("__na").alias("n_left"),
    )


@register(
    "dedup_lsh_recall",
    oracle=f"""
    WITH sh AS (SELECT doc_id, {_shingles_sql()} AS shingles FROM documents),
    ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS n_a, b.n AS n_b,
             count(*) AS ni
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4),
    exact AS (
      SELECT id_a, id_b FROM inter
      WHERE ni::DOUBLE / (n_a + n_b - ni) >= 0.3),
    hashed AS (SELECT doc_id, {HS_SQL} AS hs FROM sh),
    sig AS (SELECT doc_id, {_minhash_sig_sql()} AS sig FROM hashed),
    bands AS (SELECT doc_id, unnest({_band_keys_sql('sig')}) AS band FROM sig),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
    hit AS (SELECT e.id_a FROM exact e JOIN cand c
            ON e.id_a = c.id_a AND e.id_b = c.id_b)
    SELECT (SELECT count(*) FROM exact)::BIGINT AS n_exact,
           (SELECT count(*) FROM hit)::BIGINT AS n_captured,
           round((SELECT count(*) FROM hit)::DOUBLE
                 / (SELECT count(*) FROM exact), 6) AS recall
    """,
)
def dedup_lsh_recall(spark, sf_dir):
    """MinHash-LSH banding RECALL against exact Jaccard ground truth —
    the eval gate a dedup pipeline runs before trusting its banding
    config at 100 TB (where exact all-pairs is impossible and recall
    must be extrapolated from a sample exactly like this). Exact pairs
    at jaccard >= 0.3 come from the prefix-filtered AllPairs join;
    captured = those pairs the 16-hash/8-band LSH candidate stage
    also surfaces. At r=2 rows/band the capture probability at j=0.3
    is 1-(1-j^2)^8 ~ 0.53, so this gate pins a genuinely lossy
    operating point — the number tells you to add hashes/bands, not
    that the code is wrong. Both pair sets are deterministic (shared
    sha-derived minhash params), so recall is exactly replayable.
    Both sets come from lsh_eval_pair_sets — ONE shingle+sha pass
    feeds the prefix-AllPairs exact side and the banded candidate
    side (identical pair sets to composing the two operators)."""
    from wagtail_vector_index_spark.operators.dedup import lsh_eval_pair_sets

    docs = _t(spark, sf_dir, "documents")
    exact, cand = lsh_eval_pair_sets(
        docs, n=3, num_hashes=16, bands=8, threshold=0.3
    )
    exact = exact.select("id_a", "id_b")
    cand = cand.select("id_a", "id_b")
    hit = exact.join(cand, ["id_a", "id_b"])
    return (
        exact.agg(F.count(F.lit(1)).alias("n_exact"))
        .crossJoin(F.broadcast(hit.agg(F.count(F.lit(1)).alias("n_captured"))))
        .select(
            "n_exact",
            "n_captured",
            F.round(
                F.col("n_captured").cast("double") / F.col("n_exact"), 6
            ).alias("recall"),
        )
    )


@register(
    "search_phrase_positions",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {TOKS_SQL} AS tk FROM documents),
    pos AS (SELECT doc_id, unnest(generate_series(1, len(tk) - 1)) AS i, tk
            FROM toks)
    SELECT doc_id, count(*)::BIGINT AS n_occ
    FROM pos WHERE tk[i] = 'table' AND tk[i + 1] = 'hash'
    GROUP BY 1
    """,
)
def search_phrase_positions(spark, sf_dir):
    """Exact-phrase search over POSITIONAL posting lists — the inverted
    -index primitive boolean AND (search_posting_lists) can't express:
    "table hash" matches only where the terms are ADJACENT. Each doc's
    tokens posexplode into (token, position) postings; the phrase is a
    self-join of the two terms' postings on (doc, pos + 1). At scale
    the postings are filtered to the phrase terms BEFORE the join
    (Catalyst pushes the literal filters below the explode's project),
    so the join sides are two term posting lists — document-keyed,
    bounded by term frequency — exactly how a distributed search engine
    intersects positional postings. Output: per-doc phrase occurrence
    counts (the tf a phrase scorer would consume)."""
    from wagtail_vector_index_spark.functions.text_analysis import tokens_col

    docs = _t(spark, sf_dir, "documents")
    post = docs.select(
        "doc_id", F.posexplode(tokens_col(F.col("text"))).alias("pos", "tok")
    )
    t1 = post.where(F.col("tok") == "table").select(
        "doc_id", F.col("pos").alias("__p1")
    )
    t2 = post.where(F.col("tok") == "hash").select(
        F.col("doc_id").alias("__d2"), F.col("pos").alias("__p2")
    )
    return (
        t1.join(
            t2,
            (F.col("doc_id") == F.col("__d2"))
            & (F.col("__p2") == F.col("__p1") + 1),
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )


_NOVELTY_SH_SQL = (
    "list_filter(list_transform("
    "range(1, greatest(length(text) - 15, 1) + 1, 8), "
    "i -> substr(text, i, 16)), s -> length(s) = 16)"
)


@register(
    "text_ngram_novelty",
    oracle=f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, s
      FROM (SELECT doc_id, unnest({_NOVELTY_SH_SQL}) AS s FROM documents)),
    first AS (SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY s),
    per_doc AS (
      SELECT sh.doc_id,
             count(*) AS n_sh,
             sum(CASE WHEN first.first_doc = sh.doc_id THEN 1 ELSE 0 END)
               AS n_novel
      FROM sh JOIN first USING (s)
      GROUP BY sh.doc_id)
    SELECT d.source,
           count(*)::BIGINT AS n_docs,
           round(avg(p.n_novel::DOUBLE / p.n_sh), 6) AS avg_novelty
    FROM per_doc p JOIN documents d USING (doc_id)
    GROUP BY d.source
    """,
)
def text_ngram_novelty(spark, sf_dir):
    """N-gram novelty profiling: for each document, the fraction of its
    16-char shingles whose FIRST corpus occurrence (min doc_id — the
    ingest-order stand-in) is that document, averaged per source. The
    dataset-curation curve behind "is new data still adding new
    content?": a source whose novelty decays toward 0 is re-crawling
    what the corpus already holds (the saturation diagnostic in
    RefinedWeb/FineWeb-style pipeline reports), and per-doc novelty is
    the memorization-risk proxy used to pick eval holdouts.

    Scale shape: shingles are STRIDED (every 8th position, window 16 —
    a documented 8x sampling of the rolling set; boundaries are
    position-deterministic so both engines enumerate identical
    shingles). One explode feeds a map-side-combinable min(doc_id) per
    shingle — the only wide stage is keyed on the shingle hash, the
    same discipline as the dedup family — and first-occurrence credit
    joins back shingle-keyed, then folds to doc grain and source
    grain. No all-pairs anything: novelty is a group-by metric, which
    is why it scales where pairwise overlap matrices can't."""
    docs = _t(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.filter(
                    F.expr(
                        "transform(sequence(1, greatest(length(text) - 15, 1), 8),"
                        " i -> substring(text, i, 16))"
                    ),
                    lambda s: F.length(s) == 16,
                )
            )
        ).alias("s"),
    )
    first = sh.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        sh.join(first, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return (
        per_doc.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.avg(F.col("n_novel").cast("double") / F.col("n_sh")), 6
            ).alias("avg_novelty"),
        )
    )


@register(
    "er_entity_clusters",
    oracle="""
    WITH RECURSIVE
    c AS (
      SELECT c_custkey, c_name, substr(c_name, 1, 16) AS blk
      FROM customer),
    p AS (
      SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
      FROM c a JOIN c b
        ON a.blk = b.blk AND a.c_custkey < b.c_custkey
      WHERE levenshtein(a.c_name, b.c_name) <= 1),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM p
      UNION
      SELECT id_b, id_a FROM p),
    walk(u, r) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.u, w.r FROM edges e JOIN walk w ON e.v = w.u),
    comp AS (SELECT u AS c_custkey, min(r) AS entity FROM walk GROUP BY u),
    labeled AS (
      SELECT c.c_custkey, coalesce(comp.entity, c.c_custkey) AS entity
      FROM c LEFT JOIN comp USING (c_custkey)),
    sizes AS (
      SELECT entity, count(*)::BIGINT AS sz FROM labeled GROUP BY entity)
    SELECT sz AS cluster_size, count(*)::BIGINT AS n_clusters,
           (sz * count(*))::BIGINT AS n_records
    FROM sizes GROUP BY sz
    """,
)
def er_entity_clusters(spark, sf_dir):
    """Entity resolution end-to-end: the blocked fuzzy matches of
    er_blocked_pairs become ENTITIES via connected components — the
    match graph's transitive closure is the canonical ER clustering
    step (two records are the same entity if linked through any chain
    of matches), reported as a cluster-size histogram, the dedup-rate
    summary a linkage pipeline publishes.

    Composition of two already-scaled operators: the pair stage
    shuffles on the blocking key only (per-block JVM levenshtein), and
    clustering is operators/dedup.py::connected_components — the
    large-star/small-star pointer-doubling algorithm, O(log n) rounds
    with a shrinking edge set, so a million-record match graph with
    long chains clusters in ~20 rounds. Unmatched records label
    themselves (left join + coalesce), and the histogram is a
    two-level map-side-combinable count."""
    from wagtail_vector_index_spark.operators.dedup import (
        connected_components,
    )

    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", F.substring("c_name", 1, 16).alias("blk")
    )
    a = c.select(
        F.col("blk"),
        F.col("c_custkey").alias("id_a"),
        F.col("c_name").alias("__na"),
    )
    b = c.select(
        F.col("blk").alias("__bb"),
        F.col("c_custkey").alias("id_b"),
        F.col("c_name").alias("__nb"),
    )
    pairs = (
        a.join(
            b,
            (F.col("blk") == F.col("__bb"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .where(F.levenshtein(F.col("__na"), F.col("__nb")) <= 1)
        .select("id_a", "id_b")
    )
    comp = connected_components(pairs, out_id="c_custkey", out_comp="entity")
    labeled = c.join(comp, "c_custkey", "left").select(
        F.coalesce("entity", "c_custkey").alias("entity")
    )
    sizes = labeled.groupBy("entity").agg(F.count(F.lit(1)).alias("sz"))
    return sizes.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1))).alias("n_records"),
    )


@register(
    "text_readability",
    oracle="""
    WITH m AS (
      SELECT source,
             len(regexp_extract_all(lower(text), '[a-z]+')) AS words,
             greatest(len(regexp_extract_all(text, '[.!?]')), 1)
               AS sentences,
             len(regexp_extract_all(lower(text), '[aeiouy]+')) AS syllables
      FROM documents),
    g AS (
      SELECT source,
             0.39 * (words * 1.0 / sentences)
             + 11.8 * (syllables * 1.0 / words) - 15.59 AS fk
      FROM m WHERE words > 0)
    SELECT source, count(*)::BIGINT AS n_docs,
           round(avg(fk), 4) AS avg_fk_grade
    FROM g GROUP BY source
    """,
)
def text_readability(spark, sf_dir):
    """Flesch-Kincaid grade-level estimate per source — the classic
    readability feature in quality-filter stacks (alongside the Gopher
    rules): 0.39*(words/sentence) + 11.8*(syllables/word) - 15.59,
    with vowel-group runs as the standard syllable proxy. Everything
    is JVM regexp + arithmetic in one codegen pass over the scan
    (words = [a-z]+ runs, sentences = terminal punctuation, floored
    at 1 for fragments), then a map-side-combinable per-source mean.
    Both engines evaluate the identical regex class sets, and the
    grade arithmetic is the same expression tree, so the 4-dp pin
    holds cross-engine."""
    docs = _t(spark, sf_dir, "documents")
    lower = F.lower(F.col("text"))
    words = F.size(F.expr(r"regexp_extract_all(lower(text), '[a-z]+', 0)"))
    sentences = F.greatest(
        F.size(F.expr(r"regexp_extract_all(text, '[.!?]', 0)")), F.lit(1)
    )
    syllables = F.size(
        F.expr(r"regexp_extract_all(lower(text), '[aeiouy]+', 0)")
    )
    m = docs.select(
        "source",
        words.alias("words"),
        sentences.alias("sentences"),
        syllables.alias("syllables"),
    ).where(F.col("words") > 0)
    fk = (
        0.39 * (F.col("words") * F.lit(1.0) / F.col("sentences"))
        + 11.8 * (F.col("syllables") * F.lit(1.0) / F.col("words"))
        - 15.59
    )
    return (
        m.select("source", fk.alias("fk"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("fk"), 4).alias("avg_fk_grade"),
        )
    )


@register(
    "pipeline_mix_temperature",
    oracle="""
    WITH c AS (SELECT source, count(*)::BIGINT AS n_docs
               FROM documents GROUP BY 1),
    w AS (SELECT source, n_docs, pow(n_docs, 0.7) AS wt FROM c),
    t AS (SELECT sum(wt) AS total FROM w)
    SELECT w.source, w.n_docs,
           round(w.wt / t.total, 6) AS mix_weight,
           round(w.wt / t.total * (SELECT sum(n_docs) FROM c)
                 / w.n_docs, 4) AS epochs
    FROM w CROSS JOIN t
    """,
)
def pipeline_mix_temperature(spark, sf_dir):
    """Temperature-scaled corpus mixing weights: source sampling
    probability proportional to n^alpha (alpha=0.7 — the multilingual
    upsampling rule from mBERT/XLM-R and the data-mix shape in
    GPT-3-style corpora): big sources are downweighted, small ones
    upsampled, and ``epochs`` reports how many passes over each source
    the mix implies at a constant total token budget — the >1 values
    are exactly the small-source repetition a data card must disclose.

    One map-side-combinable count per source; the weight table is
    source-grain (tiny), so normalization is a broadcast crossJoin of
    a 1-row total — no second scan of the corpus. pow(n, 0.7) on
    integer inputs is the same IEEE call in both engines."""
    docs = _t(spark, sf_dir, "documents")
    c = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    w = c.select(
        "source", "n_docs", F.pow(F.col("n_docs"), 0.7).alias("wt")
    )
    t = w.agg(
        F.sum("wt").alias("total"), F.sum("n_docs").alias("grand_docs")
    )
    return w.crossJoin(F.broadcast(t)).select(
        "source",
        "n_docs",
        F.round(F.col("wt") / F.col("total"), 6).alias("mix_weight"),
        F.round(
            F.col("wt") / F.col("total") * F.col("grand_docs") / F.col("n_docs"),
            4,
        ).alias("epochs"),
    )


@register(
    "pipeline_line_dedup",
    oracle="""
    WITH w AS (SELECT doc_id, source,
                      list_filter(string_split(text, ' '), t -> t <> '') AS ws
               FROM documents),
    lines AS (
      SELECT doc_id, source, i AS pos,
             array_to_string(ws[(i-1)*2+1:i*2], ' ') AS line
      FROM w, LATERAL (SELECT unnest(range(1,
             cast(ceil(len(ws)/2.0) AS INT) + 1)) AS i) t),
    freq AS (SELECT source, line, count(DISTINCT doc_id) AS nd
             FROM lines GROUP BY 1, 2),
    tagged AS (SELECT l.doc_id, l.pos, l.line, f.nd
               FROM lines l JOIN freq f
                 ON l.source = f.source AND l.line = f.line),
    cleaned AS (
      SELECT doc_id,
             coalesce(string_agg(line, chr(10) ORDER BY pos)
                      FILTER (nd < 2), '') AS clean_text,
             count(*) FILTER (nd < 2) AS n_kept,
             count(*) FILTER (nd >= 2) AS n_dropped
      FROM tagged GROUP BY doc_id)
    SELECT d.doc_id, coalesce(c.clean_text, '') AS clean_text,
           coalesce(c.n_kept, 0)::BIGINT AS n_kept,
           coalesce(c.n_dropped, 0)::BIGINT AS n_dropped
    FROM documents d LEFT JOIN cleaned c ON d.doc_id = c.doc_id
    """,
)
def pipeline_line_dedup(spark, sf_dir):
    """Boilerplate line removal (the CCNet / RefinedWeb pre-dedup
    cleanup): segment every document into fixed 2-word lines, drop any
    line occurring in >= 2 distinct documents of the SAME source
    (boilerplate is site-local — nav chrome, footers, cookie banners),
    and reassemble each document from its surviving lines in original
    order (operators/dedup.py::remove_boilerplate_lines). Plan: one
    posexplode -> (source, line) count-distinct agg -> join back on the
    same key -> doc-keyed regroup; two line-grain shuffles, no
    broadcast of data, no driver state. The oracle replays the exact
    word-window segmentation, the frequency rule, and the ORDER BY pos
    reassembly."""
    from wagtail_vector_index_spark.operators.dedup import (
        remove_boilerplate_lines,
    )

    docs = _t(spark, sf_dir, "documents")
    # lines via zip_with over index-filtered word arrays: every lambda
    # references only its OWN argument, so nothing re-inlines. (The
    # first form indexed a __ws column from inside the transform
    # lambda; CollapseProject substituted the filter(split(text))
    # expression into each of its three references, re-tokenizing the
    # document PER LINE — O(words^2), measured 5.8s of an 11s gate at
    # sf0.1. This form explodes in 0.7s.)
    ws = F.filter(F.split(F.col("text"), " "), lambda t: t != F.lit(""))
    odds = F.filter(ws, lambda x, i: i % 2 == 0)
    evens = F.filter(ws, lambda x, i: i % 2 == 1)
    # zip_with pads the odd tail with NULL; concat_ws skips nulls
    lines = F.zip_with(odds, evens, lambda a, b: F.concat_ws(" ", a, b))
    src = docs.select("doc_id", "source", lines.alias("lines"))
    return remove_boilerplate_lines(
        src,
        id_col="doc_id",
        lines_col="lines",
        group_col="source",
        min_docs=2,
    )


def _fs_consts():
    from wagtail_vector_index_spark.operators.linkage import (
        fs_field_constants,
    )

    # (field, m, u): m = P(agree|match), u = P(agree|non-match)
    spec = [
        ("name", 0.95, 0.01),
        ("bal", 0.70, 0.10),
        ("seg", 0.90, 0.20),
        ("nation", 0.90, 0.04),
    ]
    return {
        f: fs_field_constants(m, u) + (m, u) for f, m, u in spec
    }


def _fs_weight_sql() -> str:
    c = _fs_consts()
    terms = {
        "name": "levenshtein(name_a, name_b) <= 1",
        "bal": "floor(bal_a / 1000.0) = floor(bal_b / 1000.0)",
        "seg": "seg_a = seg_b",
        "nation": "nat_a = nat_b",
    }
    parts = []
    for f in ("name", "bal", "seg", "nation"):
        wa, wd = c[f][0], c[f][1]
        parts.append(
            f"(CASE WHEN {terms[f]} THEN {wa!r}::DOUBLE"
            f" ELSE {wd!r}::DOUBLE END)"
        )
    return " + ".join(parts)


@register(
    "er_match_scores",
    oracle=f"""
    WITH c AS (
      SELECT c_custkey AS id, c_name AS name, c_acctbal AS bal,
             c_mktsegment AS seg, c_nationkey AS nat,
             substr(c_name, 1, 16) AS blk
      FROM customer),
    p AS (
      SELECT a.name AS name_a, b.name AS name_b,
             a.bal AS bal_a, b.bal AS bal_b,
             a.seg AS seg_a, b.seg AS seg_b,
             a.nat AS nat_a, b.nat AS nat_b
      FROM c a JOIN c b ON a.blk = b.blk AND a.id < b.id),
    scored AS (
      SELECT name_a, name_b,
             levenshtein(name_a, name_b) <= 1 AS name_agree,
             floor(bal_a / 1000.0) = floor(bal_b / 1000.0) AS bal_agree,
             seg_a = seg_b AS seg_agree,
             nat_a = nat_b AS nation_agree,
             round({_fs_weight_sql()}, 6) AS weight
      FROM p),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY weight DESC, name_a, name_b)
               AS rn
      FROM scored)
    SELECT name_a, name_b, name_agree, bal_agree, seg_agree,
           nation_agree, weight
    FROM ranked WHERE rn <= 25
    """,
)
def er_match_scores(spark, sf_dir):
    """Fellegi-Sunter probabilistic record linkage over the blocked
    customer candidate pairs (operators/linkage.py): each within-block
    pair scores a log2 likelihood-ratio weight across four field
    agreements (name edit-distance, acctbal thousand-band, market
    segment, nation) with fixed (m, u) probabilities; the top-25 weights are
    the auto-link head of the review queue. Candidate generation
    shuffles on the blocking key only (blocked_pairs); scoring is pure
    codegen'd column arithmetic — the log2 constants are precomputed
    python floats embedded IDENTICALLY in the oracle SQL, so no libm
    log2 disagreement can leak in, and field order fixes the float
    summation order."""
    from wagtail_vector_index_spark.operators.linkage import (
        blocked_pairs,
        fs_weight,
    )

    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("bal"),
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").alias("nat"),
        F.substring("c_name", 1, 16).alias("blk"),
    )
    pairs = blocked_pairs(
        c, id_col="id", block_col="blk",
        carry=("name", "bal", "seg", "nat"),
    )
    consts = _fs_consts()
    agree = {
        "name": F.levenshtein("name_a", "name_b") <= 1,
        "bal": F.floor(F.col("bal_a") / 1000.0)
        == F.floor(F.col("bal_b") / 1000.0),
        "seg": F.col("seg_a") == F.col("seg_b"),
        "nation": F.col("nat_a") == F.col("nat_b"),
    }
    weight = fs_weight(
        [
            (agree[f], consts[f][2], consts[f][3])
            for f in ("name", "bal", "seg", "nation")
        ]
    )
    scored = pairs.select(
        "name_a",
        "name_b",
        agree["name"].alias("name_agree"),
        agree["bal"].alias("bal_agree"),
        agree["seg"].alias("seg_agree"),
        agree["nation"].alias("nation_agree"),
        F.round(weight, 6).alias("weight"),
    )
    w = Window.orderBy(
        F.col("weight").desc(), F.col("name_a").asc(), F.col("name_b").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= 25)
        .drop("__rn")
    )


@register(
    "text_tokenizer_fertility",
    oracle=r"""
    WITH d AS (
      SELECT lang,
             greatest(ceil(length(text) / 4),
                      ceil(len(regexp_extract_all(text, '[^\w\s]|\w+'))
                           * 0.75))::BIGINT AS est_tokens,
             len(list_filter(string_split(text, ' '), t -> t <> ''))::BIGINT
               AS n_words,
             strlen(text)::BIGINT AS n_bytes
      FROM documents)
    SELECT lang, count(*)::BIGINT AS n_docs,
           sum(est_tokens)::BIGINT AS total_tokens,
           round(sum(est_tokens)::DOUBLE / sum(n_words), 4) AS fertility,
           round(sum(n_bytes)::DOUBLE / sum(est_tokens), 4)
             AS bytes_per_token
    FROM d GROUP BY lang ORDER BY lang
    """,
)
def text_tokenizer_fertility(spark, sf_dir):
    """Tokenizer fertility per language — tokens per word and bytes per
    token, the compression stats every multilingual tokenizer eval
    reports (a high-fertility language pays more sequence length per
    sentence, skewing both training cost and context budget). Uses the
    repo's BPE-ish token estimator (functions/text_splitting
    ::estimated_tokens_col, the JVM expression twin), whitespace words,
    and byte lengths; one map-side-combinable aggregate from document
    grain to the ~5-row language table — corpus-scale ratios, not
    per-doc averages, so the totals are exact at any scale."""
    from wagtail_vector_index_spark.functions.text_splitting import (
        estimated_tokens_col,
    )

    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "lang",
        estimated_tokens_col(F.col("text")).alias("__t"),
        F.size(
            F.filter(F.split(F.col("text"), " "), lambda t: t != F.lit(""))
        ).alias("__w"),
        F.octet_length("text").alias("__b"),
    )
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__t").alias("total_tokens"),
            F.round(F.sum("__t") / F.sum("__w"), 4).alias("fertility"),
            F.round(F.sum("__b") / F.sum("__t"), 4).alias(
                "bytes_per_token"
            ),
        )
        .orderBy("lang")
    )


@register(
    "pipeline_token_budget",
    oracle=r"""
    WITH caps AS (
      SELECT source,
             sum(greatest(ceil(length(text) / 4),
                          ceil(len(regexp_extract_all(text, '[^\w\s]|\w+'))
                               * 0.75)))::BIGINT AS cap
      FROM documents GROUP BY source),
    t AS (SELECT count(*)::BIGINT AS nn, sum(cap)::BIGINT AS tot,
                 floor(0.5 * sum(cap))::DOUBLE AS target
          FROM caps),
    ranked AS (
      SELECT source, cap,
             row_number() OVER (ORDER BY cap, source) AS i,
             sum(cap) OVER (ORDER BY cap, source) AS p
      FROM caps),
    lam AS (
      SELECT (t.target - (r.p - r.cap)) / (t.nn - r.i + 1) AS lev
      FROM ranked r, t
      WHERE (r.p - r.cap) + (t.nn - r.i + 1) * r.cap >= t.target
      ORDER BY r.i LIMIT 1)
    SELECT c.source, c.cap AS cap_tokens,
           round(CASE WHEN lam.lev IS NULL THEN c.cap::DOUBLE
                      ELSE least(c.cap::DOUBLE, lam.lev) END, 4)
             AS alloc_tokens
    FROM caps c LEFT JOIN lam ON TRUE
    ORDER BY c.source
    """,
)
def pipeline_token_budget(spark, sf_dir):
    """Water-filling token-budget allocation across sources: given each
    source's token capacity and a total training budget (here 50% of
    the corpus), allocate min(cap, lambda) tokens per source where the
    water level lambda exactly exhausts the budget — the fair-share
    rule that stops one mega-source from eating the mixture while
    small sources contribute everything they have (the allocation step
    behind every data-mixing recipe's 'cap large sources' clause).

    Lambda has a CLOSED FORM over capacity order statistics: sort
    sources by capacity ascending, prefix-sum; the first rank i where
    remaining-budget/(remaining-sources) falls at-or-below cap_i fixes
    lambda = (T - P_{i-1}) / (n - i + 1). Everything is source-grain —
    the per-doc token estimate aggregates map-side to one row per
    source, and the ranked window runs over that tiny dimension table
    (thousands of rows at 100 TB, never the corpus)."""
    from wagtail_vector_index_spark.functions.text_splitting import (
        estimated_tokens_col,
    )

    docs = _t(spark, sf_dir, "documents")
    caps = docs.groupBy("source").agg(
        F.sum(estimated_tokens_col(F.col("text"))).alias("cap")
    )
    t = caps.agg(
        F.count(F.lit(1)).alias("__nn"),
        F.floor(0.5 * F.sum("cap")).cast("double").alias("__target"),
    )
    w = Window.orderBy(F.col("cap").asc(), F.col("source").asc())
    ranked = (
        caps.withColumn("__i", F.row_number().over(w))
        .withColumn("__p", F.sum("cap").over(w))
        .crossJoin(F.broadcast(t))
    )
    lam = (
        ranked.where(
            (F.col("__p") - F.col("cap"))
            + (F.col("__nn") - F.col("__i") + 1) * F.col("cap")
            >= F.col("__target")
        )
        .orderBy("__i")
        .limit(1)
        .select(
            (
                (F.col("__target") - (F.col("__p") - F.col("cap")))
                / (F.col("__nn") - F.col("__i") + 1)
            ).alias("__lev")
        )
    )
    return (
        caps.crossJoin(F.broadcast(lam))
        .select(
            "source",
            F.col("cap").alias("cap_tokens"),
            F.round(
                F.when(
                    F.col("__lev").isNull(), F.col("cap").cast("double")
                ).otherwise(
                    F.least(F.col("cap").cast("double"), F.col("__lev"))
                ),
                4,
            ).alias("alloc_tokens"),
        )
        .orderBy("source")
    )


@register(
    "dedup_lsh_precision",
    oracle=f"""
    WITH sh AS (SELECT doc_id, {_shingles_sql()} AS shingles FROM documents),
    ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS n_a, b.n AS n_b,
             count(*) AS ni
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4),
    exact AS (
      SELECT id_a, id_b FROM inter
      WHERE ni::DOUBLE / (n_a + n_b - ni) >= 0.3),
    hashed AS (SELECT doc_id, {HS_SQL} AS hs FROM sh),
    sig AS (SELECT doc_id, {_minhash_sig_sql()} AS sig FROM hashed),
    bands AS (SELECT doc_id, unnest({_band_keys_sql('sig')}) AS band FROM sig),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
    hit AS (SELECT c.id_a FROM cand c JOIN exact e
            ON e.id_a = c.id_a AND e.id_b = c.id_b)
    SELECT (SELECT count(*) FROM cand)::BIGINT AS n_candidates,
           (SELECT count(*) FROM hit)::BIGINT AS n_verified,
           round((SELECT count(*) FROM hit)::DOUBLE
                 / (SELECT count(*) FROM cand), 6) AS precision
    """,
)
def dedup_lsh_precision(spark, sf_dir):
    """MinHash-LSH banding PRECISION — the other half of the
    dedup_lsh_recall eval: of the candidate pairs the 16-hash/8-band
    stage surfaces, what fraction survive the exact-Jaccard verify at
    0.3? Low precision means the verify stage burns compute on false
    candidates (add rows-per-band); low recall means lost duplicates
    (add bands) — a banding config is tuned on BOTH numbers from the
    same two deterministic pair sets. Same operators, same shuffles as
    the recall gate; only the denominator changes. Both sets come from
    lsh_eval_pair_sets — ONE shingle+sha pass feeds the prefix-AllPairs
    exact side and the banded candidate side (identical pair sets to
    composing the two operators)."""
    from wagtail_vector_index_spark.operators.dedup import lsh_eval_pair_sets

    docs = _t(spark, sf_dir, "documents")
    exact, cand = lsh_eval_pair_sets(
        docs, n=3, num_hashes=16, bands=8, threshold=0.3
    )
    exact = exact.select("id_a", "id_b")
    cand = cand.select("id_a", "id_b")
    hit = cand.join(exact, ["id_a", "id_b"])
    return (
        cand.agg(F.count(F.lit(1)).alias("n_candidates"))
        .crossJoin(
            F.broadcast(hit.agg(F.count(F.lit(1)).alias("n_verified")))
        )
        .select(
            "n_candidates",
            "n_verified",
            F.round(
                F.col("n_verified").cast("double") / F.col("n_candidates"),
                6,
            ).alias("precision"),
        )
    )


@register(
    "pipeline_contamination_report",
    oracle=f"""
    WITH sh AS (SELECT doc_id, source, {_shingles_sql()} AS shingles
                FROM documents),
    hsh AS (SELECT doc_id, source, list_distinct({HS_SQL}) AS hs FROM sh),
    ex AS (SELECT doc_id, source, len(hs) AS n, unnest(hs) AS s
           FROM hsh),
    inter AS (
      SELECT t.doc_id AS train_id, e.doc_id AS eval_id,
             t.n AS n_t, e.n AS n_e, count(*) AS ni
      FROM ex t JOIN ex e ON t.s = e.s
      WHERE t.source NOT IN ('src0', 'src1') AND e.source IN ('src0', 'src1')
      GROUP BY 1, 2, 3, 4),
    hits AS (
      SELECT eval_id, train_id,
             ni::DOUBLE / (n_t + n_e - ni) AS j
      FROM inter WHERE ni::DOUBLE / (n_t + n_e - ni) >= 0.3)
    SELECT eval_id, count(*)::BIGINT AS n_contaminating,
           round(max(j), 6) AS max_jaccard
    FROM hits GROUP BY eval_id ORDER BY eval_id
    """,
)
def pipeline_contamination_report(spark, sf_dir):
    """Contamination forensics — the EVAL-side view pipeline_
    decontaminate's train-side filter doesn't give you: per held-out
    eval document, how many training docs overlap it at 3-gram
    Jaccard >= 0.3 and how bad the worst overlap is. This is the
    report that decides whether an eval BENCHMARK is compromised (an
    eval item matched by hundreds of training docs measures
    memorization, not generalization) — filtering train is not enough
    if the eval set itself must be defended. Same shingle co-count
    join as decontaminate (candidates only meet on shared shingles,
    never quadratic in corpus size), aggregated to eval grain — and,
    like decontaminate, keyed on the 32-bit sha_hash64 of the shingle
    rather than the raw string (the join key dominated this gate's
    shuffle bytes; oracle replays the identical hash; collision caveat
    as on the prefix-filter dedup path)."""
    docs = _t(spark, sf_dir, "documents")
    inter = _train_eval_jaccard(docs, {"src0", "src1"}).where(
        F.col("jaccard") >= 0.3
    )
    out = inter.groupBy("eval_id").agg(
        F.count(F.lit(1)).alias("n_contaminating"),
        F.round(F.max("jaccard"), 6).alias("max_jaccard"),
    )
    return out.orderBy("eval_id")


# --- r9 EXT: pipeline observability + hygiene additions ---------------------


@register(
    "pipeline_rejection_funnel",
    oracle=f"""
    WITH t AS (SELECT doc_id, source, text, {TOKS_SQL} AS toks FROM documents),
    m AS (
      SELECT doc_id, source,
             len(toks)::BIGINT AS n_words,
             greatest(len(toks), 1)::BIGINT AS denom,
             list_aggregate(list_transform(toks, t -> length(t)), 'sum')::BIGINT
               AS char_sum,
             len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))::BIGINT
               AS n_alpha,
             (length(text) - length(replace(text, '#', '')))::BIGINT AS n_hash,
             (length(text) - length(replace(text, '...', ''))) / 3 AS n_ell,
             {_GOPHER_STOP_SQL}::BIGINT AS stop_hits
      FROM t),
    r AS (
      SELECT source,
             CASE
               WHEN NOT (n_words >= 20 AND n_words <= 100000)
                 THEN 'word_count'
               WHEN NOT (char_sum / denom >= 3.0 AND char_sum / denom <= 10.0)
                 THEN 'mean_word_len'
               WHEN NOT ((n_hash + n_ell) / denom <= 0.1)
                 THEN 'symbol_ratio'
               WHEN NOT (n_alpha / denom >= 0.8)
                 THEN 'alpha_words'
               WHEN NOT (stop_hits >= 2)
                 THEN 'stopwords'
               ELSE 'pass'
             END AS reject_reason
      FROM m)
    SELECT source, reject_reason, count(*)::BIGINT AS n_docs
    FROM r GROUP BY source, reject_reason
    ORDER BY source, reject_reason
    """,
)
def pipeline_rejection_funnel(spark, sf_dir):
    """Per-source quality-filter funnel with FIRST-failing-rule
    attribution over the Gopher battery (Rae et al. 2021, Table A1) —
    the per-rule removal accounting that production curation pipelines
    publish (Dolma section 4, RefinedWeb table 2 report exactly this),
    and the number you read before touching any rule threshold. Rules
    evaluate in the fixed GOPHER_RULE_ORDER so every document is charged
    to exactly one reason and the funnel sums to n_docs.

    Scale shape: ONE whole-stage-codegen scan computes all five rules +
    the CASE (text never leaves the task), then a map-side-combinable
    count on the tiny (source, reason) key — at 100 TB this is scan-bound
    with a few-KB shuffle. Same discipline as `text_gopher_rules`, which
    returns the per-document booleans; this gate is the aggregated
    funnel (served via Corpus.rejection_funnel)."""
    from wagtail_vector_index_spark.operators.corpus import Corpus

    docs = _t(spark, sf_dir, "documents")
    return Corpus(docs).rejection_funnel().orderBy("source", "reject_reason")


@register(
    "pipeline_source_overlap",
    oracle=f"""
    WITH t AS (SELECT source, {TOKEN_HASHES_SQL} AS th FROM documents),
    hsh AS (SELECT source, {_ngram_fp_sql(3)} AS hs FROM t),
    ex AS (SELECT source, unnest(hs) AS fp FROM hsh),
    exd AS (SELECT DISTINCT source, fp FROM ex),
    c AS (SELECT source, count(*)::BIGINT AS n FROM exd GROUP BY source),
    co AS (SELECT a.source AS src_a, b.source AS src_b,
                  count(*)::BIGINT AS n_common
           FROM exd a JOIN exd b ON a.fp = b.fp AND a.source < b.source
           GROUP BY 1, 2)
    SELECT src_a, src_b, n_common,
           n_common / (ca.n + cb.n - n_common) AS jaccard
    FROM co
    JOIN c ca ON ca.source = co.src_a
    JOIN c cb ON cb.source = co.src_b
    ORDER BY src_a, src_b
    """,
)
def pipeline_source_overlap(spark, sf_dir):
    """Cross-source n-gram overlap matrix: Jaccard between each source
    pair's DISTINCT word-3-gram fingerprint sets — the between-source
    contamination audit run before choosing mixing weights (Dolma's
    cross-dataset dedupe analysis; also how eval-suite vendors check
    benchmark bleed between subsets). Zero-overlap pairs are omitted
    (sparse output).

    Scale shape: the corpus is scanned ONCE into token-hash XOR-shift
    fingerprints (never gram strings — see ngram_fingerprints_col), then
    ONE shuffle groups by fingerprint with a map-side partial
    collect_set; per-gram state is bounded by the SOURCE cardinality
    (tens), not document count, so a 100 TB corpus with a mega-common
    gram still holds a <=n_sources set per key. Pair generation is a
    map-side double-explode over those tiny sets (<= n_sources^2 rows
    per gram), and both downstream aggs combine map-side. The shared
    grouped frame is lazily localCheckpointed: two consumers (per-source
    counts, pair co-counts), one materialization, blocks released by the
    ContextCleaner with the frame. Served via Corpus.source_overlap."""
    from wagtail_vector_index_spark.operators.corpus import Corpus

    docs = _t(spark, sf_dir, "documents")
    return Corpus(docs).source_overlap(n=3).orderBy("src_a", "src_b")


@register(
    "text_pii_scrub",
    oracle="""
    WITH p AS (
      SELECT doc_id, source,
             text || ' contact u' || doc_id::VARCHAR || '@example.com'
                  || (CASE WHEN doc_id % 3 = 0
                      THEN ' tel 555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                      ELSE '' END)
                  || (CASE WHEN doc_id % 7 = 0
                      THEN ' host 10.0.' || (doc_id % 256)::VARCHAR || '.1'
                      ELSE '' END) AS aug
      FROM documents),
    s AS (
      SELECT doc_id, source,
             len(regexp_extract_all(aug,
                 '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}'))::BIGINT AS n_emails,
             len(regexp_extract_all(aug, '\\b555-[0-9]{4}\\b'))::BIGINT AS n_phones,
             len(regexp_extract_all(aug,
                 '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b'))::BIGINT
               AS n_ips,
             regexp_replace(
               regexp_replace(
                 regexp_replace(aug,
                   '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'),
                 '\\b555-[0-9]{4}\\b', '<PHONE>', 'g'),
               '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b',
               '<IP>', 'g') AS redacted
      FROM p)
    SELECT doc_id, source, n_emails, n_phones, n_ips,
           sha256(redacted) AS redacted_sha
    FROM s ORDER BY doc_id
    """,
)
def text_pii_scrub(spark, sf_dir):
    """PII detection + redaction (the RefinedWeb / ROOTS / Dolma
    pre-release scrub stage): per-category match counts on the original
    text and a sha256 of the fully redacted text (full-content equality
    witness without shipping megabytes through the gate). The synthetic
    corpus contains no organic PII, so deterministic spans (one email
    per doc, a phone for doc_id%3==0, an IPv4 for doc_id%7==0) are
    PLANTED from doc_id first — the gate verifies the scrubbing
    mechanism end-to-end, counts included, against the oracle running
    the identical regexes.

    Scale shape: one codegen'd scan, zero shuffle (per-row regexp_count
    / regexp_replace in the JVM — no Python). Patterns live in
    text_analysis.PII_PATTERNS and are Java-regex/RE2 portable by
    construction (character classes + \\b only)."""
    from wagtail_vector_index_spark.functions.text_analysis import pii_scrub_cols

    docs = _t(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact u"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" tel 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" host 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".1"),
            ),
        ).otherwise(F.lit("")),
    )
    planted = docs.select("doc_id", "source", aug.alias("__aug"))
    scrub = pii_scrub_cols(F.col("__aug"))
    return planted.select(
        "doc_id",
        "source",
        scrub["n_emails"].alias("n_emails"),
        scrub["n_phones"].alias("n_phones"),
        scrub["n_ips"].alias("n_ips"),
        F.sha2(scrub["redacted"], 256).alias("redacted_sha"),
    )


# --- r9 EXT: corpus statistics + training-shape gates ------------------------


@register(
    "text_heaps_law",
    oracle=f"""
    WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
    per_doc AS (SELECT doc_id, len(toks)::BIGINT AS n_toks FROM t),
    firsts AS (
      SELECT tok, min(doc_id) AS first_doc
      FROM (SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY tok),
    nf AS (SELECT first_doc, count(*)::BIGINT AS n_first
           FROM firsts GROUP BY first_doc),
    cum AS (
      SELECT d.doc_id,
             sum(d.n_toks) OVER (ORDER BY d.doc_id
               ROWS UNBOUNDED PRECEDING) AS big_n,
             sum(coalesce(f.n_first, 0)) OVER (ORDER BY d.doc_id
               ROWS UNBOUNDED PRECEDING) AS v
      FROM per_doc d LEFT JOIN nf f ON d.doc_id = f.first_doc),
    pts AS (SELECT big_n, v FROM cum WHERE big_n > 0 AND v > 0)
    SELECT count(*)::BIGINT AS n_docs,
           max(big_n)::BIGINT AS total_tokens,
           max(v)::BIGINT AS vocab,
           round(regr_slope(ln(v::DOUBLE), ln(big_n::DOUBLE)), 4)
             AS heaps_beta,
           round(exp(regr_intercept(ln(v::DOUBLE), ln(big_n::DOUBLE))), 4)
             AS heaps_k
    FROM pts
    """,
)
def text_heaps_law(spark, sf_dir):
    """Heaps'-law vocabulary-growth fit: V(N) ~ K * N^beta over the
    corpus in doc_id order — the corpus-health diagnostic that tells a
    training-data pipeline whether more data still buys new vocabulary
    (natural text sits near beta ~ 0.5; templated/duplicated corpora
    flatten early). Each token's FIRST-occurrence doc comes from one
    min-aggregate (never a quadratic scan); the cumulative token and
    vocabulary counts ride the distributed prefix scan
    (operators/prefixsum.py — no single-task window), and the log-log
    fit is the built-in least-squares aggregate, map-side combinable.
    At 100 TB every stage is a hash agg or a range-partitioned scan
    (served via Corpus.heaps_fit)."""
    from wagtail_vector_index_spark.operators.corpus import Corpus

    return Corpus(_t(spark, sf_dir, "documents")).heaps_fit()


_VOCAB_SIZES = (8, 16, 16000)


@register(
    "text_vocab_coverage",
    oracle=f"""
    WITH t AS (SELECT {TOKS_SQL} AS toks FROM documents),
    c AS (SELECT tok, count(*)::BIGINT AS cnt
          FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY tok),
    r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rk
          FROM c)
    SELECT k.vocab_size::BIGINT AS vocab_size,
           sum(CASE WHEN r.rk <= k.vocab_size THEN r.cnt ELSE 0 END)::BIGINT
             AS covered_tokens,
           sum(r.cnt)::BIGINT AS total_tokens,
           count(*)::BIGINT AS n_types,
           round(sum(CASE WHEN r.rk <= k.vocab_size THEN r.cnt
                          ELSE 0 END)::DOUBLE / sum(r.cnt), 6) AS coverage
    FROM (VALUES {', '.join(f'({k})' for k in _VOCAB_SIZES)})
         k(vocab_size) CROSS JOIN r
    GROUP BY k.vocab_size ORDER BY k.vocab_size
    """,
)
def text_vocab_coverage(spark, sf_dir):
    """Vocabulary-coverage curve: for each candidate vocab size k, the
    fraction of token OCCURRENCES covered by the k most frequent word
    types — the tokenizer-sizing measurement (coverage at k is exactly
    1 - OOV rate a k-entry word vocabulary would pay on this corpus;
    run before committing a vocab size, since Zipfian corpora saturate
    early and templated ones earlier still; the probed sizes bracket
    the synthetic testdata's 31-type vocabulary so the curve is
    non-degenerate — production callers pass e.g. (8k, 32k, 128k)).
    Scale shape: one corpus
    scan to a map-side-combinable type-grain count (vocabulary is
    Heaps-sublinear in corpus rows), dense frequency ranks via the
    distributed assigner (operators/prefixsum.py — no single-task
    window over the vocabulary), and ONE conditional aggregate emits
    every probed k; ties rank (count desc, token asc) so the curve is
    deterministic across partitionings and engines (served via
    Corpus.vocab_coverage)."""
    from wagtail_vector_index_spark.operators.corpus import Corpus

    return Corpus(_t(spark, sf_dir, "documents")).vocab_coverage(
        vocab_sizes=_VOCAB_SIZES
    )


_PAD_BATCH = 32


@register(
    "pipeline_padding_waste",
    oracle=f"""
    WITH t AS (SELECT doc_id, len({TOKS_SQL})::BIGINT AS n FROM documents),
    a AS (SELECT n, (row_number() OVER (ORDER BY doc_id) - 1)
                    // {_PAD_BATCH} AS batch FROM t),
    s AS (SELECT n, (row_number() OVER (ORDER BY n DESC, doc_id) - 1)
                    // {_PAD_BATCH} AS batch FROM t),
    ab AS (SELECT 'arrival' AS strategy, count(*) * max(n) - sum(n) AS pad,
                  sum(n) AS toks FROM a GROUP BY batch),
    sb AS (SELECT 'length_sorted' AS strategy,
                  count(*) * max(n) - sum(n) AS pad, sum(n) AS toks
           FROM s GROUP BY batch),
    u AS (SELECT * FROM ab UNION ALL SELECT * FROM sb)
    SELECT strategy, count(*)::BIGINT AS n_batches,
           sum(toks)::BIGINT AS total_tokens,
           sum(pad)::BIGINT AS padded_tokens,
           round(sum(pad)::DOUBLE / (sum(pad) + sum(toks)), 6) AS waste_pct
    FROM u GROUP BY strategy ORDER BY strategy
    """,
)
def pipeline_padding_waste(spark, sf_dir):
    """Batch-shaping efficiency audit: tokens wasted on padding when the
    corpus is batched 32 sequences at a time, arrival order vs
    length-sorted order — the measurement behind length-bucketed batch
    samplers (padding to the batch max burns FLOPs on pad tokens;
    sorting by length collapses the per-batch spread). Row numbers come
    from the distributed dense-id assigner (operators/prefixsum.py) so
    neither ordering pays a single-task window; each strategy is then
    one map-side-combinable (batch -> count/max/sum) aggregate (served
    via Corpus.padding_waste; the descending length sort tie-breaks
    ASCENDING on doc_id, replayed as ORDER BY n DESC, doc_id)."""
    from wagtail_vector_index_spark.operators.corpus import Corpus

    return Corpus(_t(spark, sf_dir, "documents")).padding_waste(
        batch_size=_PAD_BATCH
    )


@register(
    "text_quality_auc",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {TOKS_SQL} AS toks FROM documents),
    m AS (
      SELECT doc_id, text,
             len(toks)::BIGINT AS n_words,
             greatest(len(toks), 1)::BIGINT AS denom,
             list_aggregate(list_transform(toks, t -> length(t)), 'sum')::BIGINT
               AS char_sum,
             len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))::BIGINT
               AS n_alpha,
             (length(text) - length(replace(text, '#', '')))::BIGINT AS n_hash,
             (length(text) - length(replace(text, '...', ''))) / 3 AS n_ell,
             {_GOPHER_STOP_SQL}::BIGINT AS stop_hits,
             list_transform(toks, tok -> {_W_SQL}) AS ws
      FROM t WHERE len(toks) > 0),
    scored AS (
      SELECT CASE WHEN n_words >= 20 AND n_words <= 100000
                   AND char_sum / denom >= 3.0 AND char_sum / denom <= 10.0
                   AND (n_hash + n_ell) / denom <= 0.1
                   AND n_alpha / denom >= 0.8
                   AND stop_hits >= 2
             THEN 1 ELSE 0 END AS y,
             round(1.0 / (1.0 + exp(-8.0 * (list_sum(ws) / n_words))), 6) AS s
      FROM m),
    g AS (SELECT s, count(*)::BIGINT AS c, sum(y)::BIGINT AS p
          FROM scored GROUP BY s),
    r AS (SELECT p, c,
                 coalesce(sum(c) OVER (ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   + (c + 1) / 2.0 AS avg_rank
          FROM g)
    SELECT sum(p)::BIGINT AS n_pos, (sum(c) - sum(p))::BIGINT AS n_neg,
           round((sum(p * avg_rank) - sum(p) * (sum(p) + 1) / 2.0)
                 / (sum(p) * (sum(c) - sum(p))), 6) AS auc
    FROM r
    """,
)
def text_quality_auc(spark, sf_dir):
    """Quality-classifier calibration: tie-corrected Mann-Whitney AUC of
    the hashed linear quality score against the Gopher rule battery as
    the gold label — "does the cheap model score actually rank rule-pass
    docs above rule-fail docs?", the acceptance gate before a learned
    filter replaces a rule battery in production. Scale shape: scores
    aggregate to SCORE-grain first (count + positives per distinct
    rounded score — a map-side-combinable hash agg over the corpus), so
    the rank window runs over at most ~1e6 distinct 6-dp scores, never
    the corpus; AUC then falls out of three sums. No pair join, no
    corpus-sized sort (served via Corpus.quality_auc)."""
    from wagtail_vector_index_spark.operators.corpus import Corpus

    return Corpus(_t(spark, sf_dir, "documents")).quality_auc()


_SWEEP_BANDS = (2, 4, 8, 16)


def _band_sweep_block_sql(bands: int) -> str:
    """One config's candidate/verified counts for the banding sweep —
    reuses the shared signature CTEs (sh/hashed/sig)."""
    rpb = 16 // bands
    return f"""
    b{bands} AS (SELECT doc_id, shingles,
                        unnest({_band_keys_sql('sig', bands, rpb)}) AS band
                 FROM sig),
    c{bands} AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM b{bands} a JOIN b{bands} b
        ON a.band = b.band AND a.doc_id < b.doc_id),
    v{bands} AS (
      SELECT {bands}::BIGINT AS bands, {rpb}::BIGINT AS rows_per_band,
             count(*)::BIGINT AS n_candidates,
             sum(CASE WHEN len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
                        / (len(sa.shingles) + len(sb.shingles)
                           - len(list_intersect(sa.shingles, sb.shingles)))
                      >= 0.1 THEN 1 ELSE 0 END)::BIGINT AS n_verified
      FROM c{bands}
      JOIN sh sa ON id_a = sa.doc_id JOIN sh sb ON id_b = sb.doc_id)"""


@register(
    "dedup_band_sweep",
    oracle=f"""
    WITH sh AS (SELECT doc_id, {_shingles_sql()} AS shingles FROM documents),
    hashed AS (SELECT doc_id, shingles, {HS_SQL} AS hs FROM sh),
    sig AS (SELECT doc_id, shingles, {_minhash_sig_sql()} AS sig FROM hashed),
    {",".join(_band_sweep_block_sql(b) for b in _SWEEP_BANDS)}
    SELECT bands, rows_per_band, n_candidates, n_verified,
           round(n_verified::DOUBLE / n_candidates, 6) AS precision
    FROM ({" UNION ALL ".join(f"SELECT * FROM v{b}" for b in _SWEEP_BANDS)})
    ORDER BY bands
    """,
)
def dedup_band_sweep(spark, sf_dir):
    """MinHash-LSH banding tuning curve: candidate volume + exact-verify
    precision for every (bands, rows_per_band) split of ONE 16-hash
    signature — the knob sweep a dedup deployment runs before fixing
    its banding (more bands = higher recall = more candidate pairs to
    verify; this gate measures the price). The sibling of
    ann_nprobe_sweep: the signature pass runs ONCE, a generated explode
    fans each doc's band keys across all four configs (config id baked
    into the key so one self-join serves every config), and the exact-
    Jaccard verify joins shingles back only for candidate pairs — and
    identical shingle SETS collapse to one representative first, with
    candidate/verified COUNTS expanded back arithmetically (see
    dedup.minhash_band_sweep), so a crawl's boilerplate mega-cluster
    costs one banded row instead of R^2/2 join rows. At 100 TB the
    sweep costs one extra explode factor over a single-config run —
    never four corpus passes, never a quadratic pair enumeration."""
    from wagtail_vector_index_spark.operators.dedup import minhash_band_sweep

    return minhash_band_sweep(
        _t(spark, sf_dir, "documents"),
        n=3,
        num_hashes=16,
        bands_grid=_SWEEP_BANDS,
        threshold=0.1,
    )


@register(
    "pipeline_span_scrub",
    oracle=f"""
    WITH t AS (SELECT doc_id, source, {TOKS_SQL} AS toks,
                      {TOKEN_HASHES_SQL} AS th
               FROM documents),
    fp AS (SELECT doc_id, source, toks, {_ngram_fp_sql(13)} AS fps FROM t),
    ex AS (SELECT doc_id, source,
                  generate_subscripts(fps, 1) - 1 AS pos, unnest(fps) AS s
           FROM fp),
    ev AS (SELECT DISTINCT s FROM ex WHERE source IN ('src0', 'src1')),
    hits AS (SELECT doc_id, pos, s FROM ex
             WHERE source NOT IN ('src0', 'src1')),
    contaminated AS (
      SELECT doc_id, list(DISTINCT pos) AS poss
      FROM hits JOIN ev USING (s) GROUP BY doc_id),
    scrubbed AS (
      SELECT c.doc_id, f.toks, len(c.poss)::BIGINT AS n_spans,
             list_distinct(flatten(list_transform(c.poss,
               p -> range(p, least(p + 13, len(f.toks)))))) AS dp
      FROM contaminated c JOIN fp f ON c.doc_id = f.doc_id),
    cleaned AS (
      SELECT doc_id, n_spans, len(toks)::BIGINT AS n_tokens,
             list_filter(toks, (tok, i) -> NOT list_contains(dp, i - 1))
               AS keep
      FROM scrubbed)
    SELECT doc_id, n_tokens, n_spans,
           (n_tokens - len(keep))::BIGINT AS n_removed,
           sha256(coalesce(array_to_string(keep, ' '), '')) AS cleaned_sha
    FROM cleaned ORDER BY doc_id
    """,
)
def pipeline_span_scrub(spark, sf_dir):
    """SURGICAL span-level decontamination — the Llama-2 refinement of
    the GPT-3 13-gram protocol: instead of dropping a contaminated
    train document wholesale (pipeline_decontaminate) or merely
    flagging it (pipeline_ngram_collision), remove exactly the token
    windows covered by a colliding 13-gram and keep the rest of the
    document. Long documents with one quoted benchmark item survive
    minus the quote — at web scale that's the difference between
    losing and keeping entire domains.

    Scale shape: same fingerprint kernel as the collision gate (one
    sha per TOKEN, XOR-shift per gram — the gram string is never
    built), eval grams distinct'd once and BROADCAST so the
    corpus-sized train side never shuffles; contaminated positions
    aggregate per doc (state bounded by the doc's own gram count),
    window expansion + token filtering are pure JVM array lambdas on
    the doc's own row. Python stages: zero. Output: one row per
    contaminated train doc — n_spans colliding gram positions,
    n_removed tokens dropped, sha of the scrubbed text (the new
    content fingerprint downstream dedup re-keys on)."""
    from wagtail_vector_index_spark.functions.text_analysis import (
        ngram_fingerprints_col,
        token_sha_hashes_col,
        tokens_col,
    )

    docs = _t(spark, sf_dir, "documents")
    eval_set = {"src0", "src1"}
    # The fingerprint/explode pipeline must stay TOKS-FREE: carrying the
    # token array through the fingerprint projection pushes the combined
    # expression past codegen's subexpression elimination and the sha
    # pass re-evaluates per gram reference — measured 0.7s -> 34.7s on
    # this branch alone at sf0.1 (the token array joins back below, and
    # only for the contaminated minority).
    ex = docs.select(
        "doc_id",
        "source",
        token_sha_hashes_col(F.col("text")).alias("__th"),
    ).select(
        "doc_id",
        "source",
        F.posexplode(ngram_fingerprints_col(F.col("__th"), 13)).alias(
            "pos", "s"
        ),
    )
    ev = F.broadcast(
        ex.where(F.col("source").isin(eval_set)).select("s").distinct()
    )
    contaminated = (
        ex.where(~F.col("source").isin(eval_set))
        .join(ev, "s")
        .groupBy("doc_id")
        .agg(F.collect_set("pos").alias("poss"))
    )
    from wagtail_vector_index_spark.functions.text_analysis import (
        apply_keep_mask_col,
        keep_mask_col,
    )

    scrubbed = contaminated.join(
        docs.select("doc_id", tokens_col(F.col("text")).alias("toks")),
        "doc_id",
    ).select(
        "doc_id",
        "toks",
        F.size("poss").cast("long").alias("n_spans"),
        F.array_sort(
            F.array_distinct(
                F.flatten(
                    F.transform(
                        "poss",
                        lambda p: F.sequence(
                            p, F.least(p + 12, F.size("toks") - 1)
                        ),
                    )
                )
            )
        ).alias("dp"),
    )
    # linear keep-mask rebuild (keep_mask_col): the previous per-token
    # array_contains(dp, i) filter was O(n_toks x removed) per doc —
    # and dp, living in the same projection as the filter, could be
    # inlined into the per-token lambda by projection collapse,
    # re-expanding the windows once per token on book-length documents
    keep = apply_keep_mask_col(
        F.col("toks"), keep_mask_col(F.col("dp"), F.size("toks"))
    )
    return scrubbed.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        "n_spans",
        (F.size("toks") - F.size(keep)).cast("long").alias("n_removed"),
        F.sha2(F.concat_ws(" ", keep), 256).alias("cleaned_sha"),
    ).orderBy("doc_id")


@register(
    "dedup_minhash_estimate",
    oracle=f"""
    WITH sh AS (SELECT doc_id, {_shingles_sql()} AS shingles FROM documents),
    hashed AS (SELECT doc_id, shingles, {HS_SQL} AS hs FROM sh),
    sig AS (SELECT doc_id, shingles, {_minhash_sig_sql()} AS sig FROM hashed),
    bands AS (SELECT doc_id, unnest({_band_keys_sql('sig')}) AS band
              FROM sig),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
    scored AS (
      SELECT len(list_filter(range(1, 17),
                             i -> sa.sig[i] = sb.sig[i]))::BIGINT AS matches,
             len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
               / (len(sa.shingles) + len(sb.shingles)
                  - len(list_intersect(sa.shingles, sb.shingles))) AS exact_j
      FROM cand JOIN sig sa ON id_a = sa.doc_id
                JOIN sig sb ON id_b = sb.doc_id)
    SELECT matches, round(matches / 16.0, 6) AS est_jaccard,
           count(*)::BIGINT AS n_pairs,
           round(avg(exact_j), 6) AS avg_exact_jaccard
    FROM scored GROUP BY matches ORDER BY matches
    """,
)
def dedup_minhash_estimate(spark, sf_dir):
    """MinHash estimator calibration: for every LSH candidate pair, the
    signature-agreement estimate (matching positions / 16) against the
    exact shingle Jaccard, bucketed by match count — the table that
    says whether the 16-hash signature can be TRUSTED as a similarity
    in place of the exact verify (E[matches/k] = J is the MinHash
    guarantee; this measures the realized spread on this corpus). A
    deployment that verifies with the estimate instead of the exact
    intersect skips fetching shingle arrays entirely — at 100 TB
    that's the difference between shuffling 16 longs and shuffling
    full shingle sets per candidate. Same signature pass and band join
    as the production dedup path; the match count is one zip_with
    fold, the calibration rollup a 17-key agg."""
    from wagtail_vector_index_spark.operators.dedup import (
        _agreement_col,
        _band_candidates,
        _jaccard_col,
        minhash_signatures,
    )

    docs = _t(spark, sf_dir, "documents")
    sig = minhash_signatures(docs, n=3, num_hashes=16, cache=True)
    cand = _band_candidates(sig, "doc_id", 8, 2)
    sa = sig.select(
        F.col("doc_id").alias("id_a"),
        F.col("sig").alias("sig_a"),
        F.col("shingles").alias("sh_a"),
    )
    sb = sig.select(
        F.col("doc_id").alias("id_b"),
        F.col("sig").alias("sig_b"),
        F.col("shingles").alias("sh_b"),
    )
    scored = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            _agreement_col("sig_a", "sig_b").cast("long").alias("matches"),
            _jaccard_col("sh_a", "sh_b").alias("exact_j"),
        )
    )
    return (
        scored.groupBy("matches")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg("exact_j"), 6).alias("avg_exact_jaccard"),
        )
        .select(
            "matches",
            F.round(F.col("matches") / 16.0, 6).alias("est_jaccard"),
            "n_pairs",
            "avg_exact_jaccard",
        )
        .orderBy("matches")
    )


@register(
    "dedup_minhash_estverify",
    oracle=f"""
    WITH sh AS (SELECT doc_id, {_shingles_sql()} AS shingles FROM documents),
    hashed AS (SELECT doc_id, shingles, {HS_SQL} AS hs FROM sh),
    sig AS (SELECT doc_id, {_minhash_sig_sql()} AS sig FROM hashed),
    bands AS (SELECT doc_id, unnest({_band_keys_sql('sig')}) AS band
              FROM sig),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id)
    SELECT id_a, id_b,
           round(len(list_filter(range(1, 17),
                                 i -> sa.sig[i] = sb.sig[i])) / 16.0, 6)
             AS est_jaccard
    FROM cand JOIN sig sa ON id_a = sa.doc_id
              JOIN sig sb ON id_b = sb.doc_id
    WHERE len(list_filter(range(1, 17),
              i -> sa.sig[i] = sb.sig[i])) / 16.0 >= 0.5
    ORDER BY id_a, id_b
    """,
)
def dedup_minhash_estverify(spark, sf_dir):
    """Estimate-verified MinHash dedup pairs: the production shuffle-cut
    path the ``dedup_minhash_estimate`` calibration gate exists to
    justify — LSH candidates are verified by signature agreement
    (matches/16, the unbiased MinHash estimator) instead of the exact
    shingle intersect, so the verify join moves 16 longs per side
    instead of full shingle arrays (at 100 TB the exact path's
    dominant shuffle). Same signature pass and band join as
    ``dedup_minhash_lsh``; output pairs ⊆ candidates with estimator
    granularity 1/16. The oracle replays signatures, banding, and the
    agreement fold."""
    from wagtail_vector_index_spark.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    return (
        minhash_lsh_pairs(docs, threshold=0.5, verify="estimate")
        .select(
            "id_a",
            "id_b",
            F.round("jaccard", 6).alias("est_jaccard"),
        )
        .orderBy("id_a", "id_b")
    )
