"""As-of join operator tests: backward/forward inclusive matching,
left-join nulls, tolerance, and atomic right-row payloads."""

import pytest
from pyspark.sql import functions as F

from wagtail_vector_index_spark.operators.asof import asof_join


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_backward_basic(spark):
    left = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "a", 5), (4, "b", 15)],
        "id long, k string, t long",
    )
    right = spark.createDataFrame(
        [("a", 10, "x"), ("a", 18, "y"), ("b", 99, "z")],
        "k string, t long, payload string",
    )
    out = asof_join(left, right, on="t", by=["k"])
    got = {r["id"]: (r["t_asof"], r["payload_asof"]) for r in out.collect()}
    assert got == {
        1: (10, "x"),  # inclusive: right at the same t matches
        2: (18, "y"),  # most recent, not first
        3: (None, None),  # nothing at-or-before -> left-join nulls
        4: (None, None),  # right key exists but only in the future
    }


def test_forward_and_tolerance(spark):
    left = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 50)], "id long, t long"
    )
    right = spark.createDataFrame(
        [(12, "x"), (20, "y"), (90, "z")], "t long, payload string"
    )
    fwd = asof_join(left, right, on="t", direction="forward")
    got = {r["id"]: (r["t_asof"], r["payload_asof"]) for r in fwd.collect()}
    assert got == {1: (12, "x"), 2: (20, "y"), 3: (90, "z")}

    tol = asof_join(left, right, on="t", direction="forward", tolerance=5)
    got = {r["id"]: r["payload_asof"] for r in tol.collect()}
    assert got == {1: "x", 2: "y", 3: None}  # 90-50 > 5 -> nulled


def test_matched_payload_is_atomic(spark):
    """A right row with a null payload field must not be 'patched' by an
    earlier row's non-null value — the match carries one struct, not
    per-column last()."""
    left = spark.createDataFrame([(1, 30)], "id long, t long")
    right = spark.createDataFrame(
        [(10, "old", 1.0), (20, None, 2.0)], "t long, a string, b double"
    )
    row = asof_join(left, right, on="t").collect()[0]
    assert row["t_asof"] == 20
    assert row["a_asof"] is None  # from the matched row, NOT "old"
    assert row["b_asof"] == 2.0


def test_timestamp_tolerance(spark, sf_dir):
    from wagtail_vector_index_spark.catalog import _t

    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = ev.where(F.col("event_type") == "view").select("user_id", "ts")
    tight = asof_join(
        clicks, views, on="ts", by=["user_id"], tolerance=3600
    )
    loose = asof_join(clicks, views, on="ts", by=["user_id"])
    n_tight = tight.where(F.col("ts_asof").isNotNull()).count()
    n_loose = loose.where(F.col("ts_asof").isNotNull()).count()
    assert 0 < n_tight < n_loose
    # every surviving match is inside the bound
    bad = tight.where(
        F.col("ts_asof").isNotNull()
        & (F.unix_micros("ts") - F.unix_micros("ts_asof") > 3600 * 1_000_000)
    ).count()
    assert bad == 0


def test_weighted_mix_deterministic_and_rate_accurate(spark, documents_df):
    from wagtail_vector_index_spark.operators.skew import weighted_mix

    weights = {"src0": 1.0, "src1": 0.0, "src2": 0.5}
    out = weighted_mix(
        documents_df, weights, group_col="source", key_col="doc_id"
    )
    a = {r["doc_id"] for r in out.collect()}
    b = {r["doc_id"] for r in out.repartition(7).collect()}
    assert a == b  # membership is content-addressed, not partition-seeded
    by_src = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    totals = {
        r["source"]: r["n"]
        for r in documents_df.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert by_src.get("src0", 0) == totals["src0"]  # rate 1.0 keeps all
    assert "src1" not in by_src  # rate 0.0 drops all
    assert set(by_src) <= {"src0", "src2"}  # unlisted sources dropped
    if "src2" in by_src:
        assert 0 < by_src["src2"] < totals["src2"]


@pytest.mark.parametrize("buckets", [100000, 7])
def test_weighted_mix_one_sha_bucket_per_row(spark, buckets):
    """weighted_mix hashes each key once and compares it with its
    group's threshold from a literal map. It keeps exactly the rows of
    the per-group OR filter it replaced (copied here as the reference):
    absent and NULL groups and NULL keys drop, rate 0 keeps nothing and
    rate 1 keeps every keyed row. The optimized plan holds one sha2."""
    from wagtail_vector_index_spark.operators.skew import (
        deterministic_keep_col,
        weighted_mix,
    )

    def or_filter(df, weights):
        keep = None
        for group, rate in sorted(weights.items()):
            cond = (F.col("source") == group) & deterministic_keep_col(
                F.col("doc_id"), rate, buckets=buckets
            )
            keep = cond if keep is None else keep | cond
        return df.where(keep)

    rows = [(i, f"src{i % 6}" if i % 11 else None) for i in range(600)]
    df = spark.createDataFrame(
        rows + [(None, "src0"), (None, None)], "doc_id long, source string"
    )
    # src5 is absent from the weights
    weights = {"src0": 1.0, "src1": 0.0, "src2": 0.5, "src3": 0.37,
               "src4": 0.999}
    out = weighted_mix(df, weights, buckets=buckets)
    got = sorted((tuple(r) for r in out.collect()), key=repr)
    assert got == sorted(
        (tuple(r) for r in or_filter(df, weights).collect()), key=repr
    )
    kept = {s for _, s in got}
    assert "src0" in kept and kept <= {"src0", "src2", "src3", "src4"}
    assert sum(s == "src0" for _, s in got) == sum(
        i % 6 == 0 and i % 11 != 0 for i in range(600)
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("sha2(") == 1


def test_asof_join_matches_pandas_merge_asof(spark):
    """Differential test: on random keyed series with unique timestamps,
    asof_join must agree with pandas.merge_asof in both directions and
    under tolerance."""
    import random

    import pandas as pd

    rng = random.Random(42)
    keys = ["a", "b", "c"]
    left_rows = sorted(
        {(rng.choice(keys), rng.randrange(0, 10000)) for _ in range(200)}
    )
    right_rows = sorted(
        {(rng.choice(keys), rng.randrange(0, 10000)) for _ in range(150)}
    )
    lpdf = pd.DataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left_rows)],
        columns=["lid", "k", "t"],
    )
    rpdf = pd.DataFrame(
        [(k, t, f"p{j}") for j, (k, t) in enumerate(right_rows)],
        columns=["k", "t", "payload"],
    )
    # pandas requires global sort by the on-key
    lpdf, rpdf = lpdf.sort_values("t"), rpdf.sort_values("t")

    ldf = spark.createDataFrame(
        lpdf.assign(t=lpdf.t.astype("int64")), "lid long, k string, t long"
    )
    rdf = spark.createDataFrame(
        rpdf.assign(t=rpdf.t.astype("int64")), "k string, t long, payload string"
    )

    from wagtail_vector_index_spark.operators.asof import asof_join

    for direction, tol in [
        ("backward", None),
        ("forward", None),
        ("backward", 500),
        ("forward", 500),
    ]:
        want_pdf = pd.merge_asof(
            lpdf,
            rpdf.rename(columns={"t": "rt"}),
            left_on="t",
            right_on="rt",
            by="k",
            direction=direction,
            tolerance=tol,
        )
        want = {
            int(r.lid): (None if pd.isna(r.payload) else r.payload)
            for r in want_pdf.itertuples()
        }
        got_df = asof_join(
            ldf, rdf, on="t", by=["k"], direction=direction, tolerance=tol
        )
        got = {r["lid"]: r["payload_asof"] for r in got_df.collect()}
        assert got == want, f"mismatch for {direction}, tol={tol}"


def test_mix_epochs_upsamples_deterministically(spark, documents_df):
    from pyspark.sql import functions as F

    from wagtail_vector_index_spark.operators.skew import mix_epochs

    docs = documents_df.select("doc_id", "source").limit(300)
    weights = {f"src{i}": (2.0 if i < 5 else (0.5 if i < 10 else 0.0))
               for i in range(20)}
    out = mix_epochs(docs, weights, group_col="source", key_col="doc_id")

    per = {r["source"]: r for r in out.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("doc_id").alias("nd"),
        F.max("epoch").alias("max_epoch"),
    ).collect()}
    base = {
        r["source"]: r["count"] for r in docs.groupBy("source").count().collect()
    }
    for src, n_docs in base.items():
        i = int(src.removeprefix("src"))
        if i < 5:  # rate 2.0: exactly two copies of every doc
            assert per[src]["n"] == 2 * n_docs
            assert per[src]["max_epoch"] == 1
        elif i < 10:  # rate 0.5: subset, epoch always 0
            assert 0 <= per[src]["n"] <= n_docs
            assert per[src]["nd"] == per[src]["n"]
        else:  # rate 0: dropped entirely
            assert src not in per

    # membership and replication are pure functions of (key, group)
    again = mix_epochs(docs.repartition(7), weights,
                       group_col="source", key_col="doc_id")
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))
