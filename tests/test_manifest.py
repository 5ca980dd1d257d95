"""Manifest-log commit protocol tests (sources/manifest.py).

The claims under test are the ones that matter on an object store:
- a commit is one create-if-absent manifest publish; losers of the race
  retry against the winner's state, so concurrent writers compose
- interleaved upsert / compact / clear sequences never corrupt reads —
  every read resolves to a consistent committed state
- a crashed writer (staged generation, no commit) is invisible
- GC reclaims only unreferenced, out-of-retention generations
"""

import json
import os
import threading
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from wagtail_vector_index_spark.sources.manifest import ManifestLog
from wagtail_vector_index_spark.sources.tables import DocumentStore

SCHEMA = T.StructType(
    [
        T.StructField("doc_key", T.StringType()),
        T.StructField("object_keys", T.ArrayType(T.StringType())),
        T.StructField("chunk_no", T.IntegerType()),
        T.StructField("content", T.StringType()),
        T.StructField("vector", T.ArrayType(T.DoubleType())),
        T.StructField("metadata", T.MapType(T.StringType(), T.StringType())),
        T.StructField("index_name", T.StringType()),
    ]
)


def docs(spark, rows, index="idx"):
    return spark.createDataFrame(
        [(k, [k], 0, v, [1.0, 0.0], {}, index) for k, v in rows], SCHEMA
    )


# -- ManifestLog primitive ---------------------------------------------------


def test_commit_is_create_if_absent(tmp_path):
    log = ManifestLog(str(tmp_path))
    m1 = log.commit(lambda cur: (["gen-a"], {}))
    assert m1.version == 1
    m2 = log.commit(lambda cur: (list(cur.live) + ["gen-b"], {}))
    assert m2.version == 2 and m2.live == ("gen-a", "gen-b")
    assert log.current() == m2


def test_losing_committer_retries_against_winner(tmp_path):
    """Simulate the race: a second writer lands a commit between our read
    and publish; the update function must re-run against the new state."""
    log = ManifestLog(str(tmp_path))
    log.commit(lambda cur: (["gen-0"], {}))
    seen_states = []

    def update(cur):
        seen_states.append(cur.version)
        if len(seen_states) == 1:
            # interloper commits version 2 while we "compute"
            ManifestLog(log.root).commit(
                lambda c: (list(c.live) + ["gen-x"], {})
            )
        return list(cur.live) + ["gen-y"], {}

    m = log.commit(update)
    assert seen_states == [1, 2]  # retried with the winner's state
    assert m.version == 3
    assert set(m.live) == {"gen-0", "gen-x", "gen-y"}


def test_concurrent_appenders_all_survive(tmp_path):
    """N threads race to append; every generation must end up live."""
    log = ManifestLog(str(tmp_path))
    names = [f"gen-{i}" for i in range(16)]
    errors = []

    def append(name):
        try:
            ManifestLog(log.root).commit(
                lambda cur: ((list(cur.live) if cur else []) + [name], {})
            )
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=append, args=(n,)) for n in names]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    m = log.current()
    assert set(m.live) == set(names)
    assert m.version == 16


def test_partial_manifest_never_visible(tmp_path):
    """The publish is link-after-fsync: every visible manifest parses.
    (A writer crashing before the link leaves only a .tmp file, which
    readers ignore.)"""
    log = ManifestLog(str(tmp_path))
    log.commit(lambda cur: (["gen-a"], {}))
    # crashed writer leaves a temp file behind
    open(os.path.join(log.mdir, ".tmp-deadbeef"), "w").write("{not json")
    m = log.current()
    assert m is not None and m.live == ("gen-a",)
    for n in os.listdir(log.mdir):
        if n.startswith("manifest-"):
            json.load(open(os.path.join(log.mdir, n)))


def test_gc_respects_references_and_age(tmp_path):
    log = ManifestLog(str(tmp_path))
    g_old = log.new_generation()
    os.makedirs(log.gen_path(g_old))
    g_live = log.new_generation()
    os.makedirs(log.gen_path(g_live))
    g_staged = log.new_generation()  # uncommitted writer in progress
    os.makedirs(log.gen_path(g_staged))
    log.commit(lambda cur: ([g_old], {}))
    log.commit(lambda cur: ([g_live], {}))  # g_old now unreferenced by head
    # keep_manifests=2 still references g_old via version 1, so only the
    # never-committed g_staged is collectable (and only past the age guard)
    deleted = log.gc(keep_manifests=2, min_age_s=0.0)
    assert deleted == [log.gen_path(g_staged)]
    deleted = log.gc(keep_manifests=1, min_age_s=0.0)
    assert log.gen_path(g_old) in deleted
    assert os.path.isdir(log.gen_path(g_live))
    # a fresh staged generation survives via the age guard: an in-flight
    # writer's data is never collected from under it
    g_inflight = log.new_generation()
    os.makedirs(log.gen_path(g_inflight))
    assert log.gc(keep_manifests=1, min_age_s=3600.0) == []
    assert os.path.isdir(log.gen_path(g_inflight))


def test_gc_collects_unreferenced_token_generations(tmp_path):
    """Token generations (gen-tok-<24hex>, content-addressed names with
    no timestamp) must be collectable once unreferenced — superseded by
    compaction or abandoned by a crashed stream — under the same
    in-flight age guard, via mtime (r6 advice fix: the main sweep's
    regex never matched them, so they leaked forever)."""
    log = ManifestLog(str(tmp_path))
    tok_live = "gen-tok-" + "a" * 24
    tok_orphan = "gen-tok-" + "b" * 24
    os.makedirs(log.gen_path(tok_live))
    os.makedirs(log.gen_path(tok_orphan))
    log.commit(lambda cur: ([tok_live], {}, ["token-1"]))
    # fresh orphan survives via the age guard (possible in-flight writer)
    assert log.gc(keep_manifests=1, min_age_s=3600.0) == []
    assert os.path.isdir(log.gen_path(tok_orphan))
    # aged orphan is collected; the live token generation never is
    old = time.time() - 7200
    os.utime(log.gen_path(tok_orphan), (old, old))
    deleted = log.gc(keep_manifests=1, min_age_s=3600.0)
    assert log.gen_path(tok_orphan) in deleted
    assert os.path.isdir(log.gen_path(tok_live))
    # exactly-once memory lives in the manifest, not the directory:
    # the token window still records the applied batch after GC
    assert "token-1" in log.current().tokens


def test_gc_reader_grace_protects_superseded_generations(tmp_path):
    """r13: ``reader_grace_s`` protects in-flight READERS against a
    concurrent compactor. min_age_s guards by CREATION age, but a
    reader resolves current() once and then scans — the hazard window
    is time since the generation was SUPERSEDED. With the grace set,
    every manifest whose successor committed inside the window stays
    protected (with its generations); with it 0 (the single-maintainer
    in-band path), the old behavior is unchanged."""
    log = ManifestLog(str(tmp_path))
    g_a = log.new_generation()
    os.makedirs(log.gen_path(g_a))
    log.commit(lambda cur: ([g_a], {}))
    g_merged = log.new_generation()
    os.makedirs(log.gen_path(g_merged))
    # the "compaction" rewrite: g_a superseded by g_merged JUST NOW
    log.commit(lambda cur: ([g_merged], {}))
    # a reader that resolved version 1 before the rewrite may still be
    # scanning g_a -> the grace window protects it even at
    # keep_manifests=1 / min_age_s=0
    assert log.gc(keep_manifests=1, min_age_s=0.0, reader_grace_s=3600.0) == []
    assert os.path.isdir(log.gen_path(g_a))
    # manifest file for version 1 survives too (the rule needs it)
    assert os.path.exists(os.path.join(log.mdir, "manifest-000000000001.json"))
    # outside the window (successor ts aged out) the generation goes
    import json as _json
    m2 = os.path.join(log.mdir, "manifest-000000000002.json")
    rec = _json.load(open(m2))
    rec["ts"] = rec["ts"] - int(7200 * 1e9)
    _json.dump(rec, open(m2, "w"))
    deleted = log.gc(keep_manifests=1, min_age_s=0.0, reader_grace_s=3600.0)
    assert log.gen_path(g_a) in deleted
    # grace 0: superseded generations collect immediately (pre-r13 shape)
    g_b = log.new_generation()
    os.makedirs(log.gen_path(g_b))
    log.commit(lambda cur: ([g_b], {}))
    deleted = log.gc(keep_manifests=1, min_age_s=0.0)
    assert log.gen_path(g_merged) in deleted


# -- the write path: write_generation / commit_append / commit_rewrite -------


def _drop_part(path):
    """A stand-in for a Spark write: has_data_files checks names only."""
    os.makedirs(path, exist_ok=True)
    open(os.path.join(path, "part-0.parquet"), "w").close()


def _touch_success(path):
    """A Spark write of an empty frame: a directory with only _SUCCESS."""
    os.makedirs(path, exist_ok=True)
    open(os.path.join(path, "_SUCCESS"), "w").close()


def test_write_generation_publishes_fresh_and_token_names(tmp_path):
    log = ManifestLog(str(tmp_path))
    gen = log.write_generation(_drop_part)
    assert gen.startswith("gen-") and os.path.isdir(log.gen_path(gen))
    tok_gen = log.write_generation(_drop_part, token="t-1")
    assert tok_gen.startswith("gen-tok-")
    assert os.path.isfile(os.path.join(log.gen_path(tok_gen), "part-0.parquet"))
    # the staging directory was renamed into place, not left behind
    assert not [n for n in os.listdir(log.root) if ".stage-" in n]
    assert log.current() is None  # nothing visible until a commit


@pytest.mark.parametrize("token", [None, "t-empty"])
def test_write_generation_empty_write_leaves_nothing(tmp_path, token):
    log = ManifestLog(str(tmp_path))
    assert log.write_generation(_touch_success, token=token) is None
    assert os.listdir(log.root) == []


def test_write_generation_skips_applied_token(tmp_path):
    log = ManifestLog(str(tmp_path))
    gen = log.write_generation(_drop_part, token="t-1")
    log.commit_append(gen, token="t-1")

    def never(path):
        raise AssertionError("write called for an applied token")

    assert log.write_generation(never, token="t-1") is None
    # also when the token fell out of the window but its generation is
    # live: a replay must never overwrite a serving directory in place
    log.commit(lambda cur: (list(cur.live), {}, []))
    assert log.current().tokens == ()
    assert log.write_generation(never, token="t-1") is None


def test_write_generation_replaces_crash_leftover(tmp_path):
    log = ManifestLog(str(tmp_path))
    # crashed writer: published under the token name, never committed
    gen = log.write_generation(_drop_part, token="t-1")
    stale = os.path.join(log.gen_path(gen), "part-stale.parquet")
    open(stale, "w").close()

    def replay(path):
        os.makedirs(path)
        open(os.path.join(path, "part-1.parquet"), "w").close()

    assert log.write_generation(replay, token="t-1") == gen
    assert os.listdir(log.gen_path(gen)) == ["part-1.parquet"]
    log.commit_append(gen, token="t-1")
    assert log.current().live == (gen,) and log.current().tokens == ("t-1",)


def test_commit_append_tokens_and_resets(tmp_path):
    log = ManifestLog(str(tmp_path))
    assert log.commit_append(None) is None and log.current() is None
    g1 = log.write_generation(_drop_part, token="t-1")
    log.commit_append(g1, token="t-1")
    log.commit_append(g1, token="t-1")  # replayed commit: no-op bump
    m = log.current()
    assert m.version == 2 and m.live == (g1,) and m.tokens == ("t-1",)
    g2 = log.write_generation(_drop_part)
    log.commit_append(g2, reset=("idx", 5))
    # reset only (a clear): live set and tokens are kept
    m = log.commit_append(None, reset=("idx", 9))
    assert m.live == (g1, g2)
    assert m.resets == {"idx": [5, 9]} and m.tokens == ("t-1",)


def test_commit_rewrite_carries_over_later_commits(tmp_path):
    log = ManifestLog(str(tmp_path))
    g1 = log.write_generation(_drop_part)
    log.commit_append(g1, reset=("idx", 1))
    base = log.current()
    # committed by other writers after base was read
    g2 = log.write_generation(_drop_part)
    log.commit_append(g2, reset=("idx", 2))
    log.commit_append(None, reset=("other", 3))
    merged = log.write_generation(_drop_part)
    m = log.commit_rewrite(merged, base=base)
    assert m.live == (merged, g2)
    # base's reset is consumed (the rewrite applied it); later ones stay
    assert m.resets == {"idx": [2], "other": [3]}
    # an empty rewrite keeps only what was carried over
    base = log.current()
    g3 = log.write_generation(_drop_part)
    log.commit_append(g3)
    assert log.commit_rewrite(None, base=base).live == (g3,)


def test_commit_rewrite_replaced_keeps_unmerged_generations(tmp_path):
    log = ManifestLog(str(tmp_path))
    small = [log.write_generation(_drop_part) for _ in range(3)]
    for g in small:
        log.commit_append(g, token=f"t-{g}")
    base = log.current()
    late = log.write_generation(_drop_part)
    log.commit_append(late)
    merged = log.write_generation(_drop_part)
    m = log.commit_rewrite(merged, base=base, replaced=small[:2])
    assert m.live == (merged, small[2], late)
    assert m.tokens == tuple(f"t-{g}" for g in small)  # token memory kept


def test_only_the_manifest_module_names_and_commits_generations():
    """One write path: inside the package only sources/manifest.py
    allocates generation names or commits a manifest, and no module
    imports a private name from operators.ann_index."""
    import ast

    import wagtail_vector_index_spark as pkg

    root = os.path.dirname(pkg.__file__)
    owner = os.path.join(root, "sources", "manifest.py")
    offenders = []
    for dp, _dirs, fs in os.walk(root):
        for f in fs:
            if not f.endswith(".py"):
                continue
            p = os.path.join(dp, f)
            for node in ast.walk(ast.parse(open(p).read())):
                if (
                    p != owner
                    and isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("new_generation", "commit")
                ):
                    offenders.append(f"{p}:{node.lineno} {node.func.attr}")
                if (
                    isinstance(node, ast.ImportFrom)
                    and (node.module or "").endswith("ann_index")
                    and any(a.name.startswith("_") for a in node.names)
                ):
                    offenders.append(f"{p}:{node.lineno} private import")
    assert offenders == []


# -- DocumentStore on the manifest log --------------------------------------


def test_store_clear_is_metadata_only(spark, tmp_path):
    store = DocumentStore(spark, str(tmp_path / "s"))
    store.upsert(docs(spark, [("k1", "v1")], index="a"))
    store.upsert(docs(spark, [("k2", "v2")], index="b"))
    files_before = sorted(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(store.path)
        for f in fs
        if f.endswith(".parquet")
    )
    store.clear("a")
    files_after = sorted(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(store.path)
        for f in fs
        if f.endswith(".parquet")
    )
    assert files_before == files_after  # zero data bytes touched
    assert store.read("a").count() == 0
    assert {r["doc_key"] for r in store.read("b").collect()} == {"k2"}


def test_store_rebuild_does_not_rewrite_neighbors(spark, tmp_path):
    store = DocumentStore(spark, str(tmp_path / "s"))
    store.upsert(docs(spark, [("k1", "v1")], index="a"))
    store.upsert(docs(spark, [("n1", "w1")], index="b"))
    gens_before = set(store.log.current().live)
    store.overwrite_index("a", docs(spark, [("k9", "v9")], index="a"))
    m = store.log.current()
    # exactly one new generation; the old ones are still live (they hold
    # index b's rows and index a's pre-rebuild history)
    assert gens_before < set(m.live) and len(m.live) == 3
    assert {r["doc_key"] for r in store.read("a").collect()} == {"k9"}
    assert {r["doc_key"] for r in store.read("b").collect()} == {"n1"}


def test_interleaved_writers_never_corrupt_reads(spark, tmp_path):
    """The verdict's concurrent-ish writer gate: two interleaved
    upsert+compact sequences against different indexes, with reads after
    every step — every read must see a consistent committed state, and
    the final states must contain exactly the expected documents."""
    path = str(tmp_path / "s")
    w1 = DocumentStore(spark, path)
    w2 = DocumentStore(spark, path)  # separate handle, same table
    w1.upsert(docs(spark, [("a1", "v1"), ("a2", "v1")], index="ia"))
    w2.upsert(docs(spark, [("b1", "v1")], index="ib"))
    w1.upsert(docs(spark, [("a1", "v2")], index="ia"))  # LWW update
    w2.compact("ib")
    w1.compact("ia")
    w2.upsert(docs(spark, [("b2", "v2")], index="ib"))
    w2.delete("ib", ["b1"])
    a = {r["doc_key"]: r["content"] for r in w1.read("ia").collect()}
    b = {r["doc_key"]: r["content"] for r in w2.read("ib").collect()}
    assert a == {"a1": "v2", "a2": "v1"}
    assert b == {"b2": "v2"}
    # both handles resolve the same committed version
    assert w1.log.current() == w2.log.current()


def test_vacuum_reclaims_dead_data(spark, tmp_path):
    store = DocumentStore(spark, str(tmp_path / "s"))
    store.upsert(docs(spark, [("k1", "v1"), ("k2", "v1")], index="a"))
    store.upsert(docs(spark, [("n1", "v1")], index="b"))
    store.clear("a")
    assert len(store.log.current().live) == 2
    store.vacuum(min_age_s=0.0)
    m = store.log.current()
    assert len(m.live) == 1 and m.resets == {}
    assert store.read("a").count() == 0
    assert {r["doc_key"] for r in store.read("b").collect()} == {"n1"}
    # cleared rows are physically gone
    raw = spark.read.parquet(*store.log.live_paths())
    assert raw.where(F.col("index_name") == "a").count() == 0


def test_time_travel_survives_clear_until_vacuum(spark, tmp_path):
    store = DocumentStore(spark, str(tmp_path / "s"))
    store.upsert(docs(spark, [("k1", "v1")], index="a"))
    g1 = store.generations("a").collect()[0]["batch_id"]
    store.clear("a")
    assert store.read("a").count() == 0
    snap = {r["doc_key"]: r["content"] for r in store.read_at(g1, "a").collect()}
    assert snap == {"k1": "v1"}  # pre-clear history still readable
    store.vacuum(min_age_s=0.0)
    # vacuum rewrites history away; with every index cleared the store
    # holds no generations at all and reads as never-written
    with pytest.raises(FileNotFoundError):
        store.read_at(g1, "a")


def test_store_read_raises_when_never_written(spark, tmp_path):
    store = DocumentStore(spark, str(tmp_path / "never"))
    with pytest.raises(FileNotFoundError):
        store.read()


def test_read_live_table_schema_evolution(spark, tmp_path):
    """r6: a generation written before a column existed reads that
    column as NULL (lakehouse append-only evolution); opting out makes
    drift a hard error."""
    from wagtail_vector_index_spark.sources.manifest import read_live_table

    root = str(tmp_path / "tbl")
    log = ManifestLog(root)
    g1 = log.new_generation()
    spark.createDataFrame([(1, "a")], "id long, txt string").write.parquet(
        log.gen_path(g1)
    )
    log.commit(lambda cur: ([g1], {}))
    g2 = log.new_generation()
    spark.createDataFrame(
        [(2, "b", 0.9)], "id long, txt string, score double"
    ).write.parquet(log.gen_path(g2))
    log.commit(lambda cur: ([g1, g2], {}))

    rows = {r["id"]: r for r in read_live_table(spark, root).collect()}
    assert set(rows) == {1, 2}
    assert rows[1]["score"] is None and rows[2]["score"] == 0.9

    with pytest.raises(Exception, match="column|COLUMN"):
        read_live_table(spark, root, allow_schema_evolution=False).collect()


# -- live-scan memo (read_live_table) ----------------------------------------


def _keys(df):
    return {r["doc_key"]: r["content"] for r in df.collect()}


def test_store_reads_see_every_write_on_one_instance(spark, tmp_path):
    """The live-scan memo is keyed on the committed live set, so a read
    after any write through the same handle returns the post-write
    state — for every write kind the store offers."""
    store = DocumentStore(spark, str(tmp_path / "s"))
    store.upsert(docs(spark, [("k1", "v1"), ("k2", "v1"), ("k3", "v1")], index="a"))
    store.upsert(docs(spark, [("n1", "v1")], index="b"))
    assert _keys(store.read("a")) == {"k1": "v1", "k2": "v1", "k3": "v1"}

    store.upsert(docs(spark, [("k1", "v2")], index="a"))
    assert _keys(store.read("a")) == {"k1": "v2", "k2": "v1", "k3": "v1"}

    store.delete("a", ["k2"])
    assert _keys(store.read("a")) == {"k1": "v2", "k3": "v1"}

    store.delete_keys_df("a", spark.createDataFrame([("k3",)], "doc_key string"))
    assert _keys(store.read("a")) == {"k1": "v2"}

    store.compact("a")
    assert _keys(store.read("a")) == {"k1": "v2"}

    store.overwrite_index("a", docs(spark, [("k9", "v9")], index="a"))
    assert _keys(store.read("a")) == {"k9": "v9"}

    store.clear("a")  # metadata-only: same live set, new resets
    assert _keys(store.read("a")) == {}
    assert _keys(store.read("b")) == {"n1": "v1"}

    store.upsert(docs(spark, [("k5", "v5")], index="a"))
    store.vacuum(min_age_s=0.0)
    assert len(store.log.current().live) == 1
    assert _keys(store.read("a")) == {"k5": "v5"}
    assert _keys(store.read("b")) == {"n1": "v1"}


def test_second_store_handle_sees_commits_of_the_first(spark, tmp_path):
    path = str(tmp_path / "s")
    w1 = DocumentStore(spark, path)
    w2 = DocumentStore(spark, path)
    w1.upsert(docs(spark, [("k1", "v1")], index="a"))
    assert _keys(w2.read("a")) == {"k1": "v1"}
    w1.upsert(docs(spark, [("k1", "v2"), ("k2", "v1")], index="a"))
    assert _keys(w2.read("a")) == {"k1": "v2", "k2": "v1"}
    w1.delete("a", ["k1"])
    assert _keys(w2.read("a")) == {"k2": "v1"}


def test_read_at_keeps_its_snapshot_across_memoized_reads(spark, tmp_path):
    store = DocumentStore(spark, str(tmp_path / "s"))
    store.upsert(docs(spark, [("k1", "v1")], index="a"))
    store.upsert(docs(spark, [("k1", "v2"), ("k2", "v2")], index="a"))
    g1, g2 = [r["batch_id"] for r in store.generations("a").collect()]
    assert _keys(store.read("a")) == {"k1": "v2", "k2": "v2"}
    assert _keys(store.read_at(g1, "a")) == {"k1": "v1"}
    store.upsert(docs(spark, [("k3", "v3")], index="a"))
    assert _keys(store.read_at(g1, "a")) == {"k1": "v1"}
    assert _keys(store.read_at(g2, "a")) == {"k1": "v2", "k2": "v2"}
    assert _keys(store.read("a")) == {"k1": "v2", "k2": "v2", "k3": "v3"}


def test_store_reads_new_rows_after_path_is_recreated(spark, tmp_path):
    """Deleting the table directory and writing it again restarts the
    manifest versions at 1; the memo is keyed on the (unique) live
    generation names, so it can never serve the deleted scan."""
    import shutil

    path = str(tmp_path / "s")
    store = DocumentStore(spark, path)
    store.upsert(docs(spark, [("old", "v1")], index="a"))
    assert _keys(store.read("a")) == {"old": "v1"}
    v_before = store.log.current().version
    shutil.rmtree(path)
    store.upsert(docs(spark, [("new", "v2")], index="a"))
    assert store.log.current().version == v_before
    assert _keys(store.read("a")) == {"new": "v2"}
    assert _keys(DocumentStore(spark, path).read("a")) == {"new": "v2"}


def test_read_live_table_reuses_scan_until_live_set_changes(spark, tmp_path):
    from wagtail_vector_index_spark.sources.manifest import read_live_table

    root = str(tmp_path / "tbl")
    log = ManifestLog(root)
    g1 = log.new_generation()
    spark.createDataFrame([(1,)], "id long").write.parquet(log.gen_path(g1))
    log.commit(lambda cur: ([g1], {}))
    first = read_live_table(spark, root)
    assert read_live_table(spark, root) is first
    assert read_live_table(spark, root, manifest=log.current()) is first
    # a commit that keeps the live set (a reset only) keeps the scan
    log.commit(lambda cur: (list(cur.live), {"x": [1]}))
    assert read_live_table(spark, root) is first
    # the strict and the evolving union are separate entries
    strict = read_live_table(spark, root, allow_schema_evolution=False)
    assert strict is not first
    g2 = log.new_generation()
    spark.createDataFrame([(2,)], "id long").write.parquet(log.gen_path(g2))
    log.commit(lambda cur: (list(cur.live) + [g2], {}))
    second = read_live_table(spark, root)
    assert second is not first
    assert {r["id"] for r in second.collect()} == {1, 2}
    assert read_live_table(spark, root) is second


def test_read_live_table_memo_is_bounded(spark, tmp_path, monkeypatch):
    from wagtail_vector_index_spark.sources import manifest

    monkeypatch.setattr(manifest, "LIVE_SCAN_MEMO_MAX", 3)
    roots = []
    for i in range(5):
        root = str(tmp_path / f"t{i}")
        log = ManifestLog(root)
        g = log.new_generation()
        spark.createDataFrame([(i,)], "id long").write.parquet(log.gen_path(g))
        log.commit(lambda cur, g=g: ([g], {}))
        roots.append(root)
    scans = [manifest.read_live_table(spark, r) for r in roots]
    assert len(manifest._LIVE_SCANS) <= 3
    # the most recent entries are reused, the oldest was dropped
    assert manifest.read_live_table(spark, roots[-1]) is scans[-1]
    again = manifest.read_live_table(spark, roots[0])
    assert again is not scans[0]
    assert [r["id"] for r in again.collect()] == [0]
    assert len(manifest._LIVE_SCANS) <= 3


def _jobs_for(spark, group, action):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_repeat_read_jobs_do_not_grow_with_generations(spark, tmp_path):
    """Listing a generation and inferring its parquet schema starts
    Spark jobs. Once a committed state has been read, a repeat read
    pays none of them, so it costs no more jobs on a three-generation
    store than on a one-generation store."""
    one = DocumentStore(spark, str(tmp_path / "one"))
    one.upsert(docs(spark, [("k1", "v1"), ("k2", "v1")], index="a"))
    three = DocumentStore(spark, str(tmp_path / "three"))
    three.upsert(docs(spark, [("k1", "v1"), ("k2", "v1")], index="a"))
    three.delete("a", ["k2"])
    three.upsert(docs(spark, [("k3", "v1")], index="a"))
    assert len(three.log.current().live) == 3
    for s in (one, three):
        s.read("a").collect()  # first read of this state lists it
    tag = f"wvi-test-{os.getpid()}-{time.time_ns()}"
    n_one = _jobs_for(spark, tag + "-1", lambda: one.read("a").collect())
    n_three = _jobs_for(spark, tag + "-3", lambda: three.read("a").collect())
    assert n_one >= 1
    assert n_three <= n_one


def test_reads_racing_a_writer_see_before_or_after_state(spark, tmp_path):
    """Reader threads (as ``aquery`` runs retrieval in a thread) racing a
    committing writer always read one committed state — a prefix of the
    writer's upserts — and never fail on a half-published live set."""
    store = DocumentStore(spark, str(tmp_path / "s"))
    store.upsert(docs(spark, [("k0", "v")], index="a"))
    n_writes = 4
    states = [{f"k{j}" for j in range(i + 1)} for i in range(n_writes + 1)]
    done = threading.Event()
    seen: list[set] = []
    errors: list[BaseException] = []

    def reader():
        handle = DocumentStore(spark, store.path)
        try:
            while not done.is_set():
                seen.append(set(_keys(handle.read("a"))))
        except BaseException as e:  # noqa: BLE001 - reported below
            errors.append(e)

    readers = [threading.Thread(target=reader) for _ in range(2)]
    for t in readers:
        t.start()
    try:
        for i in range(1, n_writes + 1):
            store.upsert(docs(spark, [(f"k{i}", "v")], index="a"))
    finally:
        done.set()
        for t in readers:
            t.join(timeout=120)
    assert not any(t.is_alive() for t in readers)
    assert not errors, errors
    assert seen and all(s in states for s in seen)
    assert set(_keys(store.read("a"))) == states[-1]


def test_read_live_table_memo_under_thread_stress(spark, tmp_path, monkeypatch):
    """More threads than cores hammer the memo with a short switch
    interval. Without evictions every thread must get the one stored
    scan per table (a lost check-then-insert would hand out a second
    object); with evictions the memo must still never exceed its bound."""
    import sys

    from wagtail_vector_index_spark.sources import manifest

    roots = []
    for i in range(4):
        root = str(tmp_path / f"t{i}")
        log = ManifestLog(root)
        g = log.new_generation()
        spark.createDataFrame([(i,)], "id long").write.parquet(log.gen_path(g))
        log.commit(lambda cur, g=g: ([g], {}))
        roots.append(root)

    def hammer(bound, n_roots):
        monkeypatch.setattr(manifest, "LIVE_SCAN_MEMO_MAX", bound)
        manifest._LIVE_SCANS.clear()
        got: dict[int, list] = {i: [] for i in range(n_roots)}
        errors: list[BaseException] = []
        sizes: list[int] = []

        def work(seed):
            try:
                for j in range(12):
                    i = (seed + j) % n_roots
                    got[i].append(manifest.read_live_table(spark, roots[i]))
                    with manifest._LIVE_SCANS_LOCK:
                        sizes.append(len(manifest._LIVE_SCANS))
            except BaseException as e:  # noqa: BLE001 - reported below
                errors.append(e)

        threads = [threading.Thread(target=work, args=(k,)) for k in range(12)]
        old = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=240)
        finally:
            sys.setswitchinterval(old)
        assert not any(t.is_alive() for t in threads)
        assert not errors, errors
        assert max(sizes) <= bound
        return got

    got = hammer(bound=4, n_roots=4)
    for i, frames in got.items():
        assert len(frames) == 36 and all(f is frames[0] for f in frames)
    hammer(bound=2, n_roots=4)
    assert len(manifest._LIVE_SCANS) <= 2


def test_read_live_table_after_token_table_is_recreated(spark, tmp_path):
    """Token generations are named after their exactly-once token, so a
    table deleted and fed the same stream again (same checkpoint, same
    batch ids) commits the very same live names. The memo must still
    serve the new incarnation's files, not the deleted listing."""
    import hashlib
    import shutil

    from wagtail_vector_index_spark.sources.manifest import read_live_table

    root = str(tmp_path / "tok")
    gen = f"gen-tok-{hashlib.sha256(b'/ckpt#0').hexdigest()[:24]}"
    for ids in ([1, 2], [7]):
        if os.path.exists(root):
            shutil.rmtree(root)
        log = ManifestLog(root)
        spark.createDataFrame([(i,) for i in ids], "id long").write.parquet(
            log.gen_path(gen)
        )
        log.commit(lambda cur: ([gen], {}))
        assert sorted(r["id"] for r in read_live_table(spark, root).collect()) == ids
