"""Sources & sinks: table readers + the parquet-backed DocumentStore.

Reference surface (SURVEY §2.1 S1-S10): queryset scans in, four vector
stores out, with upsert / delete-by-id / clear / rebuild per index. Spark
is the single storage provider: a canonical ``documents`` table partitioned
by ``(index_name, dim)`` — the pgvector dual-table pattern
(src/wagtail_vector_index/storage/pgvector/models.py:65-88) collapses into
partition layout, and the dimension filter at query time
(pgvector/provider.py:112) becomes static partition pruning.

Write semantics on plain parquet, committed through the manifest log
(sources/manifest.py — the object-store-safe protocol; no rename ever):
- upsert  = a new immutable generation dir + one manifest commit;
  conflicts resolve at read (last-write-wins by batch_id), mirroring
  ``ignore_conflicts=True`` bulk inserts (pgvector/provider.py:65-75)
- delete  = a tombstone generation (append-only delete)
- clear   = a reset watermark in the manifest — METADATA ONLY, no data
  write: at 100 TB clearing one index touches zero bytes of its neighbors
- rebuild = new generation + reset watermark at its stamp
  (pgvector/provider.py:61-63's delete-then-insert, as one atomic commit)
- compact = resolved rows re-written as one generation + watermark; old
  generations stay live for time travel until ``vacuum`` reclaims them
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wagtail_vector_index_spark.sources.manifest import (
    Manifest,
    ManifestLog,
    read_live_table,
)

DOCUMENT_COLUMNS = ("object_keys", "content", "vector", "metadata", "index_name")

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-generated parquet table."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def read_tables(spark: SparkSession, sf_dir: str, names=TABLES) -> dict[str, DataFrame]:
    return {n: read_table(spark, sf_dir, n) for n in names}


class DocumentStore:
    """Parquet-backed document store partitioned by (index_name, dim),
    committed through a manifest log (see sources/manifest.py for the
    protocol and its object-store mapping)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.log = ManifestLog(path)

    def _current(self) -> Manifest:
        m = self.log.current()
        if m is None or not m.live:
            raise FileNotFoundError(f"document store at {self.path} is empty")
        return m

    def _exists(self) -> bool:
        m = self.log.current()
        return m is not None and bool(m.live)

    def _raw(self, manifest: Manifest) -> DataFrame:
        """Union of the live generation scans of ``manifest``, listed
        once per committed state and reused by every read until a
        commit changes the live set (see ``read_live_table``). Each
        generation is its own partitioned parquet root, so Catalyst
        prunes (index_name, dim) partitions per scan; compact/vacuum
        keep the generation count small, so the union stays shallow."""
        return read_live_table(
            self.spark, self.path, manifest=manifest, allow_schema_evolution=False
        )

    @staticmethod
    def _reset_filter(df: DataFrame, manifest: Manifest, batch_id: int | None):
        """Apply the manifest's reset watermarks: rows of index i with
        batch_id below its newest watermark are dead (cleared / rebuilt /
        compacted away). Time travel to ``batch_id=b`` honors only resets
        that had happened by b, so pre-clear history stays readable until
        vacuum physically reclaims it."""
        for idx, ws in manifest.resets.items():
            applicable = [w for w in ws if batch_id is None or w <= batch_id]
            if applicable:
                df = df.where(
                    (F.col("index_name") != idx)
                    | (F.col("batch_id") >= max(applicable))
                )
        return df

    def read(self, index_name: str | None = None) -> DataFrame:
        return self.read_at(None, index_name)

    def read_at(
        self, batch_id: int | None, index_name: str | None = None
    ) -> DataFrame:
        """Snapshot read: the store as of generation ``batch_id``
        (inclusive); ``None`` reads the latest state.

        Append-only generations make time travel a filter, not a feature:
        later batches are simply invisible to the last-write-wins window,
        so a pipeline can pin the exact index state a model was trained
        against. List snapshot points with :meth:`generations`; note
        :meth:`vacuum` rewrites history away.
        """
        m = self._current()
        df = self._raw(m)
        if index_name is not None:
            df = df.where(F.col("index_name") == index_name)
        if batch_id is not None:
            df = df.where(F.col("batch_id") <= int(batch_id))
        df = self._reset_filter(df, m, batch_id)
        # last-write-wins over upsert generations, per chunk — keying on
        # doc_key alone would collapse multi-chunk documents to one row
        w = Window.partitionBy("doc_key", "chunk_no", "index_name").orderBy(
            F.col("batch_id").desc()
        )
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .where((F.col("__rn") == 1) & (~F.col("deleted")))
            .drop("__rn", "batch_id", "deleted")
        )

    def generations(self, index_name: str | None = None) -> DataFrame:
        """The store's snapshot points: one row per write generation —
        (batch_id, n_rows, n_tombstones). Pass a ``batch_id`` from here
        to :meth:`read_at`."""
        m = self._current()
        df = self._raw(m)
        if index_name is not None:
            df = df.where(F.col("index_name") == index_name)
        return (
            df.groupBy("batch_id")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("deleted").cast("long")).alias("n_tombstones"),
            )
            .orderBy("batch_id")
        )

    def _stamp(
        self, documents: DataFrame, deleted: bool = False, ts: int | None = None
    ) -> DataFrame:
        return documents.withColumn(
            "batch_id", F.lit(ts if ts is not None else time.time_ns()).cast("long")
        ).withColumn("deleted", F.lit(deleted))

    def _write_generation(self, stamped: DataFrame) -> str | None:
        """Write one immutable generation dir (NOT yet visible) and return
        its name for the commit — or None if the frame was empty (an
        empty generation is unreadable and must not be published)."""
        return self.log.write_generation(
            lambda path: stamped.withColumn("dim", F.array_size("vector"))
            .write.mode("overwrite")  # the dir name is unique and unpublished
            .partitionBy("index_name", "dim")
            .parquet(path)
        )

    def upsert(self, documents: DataFrame) -> None:
        """Append a new generation; conflicts resolve at read (S3-S5)."""
        self.log.commit_append(self._write_generation(self._stamp(documents)))

    def delete(self, index_name: str, doc_keys: list[str]) -> None:
        """Tombstone the given doc keys (S6) — append-only delete.

        For key sets too large for a driver-side list, use
        :meth:`delete_keys_df` — same tombstone mechanics, keys stay
        distributed."""
        existing = self.read(index_name).where(F.col("doc_key").isin(doc_keys))
        self._write_tombstones(existing)

    def delete_keys_df(self, index_name: str, keys_df: DataFrame) -> None:
        """Tombstone every key in ``keys_df`` (single column ``doc_key``)
        without materializing the key set on the driver — a semi join
        against the resolved store, broadcast when small."""
        existing = self.read(index_name).join(
            keys_df.select("doc_key"), "doc_key", "left_semi"
        )
        self._write_tombstones(existing)

    def _write_tombstones(self, existing: DataFrame) -> None:
        self.log.commit_append(
            self._write_generation(self._stamp(existing, deleted=True))
        )

    def clear(self, index_name: str) -> None:
        """Drop the index (S7) as a metadata-only commit: a reset
        watermark kills its rows at read time; no data is written or
        rewritten. Physical reclamation is :meth:`vacuum`'s job."""
        if not self._exists():
            return
        self.log.commit_append(None, reset=(index_name, time.time_ns()))

    def compact(self, index_name: str) -> None:
        """Rewrite the index to its resolved state (one row per key,
        tombstones dropped) as ONE new generation + a reset watermark.
        ``read`` pays a window shuffle per generation layer; at scale,
        compact after a burst of upserts so subsequent reads of this index
        scan a single clean generation. Other indexes' data is untouched,
        and pre-compact history stays time-travelable until vacuum.

        Caveat: the watermark is stamped when compact starts, so an
        upsert of this index stamped before that but not yet committed
        when compact reads is hidden by it (see docs/storage.md)."""
        self._current()
        ts = time.time_ns()
        resolved = self._stamp(self.read(index_name), ts=ts)
        gen = self._write_generation(resolved)
        self.log.commit_append(gen, reset=(index_name, ts))

    def overwrite_index(self, index_name: str, documents: DataFrame) -> None:
        """Rebuild (S8): one new generation + a reset watermark equal to
        its stamp — the delete-then-insert of the reference's rebuild as a
        single atomic commit, with no rewrite of neighboring indexes."""
        ts = time.time_ns()
        gen = self._write_generation(self._stamp(documents, ts=ts))
        self.log.commit_append(gen, reset=(index_name, ts))

    def vacuum(self, *, min_age_s: float = 3600.0) -> None:
        """Physically reclaim space: rewrite every row that is live under
        the current resets (ALL batch layers kept — surviving history
        remains time-travelable) into one generation, commit it as the
        only live one with resets folded in, then GC unreferenced
        generation dirs and superseded manifests. A rewrite commit:
        generations appended by other writers meanwhile are carried
        over."""
        base = self._current()
        raw = self._reset_filter(self._raw(base), base, None)
        gen = self.log.write_generation(
            lambda path: raw.write.mode("overwrite")
            .partitionBy("index_name", "dim")
            .parquet(path)
        )
        self.log.commit_rewrite(gen, base=base)
        self.log.gc(keep_manifests=1, min_age_s=min_age_s)
