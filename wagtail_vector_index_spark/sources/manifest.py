"""Object-store-safe commit protocol: immutable generation directories
published through a manifest log.

``os.rename`` is atomic on POSIX but neither atomic nor cheap on object
stores (S3 "renames" are copy+delete per object, and a crash mid-swap
leaves a half-moved table). At 100 TB the store lives on S3/HDFS, so the
commit protocol here is the one the public Delta Lake / Iceberg designs
use instead of renames:

- **Data files are immutable.** Writers only ever create new files under
  unique generation directory names (``gen-<ns>-<nonce>``) — nothing is
  renamed or mutated after it is written.
- **A commit is the creation of ONE new manifest object** naming the live
  generation set (plus per-index reset watermarks, see below). Readers
  resolve the newest committed manifest; a crashed writer leaves only an
  unreferenced generation directory that GC reclaims later — readers never
  observe a partial state.
- **Concurrent committers race on create-if-absent** of the next manifest
  version and the loser retries against the winner's state (optimistic
  concurrency). On POSIX, create-if-absent is ``os.link(tmp, final)``
  (EEXIST on conflict, and the content is complete and fsynced before the
  link publishes it). On S3 the same slot is a conditional PUT
  (``If-None-Match: *``); on GCS, ``x-goog-if-generation-match: 0`` — the
  storage adapter is exactly this one primitive, which is why the protocol
  survives the move off a local filesystem.

Reset watermarks make partition-scoped truncation a metadata operation:
``resets[index_name] = [w1, w2, ...]`` declares that rows of that index
with ``batch_id < max(w)`` are dead. A ``clear`` therefore commits a
watermark and touches no data; a rebuild writes only the new generation
plus a watermark equal to its stamp. Dead rows are physically dropped by
``vacuum`` (a rewrite), not by the logical operation — the same split
Delta makes between DELETE (logical, via the log) and VACUUM (physical).

The reference needs none of this because Postgres transactions play the
role of the manifest (``transaction.atomic`` in
/root/reference/src/wagtail_vector_index/storage/django.py); on a data
lake the manifest log IS the transaction.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import threading
import time
import uuid
from collections import OrderedDict
from dataclasses import dataclass
from functools import reduce

MANIFEST_DIR = "_manifests"
_MANIFEST_RE = re.compile(r"^manifest-(\d{12})\.json$")
_GEN_RE = re.compile(r"^gen-\d{20}-[0-9a-f]{8}$")
# deterministic token generations (exactly-once appends keyed on a
# dedup token — ManifestLog.write_generation): the name is
# content-addressed, so it carries no timestamp; GC ages these by
# directory mtime instead.
_TOK_GEN_RE = re.compile(r"^gen-tok-[0-9a-f]{24}$")


def has_data_files(path: str) -> bool:
    """True if the directory tree contains at least one parquet file.
    Spark writes an empty DataFrame as a dir with only _SUCCESS — such a
    generation must not be committed (a later scan of it cannot infer a
    schema), the writer skips it instead."""
    for dp, _dirs, fs in os.walk(path):
        if any(f.endswith(".parquet") for f in fs):
            return True
    return False


class CommitConflict(RuntimeError):
    """Raised when a commit loses the create-if-absent race more times
    than ``max_retries`` — only plausible under sustained contention."""


# Processed dedup tokens retained in the manifest. Streaming replays
# only ever re-deliver the most recent uncommitted batch, so a small
# window is safe; the cap bounds manifest size forever.
MAX_TOKENS = 4096


@dataclass(frozen=True)
class Manifest:
    """One committed table state."""

    version: int
    live: tuple[str, ...]  # generation dir names, relative to the root
    resets: dict  # index_name -> sorted list of watermark batch_ids (ns)
    ts: int  # commit wall time (ns) — informational only
    # exactly-once dedup tokens already applied to this table. Stored IN
    # the manifest so the memory of a processed streaming batch survives
    # compaction/GC of the generation that carried it (a replayed batch
    # must stay a no-op even after its generation was rewritten away).
    tokens: tuple[str, ...] = ()


class ManifestLog:
    """The manifest log for one table root."""

    def __init__(self, root: str):
        self.root = root
        self.mdir = os.path.join(root, MANIFEST_DIR)

    # -- read side -----------------------------------------------------------

    def current(self) -> Manifest | None:
        """The newest committed manifest, or None for a never-written
        table. One directory listing + one small JSON read — the same cost
        shape as a metastore lookup."""
        try:
            names = os.listdir(self.mdir)
        except FileNotFoundError:
            return None
        best: tuple[int, str] | None = None
        for n in names:
            m = _MANIFEST_RE.match(n)
            if m:
                v = int(m.group(1))
                if best is None or v > best[0]:
                    best = (v, n)
        if best is None:
            return None
        with open(os.path.join(self.mdir, best[1])) as f:
            d = json.load(f)
        return Manifest(
            version=int(d["version"]),
            live=tuple(d["live"]),
            resets={k: list(v) for k, v in d.get("resets", {}).items()},
            ts=int(d["ts"]),
            tokens=tuple(d.get("tokens", ())),
        )

    def live_paths(self, manifest: Manifest | None = None) -> list[str]:
        m = manifest if manifest is not None else self.current()
        return [os.path.join(self.root, g) for g in (m.live if m else ())]

    # -- write side ----------------------------------------------------------

    def new_generation(self) -> str:
        """A unique, not-yet-live generation name. Until a commit lists
        it, the directory is invisible to every reader."""
        return f"gen-{time.time_ns():020d}-{uuid.uuid4().hex[:8]}"

    def gen_path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def write_generation(self, write, *, token: str | None = None) -> str | None:
        """Write one new generation with ``write(path)`` and return its
        name for :meth:`commit_append` / :meth:`commit_rewrite` — or None
        when there is nothing to commit: ``write`` produced no data files
        (Spark writes an empty frame as a bare ``_SUCCESS`` dir, which a
        later scan cannot infer a schema from), or ``token`` was already
        applied, in which case ``write`` is never called.

        Without a token the name is fresh (no collision possible) and
        ``write`` targets it directly. With a token the append is
        exactly-once per token (stream replays): the token is checked
        against the manifest's processed-token window — the memory lives
        IN the manifest, so it survives compaction/GC of the generation
        that carried the batch — and the name is a deterministic function
        of the token, so a crash between data write and commit leaves a
        directory the replay safely replaces. Because that name may
        already be live and serving under a racing replay, a token write
        goes to a unique staging directory first and is renamed into
        place by :meth:`_publish`."""
        if token is None:
            gen = self.new_generation()
            written = self.gen_path(gen)
        else:
            gen = f"gen-tok-{hashlib.sha256(token.encode()).hexdigest()[:24]}"
            cur = self.current()
            if cur is not None and (token in cur.tokens or gen in cur.live):
                # Already applied. The gen-in-live check matters when the
                # token is absent from the window (pre-tokens-field
                # manifests, or a MAX_TOKENS eviction): without it a
                # replay would OVERWRITE a live, serving generation
                # directory in place.
                return None
            written = self.gen_path(f"{gen}.stage-{uuid.uuid4().hex[:12]}")
        write(written)
        if not has_data_files(written):
            shutil.rmtree(written, ignore_errors=True)
            return None
        if token is not None:
            self._publish(written, gen)
        return gen

    def _publish(self, staged: str, gen: str) -> None:
        """Atomically move a staged token generation into its final name.
        Closes the TOCTOU of the pre-write token/liveness check in
        :meth:`write_generation`: it can pass for BOTH of two racing
        replays, and the loser's ``mode('overwrite')`` write would
        transiently delete files under a directory the winner had just
        committed as live. With a staged write the loser's rename simply
        fails (POSIX rename won't clobber a non-empty directory) and its
        identical copy is discarded; the live directory is never
        rewritten in place. A crash leftover — the directory exists but
        was never committed — is replaced only after re-checking the
        manifest immediately before the swap, which narrows (not
        eliminates: this is a local-FS stand-in for an object-store
        conditional put) the remaining window to
        rmtree-vs-concurrent-commit of byte-identical data."""
        final = self.gen_path(gen)
        try:
            os.rename(staged, final)
            return
        except OSError:
            pass
        cur = self.current()
        if cur is not None and gen in cur.live:
            # a racing replay won and its (identical) data is serving
            shutil.rmtree(staged, ignore_errors=True)
            return
        # uncommitted leftover from a crashed writer: replace it
        shutil.rmtree(final, ignore_errors=True)
        try:
            os.rename(staged, final)
        except OSError:
            shutil.rmtree(staged, ignore_errors=True)

    def commit_append(
        self,
        gen: str | None,
        *,
        token: str | None = None,
        reset: tuple[str, int] | None = None,
    ) -> Manifest | None:
        """Publish ``gen`` on top of whatever is live, plus an optional
        reset watermark ``reset=(index_name, batch_id)`` and exactly-once
        ``token``. Returns None without committing when there is nothing
        to publish (no generation and no reset). Appenders compose: each
        re-reads the freshest state on conflict, so two appenders both
        survive."""
        if gen is None and reset is None:
            return None

        def up(cur: Manifest | None):
            live = list(cur.live) if cur else []
            resets = {k: list(v) for k, v in (cur.resets if cur else {}).items()}
            tokens = list(cur.tokens) if cur else []
            if token is not None and token in tokens:
                # a racing replay committed first — keep the state
                # unchanged (the commit becomes a no-op version bump)
                return live, resets, tokens
            # idempotent for deterministic (token) generation names: a
            # replayed commit must not list the same generation twice
            if gen is not None and gen not in live:
                live.append(gen)
            if reset is not None:
                resets.setdefault(reset[0], []).append(reset[1])
            if token is not None:
                tokens.append(token)
            return live, resets, tokens

        return self.commit(up)

    def commit_rewrite(
        self,
        gen: str | None,
        *,
        base: Manifest | None,
        replaced=None,
    ) -> Manifest:
        """Publish ``gen`` as a rewrite of the state read at ``base``:
        it replaces ``replaced`` (default: every generation live at
        ``base``), and generations and resets committed by OTHER writers
        since ``base`` are carried over, so a concurrent append is never
        silently dropped by a compaction racing with it. ``base``'s
        resets are consumed — the rewrite already applied them.
        ``gen=None`` publishes the rewrite of an empty state (only the
        carried-over generations stay)."""
        if replaced is None:
            replaced = base.live if base else ()
        dropped = set(replaced)
        base_resets = base.resets if base else {}

        def up(cur: Manifest | None):
            live = ([gen] if gen is not None else []) + [
                g for g in (cur.live if cur else ()) if g not in dropped
            ]
            resets: dict[str, list[int]] = {}
            for idx, ws in (cur.resets if cur else {}).items():
                consumed = set(base_resets.get(idx, []))
                kept = [w for w in ws if w not in consumed]
                if kept:
                    resets[idx] = kept
            return live, resets

        return self.commit(up)

    def commit(self, update, *, max_retries: int = 20) -> Manifest:
        """Atomically publish a new table state.

        ``update(current: Manifest | None) -> (live, resets)`` — or
        ``(live, resets, tokens)`` to also record exactly-once dedup
        tokens — computes the next state from the freshest committed
        one; it re-runs on every conflict, so writers compose (two
        appenders both survive, an appender landing during a rewrite is
        carried over by the rewriter's update function — see
        :meth:`commit_rewrite`). A 2-tuple return carries the
        current token window forward unchanged, so rewrites/compactions
        never forget which streaming batches were applied.
        """
        os.makedirs(self.mdir, exist_ok=True)
        for _ in range(max_retries):
            cur = self.current()
            out = update(cur)
            if len(out) == 2:
                live, resets = out
                tokens = list(cur.tokens) if cur else []
            else:
                live, resets, tokens = out
                tokens = list(tokens)[-MAX_TOKENS:]
            version = (cur.version if cur else 0) + 1
            rec = {
                "version": version,
                "live": list(live),
                "resets": {k: sorted(v) for k, v in resets.items() if v},
                "ts": time.time_ns(),
            }
            if tokens:
                rec["tokens"] = tokens
            tmp = os.path.join(self.mdir, f".tmp-{uuid.uuid4().hex}")
            with open(tmp, "w") as f:
                json.dump(rec, f)
                f.flush()
                os.fsync(f.fileno())
            final = os.path.join(self.mdir, f"manifest-{version:012d}.json")
            try:
                os.link(tmp, final)  # create-if-absent: the commit point
            except FileExistsError:
                os.unlink(tmp)
                continue  # lost the race — recompute against the winner
            os.unlink(tmp)
            return Manifest(
                version, tuple(live), rec["resets"], rec["ts"], tuple(tokens)
            )
        raise CommitConflict(
            f"gave up after {max_retries} contended commits at {self.root}"
        )

    # -- garbage collection --------------------------------------------------

    def gc(
        self,
        *,
        keep_manifests: int = 3,
        min_age_s: float = 3600.0,
        reader_grace_s: float = 0.0,
    ) -> list[str]:
        """Delete generation directories unreferenced by the
        ``keep_manifests`` newest manifests, plus superseded manifest
        files. ``min_age_s`` protects in-flight writers: a staged
        generation younger than the window is never collected even though
        no manifest references it yet. Returns the deleted paths.

        ``reader_grace_s`` (r13) protects in-flight READERS against a
        CONCURRENT compactor: ``min_age_s`` measures age since a
        generation was created, but the hazard window for a reader is
        time since the generation was SUPERSEDED — a reader resolves
        ``current()`` once and then scans what it references, so a
        rewrite+gc landing mid-scan would delete files under it (the
        r13 out-of-band-compaction soak reproduced exactly this:
        FAILED_READ_FILE on a superseded signature sidecar). With
        ``reader_grace_s`` > 0, every manifest that WAS the table's
        current state at any point within the window — i.e. whose
        successor committed inside it — stays protected, along with
        everything it references. A manifest-chain gap errs protective
        (the next PRESENT manifest's ts bounds the true successor's
        from above). Single-maintainer callers (the in-band stream
        hooks) keep the default 0."""
        cur = self.current()
        if cur is None:
            return []
        versions = sorted(
            int(_MANIFEST_RE.match(n).group(1))
            for n in os.listdir(self.mdir)
            if _MANIFEST_RE.match(n)
        )
        kept = set(versions[-keep_manifests:])
        if reader_grace_s > 0 and len(versions) > 1:
            grace_cutoff_ns = time.time_ns() - int(reader_grace_s * 1e9)

            def _ts(v: int) -> int:
                try:
                    with open(
                        os.path.join(self.mdir, f"manifest-{v:012d}.json")
                    ) as f:
                        return int(json.load(f).get("ts", 0))
                except (OSError, ValueError):
                    return time.time_ns()  # unreadable: protect
            for i, v in enumerate(versions[:-1]):
                if _ts(versions[i + 1]) >= grace_cutoff_ns:
                    kept.add(v)
        referenced: set[str] = set()
        for v in kept:
            with open(os.path.join(self.mdir, f"manifest-{v:012d}.json")) as f:
                referenced.update(json.load(f)["live"])
        cutoff_ns = time.time_ns() - int(min_age_s * 1e9)
        deleted: list[str] = []
        for n in os.listdir(self.root):
            m = _GEN_RE.match(n)
            if not m or n in referenced:
                continue
            created_ns = int(n.split("-")[1])
            if created_ns > cutoff_ns:
                continue  # possibly a writer staging its commit
            p = os.path.join(self.root, n)
            shutil.rmtree(p, ignore_errors=True)
            deleted.append(p)
        for n in os.listdir(self.root):
            # token generations (gen-tok-<24hex>): content-addressed
            # names carry no timestamp, so the in-flight-writer window
            # uses mtime. Unreferenced ones arise when compaction
            # supersedes a token append, or when a writer crashed
            # between publish-rename and commit on an abandoned stream
            # — without this sweep they leak forever.
            # Their staging directories (gen-tok-*.stage-*) are swapped
            # into place by a rename and removed when the write was
            # empty or lost the race; one can only survive a writer
            # crash between write and publish. Both are swept by mtime
            # under the same in-flight-protection window.
            if n in referenced or not (_TOK_GEN_RE.match(n) or ".stage-" in n):
                continue
            p = os.path.join(self.root, n)
            try:
                if os.path.getmtime(p) > time.time() - min_age_s:
                    continue
            except OSError:
                continue
            shutil.rmtree(p, ignore_errors=True)
            deleted.append(p)
        for v in versions:
            if v not in kept:
                p = os.path.join(self.mdir, f"manifest-{v:012d}.json")
                os.unlink(p)
                deleted.append(p)
        return deleted


# Bound of the live-scan memo below. Entries are DataFrames (a plan plus
# the file listing Spark keeps for it), not data; a process serves a
# handful of tables, and each commit that changes a live set leaves one
# superseded entry behind until the LRU drops it.
LIVE_SCAN_MEMO_MAX = 32
_LIVE_SCANS: OrderedDict[tuple, object] = OrderedDict()
_LIVE_SCANS_LOCK = threading.Lock()


def _dir_stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None  # gone: the scan below fails as it would have anyway
    return st.st_ino, st.st_mtime_ns


def read_live_table(
    spark,
    root: str,
    *,
    manifest: Manifest | None = None,
    allow_schema_evolution: bool = True,
):
    """The live rows of a manifest-committed table at ``root``: union of
    the committed generation scans (partition pruning applies per
    scan). ``manifest`` pins the state to read (default: the newest
    committed one). Raises FileNotFoundError when nothing is committed —
    a data directory without a manifest reads as never-written.

    The unioned DataFrame is memoized per (session, root, live set,
    ``allow_schema_evolution``), so each generation is listed and its
    schema inferred once per committed state instead of on every read.
    The key is exact because committed generation directories are
    immutable and uniquely named: the listing stays valid for as long
    as the live set that produced it, and any commit that changes the
    live set misses. Token generations (``gen-tok-*``) are named after
    their exactly-once token rather than their creation — a table
    deleted and fed the same stream again commits the same names — so
    their directory inode and mtime join the key. Files edited behind
    the manifest's back are not seen. The memo holds plans, never rows,
    and keeps at most ``LIVE_SCAN_MEMO_MAX`` entries (least recently
    used dropped first).

    ``allow_schema_evolution`` (default on — the expected lakehouse
    contract): generations written before a column existed read that
    column as NULL instead of failing the union, so appending a batch
    with a new column never requires rewriting history (compaction
    materializes the unified schema whenever it next runs). Pass False
    to make any schema drift a hard error instead."""
    log = ManifestLog(root)
    cur = manifest if manifest is not None else log.current()
    if cur is None or not cur.live:
        raise FileNotFoundError(f"no committed table at {root}")
    tok_stamps = tuple(
        _dir_stamp(log.gen_path(g)) for g in cur.live if _TOK_GEN_RE.match(g)
    )
    key = (spark, root, cur.live, tok_stamps, allow_schema_evolution)
    with _LIVE_SCANS_LOCK:
        if key in _LIVE_SCANS:
            _LIVE_SCANS.move_to_end(key)
            return _LIVE_SCANS[key]
    # list and union outside the lock: a racing first read of the same
    # state builds an equal plan, and the first one stored wins
    frames = [spark.read.parquet(p) for p in log.live_paths(cur)]
    df = reduce(
        lambda a, b: a.unionByName(
            b, allowMissingColumns=allow_schema_evolution
        ),
        frames,
    )
    with _LIVE_SCANS_LOCK:
        df = _LIVE_SCANS.setdefault(key, df)
        _LIVE_SCANS.move_to_end(key)
        while len(_LIVE_SCANS) > LIVE_SCAN_MEMO_MAX:
            _LIVE_SCANS.popitem(last=False)
    return df
