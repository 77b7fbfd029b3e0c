"""Snapshot-style commits + lineage + resume (Iceberg semantics, emulated).

The sandbox has no Iceberg runtime jar, so snapshot semantics are emulated
with parquet + an atomic JSON commit log behind one writer interface, exactly
as scoped in SURVEY.md §7.4. On a real cluster this class is swapped for
``df.writeTo(table).append()``; the resume logic (``part_id NOT IN``
the committed part_ids) is identical either way.

Layout of a CommitLog directory:

    <root>/data/chunk=<k>/part_id=<p>/*.parquet   extracted spans
    <root>/commits/commit-<k>.json          atomic marker (tmp + rename):
                                            the chunk is visible iff present

A marker's metrics come from an ``Observation`` on the chunk's own write
(the analogue of an Iceberg snapshot summary's added-records counts).

Both path levels are key=value (Hive) form on purpose: ``chunk`` and
``part_id`` are DISCOVERED PARTITION COLUMNS, so every read is ONE parquet
scan over the table root with snapshot visibility expressed as a
PartitionFilter (``chunk IN (<visible ids>)``) — never one DataFrame per
chunk glued with unionByName, whose plan build is superlinear in chunk
count (7.5 / 38 / 156 s at 200 / 1000 / 2000 chunks,
tools/bench_commitlog.py) and would spend hours in Catalyst on the 10^4
chunks a long-running ingest accretes. This is exactly how an Iceberg
reader works: the manifest (here: markers) picks files, the scan is one
logical relation. Invariant the single-root scan leans on: nothing ever
writes a parquet file under ``data/`` except at depth
``chunk=K/part_id=P/`` (a file at another depth would make partition
discovery fail loudly with CONFLICTING_DIRECTORY_STRUCTURES).

A killed job leaves at most one un-marked chunk directory, which the next run
ignores and reprocesses — zero reprocessing of *committed* partitions, the
north_rule resumability contract. This is the scalable replacement for the
reference's rewrite-the-whole-JSON-after-every-page checkpoint
(pymu_tesseract_processor.py:111-112, O(pages^2) bytes per doc).

Concurrent writers (the Iceberg optimistic-concurrency analogue): two
drivers appending to the same table root must not duplicate rows or clobber
each other's chunks. Three mechanisms, all filesystem-atomic:

  1. chunk-id reservation — ``reserve_chunk_id`` claims the chunk's data
     directory with ``os.mkdir`` (atomic, fails on EEXIST), so no two
     writers ever stage into the same chunk id;
  2. no-clobber marker publish — ``commit_chunk`` links the marker into
     place with ``os.link`` (fails on EEXIST) instead of a clobbering
     rename;
  3. append validation — under a commit-side flock, an ``exclusive_parts``
     publish re-reads the committed set and raises ``CommitConflict`` if
     another writer already committed any of its part_ids; the loser's
     staged directory is never marked, and the publish deletes it.

On a real cluster all three collapse into the Iceberg catalog's atomic
snapshot swap + retry; the flock is the sandbox stand-in for that CAS.
The watch writer (:func:`run_watch`) reserves chunk ids like any other
writer; its cursor is the drop files each marker names, so a rerun reads
only the files no marker names, and a batch whose file a rival committed
first loses its publish.
"""

from __future__ import annotations

import bisect
import collections
import contextlib
import fcntl
import json
import os
import re
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .pipeline import (
    EXTRACTED_SCHEMA,
    assign_part_id,
    balance_partitions,
    extract_documents,
    in_parts,
    int_list,
    part_bytes,
)


@dataclass
class RunReport:
    chunks_committed: int
    parts_processed: int
    docs_processed: int
    parts_skipped: int


class CommitConflict(RuntimeError):
    """Another writer committed first: a marker with this chunk id already
    exists, or (``exclusive_parts``) one of this chunk's part_ids was
    committed by a concurrent append. The caller's staged data directory is
    never marked — invisible to every reader — and ``commit_chunk(...,
    expect_data=True)`` deletes it. RETRYABLE: losing a race is normal
    under concurrent writers, and run_extraction re-queues the parts."""


class TableContractError(ValueError):
    """The write violates the table's standing contract (today: an n_parts
    that disagrees with what the table was created with). NOT retryable —
    unlike :class:`CommitConflict`, retrying can never succeed, so this
    deliberately does not subclass it (a guard raising CommitConflict here
    would spin run_extraction's retry loop forever, leaking one orphan
    chunk directory per attempt)."""


# an unmarked chunk dir older than this is an orphan, not a live writer's
ORPHAN_GRACE_S = 3600.0


def _chunk_dirname(cid: int) -> str:
    """Chunk subdirectory under data/, in key=value form so
    ``chunk`` resolves as a partition column (see module docstring)."""
    return f"chunk={cid:06d}"


# 6+ digits, not exactly 6: {cid:06d} WIDENS past chunk 999999, and a
# 7-digit legacy dir escaping this guard would silently read as empty —
# the exact failure the guard exists to prevent
_LEGACY_CHUNK_RE = re.compile(r"^chunk-(\d{6,})$")


class CommitLog:
    def __init__(self, root: str):
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.commits_dir = os.path.join(root, "commits")
        for d in (self.data_dir, self.commits_dir):
            os.makedirs(d, exist_ok=True)
        # layout-format guard: a table written before the chunk=K (Hive)
        # layout holds chunk-K dirs, which partition discovery cannot see —
        # opening it would read as EMPTY with committed markers present
        # (and gc would never sweep its orphans). Fail loudly instead of
        # silently returning nothing; the fix is a one-time offline rename.
        legacy = [n for n in os.listdir(self.data_dir) if _LEGACY_CHUNK_RE.match(n)]
        if legacy:
            raise TableContractError(
                f"{self.data_dir} holds pre-Hive-layout chunk dirs "
                f"(e.g. {legacy[0]!r}); run "
                f"CommitLog.migrate_layout({self.root!r}) once, with no "
                f"live writers, to rename chunk-K -> chunk=K"
            )
        # published markers are immutable (retention deletes DATA, never
        # markers), so parsed markers cache per-instance forever; the dir
        # listing stays the source of truth for WHICH markers exist, so a
        # concurrent writer's new marker is picked up (and parsed once) on
        # the next list. Without this a long-running writer's commit path
        # is O(C^2) marker opens (commit_chunk re-lists under the lock
        # every publish) — measured 9.6 -> 20.2 ms/commit from C=200 to
        # C=1000 (tools/bench_commitlog.py).
        self._marker_cache: dict[str, dict] = {}

    @staticmethod
    def migrate_layout(root: str) -> list[str]:
        """One-time offline upgrade of a pre-Hive-layout table: rename every
        ``data/chunk-K`` directory to ``chunk=K``. Markers, ids, and
        part_id subdirs are layout-independent and untouched; each rename
        is atomic, and a crash mid-migration is resumed by running it again
        (already-renamed dirs are skipped). MUST NOT run while any writer is
        live (old-code writers would recreate legacy dirs). Returns the
        renamed paths."""
        base = os.path.join(root, "data")
        renamed = []
        for name in sorted(os.listdir(base)) if os.path.isdir(base) else []:
            m = _LEGACY_CHUNK_RE.match(name)
            if not m:
                continue
            dst = os.path.join(base, _chunk_dirname(int(m.group(1))))
            os.rename(os.path.join(base, name), dst)  # atomic, fails if dst exists
            renamed.append(dst)
        return renamed

    # ------------------------------------------------------------- commit side

    def committed_chunks(self, as_of: int | None = None) -> list[dict]:
        """Commit markers in COMMIT order (``committed_at`` stamped under
        the commit lock; chunk ids are reserve-ordered and a slow writer
        can commit a low id late). ``as_of`` pins the snapshot
        (inclusive) — the Iceberg time-travel analogue (``VERSION AS
        OF``): when ``as_of`` names a committed snapshot, the horizon is
        everything committed up to and including IT in commit order — a
        table state that actually existed — never an id-prefix that mixes
        in later-committed lower ids. An ``as_of`` that is not a committed
        snapshot falls back to the id cap (so a value past the newest id
        means "current table", the documented convention)."""
        out = []
        for name in sorted(os.listdir(self.commits_dir)):
            if name.startswith("commit-") and name.endswith(".json"):
                marker = self._marker_cache.get(name)
                if marker is None:
                    with open(os.path.join(self.commits_dir, name)) as f:
                        marker = json.load(f)
                    self._marker_cache[name] = marker
                out.append(marker)
        # callers treat markers as read-only (the cache hands out the same
        # dicts); nothing in the repo mutates a returned marker
        out.sort(key=self._commit_order)
        if as_of is not None:
            cap = next((m for m in out if m["chunk_id"] == as_of), None)
            if cap is not None:
                horizon = self._commit_order(cap)
                out = [m for m in out if self._commit_order(m) <= horizon]
            else:
                out = [m for m in out if m["chunk_id"] <= as_of]
        return out

    def expire_replaced(self) -> list[int]:
        """Physically delete the data directories of chunks that a
        committed compaction marker has replaced — the
        ``expire_snapshots`` + delete-orphan-files maintenance analogue.
        Current reads are untouched (they already resolve to the
        replacement); time travel to snapshots BEFORE the compaction stops
        resolving, exactly as in Iceberg once old snapshots are expired.
        Markers are kept (history stays auditable); only data is reclaimed.
        Returns the chunk ids whose files were removed."""
        return self.expire_snapshots(older_than=float("inf"), shadowed=False)

    def expire_snapshots(
        self, older_than: float, shadowed: bool = True
    ) -> list[int]:
        """Age-based retention — the TTL-cleanup analogue (SURVEY §2.1-S10:
        the reference deletes temp files older than 30 minutes,
        ``dashboard.py:777-829``; §2.1 maps that to ``expire_snapshots``
        retention on staging tables).

        Reclaims the data directories of chunks that are BOTH
        (a) unreachable from the *current* view — compaction-replaced, or
        (with ``shadowed=True``) appends whose every part_id is shadowed by
        a later overwrite marker — and (b) committed before ``older_than``
        (epoch seconds). Data reachable from the current view is never
        touched regardless of age: retention trims *history*, not state,
        exactly like Iceberg's ``expire_snapshots(older_than=...)``. Markers
        are kept for audit; time travel and incremental scans over reclaimed
        history stop resolving. Returns the reclaimed chunk ids.
        """
        committed = self.committed_chunks()
        visible = self.visible_chunks(chunks=committed)
        visible_ids = {c["chunk_id"] for c in visible}
        shadow = self._shadow_index(visible)
        gone: list[int] = []
        for c in committed:
            cid = c["chunk_id"]
            reachable = cid in visible_ids and (
                not shadowed or bool(self._owned_parts(c, visible, shadow))
            )
            if reachable or c["committed_at"] >= older_than:
                continue
            d = os.path.join(self.data_dir, _chunk_dirname(cid))
            if os.path.isdir(d):
                shutil.rmtree(d)
                gone.append(cid)
        return gone

    def committed_part_ids(self) -> set[int]:
        ids: set[int] = set()
        for c in self.committed_chunks():
            ids.update(c["part_ids"])
        return ids

    def next_chunk_id(self) -> int:
        chunks = self.committed_chunks()
        return (max((c["chunk_id"] for c in chunks), default=-1)) + 1

    def _highwater_path(self) -> str:
        return os.path.join(self.commits_dir, "chunk-id-highwater")

    def _read_highwater(self) -> int:
        try:
            with open(self._highwater_path()) as f:
                return int(f.read().strip())
        except (OSError, ValueError):
            return -1

    def reserve_chunk_id(self) -> int:
        """Atomically claim the next free chunk id by creating its data
        directory (``os.mkdir`` fails on EEXIST, so two racing writers can
        never stage into the same chunk). A directory without a marker —
        an in-flight writer or a crashed run's orphan — blocks its id
        until ``gc_orphans`` reclaims it; the highwater file (bumped under
        the commit lock at every reservation) then keeps the reclaimed id
        from ever being handed out again — ids are never reused even after
        GC, exactly like Iceberg's never-reused snapshot ids, so anything
        that names a chunk id (a derived stage's ``src_snapshot`` cursor, a
        run log, a time-travel ``as_of``) names one chunk for the table's
        whole life."""
        # the marker scan runs OUTSIDE the lock (watch reserves once
        # per file batch; holding the global commit lock across O(chunks)
        # JSON parses would serialize every concurrent writer on it) — a
        # stale floor is harmless because the mkdir EEXIST loop and the
        # monotonic highwater both only ever push cid FORWARD
        floor = self.next_chunk_id()
        with self._commit_lock():
            cid = max(floor, self._read_highwater() + 1)
            while True:
                try:
                    os.mkdir(os.path.join(self.data_dir, _chunk_dirname(cid)))
                    break
                except FileExistsError:
                    cid += 1
            self._bump_highwater(cid)
            return cid

    def _bump_highwater(self, cid: int) -> None:
        """Monotonically raise the never-reuse floor to ``cid`` (no-op when
        already past it). Caller must hold the commit lock. fsync like the
        marker path: the never-reuse invariant must survive power loss,
        not just process crash."""
        if self._read_highwater() >= cid:
            return
        tmp = self._highwater_path() + f".tmp-{os.getpid()}"
        with open(tmp, "w") as f:
            f.write(str(cid))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._highwater_path())

    @contextlib.contextmanager
    def _commit_lock(self):
        """Serializes marker publish + append validation (the sandbox
        stand-in for the Iceberg catalog's compare-and-swap)."""
        lock_path = os.path.join(self.commits_dir, ".commit.lock")
        with open(lock_path, "w") as lf:
            fcntl.flock(lf.fileno(), fcntl.LOCK_EX)
            try:
                yield
            finally:
                fcntl.flock(lf.fileno(), fcntl.LOCK_UN)

    def _chunk_dirs(self) -> list[tuple[int, str, float]]:
        """(id, path, mtime) of every ``chunk=K`` dir under data/."""
        out = []
        for n in sorted(os.listdir(self.data_dir)):
            if re.fullmatch(r"chunk=\d+", n):
                with contextlib.suppress(OSError):  # vanished since the listing
                    p = os.path.join(self.data_dir, n)
                    out.append((int(n[6:]), p, os.path.getmtime(p)))
        return out

    def gc_orphans(self, grace_s: float = ORPHAN_GRACE_S) -> list[str]:
        """Delete data chunk directories that have NO commit marker
        and were last modified more than ``grace_s`` ago — crashed or
        conflict-losing writers' staged output (the
        ``remove_orphan_files`` analogue, including its grace period: a
        LIVE writer's reserved directory must never be swept, which is why
        the default grace is generous).

        Before anything is deleted, the chunk-id highwater is bumped past
        every id about to be reclaimed (ADVICE r03): ids reserved BEFORE the
        highwater file existed (an upgraded table) are not covered by
        ``reserve_chunk_id``'s bump, and handing such an id out again would
        break the never-reuse invariant ``reserve_chunk_id`` promises.
        Bump-then-delete ordering makes a crash mid-GC safe (the id is
        burned either way).

        The delete itself runs UNDER the commit lock, after re-checking the
        marker set (review finding): a slow writer can reserve a chunk,
        take longer than ``grace_s`` to finish its Spark write (top-dir
        mtime stays at reservation time while files land under
        ``_temporary``), and commit in the window between the unlocked
        listing and the rmtree — deleting then would leave a committed
        marker pointing at no data, which reads silently as zero rows and
        resume skips forever. Under the lock, either its marker is already
        visible (the re-check spares the chunk) or its commit happens
        after our rmtree and fails loudly on ``commit_chunk``'s
        ``expect_data`` existence check — never a silent loss."""
        marked = {c["chunk_id"] for c in self.committed_chunks()}
        doomed: list[tuple[int, str]] = []
        cutoff = time.time() - grace_s
        for cid, path, mtime in self._chunk_dirs():
            if cid not in marked and mtime < cutoff:
                doomed.append((cid, path))
        removed: list[str] = []
        if doomed:
            with self._commit_lock():
                self._bump_highwater(max(cid for cid, _ in doomed))
                committed_now = {
                    c["chunk_id"] for c in self.committed_chunks()
                }
                for cid, path in doomed:
                    if cid in committed_now:
                        continue  # committed since the unlocked listing
                    shutil.rmtree(path, ignore_errors=True)
                    removed.append(path)
        return removed

    def n_parts(self, chunks: list[dict] | None = None) -> int | None:
        """The n_parts the writer used, from the newest marker recording it
        (ADVICE r01: the reader must not have to guess the writer's value —
        a mismatched guess recomputes a different part_id and silently
        returns nothing). ``chunks`` reuses an already-parsed marker list
        (the ``visible_chunks(chunks=...)`` pattern) — commit_chunk's guard
        resolves through THIS method so guard and readers can never
        diverge."""
        if chunks is None:
            chunks = self.committed_chunks()
        for c in reversed(chunks):
            if c.get("n_parts") is not None:
                return c["n_parts"]
        return None

    def visible_chunks(
        self, as_of: int | None = None, chunks: list[dict] | None = None
    ) -> list[dict]:
        """Markers whose data a reader at this snapshot should scan: committed,
        and not replaced by a LATER committed marker within the same snapshot
        horizon. Replacement markers (compaction) carry ``replaces``; a
        time-travel read before the compaction still resolves to the original
        chunks, because only markers <= as_of can shadow.

        ``chunks`` lets a read operation list + parse the marker files ONCE
        and reuse them here and in ``_owned_parts`` — without it a C-chunk
        read pays O(C^2) marker opens."""
        if chunks is None:
            chunks = self.committed_chunks(as_of)
        replaced: set[int] = set()
        for c in chunks:
            replaced.update(c.get("replaces") or [])
        return [c for c in chunks if c["chunk_id"] not in replaced]

    @staticmethod
    def _commit_order(marker: dict) -> tuple[float, int]:
        """Total order of marker publishes. ``committed_at`` is stamped
        INSIDE the commit lock, so it strictly orders publishes to one table
        root; the chunk id (reserve order, which can differ from commit
        order under concurrent writers) is only a tiebreak for
        equal-resolution timestamps."""
        return (marker["committed_at"], marker["chunk_id"])

    def _shadow_index(
        self, visible: list[dict]
    ) -> tuple[list[tuple[float, int]], list[set[int]]]:
        """Suffix unions of overwrite-marker part_ids in commit order:
        ``sets[i]`` = every part shadowed for a chunk committed before
        ``orders[i]``. Built ONCE per read so resolving a chunk's owned
        parts is a bisect, not a scan of all C visible markers — the
        per-chunk scan made read planning O(C^2) driver-side (measured
        0.003 -> 0.03 -> 0.14 s at C=200/1000/2000,
        tools/bench_commitlog.py)."""
        ows = sorted(
            (
                (self._commit_order(c), set(c["part_ids"]))
                for c in visible
                if c.get("overwrite")
            ),
            key=lambda t: t[0],
        )
        orders = [o for o, _ in ows]
        sets_: list[set[int]] = []
        acc: set[int] = set()
        for _, parts in reversed(ows):
            acc = acc | parts
            sets_.append(acc)
        sets_.reverse()
        return orders, sets_

    def _owned_parts(
        self,
        chunk: dict,
        visible: list[dict],
        shadow: tuple[list[tuple[float, int]], list[set[int]]] | None = None,
    ) -> list[int]:
        """The subset of ``chunk``'s part_ids whose rows are current, given
        the pre-computed ``visible`` marker list for the read's snapshot.

        Append markers ACCUMULATE — watch commits one marker per file
        batch and a part legitimately spans many of them, so an
        append never shadows anything. Only an ``overwrite`` marker
        (dynamic-partition re-extraction) shadows: its parts' rows in every
        chunk committed EARLIER (commit order, not chunk-id order — ids are
        assigned at reserve time and a slow writer can commit a low id
        late) become invisible at the commit flip, without any rewrite of
        the old chunks. Loops over many chunks should pass a shared
        ``shadow=self._shadow_index(visible)``."""
        if shadow is None:
            shadow = self._shadow_index(visible)
        orders, sets_ = shadow
        # strictly-later overwrites shadow: bisect_right puts an overwrite
        # whose order EQUALS the chunk's (i.e. the chunk itself) before the
        # insertion point, excluding it
        i = bisect.bisect_right(orders, self._commit_order(chunk))
        if i >= len(orders):
            return list(chunk["part_ids"])
        shadowed = sets_[i]
        return [p for p in chunk["part_ids"] if p not in shadowed]

    def commit_chunk(
        self,
        chunk_id: int,
        part_ids: list[int],
        metrics: dict,
        n_parts: int | None = None,
        replaces: list[int] | None = None,
        overwrite: bool = False,
        exclusive_parts: bool = False,
        no_new_overwrites_since: set[int] | None = None,
        validate=None,
        expect_data: bool = False,
    ) -> bool:
        """Atomic visibility flip: tmp write + no-clobber ``os.link``, all
        inside the commit lock so ``committed_at`` strictly orders
        publishes (overwrite shadowing follows commit order).

        ``exclusive_parts``: validate under the commit lock that none of
        this chunk's part_ids was committed by a concurrent append —
        the optimistic-concurrency check for exactly-once batch appends
        (watch appends legitimately spread one part across markers and
        skip it). ``no_new_overwrites_since``: the marker-id set
        the caller's data snapshot saw — a compaction must abort if any
        overwrite marker landed since, because its rewritten rows would
        resurrect the pre-overwrite content. ``validate``: called under the
        commit lock with the already-committed marker list; raise
        :class:`CommitConflict` to abort the publish — the generic
        optimistic-concurrency hook for consumers whose conflict rule lives
        outside this module (spark/derived.py: the stage cursor must not
        have moved since the window was computed). ``expect_data``: the
        caller wrote ``data/chunk=K`` and the marker must not publish if
        that directory vanished — a writer slower than a concurrent
        ``gc_orphans`` grace period can have its reserved dir reclaimed
        (the GC deletes under this same lock, so the check is race-free);
        publishing anyway would create a committed marker over no data,
        which reads silently as zero rows forever. With ``expect_data``, a
        publish that loses (:class:`CommitConflict`) also deletes that
        reserved directory. Returns True iff this call published."""
        marker = {
            "chunk_id": chunk_id,
            "part_ids": sorted(part_ids),
            "n_parts": n_parts,
            "metrics": metrics,
            "replaces": sorted(replaces) if replaces else None,
            "overwrite": overwrite or None,
        }
        path = os.path.join(self.commits_dir, f"commit-{chunk_id:06d}.json")
        tmp = path + f".tmp-{os.getpid()}"
        try:
            with self._commit_lock():
                committed = self.committed_chunks()
                if n_parts is not None:
                    # ANY writer's marker with another n_parts would flip
                    # what n_parts() reports and break part-pruned lookups
                    _check_n_parts(self, n_parts, chunks=committed)
                if exclusive_parts:
                    taken = set(part_ids) & {
                        p for c in committed for p in c["part_ids"]
                    }
                    if taken:
                        raise CommitConflict(
                            f"parts {sorted(taken)} were committed by a "
                            f"concurrent writer; chunk {chunk_id} not published"
                        )
                if replaces:
                    # two concurrent compactions replacing the same victims
                    # would BOTH stay visible -> duplicated rows; only the
                    # first replacement of any chunk may commit
                    already = {
                        r for c in committed for r in (c.get("replaces") or [])
                    }
                    twice = set(replaces) & already
                    if twice:
                        raise CommitConflict(
                            f"chunks {sorted(twice)} were already replaced by "
                            f"a concurrent compaction; chunk {chunk_id} not published"
                        )
                if no_new_overwrites_since is not None:
                    fresh_ow = [
                        c["chunk_id"]
                        for c in committed
                        if c.get("overwrite")
                        and c["chunk_id"] not in no_new_overwrites_since
                    ]
                    if fresh_ow:
                        raise CommitConflict(
                            f"overwrite chunks {sorted(fresh_ow)} committed "
                            f"since this compaction's snapshot; chunk "
                            f"{chunk_id} not published"
                        )
                if validate is not None:
                    validate(committed)
                if expect_data and not os.path.isdir(
                    os.path.join(self.data_dir, _chunk_dirname(chunk_id))
                ):
                    raise CommitConflict(
                        f"chunk {chunk_id} data directory vanished before "
                        "publish (reclaimed by a concurrent gc_orphans?); "
                        "not committing a marker over deleted data — rerun "
                        "re-extracts this chunk's parts"
                    )
                # stamp inside the lock: publish order == committed_at order
                marker["committed_at"] = time.time()
                with open(tmp, "w") as f:
                    json.dump(marker, f)
                    f.flush()
                    os.fsync(f.fileno())
                try:
                    os.link(tmp, path)  # atomic, fails if the marker exists
                except FileExistsError:
                    raise CommitConflict(
                        f"commit marker for chunk {chunk_id} already exists"
                    )
                # seed the immutable-marker cache: this writer's next
                # commit re-lists but never re-opens its own markers
                self._marker_cache[os.path.basename(path)] = marker
        except CommitConflict:
            if expect_data and not os.path.exists(path):
                d = os.path.join(self.data_dir, _chunk_dirname(chunk_id))
                shutil.rmtree(d, ignore_errors=True)
            raise
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)
        return True

    # --------------------------------------------------------------- read side

    def _scan_chunks(
        self,
        spark: SparkSession,
        schema,
        whole: list[int],
        partial: list[tuple[int, list[int]]],
    ):
        """ONE parquet scan over ``data/`` resolving a snapshot's chunk
        set declaratively: fully-owned chunks via ``chunk IN (...)``,
        partially-shadowed chunks (rare — created only by a later
        overwrite) via ``chunk = K AND part_id IN (owned)``. Both ``chunk``
        and ``part_id`` are directory-level partition columns, so the whole
        visibility predicate is a PartitionFilter — invisible and
        uncommitted chunk directories are pruned at planning, nothing is
        scanned-and-dropped — and plan build stays flat in chunk count
        (the per-chunk unionByName it replaced built plans superlinearly:
        7.5 / 38 / 156 s at 200 / 1000 / 2000 chunks,
        tools/bench_commitlog.py). Each id list is one SQL literal
        (``pipeline.int_list``). Nothing visible reads the root under
        ``false``: an empty ``LocalTableScan``, which broadcasts jobless."""
        # explicit schema: a committed chunk whose parts got zero docs
        # holds only _SUCCESS, and schema inference over an all-empty
        # table would raise. `chunk` is appended by partition discovery;
        # when NO data file exists anywhere it cannot be discovered, and
        # there is nothing to read either way.
        df = spark.read.schema(schema).parquet(self.data_dir)
        cond = [f"chunk IN ({int_list(whole)})"] if whole else []
        cond += [
            f"(chunk = {cid} AND part_id IN ({int_list(owned)}))"
            for cid, owned in partial
        ]
        if not cond or "chunk" not in df.columns:
            return df.where(F.lit(False)).drop("chunk")
        return df.where(F.expr(" OR ".join(cond))).drop("chunk")

    def _visible_split(
        self,
        as_of: int | None,
        markers: list[dict] | None,
    ) -> tuple[list[int], list[tuple[int, list[int]]]]:
        """Resolve a snapshot to (fully-owned chunk ids, partially-shadowed
        (chunk id, owned part_ids)) — the driver-side read planning, linear
        in chunk count via the shared shadow index."""
        visible = self.visible_chunks(as_of, chunks=markers)  # parsed once
        shadow = self._shadow_index(visible)
        whole: list[int] = []
        partial: list[tuple[int, list[int]]] = []
        for c in visible:
            owned = self._owned_parts(c, visible, shadow)
            if not owned:
                continue
            if len(owned) == len(c["part_ids"]):
                whole.append(c["chunk_id"])
            else:
                partial.append((c["chunk_id"], owned))
        return whole, partial

    def read_extracted(
        self,
        spark: SparkSession,
        as_of: int | None = None,
        markers: list[dict] | None = None,
    ) -> DataFrame:
        """Committed chunks only (uncommitted dirs are invisible); ``as_of``
        time-travels to snapshot N — chunks committed later exist on disk
        but stay invisible, exactly like reading an older Iceberg snapshot.
        ``markers`` pins the committed-marker set to a list the caller
        already captured — compaction MUST read exactly its victim
        snapshot, not whatever has committed since (a marker re-list here
        would fold a concurrent append into the compaction output without
        putting it in ``replaces``, duplicating its rows forever).
        Visibility is ONE PartitionFilter over one scan; see
        :meth:`_scan_chunks`."""
        return self.read_table(spark, EXTRACTED_SCHEMA, as_of, markers)

    def read_table(
        self,
        spark: SparkSession,
        schema,
        as_of: int | None = None,
        markers: list[dict] | None = None,
    ) -> DataFrame:
        """Generic committed read of this log's data under a CALLER-supplied
        schema — for derived tables (spark/signals.py) that reuse the same
        commit-marker visibility protocol with their own row shape.
        ``read_extracted`` is exactly this with EXTRACTED_SCHEMA."""
        whole, partial = self._visible_split(as_of, markers)
        return self._scan_chunks(spark, schema, whole, partial)

    def read_incremental(
        self,
        spark: SparkSession,
        after: int,
        until: int | None = None,
        window: list[dict] | None = None,
        schema=None,
    ) -> DataFrame:
        """Rows appended or overwritten by snapshots in (after, until] — the
        Iceberg incremental-scan analogue, the feed for downstream
        incremental consumers (e.g. ops/dedup.q_dedup_incremental takes
        exactly this delta as its "new batch" side).

        Each marker's data is read whole: an append contributes its new
        parts, an overwrite contributes the refreshed rows (its parts'
        current content). Chunk-level ``replaces`` markers (compaction) are
        EXCLUDED — compaction rewrites bytes, not table content, so a
        consumer that already processed (0, after] must not see those rows
        again.

        The horizon is COMMIT order, not chunk-id order: under concurrent
        writers a low chunk id can commit late, and an id-cursor would skip
        it forever (the consumer's cursor had already advanced past the
        id). ``after``/``until`` name committed snapshots; everything that
        COMMITTED after ``after`` did is in scope, exactly like an Iceberg
        incremental scan walking snapshot history.

        ``window`` reuses a marker list the caller already computed via
        :meth:`incremental_window` (the ``chunks=`` reuse pattern) — the
        guard that inspected the window and the scan that reads it then
        share one listing by construction.

        ``schema`` overrides the row shape for DERIVED tables consumed
        incrementally by a further stage (materialize reads the pack
        table's deltas) — the ``read_table`` twin of this scan."""
        if window is None:
            window = self.incremental_window(after, until)
        ids = [c["chunk_id"] for c in window]
        # each marker's data is read whole here (an overwrite's parts ARE
        # its current content), so the scan needs no part_id conditions
        return self._scan_chunks(spark, schema or EXTRACTED_SCHEMA, ids, [])

    def incremental_window(
        self,
        after: int | None,
        until: int | None = None,
        chunks: list[dict] | None = None,
    ) -> list[dict]:
        """The markers whose rows ``read_incremental(after, until)`` reads:
        committed strictly after ``after``'s marker in COMMIT order (id
        fallback when ``after`` is not a committed snapshot, e.g. the
        -1/None cold start), compaction rewrites (``replaces``) excluded.

        Factored out as the ONE definition of the window so a consumer that
        must DECIDE on it before reading (spark/derived.py inspects the
        markers for partition overwrites and refuses the append-shaped
        delta) can never drift from the scan that reads it."""
        if chunks is None:  # chunks= reuses a caller-parsed list
            chunks = self.committed_chunks(until)  # commit order
        lo = next((c for c in chunks if c["chunk_id"] == after), None)
        lo_key = self._commit_order(lo) if lo is not None else None
        out = []
        for c in chunks:
            if c.get("replaces"):
                continue
            if lo_key is not None:
                if self._commit_order(c) <= lo_key:
                    continue
            elif after is not None and c["chunk_id"] <= after:
                continue
            out.append(c)
        return out

    def part_status(self) -> dict[str, int]:
        """Visible (chunk, part) pairs by status from the markers alone, no
        data scan: ``error`` if the marker's ``error_parts`` lists the part.
        Markers older than ``error_parts`` know it only without failures."""
        visible = self.visible_chunks()
        shadow = self._shadow_index(visible)
        out: collections.Counter = collections.Counter()
        for c in visible:
            m = c.get("metrics") or {}
            bad = m.get("error_parts", None if m.get("failures") else [])
            for p in self._owned_parts(c, visible, shadow):
                out["unknown" if bad is None else "error" if p in bad else "success"] += 1
        return dict(out)


def resume_filter(
    documents: DataFrame,
    log: CommitLog,
    n_parts: int,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Drop documents whose logical partition is already committed.

    The anti-join from SURVEY.md §2.2-P3 (the reference's skip-if-complete
    check, helper.py:51-70, lifted to partition granularity) as a
    ``part_id NOT IN (...)`` predicate: the committed set is tiny (one int
    per partition), so it is one SQL literal built in one py4j call — no
    join, no broadcast and no Python-side relation (a broadcast
    ``createDataFrame`` of the set cost a Python job on every resumed run).
    ``keep_cols`` preserves extra input columns through the early
    projection (e.g. a per-doc password column).
    """
    done = sorted(log.committed_part_ids())
    docs = assign_part_id(
        documents.select("doc_id", "spans", *keep_cols), n_parts
    )
    return docs.where(~in_parts(done)) if done else docs


def observed_rollup(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with a chunk commit's rollup attached as an ``Observation``:
    ``docs``, the sorted ``part_ids`` touched and, for extraction rows,
    ``pages`` and ``failures`` (0 when no row lands) and the sorted
    ``error_parts`` holding a doc that failed. Spark merges it from
    the consuming action's result stage once per partition, so the rollup
    costs no job and a retried or speculative task never double-counts."""
    obs = Observation()
    aggs = [
        F.count(F.lit(1)).alias("docs"),
        F.array_sort(F.collect_set("part_id")).alias("part_ids"),
    ]
    if "pages_parsed" in df.columns:  # derived tables carry only the count
        aggs += [
            F.coalesce(F.sum(c), F.lit(0)).alias(k)
            for k, c in (("pages", "pages_parsed"), ("failures", "parse_failures"))
        ]
        failed = F.when(F.col("parse_failures") > 0, F.col("part_id"))
        aggs.append(F.array_sort(F.collect_set(failed)).alias("error_parts"))
    return df.observe(obs, *aggs), obs


def write_observed(df: DataFrame, path: str) -> dict:
    """Write ``df`` into a chunk directory as ``part_id=P/`` parquet (the
    Iceberg partition-spec analogue: lookups prune whole directories) and
    return its :func:`observed_rollup`. mode=append, NOT overwrite: the
    chunk directory was mkdir-RESERVED, and overwrite would delete it first,
    momentarily releasing the reservation to a racing writer."""
    observed, obs = observed_rollup(df)
    observed.write.partitionBy("part_id").mode("append").parquet(path)
    return obs.get


class _Behind(Exception):
    """A compaction marker would not be the newest snapshot yet."""


def compact_chunks(
    spark: SparkSession, log: CommitLog, min_chunks: int = 2, schema=None
) -> int | None:
    """Rewrite all currently-visible chunks into ONE new chunk that replaces
    them — the ``rewrite_data_files`` (bin-packing compaction) analogue.

    ``schema`` compacts a DERIVED table (ocr/signals/curate/neardup/pack/
    materialize — the same small-file accretion, one chunk per
    incremental window): the data is read under the stage's row shape
    and the marker records only the doc count. The stage CURSOR
    survives: markers are kept by replaces/expiry, ``latest_metric``
    skips the compaction marker's null ``src_snapshot``/``scope``/``cost``,
    and ``incremental_window`` excludes ``replaces`` markers — so a
    post-compaction incremental run neither re-consumes history nor skips
    the next source window (pinned in tests/test_signals.py).

    Long-running ingestion accretes one chunk per incremental run; at scale
    that is the classic small-file problem (every read opens
    chunks x parts files, and the scan planner pays per file). Compaction
    writes the union once through the extraction stage's part-keyed
    exchange (``balance_partitions``: whole parts per task, at most 32
    tasks), so each part_id lands in exactly one task and therefore exactly
    one file per partition directory, then publishes a marker with
    ``replaces`` — the same atomic tmp+rename commit as a data chunk, so a
    crash mid-compaction leaves the original chunks visible and the
    half-written directory invisible. The marker's docs/pages/failures are
    observed on the rewrite itself, so they count the rows the new chunk
    holds (parts a later overwrite shadowed are not in it). Time travel to
    pre-compaction snapshots still resolves (the shadowing marker is >
    as_of) until ``expire_replaced`` reclaims them.

    The marker is the newest snapshot by construction (ids stay monotonic
    in commit order, and the compaction never aborts for it): if a later
    reservation commits first, the rewrite is renamed onto a fresh id, and
    the publish waits for chunks reserved below it that are still being
    written (unmarked, younger than ``ORPHAN_GRACE_S``; older ones are
    orphans). A real conflict (a concurrent compaction or overwrite)
    deletes the rewrite and raises :class:`CommitConflict`.

    The publish is its own loop, not :func:`_write_chunk`'s, because the
    rewrite may move to a later chunk id after its data is written.

    Returns the new chunk id, or None if there is nothing to compact.
    """
    # pin the snapshot ONCE: the data read and the commit's conflict
    # window all reference this exact marker list — a re-list between here
    # and the commit would fold concurrently-appended chunks into the
    # compaction output without replacing them (permanent duplicates)
    snapshot = log.committed_chunks()
    snapshot_ids = {c["chunk_id"] for c in snapshot}
    victims = log.visible_chunks(chunks=snapshot)
    if len(victims) < min_chunks:
        return None
    victim_ids = [c["chunk_id"] for c in victims]
    part_ids = sorted({p for c in victims for p in c["part_ids"]})
    new_id = log.reserve_chunk_id()

    data = log.read_table(spark, schema or EXTRACTED_SCHEMA, markers=snapshot)
    data_path = os.path.join(log.data_dir, _chunk_dirname(new_id))
    observed = write_observed(
        balance_partitions(data, part_ids, num_partitions=min(len(part_ids), 32)),
        data_path,
    )
    metrics = {k: v for k, v in observed.items() if k != "part_ids"}
    metrics["compacted_from"] = len(victims)

    def newest(committed: list[dict]) -> None:
        top = max((c["chunk_id"] for c in committed), default=-1)
        live = time.time() - ORPHAN_GRACE_S
        if top > new_id or any(top < k < new_id and t >= live for k, _, t in log._chunk_dirs()):
            raise _Behind()

    while True:
        if log.next_chunk_id() > new_id:  # a later reservation committed first
            new_id = log.reserve_chunk_id()
            moved = os.path.join(log.data_dir, _chunk_dirname(new_id))
            os.replace(data_path, moved)  # onto the empty reserved dir
            data_path = moved
        try:
            # no_new_overwrites_since: an overwrite landing after the
            # snapshot would be silently undone by our pre-overwrite rows
            log.commit_chunk(
                new_id,
                part_ids,
                metrics,
                n_parts=log.n_parts(),
                replaces=victim_ids,
                no_new_overwrites_since=snapshot_ids,
                validate=newest,
                expect_data=True,
            )
            return new_id
        except _Behind:
            time.sleep(0.05)


def _write_chunk(
    spark: SparkSession,
    log: CommitLog,
    df: DataFrame,
    chunk_id: int,
    chunk_parts: list[int] | None,
    n_parts: int | None,
    overwrite: bool = False,
    exclusive_parts: bool = False,
    extra_metrics: dict | None = None,
    validate=None,
) -> dict:
    """Write one chunk's rows into its reserved directory, then flip the
    marker: the one write-and-publish of every appending writer (extract,
    refresh, a watch batch, a derived stage). The marker's metrics are
    the write's own rollup (:func:`observed_rollup`, written and counted in
    one job) minus ``part_ids``, plus ``extra_metrics``.
    ``chunk_parts=None`` records the parts the write touched. Returns the
    rollup with ``extra_metrics`` merged in."""
    observed = {
        **write_observed(df, os.path.join(log.data_dir, _chunk_dirname(chunk_id))),
        **(extra_metrics or {}),
    }
    log.commit_chunk(
        chunk_id,
        observed["part_ids"] if chunk_parts is None else chunk_parts,
        {k: v for k, v in observed.items() if k != "part_ids"},
        n_parts=n_parts,
        overwrite=overwrite,
        exclusive_parts=exclusive_parts,
        validate=validate,
        expect_data=True,
    )
    return observed


@contextlib.contextmanager
def _parse_input(spark, docs, n_parts, parts, parts_per_chunk, num_partitions, passwords,
                 password_col):
    """The parse input of run_extraction, reextract_parts and run_watch.
    ``docs`` carries ``part_id`` and the caller's filter: an append drops
    the committed parts (:func:`resume_filter`), a refresh keeps ``parts``,
    a watch batch keeps every row. Yields ``parse(chunk_parts)``, one
    chunk's lazy extraction; chunks are slices of ``parts`` of at most
    ``parts_per_chunk``.

    - Sizing, decided here only: a chunk with more parts than cores and no
      ``num_partitions`` runs one wave of ``defaultParallelism`` tasks,
      whole parts packed by payload bytes (``pipeline.part_bytes``, one
      JVM-only aggregation per call). Other chunks pay no sizing pass.
    - Persist: an input read more than once (sized, or several chunks) is
      persisted (MEMORY_AND_DISK) until exit. At 10^12-doc scale the input
      is a table partitioned by part_id, each chunk's scan is pruned, and
      nothing is cached."""
    cores = spark.sparkContext.defaultParallelism

    def sized(n_chunk_parts: int) -> bool:
        return num_partitions is None and n_chunk_parts > cores

    # no chunk is larger than the first
    sized_first = sized(min(parts_per_chunk, len(parts)))
    reread = sized_first or len(parts) > parts_per_chunk
    if reread:
        docs = docs.persist()
    try:
        sizes = part_bytes(docs) if sized_first else None

        def parse(chunk_parts: list[int]) -> DataFrame:
            return extract_documents(
                docs, n_parts=n_parts, num_partitions=num_partitions, passwords=passwords,
                password_col=password_col, parts=chunk_parts,
                sizes=sizes if sized(len(chunk_parts)) else None,
            )

        yield parse
    finally:
        if reread:
            docs.unpersist()


def reextract_parts(
    spark: SparkSession,
    documents: DataFrame,
    log: CommitLog,
    parts: list[int],
    num_partitions: int | None = None,
    passwords: tuple[bytes, ...] = (),
    password_col: str | None = None,
) -> RunReport:
    """Re-extract CHANGED partitions in place — the dynamic-partition-
    overwrite analogue (Iceberg ``overwritePartitions``).

    When upstream documents change (re-crawl, fixed upstream parser), the
    affected partitions are re-run through the SAME extraction stage and
    committed as one chunk with ``overwrite=True``: the overwrite marker
    shadows these parts in every chunk committed before it
    (:meth:`CommitLog._owned_parts`), so the stale spans disappear
    atomically at the commit flip — no rewrite of old chunks, no reader
    ever sees a mix of old and new rows for one partition, and time travel
    to a pre-overwrite snapshot still reads the original extraction.
    Unlisted partitions are untouched; an empty ``parts`` list commits
    nothing and launches no job. The parse input and its task count are
    :func:`_parse_input`'s, with all of ``parts`` as one chunk.
    """
    n_parts = log.n_parts()
    if n_parts is None:
        raise ValueError("empty table: nothing to overwrite (run_extraction first)")
    missing = set(parts) - log.committed_part_ids()
    if missing:
        raise ValueError(
            f"parts never committed: {sorted(missing)} — append them via run_extraction"
        )
    parts = sorted(set(parts))
    if not parts:
        return RunReport(0, 0, 0, 0)
    keep_cols = () if password_col is None else (password_col,)
    docs = assign_part_id(documents.select("doc_id", "spans", *keep_cols), n_parts)
    with _parse_input(
        spark, docs.where(in_parts(parts)), n_parts, parts, len(parts), num_partitions,
        passwords, password_col,
    ) as parse:
        extracted = parse(parts)
        chunk_id = log.reserve_chunk_id()
        metrics = _write_chunk(
            spark, log, extracted, chunk_id, parts, n_parts, overwrite=True
        )
    return RunReport(1, len(parts), metrics["docs"], 0)


def _check_n_parts(log: CommitLog, n_parts: int, chunks: list[dict] | None = None) -> None:
    """The one n_parts rule: a table keeps the n_parts it was written with.
    Writing with another re-hashes every doc to a new part_id, so
    "uncommitted" parts would re-extract docs already in the table. Called
    before any Spark job (extract, watch) and under the commit lock
    (``commit_chunk``, with the locked listing as ``chunks``)."""
    existing = log.n_parts(chunks=chunks)
    if existing is not None and existing != n_parts:
        raise TableContractError(
            f"table at {log.root} was written with n_parts={existing}; "
            f"refusing to write with n_parts={n_parts}"
        )


def run_extraction(
    spark: SparkSession,
    documents: DataFrame,
    log: CommitLog,
    n_parts: int = 256,
    parts_per_chunk: int = 64,
    num_partitions: int | None = None,
    fail_after_chunks: int | None = None,
    passwords: tuple[bytes, ...] = (),
    password_col: str | None = None,
) -> RunReport:
    """Resumable driver: process uncommitted part_ids in chunk-sized jobs.

    Each chunk = one Spark job parsing and writing its spans parquet (after
    the exchange's map stage), then an atomic commit marker.
    ``fail_after_chunks`` injects a crash for the kill-and-resume test.

    Task count (:func:`_parse_input`): a chunk with more parts than cores
    parses in ONE wave of ``defaultParallelism`` Python tasks, whole parts
    packed by payload bytes; a chunk with no more parts than cores (the
    10^12-doc regime) splits its parts over the cores. So
    ``parts_per_chunk`` is only the commit (work-at-risk) granularity;
    ``num_partitions`` overrides the task count.

    Safe under CONCURRENT writers on the same table root: chunk ids are
    mkdir-reserved (never shared), the committed set is re-read before each
    chunk so parts another writer finished are skipped instead of re-run,
    and the marker publish itself validates part exclusivity under the
    commit lock — if a rival lands a part between our re-read and our
    publish, ``CommitConflict`` makes THIS chunk the loser: its staged data
    is never marked (invisible) and is deleted, and its parts
    are retried against the refreshed committed set, converging with zero
    duplicate rows. Two drivers pointed at the same root therefore split
    the partition space dynamically instead of corrupting the table.
    """
    if n_parts < 1 or parts_per_chunk < 1:
        # parts_per_chunk=0 slices an empty chunk forever
        raise ValueError(
            f"n_parts={n_parts} and parts_per_chunk={parts_per_chunk} must be >= 1"
        )
    _check_n_parts(log, n_parts)
    done = log.committed_part_ids()
    todo = [p for p in range(n_parts) if p not in done]
    report = RunReport(0, 0, 0, len(done))
    if not todo:
        return report

    keep_cols = () if password_col is None else (password_col,)
    with _parse_input(
        spark, resume_filter(documents, log, n_parts, keep_cols=keep_cols), n_parts, todo,
        parts_per_chunk, num_partitions, passwords, password_col,
    ) as parse:
        pending = list(todo)
        while pending:
            # re-read the committed set: a concurrent writer may have
            # finished some of our pending parts since the last chunk
            done_now = log.committed_part_ids()
            fresh = [p for p in pending if p not in done_now]
            report.parts_skipped += len(pending) - len(fresh)
            pending = fresh
            if not pending:
                break
            chunk_parts = pending[:parts_per_chunk]
            pending = pending[parts_per_chunk:]
            extracted = parse(chunk_parts)
            chunk_id = log.reserve_chunk_id()
            try:
                # empty part_ids (no docs hashed to them) still count as committed
                agg = _write_chunk(
                    spark, log, extracted, chunk_id, chunk_parts, n_parts,
                    exclusive_parts=True,
                )
            except CommitConflict:
                # rival writer landed one of these parts mid-chunk: our data
                # was never marked; retry the parts against the refreshed set
                pending = chunk_parts + pending
                continue
            report.chunks_committed += 1
            report.parts_processed += len(chunk_parts)
            report.docs_processed += agg["docs"]
            if (
                fail_after_chunks is not None
                and report.chunks_committed >= fail_after_chunks
            ):
                raise RuntimeError("injected failure for kill-and-resume test")
    return report


# drop files per watch batch, one committed chunk each
WATCH_BATCH_FILES = 4


def _drop_files(drop_dir: str) -> list[str]:
    """A drop directory's files in ingest order, from one listing: the
    regular files directly in it, any extension, but no name starting with
    ``_`` or ``.`` (a producer's temporaries); oldest mtime first, ties by
    name. Each is named by the directory's realpath and its own name."""
    base = os.path.realpath(drop_dir)
    with os.scandir(base) as entries:
        found = [(e.stat().st_mtime, e.name) for e in entries
                 if e.name[0] not in "_." and e.is_file()]
    return [os.path.join(base, name) for _, name in sorted(found)]


def _unnamed(files: list[str], markers: list[dict]) -> list[str]:
    """``files`` less those the markers name (the watch cursor), in order."""
    named = {f for c in markers for f in (c.get("metrics") or {}).get("files", ())}
    return [f for f in files if f not in named]


def run_watch(
    spark: SparkSession,
    drop_dir: str,
    log: CommitLog,
    n_parts: int,
    fmt: str,
    num_partitions: int | None = None,
    passwords: tuple[bytes, ...] = (),
) -> RunReport:
    """Drain a drop directory of documents files (``fmt`` is ``"parquet"``
    or ``"jsonl"``) into the table, one committed chunk per batch of
    ``WATCH_BATCH_FILES`` files.

    The cursor is the markers: each names its batch's files
    (``metrics.files``), and a run reads the files of one listing
    (:func:`_drop_files`) that no marker names, so a rerun after a crash
    re-reads exactly the batches that never committed, and a zero-row file
    is not re-read. A batch whose files a rival watch committed first
    fails its publish (checked under the commit lock), its data is
    deleted, and the run goes on with the files still unnamed: each file
    lands exactly once. Parts are not exclusive; a part spans many batches.
    Each batch parses through :func:`_parse_input` as one chunk of every
    part. No reader opens a file whose name holds ``:`` (not a Hadoop
    path): every other file commits, then the run raises ``ValueError``."""
    from ..ops.jsonl_source import read_documents

    _check_n_parts(log, n_parts)
    pending = _drop_files(drop_dir)
    unreadable = [f for f in pending if ":" in os.path.basename(f)]
    pending = [f for f in pending if f not in unreadable]
    parts = list(range(n_parts))
    report = RunReport(0, 0, 0, 0)
    touched: set[int] = set()
    while pending := _unnamed(pending, log.committed_chunks()):
        batch = pending[:WATCH_BATCH_FILES]

        def unclaimed(committed: list[dict], batch=batch) -> None:
            if _unnamed(batch, committed) != batch:
                raise CommitConflict(f"a concurrent watch committed some of {batch}")

        # names are literal: escape what the reader would expand as a glob
        paths = [re.sub(r"([\\[\]{}*?\\])", r"\\\1", f) for f in batch]
        docs = read_documents(spark, paths, fmt)
        with _parse_input(
            spark, assign_part_id(docs, n_parts), n_parts, parts, n_parts, num_partitions,
            passwords, None,
        ) as parse:
            extracted = parse(parts)
            try:
                agg = _write_chunk(
                    spark, log, extracted, log.reserve_chunk_id(), None, n_parts,
                    extra_metrics={"files": batch}, validate=unclaimed,
                )
            except CommitConflict:
                continue  # the next pass drops the files the rival named
        report.chunks_committed += 1
        report.docs_processed += agg["docs"]
        touched.update(agg["part_ids"])
    if unreadable:
        raise ValueError(
            f"cannot read {unreadable}: a ':' in a file name is not a valid "
            "Hadoop path; rename them (every other file is committed)"
        )
    report.parts_processed = len(touched)
    return report
