"""Concurrent-writer safety of the CommitLog (Iceberg optimistic-concurrency
analogue): mkdir-reserved chunk ids, no-clobber marker publish, append
validation under the commit lock, orphan GC.

Motivated by a live probe: two uncoordinated drivers appending to one table
root under the pre-reservation scheme produced 46 duplicate rows out of 800
(both writers derived overlapping todo sets and clobbered markers via
rename). These tests pin the fixed semantics.
"""

import os
import threading
import time

import pytest

import pdf_extractor_spark.spark.lineage as L
from pdf_extractor_spark.corpus import corpus_df


def test_marker_publish_never_clobbers(tmp_path):
    log = L.CommitLog(str(tmp_path / "t"))
    assert log.commit_chunk(0, [0, 1], {"docs": 2}) is True
    with pytest.raises(L.CommitConflict, match="already exists"):
        log.commit_chunk(0, [2, 3], {"docs": 2})
    # the loser's marker must not have replaced the winner's
    assert log.committed_chunks()[0]["part_ids"] == [0, 1]
    assert log.committed_part_ids() == {0, 1}


def test_exclusive_parts_conflict(tmp_path):
    log = L.CommitLog(str(tmp_path / "t"))
    log.commit_chunk(0, [0, 1], {"docs": 2})
    with pytest.raises(L.CommitConflict, match=r"parts \[1\]"):
        log.commit_chunk(1, [1, 2], {"docs": 2}, exclusive_parts=True)
    # non-exclusive append (streaming: one part spans many markers) is fine
    assert log.commit_chunk(1, [1, 2], {"docs": 2}) is True


def test_double_compaction_conflict(tmp_path):
    """Two compactions replacing the same victims must not both publish —
    both staying visible would duplicate every row of the victims."""
    log = L.CommitLog(str(tmp_path / "t"))
    log.commit_chunk(0, [0], {"docs": 1})
    log.commit_chunk(1, [1], {"docs": 1})
    log.commit_chunk(2, [0, 1], {"docs": 2}, replaces=[0, 1])
    with pytest.raises(L.CommitConflict, match="already replaced"):
        log.commit_chunk(3, [0, 1], {"docs": 2}, replaces=[0, 1])
    visible = {c["chunk_id"] for c in log.visible_chunks()}
    assert visible == {2}


def test_overwrite_shadowing_follows_commit_order(tmp_path):
    """Chunk ids are assigned at reserve time: a slow writer can commit a
    LOW id after a rival committed a higher one. Overwrite shadowing must
    follow commit order, not id order, or the late overwrite fails to
    shadow the earlier-committed append."""
    log = L.CommitLog(str(tmp_path / "t"))
    # append with id 2 commits FIRST; overwrite with id 1 commits LATER
    log.commit_chunk(2, [0, 1], {"docs": 2})
    log.commit_chunk(1, [0], {"docs": 1}, overwrite=True)
    visible = log.visible_chunks()
    by_id = {c["chunk_id"]: c for c in visible}
    assert log._owned_parts(by_id[2], visible) == [1]  # part 0 shadowed
    assert log._owned_parts(by_id[1], visible) == [0]


def test_compaction_rejected_after_concurrent_overwrite(tmp_path):
    """An overwrite landing between a compaction's snapshot and its commit
    would be silently undone by the compaction's rewritten pre-overwrite
    rows — the compaction must lose."""
    log = L.CommitLog(str(tmp_path / "t"))
    log.commit_chunk(0, [0], {"docs": 1})
    log.commit_chunk(1, [1], {"docs": 1})
    snapshot_ids = {0, 1}  # compaction plans against this view
    log.commit_chunk(2, [0], {"docs": 1}, overwrite=True)  # rival overwrite
    with pytest.raises(L.CommitConflict, match="overwrite chunks \\[2\\]"):
        log.commit_chunk(
            3, [0, 1], {"docs": 2},
            replaces=[0, 1], no_new_overwrites_since=snapshot_ids,
        )
    # without a mid-flight overwrite the same commit succeeds
    assert log.commit_chunk(
        3, [0, 1], {"docs": 2},
        replaces=[0, 1], no_new_overwrites_since={0, 1, 2},
    )


def test_incremental_window_commit_order_and_replaces(tmp_path):
    """``incremental_window`` is THE definition of a consumer's delta
    (``read_incremental`` reads exactly it; spark/derived.py's overwrite
    guard inspects exactly it): strictly after the cursor in COMMIT order —
    a late-committed LOW id is included, not skipped — with compaction
    rewrites excluded and an id fallback on the cold start."""
    log = L.CommitLog(str(tmp_path / "t"))
    log.commit_chunk(0, [0], {"docs": 1})                       # the cursor
    log.commit_chunk(2, [1], {"docs": 1})                       # high id first
    log.commit_chunk(1, [0], {"docs": 1}, overwrite=True)       # low id, LATE
    log.commit_chunk(3, [0, 1], {"docs": 2}, replaces=[0, 2])   # compaction

    ids = [c["chunk_id"] for c in log.incremental_window(0)]
    assert ids == [2, 1]  # commit order; late low id in; replaces out

    # the late overwrite is visible to the derived-stage guard
    assert any(c.get("overwrite") for c in log.incremental_window(0))

    # cold start: id fallback admits everything non-replaces, commit order
    assert [c["chunk_id"] for c in log.incremental_window(None)] == [0, 2, 1]
    assert [c["chunk_id"] for c in log.incremental_window(-1)] == [0, 2, 1]

    # until= pins guard and scan to one horizon under concurrent writers
    assert [c["chunk_id"] for c in log.incremental_window(0, until=2)] == [2]


def test_reserve_chunk_id_skips_claimed_dirs(tmp_path):
    log = L.CommitLog(str(tmp_path / "t"))
    assert log.reserve_chunk_id() == 0
    # a rival (or crashed run) holds chunk-000001's directory
    os.mkdir(os.path.join(log.data_dir, "chunk=000001"))
    assert log.reserve_chunk_id() == 2
    # committed markers advance the starting candidate too
    log.commit_chunk(7, [0], {"docs": 1})
    assert log.reserve_chunk_id() == 8


def test_gc_orphans(tmp_path):
    log = L.CommitLog(str(tmp_path / "t"))
    committed = os.path.join(log.data_dir, "chunk=000000")
    orphan = os.path.join(log.data_dir, "chunk=000001")
    os.mkdir(committed)
    os.mkdir(orphan)
    log.commit_chunk(0, [0], {"docs": 1})
    old = time.time() - 7200
    os.utime(orphan, (old, old))
    os.utime(committed, (old, old))
    removed = log.gc_orphans(grace_s=3600)
    assert removed == [orphan]
    assert os.path.isdir(committed) and not os.path.exists(orphan)
    # a FRESH unmarked dir (live writer's reservation) is never swept
    fresh = os.path.join(log.data_dir, "chunk=000002")
    os.mkdir(fresh)
    assert log.gc_orphans(grace_s=3600) == []
    assert os.path.isdir(fresh)


def test_gc_orphans_spares_chunk_committed_after_listing(tmp_path):
    """Check-then-act closure (review finding): a writer that commits in
    the window between gc_orphans' unlocked listing and the locked delete
    must keep its data — the locked re-check sees the fresh marker."""
    log = L.CommitLog(str(tmp_path / "t"))
    slow = os.path.join(log.data_dir, "chunk=000005")
    os.mkdir(slow)
    old = time.time() - 7200
    os.utime(slow, (old, old))

    # simulate the racing writer landing its marker AFTER the unlocked
    # listing but BEFORE the locked re-check: _bump_highwater runs under
    # the lock right before the re-check, so hook the marker write there
    real_bump = L.CommitLog._bump_highwater

    def bump_and_commit(self, cid):
        import json

        with open(
            os.path.join(self.commits_dir, "commit-000005.json"), "w"
        ) as f:
            json.dump({"chunk_id": 5, "part_ids": [0], "metrics": {},
                       "committed_at": time.time()}, f)
        return real_bump(self, cid)

    L.CommitLog._bump_highwater = bump_and_commit
    try:
        removed = log.gc_orphans(grace_s=3600)
    finally:
        L.CommitLog._bump_highwater = real_bump
    assert removed == []
    assert os.path.isdir(slow)  # the committed chunk's data survived


def test_commit_refuses_marker_over_reclaimed_data(tmp_path):
    """expect_data (review finding): a writer whose reserved data dir was
    reclaimed by a concurrent gc_orphans must fail its commit loudly —
    never publish a marker that reads as zero rows forever."""
    log = L.CommitLog(str(tmp_path / "t"))
    cid = log.reserve_chunk_id()
    ddir = os.path.join(log.data_dir, f"chunk={cid:06d}")
    assert os.path.isdir(ddir)  # reserve_chunk_id mkdir'd it
    import shutil

    shutil.rmtree(ddir)  # the concurrent GC
    with pytest.raises(L.CommitConflict, match="vanished"):
        log.commit_chunk(cid, [0], {"docs": 1}, expect_data=True)
    assert not os.path.exists(
        os.path.join(log.commits_dir, f"commit-{cid:06d}.json")
    )
    # with the dir present the same commit publishes
    os.makedirs(ddir)
    assert log.commit_chunk(cid, [0], {"docs": 1}, expect_data=True)


def test_two_concurrent_writers_exactly_once(spark, tmp_path):
    """Two drivers append the same corpus to one table root simultaneously:
    the table must end with every doc exactly once and every part committed
    by exactly one exclusive append."""
    root = str(tmp_path / "shared")
    docs = corpus_df(spark, 96)
    log_a, log_b = L.CommitLog(root), L.CommitLog(root)
    errors: list[BaseException] = []

    def writer(log):
        try:
            L.run_extraction(spark, docs, log, n_parts=12, parts_per_chunk=2)
        except BaseException as e:  # surfaced below; never swallowed
            errors.append(e)

    threads = [
        threading.Thread(target=writer, args=(log_a,)),
        threading.Thread(target=writer, args=(log_b,)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors

    # every part committed exactly once across all markers
    all_parts = [p for c in log_a.committed_chunks() for p in c["part_ids"]]
    assert sorted(all_parts) == list(range(12))

    # every doc exactly once in the visible table
    rows = log_a.read_extracted(spark).select("doc_id").collect()
    ids = [r["doc_id"] for r in rows]
    assert len(ids) == 96 and len(set(ids)) == 96

    # conflict losers' staged dirs (if any) are unmarked -> GC reclaims them
    marked = {c["chunk_id"] for c in log_a.committed_chunks()}
    on_disk = {
        int(n.split("=")[1])
        for n in os.listdir(log_a.data_dir)
        if n.startswith("chunk=")
    }
    orphans = on_disk - marked
    removed = log_a.gc_orphans(grace_s=0)
    assert len(removed) >= len(orphans)
    assert log_a.read_extracted(spark).count() == 96  # GC never touches data

def test_chunk_ids_never_reused_after_gc(tmp_path):
    """gc_orphans reclaiming an orphan dir must NOT free its id: a stale
    artifact stamped with the dead chunk's id (e.g. a crashed OCR-queue
    staging dir) could otherwise be adopted by an unrelated later chunk
    committing under the recycled id."""
    log = L.CommitLog(str(tmp_path / "t"))
    assert log.reserve_chunk_id() == 0
    orphan = log.reserve_chunk_id()
    assert orphan == 1
    old = time.time() - 7200
    path = os.path.join(log.data_dir, "chunk=000001")
    os.utime(path, (old, old))
    assert log.gc_orphans(grace_s=3600) == [path]
    # the dir is gone but the highwater keeps the id retired forever
    assert log.reserve_chunk_id() == 2


def test_legacy_pre_highwater_orphan_id_never_reused(tmp_path):
    """ADVICE r03: an orphan whose id was reserved BEFORE the highwater file
    existed (an upgraded table — the dir is on disk but no reservation ever
    bumped the floor) must ALSO be retired by gc_orphans, or a later
    reservation would hand the reclaimed id out again."""
    log = L.CommitLog(str(tmp_path / "t"))
    # simulate the upgraded table: chunk dirs exist, no highwater file
    old = time.time() - 7200
    for cid in (0, 5):
        path = os.path.join(log.data_dir, f"chunk={cid:06d}")
        os.makedirs(path)
        os.utime(path, (old, old))
    assert not os.path.exists(os.path.join(log.commits_dir, "chunk-id-highwater"))
    removed = log.gc_orphans(grace_s=3600)
    assert len(removed) == 2
    # ids 0..5 are burned even though no reservation ever recorded them
    assert log.reserve_chunk_id() == 6


def test_commit_chunk_rejects_mismatched_n_parts(tmp_path):
    """The n_parts guard lives at the COMMIT layer, not just run_extraction:
    a streaming append with a different n_parts would flip log.n_parts()
    and silently break part-pruned point lookups."""
    import pytest

    log = L.CommitLog(str(tmp_path / "t"))
    log.commit_chunk(0, [0], {"docs": 1}, n_parts=8)
    # NOT CommitConflict: run_extraction retries CommitConflict, and a
    # contract violation retried forever would livelock + leak orphans
    with pytest.raises(L.TableContractError, match="n_parts=8"):
        log.commit_chunk(1, [1], {"docs": 1}, n_parts=64)
    assert not isinstance(
        L.TableContractError("x"), L.CommitConflict
    )
    # same value (or a marker that doesn't record one) still commits
    assert log.commit_chunk(1, [1], {"docs": 1}, n_parts=8)
    assert log.commit_chunk(2, [2], {"docs": 1})


def test_legacy_layout_fails_loudly_and_migrates(tmp_path, spark):
    """A pre-Hive-layout table (chunk-K dirs) must never read as silently
    empty: opening it raises with migration instructions, and
    migrate_layout renames chunk-K -> chunk=K after which reads see every
    committed row again (markers/ids are layout-independent)."""
    import pytest

    root = str(tmp_path / "t")
    log = L.CommitLog(root)
    docs = spark.createDataFrame(
        [(f"d{i}", [("text", f"t{i}", "", 0)]) for i in range(6)],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    L.run_extraction(spark, docs, log, n_parts=2, parts_per_chunk=1)
    want = {r["doc_id"] for r in log.read_extracted(spark).collect()}
    assert len(want) == 6

    # downgrade the table to the legacy layout
    for name in os.listdir(log.data_dir):
        if name.startswith("chunk="):
            os.rename(
                os.path.join(log.data_dir, name),
                os.path.join(log.data_dir, name.replace("chunk=", "chunk-")),
            )

    with pytest.raises(L.TableContractError, match="migrate_layout"):
        L.CommitLog(root)

    renamed = L.CommitLog.migrate_layout(root)
    assert renamed and all("chunk=" in p for p in renamed)
    # idempotent: a resumed migration after a crash is a no-op
    assert L.CommitLog.migrate_layout(root) == []
    log2 = L.CommitLog(root)
    assert {r["doc_id"] for r in log2.read_extracted(spark).collect()} == want
    # gc/orphan accounting sees migrated dirs again
    assert log2.gc_orphans(grace_s=3600) == []


def test_chaos_append_compact_expire_concurrently(spark, tmp_path):
    """Chaos probe for the maintenance protocol: while one writer appends
    the corpus in many small chunks, a compactor thread repeatedly
    rewrites whatever snapshot it catches and a retention thread runs
    orphan GC + replaced-chunk expiry the whole time. Whatever interleaving
    occurs, the final visible table must hold every doc exactly once, and
    a final compact+expire must leave reads byte-identical."""
    root = str(tmp_path / "chaos")
    docs = corpus_df(spark, 96)
    log = L.CommitLog(root)
    stop = threading.Event()
    errors: list[BaseException] = []

    def appender():
        try:
            # parts_per_chunk=1 -> 12 separate commits spread over time
            L.run_extraction(spark, docs, log, n_parts=12, parts_per_chunk=1)
        except BaseException as e:
            errors.append(e)
        finally:
            stop.set()

    def compactor():
        mylog = L.CommitLog(root)
        while not stop.is_set():
            try:
                L.compact_chunks(spark, mylog, min_chunks=2)
            except L.CommitConflict:
                pass  # lost to a concurrent maintenance commit: fine
            except BaseException as e:  # pragma: no cover - surfaced below
                errors.append(e)
                return
            time.sleep(0.02)

    def retention():
        mylog = L.CommitLog(root)
        while not stop.is_set():
            try:
                mylog.gc_orphans(grace_s=3600)  # never sweeps live staging
                mylog.expire_replaced()
            except BaseException as e:  # pragma: no cover - surfaced below
                errors.append(e)
                return
            time.sleep(0.02)

    threads = [
        threading.Thread(target=appender),
        threading.Thread(target=compactor),
        threading.Thread(target=retention),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors

    def visible_ids():
        return sorted(
            r["doc_id"] for r in log.read_extracted(spark).select("doc_id").collect()
        )

    want = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    assert visible_ids() == want  # exactly once, no loss, no duplicates

    # quiesced final maintenance: reads unchanged, history reclaimed
    before = visible_ids()
    L.compact_chunks(spark, log, min_chunks=2)
    log.expire_replaced()
    log.gc_orphans(grace_s=0)
    assert visible_ids() == before
    # marker history stayed coherent (markers listable, ids monotonic)
    snaps = log.committed_chunks()
    assert [s["chunk_id"] for s in snaps] == sorted(
        s["chunk_id"] for s in snaps
    )


def test_compaction_publishes_newest_beside_orphan_and_stream(spark, tmp_path):
    """A compaction must neither abort nor wait on an orphan: a crashed
    writer's unmarked dir above the newest commit (older than the orphan
    grace) and a non-numeric ``chunk=`` entry are ignored, and a stream
    that keeps reserving and committing ids during the rewrite is
    overtaken — the compaction lands as the newest snapshot, so ids stay
    monotonic in commit order."""
    root = str(tmp_path / "t")
    docs = corpus_df(spark, 24)
    log = L.CommitLog(root)
    L.run_extraction(spark, docs, log, n_parts=4, parts_per_chunk=1)
    orphan = log.reserve_chunk_id()
    old = time.time() - 2 * L.ORPHAN_GRACE_S
    os.utime(os.path.join(log.data_dir, f"chunk={orphan:06d}"), (old, old))
    os.mkdir(os.path.join(log.data_dir, "chunk=junk"))
    stop = threading.Event()
    errors: list[BaseException] = []
    streamed: list[int] = []

    def stream():
        mylog = L.CommitLog(root)
        try:
            while not stop.is_set():
                cid = mylog.reserve_chunk_id()
                time.sleep(0.15)  # the micro-batch's write
                mylog.commit_chunk(cid, [0], {"docs": 0}, n_parts=4, expect_data=True)
                streamed.append(cid)
        except BaseException as e:  # surfaced below
            errors.append(e)

    t = threading.Thread(target=stream)
    t.start()
    try:
        while len(streamed) < 2:  # the stream is running before the rewrite
            time.sleep(0.05)
        new_id = L.compact_chunks(spark, log)
        landed = len(streamed)
    finally:
        stop.set()
        t.join()
    assert not errors, errors
    assert len(streamed) > landed  # the stream kept committing afterwards
    ids = [s["chunk_id"] for s in log.committed_chunks()]
    assert ids == sorted(ids) and new_id in ids and new_id > orphan
    assert log.read_extracted(spark).count() == 24
    assert os.path.isdir(os.path.join(log.data_dir, f"chunk={orphan:06d}"))


def test_shadow_index_matches_bruteforce_owned_parts():
    """Randomized differential test: the suffix-union shadow index +
    bisect must resolve owned parts identically to the O(C^2) definition
    (a part is shadowed iff SOME strictly-later-committed overwrite marker
    lists it) — including equal-committed_at ties broken by chunk_id and
    overwrite chunks shadowing each other."""
    import random

    rng = random.Random(4242)
    log = L.CommitLog.__new__(L.CommitLog)  # no dirs needed for planning
    for trial in range(200):
        n = rng.randint(1, 14)
        visible = []
        for cid in range(n):
            visible.append(
                {
                    "chunk_id": cid,
                    # coarse timestamps force equal-commit ties regularly
                    "committed_at": float(rng.randint(0, 4)),
                    "part_ids": sorted(
                        rng.sample(range(8), rng.randint(1, 4))
                    ),
                    "overwrite": rng.random() < 0.4,
                }
            )
        shadow = log._shadow_index(visible)
        for c in visible:
            want = [
                p
                for p in c["part_ids"]
                if not any(
                    o.get("overwrite")
                    and log._commit_order(o) > log._commit_order(c)
                    and p in o["part_ids"]
                    for o in visible
                )
            ]
            got = log._owned_parts(c, visible, shadow)
            assert got == want, (trial, c, visible)


def test_publish_dir_never_mixes_concurrent_exports(tmp_path):
    """Two threads repeatedly publishing complete export dirs to one path:
    at every observation the target holds ONE writer's complete shard set
    (or briefly nothing mid-swap), never a mix, and no staging/retired
    litter survives."""
    import shutil

    from pdf_extractor_spark.spark.export import _publish_dir

    out = str(tmp_path / "pub" / "out")
    os.makedirs(os.path.dirname(out))
    stop = threading.Event()
    errors: list[BaseException] = []

    def publisher(tag: str):
        try:
            for i in range(25):
                stage = str(tmp_path / f"stage-{tag}-{i}")
                os.makedirs(stage)
                for k in range(3):
                    with open(os.path.join(stage, f"shard-{k}.zip"), "w") as f:
                        f.write(tag)  # every file carries its writer's tag
                _publish_dir(stage, out)
        except BaseException as e:
            errors.append(e)
        finally:
            stop.set()

    def observer():
        # snapshot-consistent observation: a publish swaps the DIRECTORY
        # inode, so an unchanged inode across the reads proves every file
        # came from one writer's publish (the contract _publish_dir
        # documents for readers)
        while not stop.is_set():
            try:
                ino = os.stat(out).st_ino
                names = sorted(os.listdir(out))
                tags = set()
                for nm in names:
                    with open(os.path.join(out, nm)) as f:
                        tags.add(f.read())
                if os.stat(out).st_ino != ino:
                    continue  # swapped mid-read: not one observation
            except FileNotFoundError:
                continue  # the documented brief swap window
            if len(names) == 3 and len(tags) > 1:
                errors.append(AssertionError(f"mixed export: {names} {tags}"))
                return

    threads = [
        threading.Thread(target=publisher, args=("A",)),
        threading.Thread(target=publisher, args=("B",)),
        threading.Thread(target=observer),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert sorted(os.listdir(out)) == [f"shard-{k}.zip" for k in range(3)]
    litter = [
        n
        for n in os.listdir(tmp_path / "pub")
        if ".retired-" in n or ".inprogress-" in n
    ]
    assert litter == []
    # all staging dirs consumed by publishes
    assert not [n for n in os.listdir(tmp_path) if n.startswith("stage-")]


def test_two_concurrent_signals_writers_exactly_once(spark, tmp_path):
    """Derived-stage cursor collision (round-5 task): two --signals
    writers race on ONE output root over the same source window. The
    second writer must lose cleanly via CommitConflict under the commit
    lock (its cursor moved between the window read and the publish), its
    retry must see cursor == latest and no-op, and the table must end
    with exactly one verdict row per doc — zero duplicates, zero missing
    — across BOTH windows of a two-wave source."""
    from pdf_extractor_spark.ops.extraction_queries import wrap_documents
    from pdf_extractor_spark.spark.signals import read_signals, run_signals
    from tests.helpers import write_docs

    texts = {i: f"alpha bravo w{i} " * (i % 5 + 1) for i in range(24)}
    sf_dir = write_docs(tmp_path, texts)
    docs = wrap_documents(spark, sf_dir)
    src = L.CommitLog(str(tmp_path / "src"))
    out_root = str(tmp_path / "signals")

    # wave 1: half the parts (injected crash), raced by two writers
    with pytest.raises(RuntimeError, match="injected failure"):
        L.run_extraction(spark, docs, src, n_parts=8, parts_per_chunk=4,
                         fail_after_chunks=1)

    outcomes: list[tuple[str, int]] = []
    errors: list[BaseException] = []
    gate = threading.Barrier(2)

    def writer(name: str):
        try:
            gate.wait(timeout=30)  # maximize cursor-read overlap
            try:
                r = run_signals(spark, src, L.CommitLog(out_root))
                outcomes.append((name + ":ok", r.chunks_committed))
            except L.CommitConflict:
                # documented loser path: cursor moved under a rival —
                # retry against the refreshed cursor (a no-op window)
                r = run_signals(spark, src, L.CommitLog(out_root))
                outcomes.append((name + ":retry", r.chunks_committed))
        except BaseException as e:  # surfaced below; never swallowed
            errors.append(e)

    threads = [
        threading.Thread(target=writer, args=("a",)),
        threading.Thread(target=writer, args=("b",)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    # exactly ONE writer consumed the window, however the race resolved
    assert sum(n for _, n in outcomes) == 1, outcomes

    wave1 = {r["doc_id"] for r in read_signals(
        spark, L.CommitLog(out_root)).select("doc_id").collect()}
    src_docs1 = {r["doc_id"] for r in
                 src.read_extracted(spark).select("doc_id").collect()}
    assert wave1 == src_docs1  # zero duplicate, zero missing

    # wave 2 consumed exactly once by a sequential run
    L.run_extraction(spark, docs, src, n_parts=8, parts_per_chunk=4)
    r2 = run_signals(spark, src, L.CommitLog(out_root))
    assert r2.chunks_committed == 1
    rows = read_signals(spark, L.CommitLog(out_root)).select(
        "doc_id").collect()
    ids = [r["doc_id"] for r in rows]
    assert len(ids) == 24 and len(set(ids)) == 24

    # a conflict loser's staged dir (if the race produced one) is
    # unmarked -> invisible; GC reclaims it without touching data
    out_log = L.CommitLog(out_root)
    marked = {c["chunk_id"] for c in out_log.committed_chunks()}
    on_disk = {
        int(n.split("=")[1])
        for n in os.listdir(out_log.data_dir)
        if n.startswith("chunk=")
    }
    out_log.gc_orphans(grace_s=0)
    assert read_signals(spark, out_log).count() == 24
    assert on_disk >= marked


def test_signals_cursor_collision_loses_deterministically(spark, tmp_path):
    """Deterministic version of the race above: a rival signals chunk is
    injected between the writer's window read and its publish (hooked at
    chunk reservation), so the optimistic _cursor_unmoved check MUST fire
    — the loser raises CommitConflict, publishes nothing, and its retry
    is a clean no-op against the refreshed cursor."""
    from pdf_extractor_spark.ops.extraction_queries import wrap_documents
    from pdf_extractor_spark.spark.signals import (
        compute_signals,
        read_signals,
        run_signals,
    )
    from tests.helpers import write_docs

    texts = {i: f"golf hotel w{i}" for i in range(12)}
    sf_dir = write_docs(tmp_path, texts)
    src = L.CommitLog(str(tmp_path / "src"))
    L.run_extraction(spark, wrap_documents(spark, sf_dir), src,
                     n_parts=4, parts_per_chunk=4)
    out_root = str(tmp_path / "signals")
    victim = L.CommitLog(out_root)
    latest = src.committed_chunks()[-1]["chunk_id"]

    real_reserve = L.CommitLog.reserve_chunk_id
    fired = []

    def inject_then_reserve(self):
        if self.root == victim.root and not fired:
            fired.append(True)
            # rival writer consumes the same window and commits first
            rival = L.CommitLog(out_root)
            cid = real_reserve(rival)
            L._write_chunk(
                spark, rival,
                compute_signals(src.read_extracted(spark)),
                cid, None, src.n_parts(),
                extra_metrics={"stage": "signals", "src_snapshot": latest},
            )
        return real_reserve(self)

    orig = L.CommitLog.reserve_chunk_id
    L.CommitLog.reserve_chunk_id = inject_then_reserve
    try:
        with pytest.raises(L.CommitConflict, match="cursor moved"):
            run_signals(spark, src, victim)
    finally:
        L.CommitLog.reserve_chunk_id = orig

    # retry: cursor == latest -> no-op; table holds the rival's rows once
    r = run_signals(spark, src, L.CommitLog(out_root))
    assert r.chunks_committed == 0
    ids = [row["doc_id"] for row in read_signals(
        spark, L.CommitLog(out_root)).select("doc_id").collect()]
    assert len(ids) == 12 and len(set(ids)) == 12
