"""Derived quality-signals stage (spark/signals.py): incremental consume,
exactly-once visibility, overwrite refusal + rebuild, value correctness."""

from __future__ import annotations

import pytest

import pdf_extractor_spark.spark.lineage as L
from pdf_extractor_spark.ops.extraction_queries import wrap_documents
from pdf_extractor_spark.spark.signals import (
    compute_signals,
    read_signals,
    run_signals,
)
from tests.helpers import write_docs


def test_signals_incremental_exactly_once(spark, tmp_path):
    """Two source waves (crash-injected first run), one signals run after
    each: the second consumes ONLY the delta, every doc gets exactly one
    visible signals row, and a third run is a no-op."""
    sf_dir = write_docs(
        tmp_path, {i: " ".join(f"tok{i}x{j}" for j in range(i % 5 + 2)) for i in range(40)}
    )
    docs = wrap_documents(spark, sf_dir)
    src = L.CommitLog(str(tmp_path / "src"))
    out = L.CommitLog(str(tmp_path / "out"))

    with pytest.raises(RuntimeError, match="injected failure"):
        L.run_extraction(spark, docs, src, n_parts=8, parts_per_chunk=4,
                         fail_after_chunks=1)
    r1 = run_signals(spark, src, out)
    assert r1.chunks_committed == 1
    n_wave1 = r1.docs_processed
    assert 0 < n_wave1 < 40

    L.run_extraction(spark, docs, src, n_parts=8, parts_per_chunk=4)
    r2 = run_signals(spark, src, out)
    assert r2.chunks_committed == 1
    assert n_wave1 + r2.docs_processed == 40  # delta only, no reprocessing

    rows = read_signals(spark, out).collect()
    assert len(rows) == 40
    assert len({r["doc_id"] for r in rows}) == 40

    r3 = run_signals(spark, src, out)  # cursor == latest
    assert r3.chunks_committed == 0 and r3.docs_processed == 0
    assert read_signals(spark, out).count() == 40


def test_signals_values_match_python_reference(spark, tmp_path):
    """Signal values for known documents: token counts, stopword ratio,
    marker-language argmax, Simpson same-pair arithmetic, and the
    empty-document zeros."""
    texts = {
        1: "the cat and the dog of the house",  # en markers, repeats
        2: "aaa aaa aaa bbb",
        3: "",  # empty: extracted span text '', all signals zero
    }
    sf_dir = write_docs(tmp_path, texts)
    src = L.CommitLog(str(tmp_path / "src"))
    out = L.CommitLog(str(tmp_path / "out"))
    L.run_extraction(spark, wrap_documents(spark, sf_dir), src, n_parts=4,
                     parts_per_chunk=4)
    run_signals(spark, src, out)
    got = {r["doc_id"]: r.asDict() for r in read_signals(spark, out).collect()}

    r1 = got["1"]
    assert r1["n_tokens"] == 8
    assert r1["pred_lang"] == "en"
    # stopwords: the x3, and, of -> 5/8
    assert r1["stopword_micros"] == 5 * 1_000_000 // 8
    # counts: the=3, cat=1, and=1, dog=1, of=1, house=1 -> sum c(c-1) = 6
    assert r1["simpson_micros"] == 6 * 1_000_000 // (8 * 7)

    r2 = got["2"]
    assert r2["n_tokens"] == 4
    assert r2["pred_lang"] == "unknown"
    assert r2["simpson_micros"] == 6 * 1_000_000 // (4 * 3)

    r3 = got["3"]
    assert r3["n_tokens"] == 0
    assert (r3["pred_lang"], r3["stopword_micros"], r3["simpson_micros"]) == (
        "unknown", 0, 0,
    )
    # span-mix counters ride through: each wrapped doc has 1 media span
    assert all(r["n_media_spans"] == 1 for r in got.values())


def test_signals_overwrite_refused_then_rebuild(spark, tmp_path):
    """A source partition overwrite poisons the append-shaped delta: the
    incremental run refuses loudly; rebuild recomputes everything as one
    overwrite chunk and every doc has exactly one visible, fresh row."""
    texts = {i: f"alpha beta w{i}" for i in range(20)}
    sf_dir = write_docs(tmp_path, texts)
    src = L.CommitLog(str(tmp_path / "src"))
    out = L.CommitLog(str(tmp_path / "out"))
    docs = wrap_documents(spark, sf_dir)
    L.run_extraction(spark, docs, src, n_parts=4, parts_per_chunk=4)
    run_signals(spark, src, out)
    assert read_signals(spark, out).count() == 20

    L.reextract_parts(spark, docs, src, parts=[0, 1])
    with pytest.raises(ValueError, match="rebuild"):
        run_signals(spark, src, out)

    rep = run_signals(spark, src, out, rebuild=True)
    assert rep.chunks_committed == 1 and rep.docs_processed == 20
    rows = read_signals(spark, out).collect()
    assert len(rows) == 20  # overwrite chunk shadows the stale signals
    assert len({r["doc_id"] for r in rows}) == 20
    # and the table is again consumable incrementally (up to date)
    assert run_signals(spark, src, out).docs_processed == 0


def test_compute_signals_is_projection_only(spark, tmp_path):
    """Plan shape: the signal expressions are JVM projections over the scan
    — no exchange, no Python stage."""
    sf_dir = write_docs(tmp_path, {i: f"a b c{i}" for i in range(5)})
    src = L.CommitLog(str(tmp_path / "src"))
    L.run_extraction(spark, wrap_documents(spark, sf_dir), src, n_parts=2,
                     parts_per_chunk=2)
    df = compute_signals(src.read_extracted(spark))
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def _write_src_chunk(spark, src, chunk_id: int, doc_ids: list[str]) -> None:
    """Hand-write one extraction chunk's data files (marker published by the
    caller, so commit ORDER can be controlled independently of chunk id)."""
    import os

    from pdf_extractor_spark.spark.lineage import _chunk_dirname
    from pdf_extractor_spark.spark.pipeline import EXTRACTED_SCHEMA

    rows = [
        (d, [("text", f"body of {d}", None, 0)], 1, 1, 0, 1, {}, 0)
        for d in doc_ids
    ]
    # append: reserve_chunk_id mkdir-reserved the chunk dir already
    spark.createDataFrame(rows, EXTRACTED_SCHEMA).write.partitionBy(
        "part_id"
    ).mode("append").parquet(os.path.join(src.data_dir, _chunk_dirname(chunk_id)))


def test_signals_late_low_id_source_commit_consumed_once(spark, tmp_path):
    """Concurrent source writers can commit a LOW chunk id late (ids are
    assigned at reserve time). The stage must consume it exactly once: the
    cursor is the newest derived marker's src_snapshot in COMMIT order — a
    numeric-max cursor would rewind past the late chunk's lower id and
    re-consume it on every subsequent run, duplicating its rows forever."""
    src = L.CommitLog(str(tmp_path / "src"))
    out = L.CommitLog(str(tmp_path / "out"))
    # writer A reserves id 0 but stalls; writer B reserves and commits id 1
    a = src.reserve_chunk_id()
    b = src.reserve_chunk_id()
    _write_src_chunk(spark, src, b, ["d2", "d3"])
    src.commit_chunk(b, [0], {"docs": 2}, n_parts=4)

    r1 = run_signals(spark, src, out)
    assert r1.chunks_committed == 1 and r1.docs_processed == 2

    # writer A commits its LOW id late
    _write_src_chunk(spark, src, a, ["d0", "d1"])
    src.commit_chunk(a, [0], {"docs": 2}, n_parts=4)

    r2 = run_signals(spark, src, out)
    assert r2.chunks_committed == 1 and r2.docs_processed == 2  # the delta

    # from here on the stage is idle: the late chunk is never re-consumed
    for _ in range(2):
        r = run_signals(spark, src, out)
        assert (r.chunks_committed, r.docs_processed) == (0, 0)

    rows = read_signals(spark, out).collect()
    assert len(rows) == 4
    assert len({r["doc_id"] for r in rows}) == 4


def test_signals_refuses_expired_window_instead_of_empty_delta(spark, tmp_path):
    """Compaction + expire_replaced while the stage LAGGED deletes the
    window chunks' data but keeps their markers: the chunk-pruned delta
    scan would silently read EMPTY and the cursor would advance past the
    lost history. The stage must refuse and direct rebuild=True, and the
    rebuild (reading the compacted current view) must recover every doc."""
    sf_dir = write_docs(tmp_path, {i: f"alpha beta w{i}" for i in range(20)})
    src = L.CommitLog(str(tmp_path / "src"))
    out = L.CommitLog(str(tmp_path / "out"))
    docs = wrap_documents(spark, sf_dir)
    L.run_extraction(spark, docs, src, n_parts=8, parts_per_chunk=4)

    # the stage never ran; compact the source and reclaim the victims
    assert L.compact_chunks(spark, src) is not None
    assert src.expire_replaced()

    with pytest.raises(ValueError, match="rebuild=True"):
        run_signals(spark, src, out)
    assert read_signals(spark, out).count() == 0  # nothing committed

    rep = run_signals(spark, src, out, rebuild=True)
    assert rep.docs_processed == 20
    rows = read_signals(spark, out).collect()
    assert len(rows) == 20 and len({r["doc_id"] for r in rows}) == 20
    # and the table is consumable incrementally again
    assert run_signals(spark, src, out).docs_processed == 0


def test_signals_rebuild_pins_its_marker_snapshot(spark, tmp_path):
    """A source chunk committed between the rebuild's marker listing and
    its table read must NOT be folded into the rebuild output: the marker
    records the pre-chunk cursor, so the next incremental run consumes
    that chunk — if the rebuild had read it too, every one of its docs
    would carry two derived rows forever."""
    src = L.CommitLog(str(tmp_path / "src"))
    out = L.CommitLog(str(tmp_path / "out"))
    a = src.reserve_chunk_id()
    _write_src_chunk(spark, src, a, ["d0", "d1"])
    src.commit_chunk(a, [0], {"docs": 2}, n_parts=4)

    real_read = L.CommitLog.read_extracted
    raced = {"done": False}

    def race_then_read(self, spark_, as_of=None, markers=None):
        if self is src and not raced["done"]:
            raced["done"] = True  # a rival writer lands chunk b mid-rebuild
            b = src.reserve_chunk_id()
            _write_src_chunk(spark_, src, b, ["d2", "d3"])
            src.commit_chunk(b, [0], {"docs": 2}, n_parts=4)
        return real_read(self, spark_, as_of=as_of, markers=markers)

    import pdf_extractor_spark.spark.lineage as LL

    orig = LL.CommitLog.read_extracted
    LL.CommitLog.read_extracted = race_then_read
    try:
        run_signals(spark, src, out, rebuild=True)
    finally:
        LL.CommitLog.read_extracted = orig
    # a rebuild replaces the whole table: its marker owns every part, not
    # only part 0, the one the source's chunks cover
    assert out.committed_chunks()[-1]["part_ids"] == list(range(4))

    # the rebuild shipped only the pinned snapshot; the racing chunk is
    # consumed exactly once by the NEXT incremental run
    assert read_signals(spark, out).count() == 2
    r = run_signals(spark, src, out)
    assert r.docs_processed == 2
    rows = read_signals(spark, out).collect()
    assert len(rows) == 4 and len({r["doc_id"] for r in rows}) == 4


def test_signals_concurrent_runs_publish_once(spark, tmp_path):
    """Two overlapping runs of one stage compute the same window; only the
    first may publish — the loser must hit CommitConflict under the commit
    lock (cursor moved), never a second copy of the delta."""
    src = L.CommitLog(str(tmp_path / "src"))
    out = L.CommitLog(str(tmp_path / "out"))
    a = src.reserve_chunk_id()
    _write_src_chunk(spark, src, a, ["d0", "d1", "d2"])
    src.commit_chunk(a, [0], {"docs": 3}, n_parts=4)

    from pdf_extractor_spark.spark import signals as S

    real_compute = S.compute_signals
    rival = {"ran": False}

    def compute_with_rival(extracted, extra=None):
        if not rival["ran"]:
            rival["ran"] = True  # rival run completes while ours computes
            run_signals(spark, src, out)
        return real_compute(extracted, extra=extra)

    S.compute_signals = compute_with_rival
    try:
        with pytest.raises(L.CommitConflict, match="cursor moved"):
            run_signals(spark, src, out)
    finally:
        S.compute_signals = real_compute

    rows = read_signals(spark, out).collect()
    assert len(rows) == 3 and len({r["doc_id"] for r in rows}) == 3


def test_signals_table_compaction_preserves_rows_and_cursor(spark, tmp_path):
    """Derived tables accrete one chunk per incremental window — the same
    small-file problem as stage-1 ingest. compact_chunks(schema=...)
    (round 5) rewrites the visible chunks into one under the STAGE's row
    shape; rows are identical, the stage CURSOR survives compaction AND
    expiry (markers kept; the compaction marker carries no src_snapshot
    and incremental windows exclude replaces), and a later source wave
    is consumed exactly once afterward."""
    import os

    from pdf_extractor_spark.spark.derived import derived_cursor
    from pdf_extractor_spark.spark.lineage import compact_chunks
    from pdf_extractor_spark.spark.signals import SIGNALS_SCHEMA

    texts = {i: f"alpha beta w{i} " * (i % 4 + 1) for i in range(18)}
    sf_dir = write_docs(tmp_path, texts)
    docs = wrap_documents(spark, sf_dir)
    src = L.CommitLog(str(tmp_path / "src"))
    out = L.CommitLog(str(tmp_path / "out"))

    # three source waves -> three signals chunks (8 parts / 2 per chunk:
    # crash after 1, then 2 more, then the final run finishes the rest)
    for k in (1, 2, None):
        if k is not None:
            with pytest.raises(RuntimeError, match="injected failure"):
                L.run_extraction(spark, docs, src, n_parts=8,
                                 parts_per_chunk=2, fail_after_chunks=k)
        else:
            L.run_extraction(spark, docs, src, n_parts=8, parts_per_chunk=2)
        run_signals(spark, src, out)
    assert len(out.visible_chunks()) == 3
    before = sorted(
        tuple(r) for r in read_signals(spark, out).collect()
    )
    cursor = derived_cursor(out)

    new_id = compact_chunks(spark, out, schema=SIGNALS_SCHEMA)
    assert new_id is not None and len(out.visible_chunks()) == 1
    after = sorted(tuple(r) for r in read_signals(spark, out).collect())
    assert after == before
    assert derived_cursor(out) == cursor  # cursor unmoved by compaction

    # reclaim replaced data; cursor still intact, read still whole
    out.expire_replaced()
    assert derived_cursor(out) == cursor
    assert sorted(tuple(r) for r in read_signals(spark, out).collect()) \
        == before

    # post-compaction incremental semantics: cursor == latest source
    # snapshot, so a rerun is a clean no-op (not a cold-start re-consume
    # of the compacted history — the failure the kept markers prevent)
    r = run_signals(spark, src, out)
    assert r.chunks_committed == 0 and r.docs_processed == 0


def test_maintain_compact_reclaims_derived_table(spark, tmp_path):
    """`job.py maintain ROOT --compact` on a derived table: the schema comes
    from the markers' stage, the replaced chunk dirs are reclaimed (as for
    an extraction table), rows are unchanged, and the next incremental
    run consumes only the new source window."""
    import os

    from pdf_extractor_spark.job import main

    texts = {i: f"gamma delta v{i} " * (i % 3 + 1) for i in range(12)}
    docs = wrap_documents(spark, write_docs(tmp_path, texts))
    src = L.CommitLog(str(tmp_path / "src"))
    out = L.CommitLog(str(tmp_path / "out"))
    for _ in range(2):  # two source waves -> two signals windows
        with pytest.raises(RuntimeError, match="injected failure"):
            L.run_extraction(spark, docs, src, n_parts=6, parts_per_chunk=2,
                             fail_after_chunks=1)
        assert run_signals(spark, src, out).chunks_committed == 1
    replaced = [c["chunk_id"] for c in out.visible_chunks()]
    assert len(replaced) == 2
    before = sorted(tuple(r) for r in read_signals(spark, out).collect())

    assert main(["maintain", out.root, "--compact"]) == 0
    on_disk = os.listdir(out.data_dir)
    assert not any(L._chunk_dirname(c) in on_disk for c in replaced)
    assert sorted(tuple(r) for r in read_signals(spark, out).collect()) == before

    L.run_extraction(spark, docs, src, n_parts=6, parts_per_chunk=2)
    r = run_signals(spark, src, out)
    assert r.chunks_committed == 1 and len(before) + r.docs_processed == 12
    rows = read_signals(spark, out).collect()
    assert len({r["doc_id"] for r in rows}) == len(rows) == 12
