"""Materialized-shard stage (spark/materialize.py): snapshot-pinned
gather join, window-local incremental exactly-once, tiling invariants,
rebuild part ownership."""

from __future__ import annotations

import hashlib

import pytest

import pdf_extractor_spark.spark.lineage as L
from pdf_extractor_spark.ops.extraction_queries import wrap_documents
from pdf_extractor_spark.ops.training import CTX_TOKENS
from pdf_extractor_spark.spark.materialize import (
    read_materialized,
    run_materialize,
)
from pdf_extractor_spark.spark.pack import read_packed, run_pack
from tests.helpers import write_docs


def _expected_contexts(texts: dict[str, str]) -> dict[int, tuple]:
    """Pure-Python rederivation of one window's materialized contexts:
    md5 placement order, concatenated lowercased token stream, 512-token
    chunks -> {ctx: (n_docs, n_tokens, text)}."""
    placed = sorted(
        (int(hashlib.md5(d.encode()).hexdigest()[:15], 16), d,
         t.lower().split())
        for d, t in texts.items()
        if t.split()
    )
    stream: list[str] = []
    docs_per_ctx: dict[int, set] = {}
    for _h, d, toks in placed:
        for tk in toks:
            docs_per_ctx.setdefault(len(stream) // CTX_TOKENS, set()).add(d)
            stream.append(tk)
    out = {}
    for c in range((len(stream) + CTX_TOKENS - 1) // CTX_TOKENS):
        seg = stream[c * CTX_TOKENS : (c + 1) * CTX_TOKENS]
        out[c] = (len(docs_per_ctx[c]), len(seg), " ".join(seg))
    return out


def _check_epoch(rows: list, texts: dict[str, str], n_parts: int) -> None:
    """One window's committed context rows against the rederivation,
    plus the tiling and part-assignment invariants."""
    expect = _expected_contexts(texts)
    got = {r["ctx"]: r for r in rows}
    assert set(got) == set(expect)
    last = max(got)
    for c, r in got.items():
        assert (r["n_docs"], r["n_tokens"], r["text"]) == expect[c], c
        assert r["part_id"] == c % n_parts
        if c != last:
            assert r["n_tokens"] == CTX_TOKENS  # perfect tiling


def test_materialize_incremental_window_local(spark, tmp_path):
    """Two source waves -> two pack windows -> two materialize runs: each
    window's contexts assemble exactly its own docs' token stream
    (verified against the pure-Python rederivation), tiling holds per
    window, and a third run is a no-op."""
    texts = {
        i: " ".join(f"w{i}x{j}" for j in range(60 * (i % 7 + 1)))
        for i in range(30)
    }
    sf_dir = write_docs(tmp_path, texts)
    docs = wrap_documents(spark, sf_dir)
    src = L.CommitLog(str(tmp_path / "src"))
    pk = L.CommitLog(str(tmp_path / "pack"))
    mat = L.CommitLog(str(tmp_path / "mat"))

    with pytest.raises(RuntimeError, match="injected failure"):
        L.run_extraction(spark, docs, src, n_parts=8, parts_per_chunk=4,
                         fail_after_chunks=1)
    run_pack(spark, src, pk)
    r1 = run_materialize(spark, src, pk, mat)
    assert r1.chunks_committed == 1

    L.run_extraction(spark, docs, src, n_parts=8, parts_per_chunk=4)
    run_pack(spark, src, pk)
    r2 = run_materialize(spark, src, pk, mat)
    assert r2.chunks_committed == 1

    placed = read_packed(spark, pk).collect()
    by_epoch: dict[int, set] = {}
    for r in placed:
        by_epoch.setdefault(r["pack_epoch"], set()).add(r["doc_id"])
    assert len(by_epoch) == 2

    rows = read_materialized(spark, mat).collect()
    for epoch, ids in by_epoch.items():
        _check_epoch(
            [r for r in rows if r["pack_epoch"] == epoch],
            {d: texts[int(d)] for d in ids},
            n_parts=8,
        )
    # (pack_epoch, ctx) is globally unique across windows
    assert len({(r["pack_epoch"], r["ctx"]) for r in rows}) == len(rows)

    r3 = run_materialize(spark, src, pk, mat)
    assert r3.chunks_committed == 0 and r3.docs_processed == 0


def test_materialize_pins_text_to_pack_epoch(spark, tmp_path):
    """The gather reads document text AS OF each window's pack_epoch: an
    extraction partition-overwrite landing AFTER the pack run must not
    leak changed text into contexts whose placements were computed
    against the older snapshot — offsets would silently shift."""
    texts = {i: " ".join(f"a{i}b{j}" for j in range(40)) for i in range(12)}
    sf_dir = write_docs(tmp_path / "v1", texts)
    src = L.CommitLog(str(tmp_path / "src"))
    pk = L.CommitLog(str(tmp_path / "pack"))
    mat = L.CommitLog(str(tmp_path / "mat"))
    L.run_extraction(spark, wrap_documents(spark, sf_dir), src,
                     n_parts=4, parts_per_chunk=4)
    run_pack(spark, src, pk)

    # overwrite EVERY part with changed text before materialize runs
    texts2 = {i: " ".join(f"z{i}q{j}" for j in range(40)) for i in range(12)}
    sf2 = write_docs(tmp_path / "v2", texts2)
    L.reextract_parts(spark, wrap_documents(spark, sf2), src,
                      parts=[0, 1, 2, 3])

    r = run_materialize(spark, src, pk, mat)
    assert r.chunks_committed == 1
    rows = read_materialized(spark, mat).collect()
    _check_epoch(rows, {str(i): texts[i] for i in texts}, n_parts=4)


def test_materialize_refuses_pack_rebuild_window(spark, tmp_path):
    """A pack REBUILD is an overwrite chunk: the incremental materialize
    window must refuse it (append-shaped delta guard) and the rebuild
    path must produce exactly the fresh global contexts, no duplicates."""
    texts = {i: " ".join(f"c{i}d{j}" for j in range(50)) for i in range(15)}
    sf_dir = write_docs(tmp_path, texts)
    src = L.CommitLog(str(tmp_path / "src"))
    pk = L.CommitLog(str(tmp_path / "pack"))
    mat = L.CommitLog(str(tmp_path / "mat"))
    L.run_extraction(spark, wrap_documents(spark, sf_dir), src,
                     n_parts=4, parts_per_chunk=4)
    run_pack(spark, src, pk)
    run_materialize(spark, src, pk, mat)

    run_pack(spark, src, pk, rebuild=True)
    with pytest.raises(ValueError, match="rebuild=True"):
        run_materialize(spark, src, pk, mat)
    r = run_materialize(spark, src, pk, mat, rebuild=True)
    assert r.chunks_committed == 1
    rows = read_materialized(spark, mat).collect()
    assert len({r["pack_epoch"] for r in rows}) == 1
    _check_epoch(rows, {str(i): texts[i] for i in texts}, n_parts=4)


def test_materialize_rebuild_owns_full_part_range(spark, tmp_path):
    """Contexts land on ``ctx % n_parts``, so a SHRUNKEN rebuild (the
    corpus contracted to a single context) must still shadow every part
    the larger prior output touched — the overwrite owns the full part
    range (as every derived rebuild does), or stale context rows in higher parts
    would stay visible beside the fresh output."""
    texts = {i: " ".join(f"e{i}f{j}" for j in range(200)) for i in range(20)}
    sf_dir = write_docs(tmp_path / "v1", texts)
    src = L.CommitLog(str(tmp_path / "src"))
    pk = L.CommitLog(str(tmp_path / "pack"))
    mat = L.CommitLog(str(tmp_path / "mat"))
    L.run_extraction(spark, wrap_documents(spark, sf_dir), src,
                     n_parts=4, parts_per_chunk=4)
    run_pack(spark, src, pk)
    run_materialize(spark, src, pk, mat)
    parts_before = {
        r["part_id"] for r in read_materialized(spark, mat).collect()
    }
    assert parts_before == {0, 1, 2, 3}  # 4000 tokens -> ctxs across parts

    # shrink: every doc but one becomes empty -> one context total
    texts2 = {i: "" for i in range(20)}
    texts2[3] = "only surviving doc"
    sf2 = write_docs(tmp_path / "v2", texts2)
    L.reextract_parts(spark, wrap_documents(spark, sf2), src,
                      parts=[0, 1, 2, 3])
    run_pack(spark, src, pk, rebuild=True)
    r = run_materialize(spark, src, pk, mat, rebuild=True)
    assert r.chunks_committed == 1
    rows = read_materialized(spark, mat).collect()
    assert len(rows) == 1 and rows[0]["ctx"] == 0
    assert rows[0]["text"] == "only surviving doc"
    assert rows[0]["n_tokens"] == 3 and rows[0]["n_docs"] == 1


def test_stale_table_property_refused_before_any_job(spark, tmp_path):
    """A table whose markers record another compute version (neardup) or
    cost model (materialize) than the run's is refused before any Spark
    job and commits no marker, even when its window is a no-op."""
    import uuid

    from pdf_extractor_spark.spark.materialize import MATERIALIZE_COMPUTE_VERSION
    from pdf_extractor_spark.spark.neardup import NEARDUP_COMPUTE_VERSION, run_neardup

    src, pk, nd, mat = (L.CommitLog(str(tmp_path / n)) for n in ("src", "pk", "nd", "mat"))
    src.commit_chunk(src.reserve_chunk_id(), [0], {"docs": 0}, n_parts=2)
    pk.commit_chunk(pk.reserve_chunk_id(), [0], {"stage": "pack", "src_snapshot": 0, "cost": "ws"},
                    n_parts=2)
    # each cursor is its source's latest snapshot: the window is a no-op
    nd.commit_chunk(nd.reserve_chunk_id(), [0], {
        "stage": "neardup", "src_snapshot": 0, "scope": "full",
        "neardup_version": NEARDUP_COMPUTE_VERSION - 1}, n_parts=2)
    mat.commit_chunk(mat.reserve_chunk_id(), [0], {
        "stage": "materialize", "src_snapshot": 0, "cost": "bpe",
        "materialize_version": MATERIALIZE_COMPUTE_VERSION}, n_parts=2)

    sc = spark.sparkContext
    tag = uuid.uuid4().hex
    sc.setJobGroup(tag, "refused")
    try:
        with pytest.raises(ValueError, match=(
                f"'neardup_version' is {NEARDUP_COMPUTE_VERSION - 1} but this run's "
                f"is {NEARDUP_COMPUTE_VERSION}.*job.py neardup --rebuild")):
            run_neardup(spark, src, nd)
        with pytest.raises(ValueError, match="'cost' is 'bpe' but this run's is 'ws'"):
            run_materialize(spark, src, pk, mat)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(tag)) == []
    assert [len(t.committed_chunks()) for t in (nd, mat)] == [1, 1]


def _jobs_in_group(spark, tag: str, fn) -> int:
    """Spark jobs ``fn()`` launches, counted by a fresh job group."""
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(tag))


def test_pack_and_materialize_job_counts(spark, tmp_path):
    """The chain's last two stages keep their Spark job budget on a
    small fixed corpus: a changed count means an added (or lost)
    collect, broadcast or staged frame somewhere in the packing path."""
    import uuid

    texts = {i: " ".join(f"w{i}x{j}" for j in range(40 * (i % 5 + 1)))
             for i in range(24)}
    src, pk, mat = (L.CommitLog(str(tmp_path / n)) for n in ("src", "pk", "mat"))
    L.run_extraction(spark, wrap_documents(spark, write_docs(tmp_path, texts)),
                     src, n_parts=4, parts_per_chunk=4)
    tag = uuid.uuid4().hex
    n_pack = _jobs_in_group(spark, tag + "-pack", lambda: run_pack(spark, src, pk))
    n_mat = _jobs_in_group(spark, tag + "-mat",
                           lambda: run_materialize(spark, src, pk, mat))
    assert (n_pack, n_mat) == (7, 5)
