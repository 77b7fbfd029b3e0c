"""Spark layer: span-sequence equality vs the local oracle (the north_rule
correctness contract), skew-aware partition balance, and kill-and-resume."""

import os
import shutil

import pytest

from pdf_extractor_spark.core.extractor import extract_document
from pdf_extractor_spark.corpus import corpus_df, gen_documents
from pdf_extractor_spark.spark import lineage as L
from pdf_extractor_spark.spark.pipeline import extract_documents
from tests.helpers import LINEAGE_COLS, count_parse_tasks, read_lineage

N_DOCS = 150


def _oracle(n_docs=N_DOCS, seed=42):
    return {
        r["doc_id"]: extract_document(r["spans"]) for r in gen_documents(n_docs, seed)
    }


def test_span_sequence_equality(spark):
    """Every doc's output (kind, text, media_ref, order) matches the oracle."""
    got = {
        r["doc_id"]: r
        for r in extract_documents(corpus_df(spark, N_DOCS), n_parts=32, num_partitions=8).collect()
    }
    oracle = _oracle()
    assert set(got) == set(oracle)
    for doc_id, res in oracle.items():
        spans = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in got[doc_id]["spans"]]
        assert spans == res.spans, doc_id
        assert got[doc_id]["pages_parsed"] == res.pages_parsed
        assert got[doc_id]["parse_failures"] == res.parse_failures
    assert sum(r["parse_failures"] for r in got.values()) == 0


def test_result_independent_of_parallelism(spark):
    """Same input at different partition counts -> identical span output."""
    a = {
        r["doc_id"]: [tuple(s) for s in map(lambda x: (x["kind"], x["text"], x["media_ref"], x["offset"]), r["spans"])]
        for r in extract_documents(corpus_df(spark, 60), n_parts=8, num_partitions=2).collect()
    }
    b = {
        r["doc_id"]: [tuple(s) for s in map(lambda x: (x["kind"], x["text"], x["media_ref"], x["offset"]), r["spans"])]
        for r in extract_documents(corpus_df(spark, 60), n_parts=64, num_partitions=16).collect()
    }
    assert a == b


def _with_n_bytes(df):
    """Per-doc payload + media_ref bytes, computed on the input."""
    from pyspark.sql import functions as F

    return df.withColumn(
        "n_bytes",
        F.aggregate(
            "spans",
            F.lit(0).cast("long"),
            lambda acc, s: acc
            + F.coalesce(F.octet_length(s["text"]), F.lit(0))
            + F.coalesce(F.octet_length(s["media_ref"]), F.lit(0)),
        ),
    )


def test_partition_balance_bytes(spark):
    """After the part-keyed exchange (one bin per hash-assigned part), no
    physical partition hoards the byte volume."""
    from pyspark.sql import functions as F
    from pdf_extractor_spark.spark.pipeline import assign_part_id, balance_partitions

    df = balance_partitions(
        assign_part_id(_with_n_bytes(corpus_df(spark, 400, seed=7)), 16), range(16)
    )
    per_part = (
        df.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.sum("n_bytes").alias("part_bytes"))
        .collect()
    )
    sizes = [r["part_bytes"] for r in per_part]
    assert len(sizes) > 1
    # bound: max partition carries < 35% of total bytes (sequential would be 100%)
    assert max(sizes) / sum(sizes) < 0.35


def test_partition_balance_bytes_skewed(spark):
    """Same bound on the ADVERSARIAL profile (VERDICT r03 #2): a contiguous
    1% head of 500-1000-page giants carrying ~90% of the bytes. The r3
    range-based repartition failed this (every giant in ONE partition, ~90%
    of bytes); the part-keyed exchange (part_id is a per-doc hash) must
    hold the bound."""
    from pyspark.sql import functions as F
    from pdf_extractor_spark.spark.pipeline import assign_part_id, balance_partitions

    df = balance_partitions(
        assign_part_id(_with_n_bytes(corpus_df(spark, 1000, profile="skewed")), 32),
        range(32),
    )
    per_part = (
        df.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.sum("n_bytes").alias("part_bytes"))
        .collect()
    )
    sizes = [r["part_bytes"] for r in per_part]
    assert len(sizes) > 1
    assert max(sizes) / sum(sizes) < 0.35


def test_lpt_bins_whole_deterministic_bounded():
    """LPT packing (no Spark): every item lands in exactly one of the bins,
    the same sizes always give the same packing, and the heaviest bin
    holds at most total / n + the largest item."""
    import random

    from pdf_extractor_spark.spark.pipeline import lpt_bins

    rng = random.Random(3)
    for n_bins in (1, 3, 4, 7):
        for sizes in (
            [rng.randrange(1000) for _ in range(32)],
            [10**6] * 3 + [1] * 29,  # a giant tail on three parts
            [0] * 5,
            [5, 5, 5, 5],  # ties break by position, then by bin
        ):
            bins = lpt_bins(sizes, n_bins)
            assert len(bins) == len(sizes) and set(bins) <= set(range(n_bins))
            assert bins == lpt_bins(list(sizes), n_bins)
            loads = [sum(w for w, b in zip(sizes, bins) if b == i) for i in range(n_bins)]
            assert max(loads) <= sum(sizes) / n_bins + max(sizes)
    assert lpt_bins([5, 5, 5, 5], 4) == [0, 1, 2, 3]
    assert lpt_bins([1, 9, 4], 2) == [1, 0, 1]


def test_sized_wave_balance_bytes_skewed(spark):
    """The sized exchange on ``test_partition_balance_bytes_skewed``'s
    corpus (1000 docs, 32 parts, a 1% giant tail with ~90% of the bytes)
    packs whole parts into exactly ``defaultParallelism`` tasks and still
    keeps every task under 35% of the bytes."""
    from pyspark.sql import functions as F
    from pdf_extractor_spark.spark.pipeline import assign_part_id, balance_partitions, part_bytes

    cores = spark.sparkContext.defaultParallelism
    docs = assign_part_id(_with_n_bytes(corpus_df(spark, 1000, profile="skewed")), 32)
    df = balance_partitions(docs, range(32), sizes=part_bytes(docs))
    assert df.rdd.getNumPartitions() == cores
    per_task = (
        df.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.sum("n_bytes").alias("b"), F.countDistinct("part_id").alias("parts"))
        .collect()
    )
    assert len(per_task) == cores and sum(r["parts"] for r in per_task) == 32
    sizes = [r["b"] for r in per_task]
    assert max(sizes) / sum(sizes) < 0.35


def test_one_parse_task_and_one_file_per_part(spark, tmp_path, monkeypatch):
    """The parse exchange is part-aligned: with at least as many parts per
    chunk as cores, an interrupted and resumed run leaves exactly one
    parquet file in every committed part directory, and re-extracting a
    non-contiguous list of more parts than cores runs one wave of one
    Python task per core, whole parts packed by size (each Python task
    has a large fixed cost, so no task is spent on less than a whole
    part). A refresh of fewer parts than cores splits its parts over the
    cores instead of parsing them in one task."""
    import glob

    cores = spark.sparkContext.defaultParallelism
    assert cores == 4  # the session fixture's local[4]
    docs = corpus_df(spark, 60)
    log = L.CommitLog(str(tmp_path / "commitlog"))
    with pytest.raises(RuntimeError, match="injected failure"):
        L.run_extraction(spark, docs, log, n_parts=8, parts_per_chunk=4, fail_after_chunks=1)
    L.run_extraction(spark, docs, log, n_parts=8, parts_per_chunk=4)
    part_dirs = glob.glob(os.path.join(log.data_dir, "chunk=*", "part_id=*"))
    assert len(part_dirs) == 8
    for d in part_dirs:
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d

    tasks = count_parse_tasks(spark, monkeypatch)
    L.reextract_parts(spark, docs, log, [1, 2, 5, 6, 7])
    assert tasks.value == cores
    refresh_id = max(c["chunk_id"] for c in log.visible_chunks())
    refresh_dirs = glob.glob(os.path.join(log.data_dir, f"chunk={refresh_id:06d}", "part_id=*"))
    assert len(refresh_dirs) == 5
    for d in refresh_dirs:
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d

    L.reextract_parts(spark, docs, log, [5])
    assert tasks.value == cores + cores


def test_kill_and_resume(spark, tmp_path):
    """Crash mid-run, rerun: final table identical, committed partitions not
    reprocessed (north_rule resumability)."""
    root = str(tmp_path / "commitlog")
    docs = corpus_df(spark, 120)
    log = L.CommitLog(root)

    with pytest.raises(RuntimeError, match="injected failure"):
        L.run_extraction(spark, docs, log, n_parts=16, parts_per_chunk=4, fail_after_chunks=2)

    committed_before = log.committed_part_ids()
    assert len(committed_before) == 8  # 2 chunks x 4 parts

    report = L.run_extraction(spark, docs, log, n_parts=16, parts_per_chunk=4)
    assert report.parts_skipped == 8
    # resumed run must not touch already-committed partitions
    assert set(range(16)) - committed_before == set(
        p for c in log.committed_chunks()[2:] for p in c["part_ids"]
    )

    final = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in log.read_extracted(spark).collect()
    }
    oracle = _oracle(120)
    assert set(final) == set(oracle)
    for doc_id, res in oracle.items():
        assert final[doc_id] == res.spans

    # idempotent: a third run does nothing
    report3 = L.run_extraction(spark, docs, log, n_parts=16, parts_per_chunk=4)
    assert report3.chunks_committed == 0 and report3.parts_skipped == 16

    # lineage accounting matches data
    lin = read_lineage(log, spark)
    total = lin.groupBy().sum("docs_done").collect()[0][0]
    assert total == 120


def test_snapshot_time_travel(spark, tmp_path):
    """as_of reads pin the Iceberg VERSION AS OF contract against the REAL
    writer: snapshot N sees exactly chunks 0..N, later commits and
    uncommitted data dirs stay invisible, and the committed markers list
    one row per commit."""
    root = str(tmp_path / "ttlog")
    docs = corpus_df(spark, 60, seed=11)
    log = L.CommitLog(root)
    L.run_extraction(spark, docs, log, n_parts=8, parts_per_chunk=3)
    snaps = log.committed_chunks()
    assert [s["chunk_id"] for s in snaps] == [0, 1, 2]
    assert all(len(s["part_ids"]) == 3 or len(s["part_ids"]) == 2 for s in snaps)

    full = log.read_extracted(spark).count()
    seen = [log.read_extracted(spark, as_of=n).count() for n in range(3)]
    # monotone growth to the full table; snapshot 0 is a strict subset
    assert seen[2] == full and seen[0] < seen[1] < seen[2]
    # as_of past the newest snapshot == current table
    assert log.read_extracted(spark, as_of=99).count() == full

    # doc sets nest: every doc visible at N is visible at N+1
    ids = [
        {r["doc_id"] for r in log.read_extracted(spark, as_of=n).collect()}
        for n in range(3)
    ]
    assert ids[0] < ids[1] < ids[2]

    # an uncommitted data dir (crashed writer) is invisible at EVERY snapshot
    rogue = os.path.join(root, "data", "chunk=000099", "part_id=7")
    os.makedirs(rogue)
    shutil.copy(
        next(
            os.path.join(dp, f)
            for dp, _, fs in os.walk(os.path.join(root, "data", "chunk=000000"))
            for f in fs
            if f.endswith(".parquet")
        ),
        os.path.join(rogue, "part-0.parquet"),
    )
    assert log.read_extracted(spark).count() == full
    # lineage time travel follows the same markers
    assert read_lineage(log, spark, as_of=0).count() == 3

    # incremental scan: (0, 2] is exactly the rows snapshots 1..2 added
    inc = {r["doc_id"] for r in log.read_incremental(spark, after=0).collect()}
    assert inc == ids[2] - ids[0]
    assert log.read_incremental(spark, after=2).count() == 0


def test_compaction_and_expiry(spark, tmp_path):
    """rewrite_data_files + expire_snapshots analogues: compaction rewrites
    the visible chunks into one replacement chunk behind the same atomic
    marker; the table contents are identical, parts spread over several
    files collapse to one file each, pre-compaction time travel still
    resolves until expiry reclaims it, and resume treats every compacted
    part as committed."""
    root = str(tmp_path / "clog")
    docs = corpus_df(spark, 60, seed=13)
    log = L.CommitLog(root)
    # 4 chunks; 8 parse tasks for a chunk's 2 parts split each part over
    # several tasks, so most parts start out in more than one file
    L.run_extraction(spark, docs, log, n_parts=8, parts_per_chunk=2, num_partitions=8)

    def span_map():
        return {
            r["doc_id"]: [(s["kind"], s["text"], s["offset"]) for s in r["spans"]]
            for r in log.read_extracted(spark).collect()
        }

    def n_data_files(chunk_glob="chunk=*"):
        import glob

        return len(
            glob.glob(os.path.join(root, "data", chunk_glob, "part_id=*", "*.parquet"))
        )

    before = span_map()
    files_before = n_data_files()
    lineage_docs = read_lineage(log, spark).groupBy().sum("docs_done").collect()[0][0]

    new_id = L.compact_chunks(spark, log)
    assert new_id == 4
    # contents identical, one visible chunk, the files collapse to one per part
    assert span_map() == before
    assert [c["chunk_id"] for c in log.visible_chunks()] == [new_id]
    assert files_before > 8
    assert n_data_files(f"chunk={new_id:06d}") == 8
    # lineage equivalence (per-part totals survive the rewrite)
    assert read_lineage(log, spark).groupBy().sum("docs_done").collect()[0][0] == lineage_docs
    # ...but not per-commit history: each compacted part reads back as one
    # row stamped with the compaction's commit time (the replaced chunks'
    # times stay in their markers)
    from pyspark.sql import functions as F

    stamps = read_lineage(log, spark).select(F.col("committed_at").cast("double")).collect()
    assert len(stamps) == 8
    assert all(abs(r[0] - log.committed_chunks()[-1]["committed_at"]) < 1e-5 for r in stamps)
    assert len({s["committed_at"] for s in log.committed_chunks()}) == 5
    # time travel BEFORE the compaction still resolves to the originals
    assert {
        r["doc_id"] for r in log.read_extracted(spark, as_of=0).collect()
    } < set(before)
    # resume: every part is committed, a rerun does nothing
    report = L.run_extraction(spark, docs, log, n_parts=8, parts_per_chunk=2)
    assert report.chunks_committed == 0 and report.parts_skipped == 8
    # second compaction is a no-op (single visible chunk)
    assert L.compact_chunks(spark, log) is None

    # compaction is invisible to incremental consumers: a reader current
    # through snapshot 3 sees NO new rows from the compaction commit
    assert log.read_incremental(spark, after=3).count() == 0

    # expiry physically reclaims the replaced chunks; current reads unchanged
    gone = log.expire_replaced()
    assert sorted(gone) == [0, 1, 2, 3]
    assert not os.path.isdir(os.path.join(root, "data", "chunk=000000"))
    assert span_map() == before


def test_expire_snapshots_ttl(spark, tmp_path):
    """S10 TTL-retention analogue (SURVEY §2.1: the reference deletes temp
    files older than 30 min -> `expire_snapshots` on staging tables):
    age-gated reclamation of history that the current view no longer
    reaches — a fully-overwritten append chunk is reclaimed once old
    enough, fresh history is kept, current-view data is never touched
    regardless of age, and markers survive for audit."""
    import time

    root = str(tmp_path / "ttllog")
    docs = corpus_df(spark, 40, seed=31)
    log = L.CommitLog(root)
    # chunks 0 (parts 0,1) + 1 (parts 2,3), then chunk 2 overwrites parts
    # 0,1 -> chunk 0 is fully shadowed: unreachable from the current view
    L.run_extraction(spark, docs, log, n_parts=4, parts_per_chunk=2)
    L.reextract_parts(spark, docs, log, parts=[0, 1])

    def span_map():
        return {
            r["doc_id"]: [(s["kind"], s["text"], s["offset"]) for s in r["spans"]]
            for r in log.read_extracted(spark).collect()
        }

    before = span_map()
    # compaction-only expiry never touches overwrite-shadowed appends
    assert log.expire_replaced() == []
    # nothing is old enough at cutoff 0 -> nothing reclaimed
    assert log.expire_snapshots(older_than=0.0) == []
    # cutoff beyond every commit: the shadowed chunk is reclaimed; the
    # reachable chunks (1: untouched parts, 2: the overwrite) are kept
    gone = log.expire_snapshots(older_than=time.time() + 60)
    assert gone == [0]
    assert not os.path.isdir(os.path.join(root, "data", "chunk=000000"))
    assert os.path.isdir(os.path.join(root, "data", "chunk=000001"))
    # current reads are byte-identical; markers remain auditable
    assert span_map() == before
    assert [s["chunk_id"] for s in log.committed_chunks()] == [0, 1, 2]
    # idempotent: a second sweep finds nothing to do
    assert log.expire_snapshots(older_than=time.time() + 60) == []


def test_reextract_parts_overwrite(spark, tmp_path):
    """Dynamic-partition overwrite: re-extracting changed partitions
    replaces exactly those partitions' rows at the commit flip; untouched
    partitions keep their original spans, time travel still reads the
    pre-overwrite state, and never-committed parts are refused."""
    from pdf_extractor_spark.spark.pipeline import assign_part_id, extract_documents

    root = str(tmp_path / "owlog")
    from pyspark.sql import functions as F

    v1 = corpus_df(spark, 60, seed=21)
    # same doc_ids, different content (the re-crawl): seed-22 payloads
    # renamed into the seed-21 id space
    v2 = corpus_df(spark, 60, seed=22).withColumn(
        "doc_id", F.regexp_replace("doc_id", "doc-22-", "doc-21-")
    )
    log = L.CommitLog(root)
    L.run_extraction(spark, v1, log, n_parts=8, parts_per_chunk=8)

    def spans_of(df):
        return {
            r["doc_id"]: [(s["kind"], s["text"], s["offset"]) for s in r["spans"]]
            for r in df.collect()
        }

    exp_v1 = spans_of(extract_documents(v1, n_parts=8, num_partitions=4))
    exp_v2 = spans_of(extract_documents(v2, n_parts=8, num_partitions=4))
    assert exp_v1 != exp_v2  # the re-crawl actually changed content
    part_of = {
        r["doc_id"]: r["part_id"]
        for r in assign_part_id(v1.select("doc_id", "spans"), 8).collect()
    }

    refresh = [2, 5]
    report = L.reextract_parts(spark, v2, log, refresh)
    assert report.chunks_committed == 1 and report.parts_processed == 2

    now = spans_of(log.read_extracted(spark))
    assert set(now) == set(exp_v1)
    for doc_id, spans in now.items():
        want = exp_v2 if part_of[doc_id] in refresh else exp_v1
        assert spans == want[doc_id], doc_id
    # at least one doc actually flipped to v2 content
    assert any(
        now[d] != exp_v1[d] for d in now if part_of[d] in refresh
    )

    # time travel to the pre-overwrite snapshot reads pure v1
    old = spans_of(log.read_extracted(spark, as_of=0))
    assert old == exp_v1

    # lineage rows follow the same per-part resolution (one row per part)
    lin = read_lineage(log, spark)
    assert lin.count() == 8
    assert lin.select("part_id").distinct().count() == 8

    # resume still treats every part as committed
    rerun = L.run_extraction(spark, v1, log, n_parts=8, parts_per_chunk=8)
    assert rerun.chunks_committed == 0 and rerun.parts_skipped == 8

    with pytest.raises(ValueError, match="never committed"):
        L.reextract_parts(spark, v2, log, [2, 99])

    # an empty refresh list commits nothing and reserves no chunk id
    n_chunks = len(log.committed_chunks())
    dirs = sorted(os.listdir(os.path.join(root, "data")))
    assert L.reextract_parts(spark, v2, log, []) == L.RunReport(0, 0, 0, 0)
    assert len(log.committed_chunks()) == n_chunks
    assert sorted(os.listdir(os.path.join(root, "data"))) == dirs

    # compaction over the shadowed history: its marker counts the rows the
    # compacted chunk holds, not the overwritten parts' stale rows too
    new_id = L.compact_chunks(spark, log)
    marker = next(c for c in log.committed_chunks() if c["chunk_id"] == new_id)
    assert marker["metrics"]["docs"] == log.read_extracted(spark).count() == 60


def test_lineage_schema(spark, tmp_path):
    root = str(tmp_path / "cl2")
    log = L.CommitLog(root)
    L.run_extraction(spark, corpus_df(spark, 30), log, n_parts=4, parts_per_chunk=4)
    lin = read_lineage(log, spark)
    assert set(lin.columns) == set(LINEAGE_COLS)
    assert lin.filter("status not in ('success','error','skip')").count() == 0


def test_preview_point_lookup(spark, tmp_path, capsys):
    """§3.3 preview path: point query over a committed run, with and without
    part_id pruning; missing doc/page -> None. ``job.py show`` prints the
    same spans and exits 1 on a missing doc or page."""
    from pdf_extractor_spark.corpus import corpus_df
    from pdf_extractor_spark.core.extractor import extract_document
    from pdf_extractor_spark.corpus import gen_documents
    from pdf_extractor_spark.spark.lineage import CommitLog, run_extraction
    from pdf_extractor_spark.spark.preview import doc_spans, read_page

    log = CommitLog(str(tmp_path / "log"))
    run_extraction(spark, corpus_df(spark, 40, seed=5), log, n_parts=16,
                   parts_per_chunk=16, num_partitions=4)

    rows = gen_documents(40, seed=5)
    target = rows[7]
    want = extract_document(target["spans"]).spans

    got = [
        (r["kind"], r["text"], r["media_ref"], r["offset"])
        for r in doc_spans(spark, log, target["doc_id"]).collect()
    ]
    assert got == want

    # part_id filter must reach the scan as a PartitionFilter (directory
    # pruning — the partitioned-layout payoff), not a rowgroup predicate
    import sys as _sys
    from pathlib import Path as _Path

    _sys.path.insert(0, str(_Path(__file__).resolve().parent.parent / "tools"))
    from plan_audit import plan_of

    plan = plan_of(doc_spans(spark, log, target["doc_id"]))
    pf = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "(part_id" in pf and "(chunk" in pf, plan

    page1 = read_page(spark, log, target["doc_id"], 1)
    assert page1 is not None
    assert page1["content"] == want[0][1]
    assert 0.0 <= page1["scores"]["parse_score"] <= 1.0
    assert page1["total_spans"] == len(want)

    assert read_page(spark, log, target["doc_id"], len(want) + 5) is None
    assert read_page(spark, log, "no-such-doc", 1) is None

    import json

    from pdf_extractor_spark.job import main

    def show(*argv):
        code = main(["show", log.root, *argv])
        out = capsys.readouterr().out.splitlines()
        spans = [json.loads(l.removeprefix("SPAN ")) for l in out if l.startswith("SPAN ")]
        return code, out, [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]

    code, out, spans = show(target["doc_id"])
    assert code == 0 and spans == want
    doc = json.loads(out[0].removeprefix("DOC "))
    res = extract_document(target["spans"])
    assert sorted(doc) == ["doc_id", "duration_ms", "pages_parsed", "parse_failures",
                           "part_id", "scores", "spans_emitted"]
    assert (doc["pages_parsed"], doc["spans_emitted"], doc["parse_failures"]) == (
        res.pages_parsed, len(want), res.parse_failures)
    assert doc["scores"] == page1["scores"]
    assert show(target["doc_id"], "--page", "1")[2] == want[:1]
    assert show(target["doc_id"], "--page", str(len(want) + 5))[0] == 1
    assert show("no-such-doc")[0] == 1
    # before the first commit the doc does not exist yet
    assert show(target["doc_id"], "--as-of", "-1")[0] == 1


def test_preview_duplicate_doc_resolves_to_canonical_copy(spark, tmp_path):
    """A doc committed in two epochs (legitimate under streaming appends)
    has two rows; the preview point queries must answer from ONE canonical
    copy (most spans) — not interleave both copies' spans, and not answer
    None for a page only the longer copy holds (review finding)."""
    import os

    import pyspark.sql.functions as F

    from pdf_extractor_spark.corpus import corpus_df, gen_documents
    from pdf_extractor_spark.core.extractor import extract_document
    from pdf_extractor_spark.spark.lineage import (
        CommitLog,
        _chunk_dirname,
        run_extraction,
    )
    from pdf_extractor_spark.spark.preview import doc_spans, read_page

    log = CommitLog(str(tmp_path / "log"))
    run_extraction(spark, corpus_df(spark, 20, seed=5), log, n_parts=16,
                   parts_per_chunk=16, num_partitions=4)
    rows = gen_documents(20, seed=5)
    target = next(
        r for r in rows if len(extract_document(r["spans"]).spans) >= 3
    )
    want = extract_document(target["spans"]).spans

    # commit a second, TRUNCATED copy of the doc as a later chunk
    dup = (
        log.read_extracted(spark)
        .where(F.col("doc_id") == target["doc_id"])
        .withColumn("spans", F.slice("spans", 1, 1))
    )
    part = dup.select("part_id").collect()[0]["part_id"]
    cid = log.reserve_chunk_id()
    dup.write.partitionBy("part_id").mode("append").parquet(
        os.path.join(log.data_dir, _chunk_dirname(cid))
    )
    log.commit_chunk(cid, [part], {"docs": 1}, n_parts=16)
    assert (
        log.read_extracted(spark)
        .where(F.col("doc_id") == target["doc_id"])
        .count()
        == 2
    )

    got = [
        (r["kind"], r["text"], r["media_ref"], r["offset"])
        for r in doc_spans(spark, log, target["doc_id"]).collect()
    ]
    assert got == want  # full copy, each offset exactly once
    # a page only the LONG copy holds must still resolve
    last = read_page(spark, log, target["doc_id"], len(want))
    assert last is not None and last["content"] == want[-1][1]


def test_preview_n_parts_recorded_and_validated(spark, tmp_path):
    """ADVICE r01: the writer's n_parts is recorded in the commit log and
    the reader uses it without being told (no caller value exists to
    mismatch it and silently prune the doc away)."""
    from pdf_extractor_spark.corpus import corpus_df, gen_documents
    from pdf_extractor_spark.core.extractor import extract_document
    from pdf_extractor_spark.spark.lineage import CommitLog, run_extraction
    from pdf_extractor_spark.spark.preview import doc_spans

    log = CommitLog(str(tmp_path / "log"))
    run_extraction(spark, corpus_df(spark, 30, seed=9), log, n_parts=16,
                   parts_per_chunk=16, num_partitions=4)
    assert log.n_parts() == 16

    rows = gen_documents(30, seed=9)
    target = rows[3]
    want = extract_document(target["spans"]).spans

    # no n_parts supplied: the recorded value still prunes to one partition
    import sys as _sys
    from pathlib import Path as _Path

    _sys.path.insert(0, str(_Path(__file__).resolve().parent.parent / "tools"))
    from plan_audit import plan_of

    df = doc_spans(spark, log, target["doc_id"])
    pf = next(l for l in plan_of(df).splitlines() if "PartitionFilters" in l)
    assert "(part_id" in pf
    got = [(r["kind"], r["text"], r["media_ref"], r["offset"]) for r in df.collect()]
    assert got == want


def test_export_markdown_zip(spark, tmp_path):
    """S8 analogue: committed output exports to one deterministic zip of
    per-doc markdown; committed data survives the export (the reference's
    destructive cleanup is NOT mirrored)."""
    import zipfile

    from pdf_extractor_spark.spark.export import export_markdown_zip, markdown_expr

    root = str(tmp_path / "commitlog")
    docs = corpus_df(spark, 40)
    log = L.CommitLog(root)
    L.run_extraction(spark, docs, log, n_parts=8, parts_per_chunk=4)

    zip1 = str(tmp_path / "export1.zip")
    zip2 = str(tmp_path / "export2.zip")
    n1 = export_markdown_zip(spark, root, zip1)
    n2 = export_markdown_zip(spark, root, zip2)
    assert n1 == n2 == 40
    with open(zip1, "rb") as a, open(zip2, "rb") as b:
        assert a.read() == b.read()  # byte-deterministic archive

    from pyspark.sql import functions as F

    want = {
        r["doc_id"]: r["md"]
        for r in log.read_extracted(spark)
        .select("doc_id", markdown_expr("spans").alias("md"))
        .collect()
    }
    with zipfile.ZipFile(zip1) as zf:
        names = zf.namelist()
        assert names == sorted(names) and len(names) == 40
        for name in names:
            doc_id = name[: -len(".md")]
            assert zf.read(name).decode("utf-8") == want[doc_id]
    # committed data untouched by the export
    assert log.read_extracted(spark).count() == 40


def test_export_markdown_zip_sharded(spark, tmp_path):
    """S8 sharded option: exactly N archives, each byte-deterministic
    across runs, whose union equals the single-zip export entry-for-entry;
    doc->shard assignment is content-addressed (pmod(xxhash64(doc_id), N)),
    and empty shards still exist as empty zips (completeness glob)."""
    import zipfile

    from pdf_extractor_spark.spark.export import (
        export_markdown_zip,
        export_markdown_zip_sharded,
        shard_zip_name,
    )

    root = str(tmp_path / "commitlog")
    log = L.CommitLog(root)
    L.run_extraction(spark, corpus_df(spark, 40), log, n_parts=8, parts_per_chunk=4)

    single = str(tmp_path / "single.zip")
    assert export_markdown_zip(spark, root, single) == 40

    n_shards = 6
    out1, out2 = str(tmp_path / "shards1"), str(tmp_path / "shards2")
    assert export_markdown_zip_sharded(spark, root, out1, n_shards) == 40
    assert export_markdown_zip_sharded(spark, root, out2, n_shards) == 40

    # completeness: exactly N archives, rerun byte-identical shard by shard
    for out in (out1, out2):
        assert sorted(os.listdir(out)) == [
            shard_zip_name(k) for k in range(n_shards)
        ]
    union: dict[str, bytes] = {}
    n_nonempty = 0
    for k in range(n_shards):
        p1, p2 = [os.path.join(d, shard_zip_name(k)) for d in (out1, out2)]
        with open(p1, "rb") as a, open(p2, "rb") as b:
            assert a.read() == b.read()
        with zipfile.ZipFile(p1) as zf:
            names = zf.namelist()
            assert names == sorted(names)  # in-shard doc_id order
            n_nonempty += bool(names)
            for name in names:
                assert name not in union  # shards are disjoint
                union[name] = zf.read(name)
    assert n_nonempty > 1  # 40 docs over 6 shards: really sharded
    # union of shards == the single archive, entry-for-entry
    with zipfile.ZipFile(single) as zf:
        assert sorted(zf.namelist()) == sorted(union)
        for name in zf.namelist():
            assert zf.read(name) == union[name]

    # a shard count above the doc count forces empty shards; they exist
    out3 = str(tmp_path / "shards3")
    assert export_markdown_zip_sharded(spark, root, out3, 64) == 40
    empties = [
        k
        for k in range(64)
        if not zipfile.ZipFile(os.path.join(out3, shard_zip_name(k))).namelist()
    ]
    assert empties  # backfilled, readable, empty

    # n_shards=1 is the directory layout too (the CLI routes ANY --shards
    # here): one shard archive whose entries equal the single-zip export
    out4 = str(tmp_path / "shards4")
    assert export_markdown_zip_sharded(spark, root, out4, 1) == 40
    assert os.listdir(out4) == [shard_zip_name(0)]
    with zipfile.ZipFile(os.path.join(out4, shard_zip_name(0))) as zf, \
            zipfile.ZipFile(single) as zs:
        assert zf.namelist() == zs.namelist()

    # publish is whole-directory: re-exporting onto an existing out_dir
    # replaces it wholesale, leaving no staging/retired litter behind
    assert export_markdown_zip_sharded(spark, root, out4, 1) == 40
    assert os.listdir(out4) == [shard_zip_name(0)]
    litter = [
        n
        for n in os.listdir(os.path.dirname(out4))
        if ".inprogress-" in n or ".retired-" in n
    ]
    assert litter == []


def test_export_zip_time_travel(spark, tmp_path):
    """as_of exports exactly the pinned snapshot's documents."""
    import zipfile

    from pdf_extractor_spark.spark.export import export_markdown_zip

    root = str(tmp_path / "commitlog")
    log = L.CommitLog(root)
    L.run_extraction(spark, corpus_df(spark, 30), log, n_parts=4, parts_per_chunk=2)
    snap1 = log.committed_chunks()[-1]["chunk_id"]
    L.run_extraction(
        spark, corpus_df(spark, 50, seed=7), log, n_parts=4, parts_per_chunk=2
    )

    zpath = str(tmp_path / "old.zip")
    n = export_markdown_zip(spark, root, zpath, as_of=snap1)
    assert n == 30
    with zipfile.ZipFile(zpath) as zf:
        assert all("doc-42-" in name for name in zf.namelist())


def test_export_entry_name_sanitization():
    """Arbitrary doc_ids can't produce zip-slip paths, subdirectories, or
    silently-shadowed duplicate entries."""
    from pdf_extractor_spark.spark.export import _entry_name

    seen = set()
    assert _entry_name("../../etc/passwd", seen) == "_.._etc_passwd.md"
    assert _entry_name("a/b", seen) == "a_b.md"
    assert _entry_name("a_b", seen) == "a_b~1.md"  # collision gets a suffix
    assert _entry_name("...", seen) == "doc.md"
    assert len(seen) == 4


def test_empty_chunk_commits_without_crash(spark, tmp_path):
    """A chunk whose parts received zero docs must still commit (and count
    as done on resume) instead of dying in schema inference on a directory
    holding only _SUCCESS."""
    root = str(tmp_path / "commitlog")
    docs = corpus_df(spark, 1)  # one doc -> most parts empty
    log = L.CommitLog(root)
    report = L.run_extraction(spark, docs, log, n_parts=8, parts_per_chunk=4)
    assert report.parts_processed == 8  # both chunks committed
    assert log.committed_part_ids() == set(range(8))
    # resume is a no-op, not a re-crash
    again = L.run_extraction(spark, docs, log, n_parts=8, parts_per_chunk=4)
    assert again.parts_processed == 0 and again.parts_skipped == 8
    assert log.read_extracted(spark).count() == 1


def test_resume_with_different_n_parts_refuses(spark, tmp_path):
    """Re-running with a different n_parts would re-hash docs into 'new'
    parts and duplicate rows — the append path must refuse."""
    root = str(tmp_path / "commitlog")
    docs = corpus_df(spark, 20)
    log = L.CommitLog(root)
    L.run_extraction(spark, docs, log, n_parts=8, parts_per_chunk=8)
    with pytest.raises(ValueError, match="n_parts=8"):
        L.run_extraction(spark, docs, log, n_parts=16, parts_per_chunk=8)
    assert log.read_extracted(spark).count() == 20  # nothing duplicated


def test_out_of_order_commit_visible_to_incremental_and_as_of(spark, tmp_path):
    """Chunk ids are reserve-ordered; a slow writer can commit a LOW id
    late. Incremental cursors and as_of horizons follow COMMIT order, so
    the late chunk is neither skipped by consumers nor folded into a
    snapshot that predates its commit."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "commitlog")
    log = L.CommitLog(root)
    # slow writer reserves chunk 0 but doesn't commit yet
    slow_id = log.reserve_chunk_id()
    assert slow_id == 0
    # fast writer commits chunk 1 meanwhile (same n_parts as every writer
    # to this table — the commit layer rejects a mismatch — with part
    # ranges kept disjoint by filtering)
    fast = extract_documents(
        corpus_df(spark, 10), n_parts=8, num_partitions=2
    ).where(F.col("part_id") < 4)
    n_fast = fast.count()
    assert n_fast > 0
    fast_id = log.reserve_chunk_id()
    L._write_chunk(spark, log, fast, fast_id, [0, 1, 2, 3], 8)
    # slow writer finally lands chunk 0 (disjoint parts, append semantics)
    slow = extract_documents(
        corpus_df(spark, 30, seed=7), n_parts=8, num_partitions=2
    ).where(F.col("part_id") >= 4)
    n_slow = slow.count()
    assert n_slow > 0
    L._write_chunk(spark, log, slow, slow_id, [4, 5, 6, 7], 8)

    # commit order: chunk 1 first, chunk 0 second
    assert [c["chunk_id"] for c in log.committed_chunks()] == [1, 0]
    # a consumer whose cursor reached snapshot 1 must still see chunk 0
    inc = log.read_incremental(spark, after=fast_id)
    assert inc.count() == n_slow
    # time travel to snapshot 1 excludes the later-committed chunk 0
    assert log.read_extracted(spark, as_of=fast_id).count() == n_fast
    assert log.read_extracted(spark).count() == n_fast + n_slow


def test_sharded_export_replaces_prior_single_zip_file(spark, tmp_path):
    """Re-exporting with --shards over a path holding a PRIOR single-zip
    export (a regular file) must retire the file cleanly — directory
    published, no .retired litter."""
    from pdf_extractor_spark.spark.export import (
        export_markdown_zip,
        export_markdown_zip_sharded,
        shard_zip_name,
    )

    root = str(tmp_path / "commitlog")
    log = L.CommitLog(root)
    L.run_extraction(spark, corpus_df(spark, 10), log, n_parts=2, parts_per_chunk=1)

    target = str(tmp_path / "exp" / "out")
    assert export_markdown_zip(spark, root, target) == 10  # a FILE at target
    assert os.path.isfile(target)
    assert export_markdown_zip_sharded(spark, root, target, 2) == 10
    assert os.path.isdir(target)
    assert sorted(os.listdir(target)) == [shard_zip_name(k) for k in range(2)]
    litter = [
        n
        for n in os.listdir(tmp_path / "exp")
        if ".retired-" in n or ".inprogress-" in n
    ]
    assert litter == []


def test_schema_evolution_add_and_drop_column(spark, tmp_path):
    """Iceberg-parity schema evolution over the commit protocol: the scan
    takes the CALLER's schema, so (a) adding a nullable column is one
    contract bump — chunks written before the column exists read back as
    NULL, chunks written after carry values, in the SAME snapshot read;
    (b) reading with the old schema prunes the new column from newer
    chunks (drop-column view); (c) time travel composes with both. No
    rewrite of old files, exactly Iceberg's add/drop semantics."""
    from pdf_extractor_spark.spark.lineage import _chunk_dirname

    root = str(tmp_path / "evolve")
    log = L.CommitLog(root)
    v1 = "doc_id string, n_spans int, part_id int"
    v2 = "doc_id string, n_spans int, quality_micros bigint, part_id int"

    def write_chunk(rows, schema):
        cid = log.reserve_chunk_id()
        df = spark.createDataFrame(rows, schema)
        df.write.partitionBy("part_id").mode("append").parquet(
            os.path.join(log.data_dir, _chunk_dirname(cid))
        )
        parts = sorted({r[-1] for r in rows})
        log.commit_chunk(cid, parts, {"docs": len(rows)}, n_parts=8)

    write_chunk([("a", 3, 0), ("b", 1, 1)], v1)
    write_chunk([("c", 2, 900_000, 2), ("d", 5, 400_000, 3)], v2)

    # (a) evolved read: one scan over both chunks, old rows NULL-filled
    got = {r["doc_id"]: r for r in log.read_table(spark, v2).collect()}
    assert set(got) == {"a", "b", "c", "d"}
    assert got["a"]["quality_micros"] is None
    assert got["b"]["quality_micros"] is None
    assert got["c"]["quality_micros"] == 900_000
    assert got["d"]["quality_micros"] == 400_000
    assert got["a"]["n_spans"] == 3  # shared columns intact across versions

    # (b) old-schema read still sees every chunk (new column pruned)
    old = log.read_table(spark, v1)
    assert "quality_micros" not in old.columns
    assert {r["doc_id"] for r in old.collect()} == {"a", "b", "c", "d"}

    # (c) time travel with the evolved schema: snapshot 0 predates v2
    at0 = log.read_table(spark, v2, as_of=0).collect()
    assert {r["doc_id"] for r in at0} == {"a", "b"}
    assert all(r["quality_micros"] is None for r in at0)


def test_per_doc_password_column_both_paths(spark):
    """``password_col`` (round 4): a (doc_id, password) manifest left-joined
    onto the encrypted corpus unlocks exactly the passworded docs — per-doc
    candidates beat a global list at scale because each locked doc pays ONE
    V5 key derivation. The Arrow kernel must agree with the closed-form
    unlocked expectation; docs outside the manifest (null password) still
    decrypt via the empty-password path."""
    from pyspark.sql import functions as F

    from pdf_extractor_spark.corpus import (
        corpus_parquet,
        expected_extraction_rows,
    )
    from pdf_extractor_spark.spark.pipeline import extract_documents

    docs = spark.read.parquet(corpus_parquet(24, seed=7, profile="encrypted"))
    manifest = (
        docs.select("doc_id")
        .where(F.substring("doc_id", -8, 8).cast("int") % 7 == 0)
        .withColumn("password", F.lit("real-password"))
    )
    joined = docs.join(F.broadcast(manifest), "doc_id", "left")
    exp = {
        r["doc_id"]: r["parse_failures"]
        for r in expected_extraction_rows(
            24, seed=7, profile="encrypted", unlock_passworded=True
        )
    }
    assert sum(exp.values()) == 0  # every doc unlocks under the manifest
    ext = extract_documents(
        joined, n_parts=8, num_partitions=4, password_col="password"
    )
    got = {
        r["doc_id"]: r["parse_failures"]
        for r in ext.select("doc_id", "parse_failures").collect()
    }
    assert got == exp


def test_reextract_parts_keeps_password_column(spark, tmp_path):
    """--refresh-parts --password-manifest (round-5 ADVICE fix):
    ``reextract_parts`` must keep the joined manifest password column
    through its (doc_id, spans) projection — dropping it crashed
    ``extract_documents(password_col=...)`` with an unresolved-column
    AnalysisException. Refreshed parts must unlock their passworded docs."""
    from pyspark.sql import functions as F

    from pdf_extractor_spark.corpus import (
        corpus_parquet,
        expected_extraction_rows,
    )
    from pdf_extractor_spark.spark import lineage as L

    docs = spark.read.parquet(corpus_parquet(24, seed=7, profile="encrypted"))
    manifest = (
        docs.select("doc_id")
        .where(F.substring("doc_id", -8, 8).cast("int") % 7 == 0)
        .withColumn("password", F.lit("real-password"))
    )
    joined = docs.join(F.broadcast(manifest), "doc_id", "left")

    log = L.CommitLog(str(tmp_path / "tbl"))
    # baseline commit WITHOUT the manifest: passworded docs fail to parse
    L.run_extraction(spark, docs, log, n_parts=8, parts_per_chunk=8,
                     num_partitions=4)
    before = dict(
        log.read_extracted(spark)
        .select("doc_id", "parse_failures").collect()
    )
    assert sum(before.values()) > 0  # some docs locked without passwords

    # overwrite every part WITH the per-doc passwords flowing through
    report = L.reextract_parts(
        spark, joined, log, parts=list(range(8)),
        num_partitions=4, password_col="password",
    )
    assert report.parts_processed == 8
    exp = {
        r["doc_id"]: r["parse_failures"]
        for r in expected_extraction_rows(
            24, seed=7, profile="encrypted", unlock_passworded=True
        )
    }
    after = dict(
        log.read_extracted(spark)
        .select("doc_id", "parse_failures").collect()
    )
    assert after == exp and sum(after.values()) == 0
