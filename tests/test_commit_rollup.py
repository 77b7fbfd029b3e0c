"""The chunk commit's rollup comes from the write's own Observation.

Differential: the marker's docs/pages/failures and the parts each write
observed must equal a rollup read back from the committed files, across
every write path (kill-and-resume appends, an overwrite refresh,
compaction, watch batches) and under a forced task retry; each
writer's marker carries its own metric keys (a derived marker no pages).
Job budget: an extraction chunk runs exactly the exchange's map job plus
one parse-and-write job, and a derived commit runs no job after its write.
"""

import os
import subprocess
import sys
import uuid
from pathlib import Path

from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from pdf_extractor_spark.corpus import corpus_df
from pdf_extractor_spark.spark import lineage as L
from pdf_extractor_spark.spark.pipeline import EXTRACTED_SCHEMA
from tests.helpers import read_lineage

REPO = Path(__file__).resolve().parent.parent


def _read_back(spark, log, chunk_id):
    """Rollup of one chunk's committed files, recomputed from disk."""
    path = os.path.join(log.data_dir, L._chunk_dirname(chunk_id))
    r = (
        spark.read.schema(EXTRACTED_SCHEMA)
        .parquet(path)
        .agg(
            F.count("*").alias("docs"),
            F.coalesce(F.sum("pages_parsed"), F.lit(0)).alias("pages"),
            F.coalesce(F.sum("parse_failures"), F.lit(0)).alias("failures"),
            F.array_sort(F.collect_set("part_id")).alias("part_ids"),
            F.array_sort(
                F.collect_set(F.when(F.col("parse_failures") > 0, F.col("part_id")))
            ).alias("error_parts"),
        )
        .collect()[0]
    )
    return r.asDict()


def _assert_rollups_match(spark, log, observed):
    """Every committed chunk: marker metrics == observed == read-back."""
    for marker in log.committed_chunks():
        cid = marker["chunk_id"]
        back = _read_back(spark, log, cid)
        seen = observed[L._chunk_dirname(cid)]
        assert seen == back, (cid, seen, back)
        got = {k: marker["metrics"][k] for k in ("docs", "pages", "failures", "error_parts")}
        assert got == {k: back[k] for k in got}, (cid, marker, back)
        if "files" in marker["metrics"]:  # watch: parts are observed
            assert marker["part_ids"] == back["part_ids"], (cid, marker)
        else:
            assert set(back["part_ids"]) <= set(marker["part_ids"]), (cid, marker)


def test_observed_rollup_matches_committed_files(spark, tmp_path, monkeypatch):
    import pyarrow.parquet as pq

    from pdf_extractor_spark.spark.signals import run_signals

    observed = {}
    real = L.write_observed

    def record(df, path):
        observed[os.path.basename(path)] = out = real(df, path)
        return out

    monkeypatch.setattr(L, "write_observed", record)
    docs = corpus_df(spark, 40, seed=31)

    # kill and resume
    log = L.CommitLog(str(tmp_path / "batch"))
    try:
        L.run_extraction(spark, docs, log, n_parts=8, parts_per_chunk=3, fail_after_chunks=1)
    except RuntimeError as e:
        assert "injected failure" in str(e)
    L.run_extraction(spark, docs, log, n_parts=8, parts_per_chunk=3)
    # an overwrite refresh, then compaction over the shadowed history
    L.reextract_parts(spark, docs, log, [1, 4])
    new_id = L.compact_chunks(spark, log)
    assert len(log.committed_chunks()) == 5
    _assert_rollups_match(spark, log, observed)
    compacted = next(c for c in log.committed_chunks() if c["chunk_id"] == new_id)
    assert compacted["metrics"]["docs"] == log.read_extracted(spark).count() == 40

    # watch batches, one of them a file with no docs at all
    slog = L.CommitLog(str(tmp_path / "watch"))
    drop = tmp_path / "drop"
    drop.mkdir()
    for name, n in (("a.parquet", 12), ("b.parquet", 0)):
        pq.write_table(docs.select("doc_id", "spans").limit(n).toArrow(), drop / name)
        L.run_watch(spark, str(drop), slog, 8, "parquet", num_partitions=2)
    _assert_rollups_match(spark, slog, observed)
    empty = slog.committed_chunks()[-1]
    assert empty["part_ids"] == []
    assert empty["metrics"] == {
        "docs": 0, "pages": 0, "failures": 0, "error_parts": [],
        "files": [os.path.join(os.path.realpath(drop), "b.parquet")],
    }

    # one write path, per-writer marker keys: a derived marker counts
    # docs only (no pages/failures), incremental or rebuilt
    extraction = {"docs", "pages", "failures", "error_parts"}
    keys = [set(m["metrics"]) for m in log.committed_chunks()]
    assert keys == [extraction] * 4 + [extraction | {"compacted_from"}]
    assert all(set(m["metrics"]) == extraction | {"files"} for m in slog.committed_chunks())
    dlog = L.CommitLog(str(tmp_path / "signals"))
    run_signals(spark, slog, dlog)
    run_signals(spark, slog, dlog, rebuild=True)
    derived = {"docs", "stage", "src_snapshot"}
    assert [set(m["metrics"]) for m in dlog.committed_chunks()] == [derived, derived | {"rebuild"}]
    assert [m["metrics"]["docs"] for m in dlog.committed_chunks()] == [12, 12]


def test_part_status_from_markers_matches_lineage(spark, tmp_path):
    """The job's end-of-run tally reads only markers, yet agrees with the
    data's per-(chunk, part) status across a refresh; a marker without
    ``error_parts`` resolves from its failure count or reads ``unknown``."""
    docs = corpus_df(spark, 28, seed=3, profile="encrypted")  # 4 fail
    log = L.CommitLog(str(tmp_path / "t"))
    L.run_extraction(spark, docs, log, n_parts=4, parts_per_chunk=2)
    L.reextract_parts(spark, docs, log, [1])

    def from_data():
        rows = read_lineage(log, spark).groupBy("status").count().collect()
        return {r["status"]: r["count"] for r in rows}

    assert log.part_status() == from_data()
    assert log.part_status()["error"] >= 1

    old = L.CommitLog(str(tmp_path / "old"))
    old.commit_chunk(0, [0, 1], {"docs": 5, "pages": 5, "failures": 0})
    old.commit_chunk(1, [2], {"docs": 3, "pages": 2, "failures": 1})
    assert old.part_status() == {"success": 2, "unknown": 1}


_RETRY_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from pyspark import TaskContext
from pdf_extractor_spark.corpus import corpus_df
from pdf_extractor_spark.spark import lineage as L
from pdf_extractor_spark.spark.pipeline import extract_documents
from pdf_extractor_spark.spark.session import get_spark
from tests.test_commit_rollup import _read_back

root, flag = sys.argv[1], sys.argv[2]

def flaky(batches):
    n = 0
    for b in batches:
        n += b.num_rows
        yield b
    ctx = TaskContext.get()
    if ctx.attemptNumber() == 0 and ctx.partitionId() == 0:
        with open(flag, "w") as f:
            f.write(str(n))
        raise RuntimeError("forced first-attempt failure")

spark = get_spark(app_name="retry", master="local[4,2]", shuffle_partitions=4)
spark.sparkContext.setLogLevel("OFF")
try:
    extracted = extract_documents(corpus_df(spark, 24, seed=7), n_parts=8, num_partitions=4)
    log = L.CommitLog(root)
    cid = log.reserve_chunk_id()
    metrics = L._write_chunk(
        spark, log, extracted.mapInArrow(flaky, extracted.schema), cid, list(range(8)), 8
    )
    back = _read_back(spark, log, cid)
    assert back["docs"] == 24, back
    assert metrics == {{k: back[k] for k in metrics}}, (metrics, back)
    print("RETRY_OK", open(flag).read())
finally:
    spark.stop()
"""


def test_observed_rollup_exact_under_task_retry(tmp_path):
    """A result task that fails after its rows went through the write is
    retried (local[4,2]); the observed rollup counts the rows once."""
    out = subprocess.run(
        [
            sys.executable, "-c", _RETRY_SCRIPT.format(repo=str(REPO)),
            str(tmp_path / "t"), str(tmp_path / "failed-attempt"),
        ],
        cwd=str(REPO), capture_output=True, text=True, timeout=300,
    )
    assert "RETRY_OK" in out.stdout, out.stdout[-2000:] + out.stderr[-3000:]
    # the failed attempt really pushed rows through the observed write
    assert int(out.stdout.split("RETRY_OK")[1].split()[0]) > 0, out.stdout


def test_chunk_commit_job_budget(spark, tmp_path, monkeypatch):
    """2 jobs per extraction chunk (exchange map stage, parse + write);
    no job between a derived stage's write and its marker."""
    from pdf_extractor_spark.spark.signals import run_signals

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    tag = uuid.uuid4().hex
    groups = []
    real_chunk = L._write_chunk

    def grouped(spark_, log, extracted, chunk_id, *a, **k):
        groups.append(f"{tag}-{chunk_id}")
        sc.setJobGroup(groups[-1], "chunk")
        try:
            return real_chunk(spark_, log, extracted, chunk_id, *a, **k)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    monkeypatch.setattr(L, "_write_chunk", grouped)
    src = L.CommitLog(str(tmp_path / "src"))
    # one-chunk runs: a multi-chunk run persists its input, and building
    # that cache is one more job inside the first chunk
    docs = corpus_df(spark, 24, seed=5)
    L.run_extraction(spark, docs, src, n_parts=8, parts_per_chunk=8)
    L.reextract_parts(spark, docs, src, [0, 3])
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert [len(tracker.getJobIdsForGroup(g)) for g in groups] == [2, 2]

    after_write = []
    real_parquet = DataFrameWriter.parquet

    def spy(writer, path, *a, **k):
        out = real_parquet(writer, path, *a, **k)
        after_write.append(set(tracker.getJobIdsForGroup(tag)))
        return out

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    sc.setJobGroup(tag, "derived")
    try:
        report = run_signals(spark, src, L.CommitLog(str(tmp_path / "signals")), rebuild=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert report.docs_processed == 24
    assert len(after_write) == 1
    assert set(tracker.getJobIdsForGroup(tag)) == after_write[0]
