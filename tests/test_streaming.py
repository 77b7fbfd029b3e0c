"""Streaming ingestion: incremental file drops -> same span output as batch,
idempotent commits, per-part lineage rollup."""

from pdf_extractor_spark.core.extractor import extract_document
from pdf_extractor_spark.corpus import gen_documents
from pdf_extractor_spark.spark.lineage import CommitLog
from pdf_extractor_spark.streaming.ingest import start_extraction_stream
from tests.helpers import read_lineage


def _write_drop(spark, rows, path):
    """One parquet 'drop' of documents arriving in the landing dir."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    span_type = pa.list_(
        pa.struct(
            [
                ("kind", pa.string()),
                ("text", pa.string()),
                ("media_ref", pa.string()),
                ("offset", pa.int32()),
            ]
        )
    )
    table = pa.table(
        {
            "doc_id": pa.array([r["doc_id"] for r in rows], pa.string()),
            "spans": pa.array([r["spans"] for r in rows], span_type),
        }
    )
    pq.write_table(table, path)


def test_streaming_matches_batch_oracle(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    rows = gen_documents(60, seed=11)
    _write_drop(spark, rows[:30], str(landing / "drop-0.parquet"))
    _write_drop(spark, rows[30:], str(landing / "drop-1.parquet"))

    log = CommitLog(str(tmp_path / "log"))
    q = start_extraction_stream(
        spark,
        str(landing),
        log,
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_parts=16,
        num_partitions=4,
        max_files_per_trigger=1,
    )
    q.awaitTermination(300)

    # one chunk per micro-batch (maxFilesPerTrigger=1 -> 2 epochs)
    assert len(log.committed_chunks()) == 2

    final = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in log.read_extracted(spark).collect()
    }
    assert len(final) == 60
    for r in rows:
        assert final[r["doc_id"]] == extract_document(r["spans"]).spans

    # restart over the same checkpoint: no new data -> no new chunks
    q2 = start_extraction_stream(
        spark,
        str(landing),
        log,
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_parts=16,
        num_partitions=4,
    )
    q2.awaitTermination(120)
    assert len(log.committed_chunks()) == 2

    # a third drop arrives -> exactly one more chunk, old chunks untouched
    more = gen_documents(10, seed=99)
    _write_drop(spark, more, str(landing / "drop-2.parquet"))
    q3 = start_extraction_stream(
        spark,
        str(landing),
        log,
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_parts=16,
        num_partitions=4,
    )
    q3.awaitTermination(120)
    assert len(log.committed_chunks()) == 3
    assert log.read_extracted(spark).count() == 70

    # the per-part lineage rollup accounts for every doc
    lineage = read_lineage(log, spark).collect()
    assert sum(r["docs_done"] for r in lineage) == 70


def test_streaming_idempotent_epoch_replay(spark, tmp_path):
    """A commit marker that already exists must short-circuit the epoch
    (foreachBatch re-delivers the last epoch after a crash)."""
    from pdf_extractor_spark.streaming.ingest import make_batch_processor

    rows = gen_documents(12, seed=5)
    drop = str(tmp_path / "drop-0.parquet")
    _write_drop(spark, rows, drop)
    batch_df = spark.read.parquet(drop)
    log = CommitLog(str(tmp_path / "log"))

    process = make_batch_processor(spark, log, n_parts=8, num_partitions=2)
    process(batch_df, 0)
    chunks = log.committed_chunks()
    assert len(chunks) == 1
    committed_at = chunks[0]["committed_at"]

    process(batch_df, 0)  # replay of the same epoch: must be a no-op
    chunks2 = log.committed_chunks()
    assert len(chunks2) == 1
    assert chunks2[0]["committed_at"] == committed_at
    assert log.read_extracted(spark).count() == 12

    # RESTART replay: a fresh processor (post-crash, epoch committed but not
    # yet checkpointed) must also skip — the epoch key is read back from the
    # markers, not from restart-dependent in-memory state
    process_restarted = make_batch_processor(spark, log, n_parts=8, num_partitions=2)
    process_restarted(batch_df, 0)
    assert len(log.committed_chunks()) == 1
    assert log.read_extracted(spark).count() == 12

    # a DIFFERENT stream namespace legitimately starts at epoch 0 again
    other = make_batch_processor(
        spark, log, n_parts=8, num_partitions=2, stream_ns="other-ckpt"
    )
    other(batch_df, 0)
    assert len(log.committed_chunks()) == 2


def test_streaming_needs_ocr_routing(spark, tmp_path):
    """watch -> ocr: scanned documents (text-free pages with images) reach
    the OCR table with their pdf:// refs; clean documents do not; a
    restarted stream plus a rerun of the stage add nothing."""
    import base64

    from pdf_extractor_spark.core.pdf_build import ImageBox, PageSpec, TextBox, build_pdf

    def pdf_span(pdf_bytes):
        return {
            "kind": "pdf",
            "text": base64.b64encode(pdf_bytes).decode("ascii"),
            "media_ref": "",
            "offset": 0,
        }

    scanned = build_pdf(
        [
            PageSpec(images=[ImageBox(x=50, y_top=49.5, w=512, h=693)]),
            PageSpec(boxes=[TextBox(x=72, y_top=100, lines=["Real text."])]),
        ]
    )
    clean = build_pdf([PageSpec(boxes=[TextBox(x=72, y_top=100, lines=["Fine."])])])
    rows = [
        {"doc_id": "scan-1", "spans": [pdf_span(scanned)]},
        {"doc_id": "clean-1", "spans": [pdf_span(clean)]},
        {"doc_id": "text-1", "spans": [{"kind": "text", "text": "plain", "media_ref": "", "offset": 0}]},
    ]
    landing = tmp_path / "landing"
    landing.mkdir()
    _write_drop(spark, rows, str(landing / "drop-0.parquet"))

    from pdf_extractor_spark.spark.ocr import read_ocr_text, run_ocr

    log = CommitLog(str(tmp_path / "log"))
    ocr = CommitLog(str(tmp_path / "ocr"))
    q = start_extraction_stream(
        spark,
        str(landing),
        log,
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_parts=8,
        num_partitions=2,
    )
    q.awaitTermination(300)
    assert run_ocr(spark, log, ocr).chunks_committed == 1

    refs = [(r["doc_id"], r["media_ref"]) for r in read_ocr_text(spark, ocr).collect()]
    assert refs == [("scan-1", "pdf://0/0/Im0")]
    [scan] = log.read_extracted(spark).where("doc_id = 'scan-1'").collect()
    assert scan["scores"]["pages_empty_with_images"] == 1

    # restart over the same checkpoint: replayed/empty epochs add nothing
    q2 = start_extraction_stream(
        spark,
        str(landing),
        log,
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_parts=8,
        num_partitions=2,
    )
    q2.awaitTermination(120)
    assert run_ocr(spark, log, ocr).chunks_committed == 0
    assert read_ocr_text(spark, ocr).count() == 1


def test_stream_start_rejects_mismatched_n_parts(spark, tmp_path):
    import pytest

    from pdf_extractor_spark.streaming.ingest import make_batch_processor

    log = CommitLog(str(tmp_path / "log"))
    log.commit_chunk(0, [0], {"docs": 1}, n_parts=8)
    with pytest.raises(ValueError, match="n_parts=8"):
        make_batch_processor(spark, log, n_parts=64)


def test_merge_ocr_text_folds_recovered_text_into_spans(spark):
    """Stage-3: media spans with OCR rows gain the recovered text; all
    other spans — and docs with no OCR rows — pass through byte-identical
    (the span-sequence contract survives the merge)."""
    from pdf_extractor_spark.spark.ocr import merge_ocr_text

    span = "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    ext = spark.createDataFrame(
        [
            (
                "a",
                [
                    ("text", "hello", None, 0),
                    ("media", "", "pdf://a/0/im1", 5),
                    ("media", "", "pdf://a/0/im2", 6),
                ],
                2,
            ),
            ("b", [("text", "plain", None, 0)], 1),
        ],
        f"doc_id string, spans {span}, pages_parsed int",
    )
    ocr = spark.createDataFrame(
        [
            ("a", "pdf://a/0/im1", "[ocr-stub x]"),
            # duplicate row (replayed ref) must not break the map build
            ("a", "pdf://a/0/im1", "[ocr-stub x]"),
        ],
        "doc_id string, media_ref string, ocr_text string",
    )
    out = {r["doc_id"]: r for r in merge_ocr_text(ext, ocr).collect()}
    a = [tuple(s) for s in out["a"]["spans"]]
    assert a == [
        ("text", "hello", None, 0),
        ("media", "[ocr-stub x]", "pdf://a/0/im1", 5),
        ("media", "", "pdf://a/0/im2", 6),  # no OCR row -> untouched
    ]
    assert [tuple(s) for s in out["b"]["spans"]] == [("text", "plain", None, 0)]
    assert out["a"]["pages_parsed"] == 2  # non-span columns preserved
    assert "_ocr" not in merge_ocr_text(ext, ocr).columns

    # ADVICE r03: conflicting recoveries for one (doc_id, media_ref) — a
    # real engine rerun appending different text — must reduce
    # DETERMINISTICALLY (lexicographic max), not arbitrary-row-wins
    ocr_conflict = spark.createDataFrame(
        [
            ("a", "pdf://a/0/im1", "[ocr rerun B]"),
            ("a", "pdf://a/0/im1", "[ocr rerun A]"),
        ],
        "doc_id string, media_ref string, ocr_text string",
    )
    merged = {
        r["doc_id"]: r for r in merge_ocr_text(ext, ocr_conflict).collect()
    }
    assert [tuple(s) for s in merged["a"]["spans"]][1] == (
        "media",
        "[ocr rerun B]",
        "pdf://a/0/im1",
        5,
    )


def test_export_zip_with_ocr_text(spark, tmp_path):
    """--with-ocr-text composition: recovered text exports as a blockquote
    under the media link; without the OCR table the same snapshot exports
    with bare links (the unmerged byte contract is unchanged)."""
    import zipfile

    from pdf_extractor_spark.spark.export import export_markdown_zip
    from pdf_extractor_spark.spark.lineage import _write_chunk
    from pdf_extractor_spark.spark.ocr import OCR_SCHEMA
    from pdf_extractor_spark.spark.pipeline import extract_documents

    span_t = "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    docs = spark.createDataFrame(
        [("d1", [("text", "hello world", None, 0), ("media", None, "pdf://d1/0/im", 1)])],
        f"doc_id string, spans {span_t}",
    )
    log = CommitLog(str(tmp_path / "t"))
    ext = extract_documents(docs, n_parts=4, num_partitions=2)
    cid = log.reserve_chunk_id()
    _write_chunk(spark, log, ext, cid, [0, 1, 2, 3], 4)

    plain = tmp_path / "plain.zip"
    export_markdown_zip(spark, str(tmp_path / "t"), str(plain))
    assert b"> [" not in zipfile.ZipFile(plain).read("d1.md")

    ocr_rows = spark.createDataFrame(
        [("d1", "pdf://d1/0/im", "[ocr-stub feedface0000]", 0)], OCR_SCHEMA
    )
    ocr_log = CommitLog(str(tmp_path / "ocr"))
    _write_chunk(spark, ocr_log, ocr_rows, ocr_log.reserve_chunk_id(), None, 4,
                 extra_metrics={"stage": "ocr"})
    merged = tmp_path / "merged.zip"
    export_markdown_zip(
        spark, str(tmp_path / "t"), str(merged), ocr_from=str(tmp_path / "ocr")
    )
    body = zipfile.ZipFile(merged).read("d1.md").decode()
    assert "![media](pdf://d1/0/im)\n\n> [ocr-stub feedface0000]" in body
    assert "hello world" in body


def test_streaming_jsonl_drops_exactly_once(spark, tmp_path):
    """JSONL drop directory drained incrementally: corrupt lines are
    dropped at the source, each micro-batch commits one chunk, and a
    re-run after a new drop processes ONLY the new file (checkpoint +
    epoch markers) — every valid doc exactly once."""
    import json
    import os
    import time

    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = str(tmp_path / "ckpt")
    log = CommitLog(str(tmp_path / "t"))

    def drop(name, lo, hi, corrupt=True):
        lines = [
            json.dumps(
                {
                    "doc_id": f"d{i:04d}",
                    "spans": [
                        {"kind": "text", "text": f"t {i}", "media_ref": "", "offset": 0}
                    ],
                }
            )
            for i in range(lo, hi)
        ]
        if corrupt:
            lines.append('{"doc_id": "broken",')  # truncated: must quarantine
        (landing / name).write_text("\n".join(lines) + "\n")

    drop("a.jsonl", 0, 30)
    drop("b.jsonl", 30, 50)
    now = time.time()
    os.utime(landing / "a.jsonl", (now - 20, now - 20))
    os.utime(landing / "b.jsonl", (now - 10, now - 10))

    def drain():
        q = start_extraction_stream(
            spark, str(landing), log, checkpoint_dir=ckpt,
            n_parts=8, num_partitions=4, max_files_per_trigger=1, fmt="jsonl",
        )
        q.awaitTermination(300)

    drain()
    ids = [r["doc_id"] for r in log.read_extracted(spark).select("doc_id").collect()]
    assert sorted(ids) == [f"d{i:04d}" for i in range(50)]  # no dupes, no 'broken'
    chunks_after_first = len(log.committed_chunks())
    assert chunks_after_first == 2  # one chunk per micro-batch (file)

    drop("c.jsonl", 50, 65)
    drain()
    ids = [r["doc_id"] for r in log.read_extracted(spark).select("doc_id").collect()]
    assert sorted(ids) == [f"d{i:04d}" for i in range(65)]
    assert len(log.committed_chunks()) == chunks_after_first + 1  # only the new file
