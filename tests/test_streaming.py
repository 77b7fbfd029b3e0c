"""Watch ingestion: a drop directory drained by the file cursor the
commit markers carry -> the same span output as batch, each file exactly
once across reruns, kills and a rival watch; and the OCR stage over it."""

import os
import time

import pytest

from pdf_extractor_spark.core.extractor import extract_document
from pdf_extractor_spark.corpus import gen_documents
from pdf_extractor_spark.spark import lineage as L
from pdf_extractor_spark.spark.lineage import CommitLog
from tests.helpers import count_parse_tasks, read_lineage


def _write_drop(rows, path, mtime=None):
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
    if mtime is not None:
        os.utime(path, (mtime, mtime))


def _spans(spark, log):
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in log.read_extracted(spark).collect()
    }


def _named(log):
    """The files each marker names, in commit order."""
    return [m["metrics"]["files"] for m in log.committed_chunks()]


def test_streaming_matches_batch_oracle(spark, tmp_path, monkeypatch):
    """Batches of one file: a chunk each, one wave of defaultParallelism
    parse tasks each (the 16-part table has more parts than cores), the
    kernel's spans; a rerun ingests nothing and a third drop one chunk."""
    monkeypatch.setattr(L, "WATCH_BATCH_FILES", 1)
    tasks = count_parse_tasks(spark, monkeypatch)
    cores = spark.sparkContext.defaultParallelism
    landing = tmp_path / "landing"
    landing.mkdir()
    base = os.path.realpath(landing)
    rows = gen_documents(60, seed=11)
    now = time.time()
    _write_drop(rows[:30], str(landing / "drop-0.parquet"), now - 20)
    _write_drop(rows[30:], str(landing / "drop-1.parquet"), now - 10)

    log = CommitLog(str(tmp_path / "log"))
    report = L.run_watch(spark, str(landing), log, 16, "parquet")
    assert (report.chunks_committed, report.docs_processed) == (2, 60)
    assert tasks.value == 2 * cores
    assert _named(log) == [[f"{base}/drop-0.parquet"], [f"{base}/drop-1.parquet"]]
    final = _spans(spark, log)
    assert len(final) == 60
    for r in rows:
        assert final[r["doc_id"]] == extract_document(r["spans"]).spans

    # a rerun ingests nothing and parses nothing
    assert L.run_watch(spark, str(landing), log, 16, "parquet").chunks_committed == 0
    assert len(log.committed_chunks()) == 2 and tasks.value == 2 * cores

    # a third drop arrives -> exactly one more chunk, old chunks untouched;
    # a file name is literal, never a glob pattern
    more = gen_documents(10, seed=99)
    _write_drop(more, str(landing / "drop[2].parquet"))
    report = L.run_watch(spark, str(landing), log, 16, "parquet")
    assert (report.chunks_committed, report.docs_processed) == (1, 10)
    assert _named(log)[-1] == [f"{base}/drop[2].parquet"]
    assert len(log.committed_chunks()) == 3 and tasks.value == 3 * cores
    final = _spans(spark, log)
    assert len(final) == 70
    for r in more:
        assert final[r["doc_id"]] == extract_document(r["spans"]).spans

    # the per-part lineage rollup accounts for every doc
    lineage = read_lineage(log, spark).collect()
    assert sum(r["docs_done"] for r in lineage) == 70


def test_watch_rerun_after_kill_reingests_only_the_lost_batch(spark, tmp_path, monkeypatch):
    """Killed after batch 2's data write, before its marker: the rerun
    reads exactly batch 2's files, every doc is read back once and each
    file is named by one marker. Batches follow mtime, not name. A file of
    the same name in another drop directory is another file."""
    landing = tmp_path / "landing"
    landing.mkdir()
    base = os.path.realpath(landing)
    rows = gen_documents(18, seed=5)
    names = [f"f{5 - i}.parquet" for i in range(6)]  # f5 is the oldest
    now = time.time()
    for i, name in enumerate(names):
        _write_drop(rows[3 * i:3 * i + 3], str(landing / name), now - 60 + i)
    batches = [[f"{base}/{n}" for n in names[:4]], [f"{base}/{n}" for n in names[4:]]]

    log = CommitLog(str(tmp_path / "log"))
    commit = CommitLog.commit_chunk
    calls = []

    def killed_on_second(self, *a, **k):
        calls.append(a[0])
        if len(calls) == 2:
            raise RuntimeError("killed after batch 2's data write")
        return commit(self, *a, **k)

    monkeypatch.setattr(CommitLog, "commit_chunk", killed_on_second)
    with pytest.raises(RuntimeError, match="killed"):
        L.run_watch(spark, str(landing), log, 8, "parquet", num_partitions=2)
    monkeypatch.setattr(CommitLog, "commit_chunk", commit)
    assert _named(log) == batches[:1]
    assert os.path.isdir(os.path.join(log.data_dir, L._chunk_dirname(calls[1])))  # unmarked

    report = L.run_watch(spark, str(landing), log, 8, "parquet", num_partitions=2)
    assert (report.chunks_committed, report.docs_processed) == (1, 6)
    assert _named(log) == batches
    ids = [r["doc_id"] for r in log.read_extracted(spark).select("doc_id").collect()]
    assert sorted(ids) == sorted(r["doc_id"] for r in rows)

    other = tmp_path / "other"
    other.mkdir()
    extra = gen_documents(3, seed=6)
    _write_drop(extra, str(other / names[0]))
    assert L.run_watch(spark, str(other), log, 8, "parquet", num_partitions=2).chunks_committed == 1
    assert _named(log)[-1] == [f"{os.path.realpath(other)}/{names[0]}"]
    files = [f for batch in _named(log) for f in batch]
    assert len(files) == len(set(files)) == 7
    ids = [r["doc_id"] for r in log.read_extracted(spark).select("doc_id").collect()]
    assert sorted(ids) == sorted(r["doc_id"] for r in rows + extra)


def test_watch_cursor_is_one_listing(tmp_path, monkeypatch):
    """10^4 drop files, markers naming all but the last 4: the pending
    list is those 4, from one listing of the drop directory, with each
    marker parsed once per reader."""
    import json

    drop = tmp_path / "drop"
    drop.mkdir()
    base = os.path.realpath(drop)
    names = [f"f{i:05d}" for i in range(10_000)]
    for n in names:
        (drop / n).touch()
        os.utime(drop / n, (1e9, 1e9))  # one mtime: ties go by name
    paths = [f"{base}/{n}" for n in names]
    log = CommitLog(str(tmp_path / "t"))
    for k in range(10):
        log.commit_chunk(k, [], {"docs": 0, "files": paths[k * 1000:min(k * 1000 + 1000, 9996)]})

    log = CommitLog(log.root)  # a cold reader
    scans, loads = [], []
    scandir, load = os.scandir, json.load
    monkeypatch.setattr(os, "scandir", lambda p: scans.append(p) or scandir(p))
    monkeypatch.setattr(json, "load", lambda f: loads.append(f.name) or load(f))
    t0 = time.monotonic()
    pending = L._unnamed(L._drop_files(str(drop)), log.committed_chunks())
    took = time.monotonic() - t0
    assert pending == paths[-4:]
    assert scans == [base] and len(loads) == 10
    assert L._unnamed(pending, log.committed_chunks()) == pending and len(loads) == 10
    assert took < 5, took


def test_streaming_needs_ocr_routing(spark, tmp_path):
    """watch -> ocr: scanned documents (text-free pages with images) reach
    the OCR table with their pdf:// refs; clean documents do not; a
    rerun of watch plus a rerun of the stage add nothing."""
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
    _write_drop(rows, str(landing / "drop-0.parquet"))

    from pdf_extractor_spark.spark.ocr import read_ocr_text, run_ocr

    log = CommitLog(str(tmp_path / "log"))
    ocr = CommitLog(str(tmp_path / "ocr"))
    L.run_watch(spark, str(landing), log, 8, "parquet", num_partitions=2)
    assert run_ocr(spark, log, ocr).chunks_committed == 1

    refs = [(r["doc_id"], r["media_ref"]) for r in read_ocr_text(spark, ocr).collect()]
    assert refs == [("scan-1", "pdf://0/0/Im0")]
    [scan] = log.read_extracted(spark).where("doc_id = 'scan-1'").collect()
    assert scan["scores"]["pages_empty_with_images"] == 1

    # a rerun over the same drop directory adds nothing
    assert L.run_watch(spark, str(landing), log, 8, "parquet", num_partitions=2).chunks_committed == 0
    assert run_ocr(spark, log, ocr).chunks_committed == 0
    assert read_ocr_text(spark, ocr).count() == 1


def test_stream_start_rejects_mismatched_n_parts(tmp_path):
    """Refused before the drop directory is listed or a Spark job runs:
    the drop directory does not exist and there is no session."""
    log = CommitLog(str(tmp_path / "log"))
    log.commit_chunk(0, [0], {"docs": 1}, n_parts=8)
    with pytest.raises(L.TableContractError, match="n_parts=8"):
        L.run_watch(None, str(tmp_path / "no-drop"), log, 64, "parquet")


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


def test_streaming_jsonl_drops_exactly_once(spark, tmp_path, monkeypatch):
    """JSONL drop directory drained by the file cursor: corrupt lines are
    dropped at the source, hidden, ``_``-prefixed and nested files are
    never read, a file whose name holds ``:`` is refused only after the
    rest commit, and a re-run after a new drop reads ONLY the new files. A
    rival watch that commits that file between this run's listing and its
    publish wins: this run's chunk is never visible, every file lands once
    and every valid doc exactly once."""
    import json

    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "sub").mkdir()
    root = str(tmp_path / "t")
    log = CommitLog(root)

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
    drop("f:1.jsonl", 65, 70)  # no reader opens it, so it is refused
    drop("b.jsonl", 30, 50)
    for name in (".x.jsonl", "_y.jsonl", "sub/z.jsonl"):
        drop(name, 900, 905, corrupt=False)
    now = time.time()
    os.utime(landing / "a.jsonl", (now - 20, now - 20))
    os.utime(landing / "f:1.jsonl", (now - 15, now - 15))
    os.utime(landing / "b.jsonl", (now - 10, now - 10))

    def drain(log):
        return L.run_watch(spark, str(landing), log, 8, "jsonl", num_partitions=4)

    def ids():
        return sorted(r["doc_id"] for r in log.read_extracted(spark).select("doc_id").collect())

    # the readable files commit first (one batch of up to 4), then the run
    # names the unreadable one and the fix
    with pytest.raises(ValueError, match=r"f:1\.jsonl.*rename them"):
        drain(log)
    assert len(log.committed_chunks()) == 1
    assert ids() == [f"d{i:04d}" for i in range(50)]  # no dupes, no 'broken'

    os.rename(landing / "f:1.jsonl", landing / "f1.jsonl")
    drop("c.jsonl", 50, 65)
    write = L.write_observed
    rival = []

    def write_then_rival(df, path):
        out = write(df, path)
        if not rival:  # the rival's own write passes straight through
            rival.append(path)
            rival.append(drain(CommitLog(root)))
        return out

    monkeypatch.setattr(L, "write_observed", write_then_rival)
    assert drain(log).chunks_committed == 0
    assert rival[1].chunks_committed == 1
    assert not os.path.exists(rival[0])  # the loser's staged chunk is gone
    committed = log.committed_chunks()
    assert sorted(os.listdir(log.data_dir)) == [L._chunk_dirname(c["chunk_id"]) for c in committed]
    base = os.path.realpath(landing)
    assert _named(log) == [[f"{base}/a.jsonl", f"{base}/b.jsonl"],
                           [f"{base}/f1.jsonl", f"{base}/c.jsonl"]]
    assert ids() == [f"d{i:04d}" for i in range(70)]
