"""Sources: distributed fetcher (S2 downloader analogue) and manifest reader
(S4) — retry/backoff, validity quarantine, delimiter sniffing, id fallback."""

import base64

from pdf_extractor_spark.corpus import gen_documents
from pdf_extractor_spark.sources.fetch import (
    fetch_documents,
    local_file_transport,
    pdf_validity_gate,
)
from pdf_extractor_spark.sources.manifest import read_manifest, sniff_delimiter

_FAIL_COUNTS: dict[str, int] = {}


def flaky_transport(url: str, timeout_s: float) -> bytes:
    """Fails twice per URL, then succeeds — exercises the retry loop.

    Module-level state is per Python worker; the test uses one URL per task
    at local parallelism so each URL's counter lives in exactly one worker.
    """
    n = _FAIL_COUNTS.get(url, 0)
    if n < 2:
        _FAIL_COUNTS[url] = n + 1
        raise OSError(f"transient #{n + 1}")
    return local_file_transport(url, timeout_s)


def test_fetch_ok_failed_invalid(spark, tmp_path):
    pdf_b64 = next(
        s["text"] for s in gen_documents(1, seed=3, profile="heavy")[0]["spans"]
        if s["kind"] == "pdf"
    )
    good = tmp_path / "good.pdf"
    good.write_bytes(base64.b64decode(pdf_b64))
    bad = tmp_path / "bad.pdf"
    bad.write_bytes(b"this is not a pdf at all")

    manifest = spark.createDataFrame(
        [
            ("d1", f"file://{good}"),
            ("d2", f"file://{bad}"),
            ("d3", f"file://{tmp_path}/missing.pdf"),
        ],
        "doc_id string, url string",
    )
    rows = {r["doc_id"]: r for r in fetch_documents(manifest).collect()}

    assert rows["d1"]["status"] == "ok"
    assert rows["d1"]["attempts"] == 1
    assert rows["d1"]["n_bytes"] == good.stat().st_size
    assert pdf_validity_gate(bytes(rows["d1"]["content"]))

    assert rows["d2"]["status"] == "invalid"  # gate rejected, content dropped
    assert rows["d2"]["content"] is None
    assert rows["d2"]["n_bytes"] == len(b"this is not a pdf at all")

    assert rows["d3"]["status"] == "failed"
    assert rows["d3"]["attempts"] == 3  # exhausted MAX_RETRIES
    assert rows["d3"]["content"] is None and "missing.pdf" in rows["d3"]["error"]


def test_fetch_retry_then_success(spark, tmp_path):
    p = tmp_path / "doc.pdf"
    p.write_bytes(b"%PDF-1.4 payload endobj")
    manifest = spark.createDataFrame([("d1", f"file://{p}")], "doc_id string, url string")
    [row] = fetch_documents(
        manifest, transport=flaky_transport, backoff_range_s=(0.0, 0.001)
    ).collect()
    assert row["status"] == "ok"
    assert row["attempts"] == 3  # two transient failures, third attempt wins


def test_fetched_quarantine_antijoin(spark, tmp_path):
    """The retry-rematch pattern (J1): failures anti-join back to the manifest."""
    p = tmp_path / "ok.pdf"
    p.write_bytes(b"%PDF-1.4 x endobj")
    manifest = spark.createDataFrame(
        [("a", f"file://{p}"), ("b", f"file://{tmp_path}/nope.pdf")],
        "doc_id string, url string",
    )
    fetched = fetch_documents(manifest)
    done = fetched.where("status = 'ok'").select("doc_id")
    retry = manifest.join(done, "doc_id", "left_anti")
    assert [r["doc_id"] for r in retry.collect()] == ["b"]


def test_manifest_reader_delimiters(spark, tmp_path):
    for name, delim in (("comma", ","), ("semi", ";"), ("tab", "\t")):
        p = tmp_path / f"m_{name}.csv"
        p.write_text(
            f"id{delim}the_url{delim}extra\n"
            f"x1{delim}http://h/a.pdf{delim}1\n"
            f"x2{delim}http://h/b.pdf{delim}2\n"
        )
        assert sniff_delimiter(str(p)) == delim
        df = read_manifest(spark, str(p), url_col="the_url", id_col="id")
        assert df.columns == ["doc_id", "url"]
        got = sorted(map(tuple, df.collect()))
        assert got == [("x1", "http://h/a.pdf"), ("x2", "http://h/b.pdf")]


def test_manifest_reader_id_fallback(spark, tmp_path):
    p = tmp_path / "m.csv"
    p.write_text("the_url\nhttp://h/path/report.v2.pdf?x=1\nhttp://h/plain\n")
    df = read_manifest(spark, str(p), url_col="the_url")
    got = sorted(map(tuple, df.collect()))
    assert got == [
        ("plain", "http://h/plain"),
        ("report.v2", "http://h/path/report.v2.pdf?x=1"),
    ]


def _write_xlsx(path, header, rows):
    """Minimal SpreadsheetML fixture: shared strings for text, inline
    numbers, one deliberately sparse row (missing B cell)."""
    import zipfile

    strings = []

    def sref(s):
        if s not in strings:
            strings.append(s)
        return strings.index(s)

    def cell(ref, v):
        if isinstance(v, (int, float)):
            return f'<c r="{ref}"><v>{v}</v></c>'
        return f'<c r="{ref}" t="s"><v>{sref(v)}</v></c>'

    cols = "ABCDEFG"
    body = []
    for rix, row in enumerate([header] + rows, start=1):
        cells = "".join(
            cell(f"{cols[cix]}{rix}", v)
            for cix, v in enumerate(row)
            if v is not None  # None = omitted cell (sparse row)
        )
        body.append(f'<row r="{rix}">{cells}</row>')
    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    sheet = f'<?xml version="1.0"?><worksheet {ns}><sheetData>{"".join(body)}</sheetData></worksheet>'
    sst = (
        f'<?xml version="1.0"?><sst {ns} count="{len(strings)}">'
        + "".join(f"<si><t>{s}</t></si>" for s in strings)
        + "</sst>"
    )
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("xl/workbook.xml", f'<?xml version="1.0"?><workbook {ns}/>')
        z.writestr("xl/worksheets/sheet1.xml", sheet)
        z.writestr("xl/sharedStrings.xml", sst)


def test_xlsx_manifest_roundtrip(spark, tmp_path):
    """S4 Excel branch (helper.py:72-98): stdlib xlsx reader -> all-string
    DataFrame -> P7 (id_col, url_col) projection."""
    from pdf_extractor_spark.sources.manifest import read_manifest

    path = str(tmp_path / "manifest.xlsx")
    _write_xlsx(
        path,
        ["doc", "url", "priority"],
        [
            ["d1", "https://x.test/a/report.v2.pdf", 3],
            ["d2", "https://x.test/b/page.html?q=1", 1.5],
            ["d3", None, 7],  # sparse row: missing url cell -> ""
        ],
    )
    df = read_manifest(spark, path, url_col="url", id_col="doc")
    got = {r["doc_id"]: r["url"] for r in df.collect()}
    assert got == {
        "d1": "https://x.test/a/report.v2.pdf",
        "d2": "https://x.test/b/page.html?q=1",
        "d3": "",
    }

    # filename-derived ids (no id_col): basename stem of the URL path
    df2 = read_manifest(spark, path, url_col="url")
    ids = {r["doc_id"] for r in df2.collect()}
    assert "report.v2" in ids and "page" in ids

    # numeric cells survive as lexical strings under the all-string contract
    from pdf_extractor_spark.sources.xlsx import read_xlsx_rows

    rows = read_xlsx_rows(path)
    assert rows[0] == ["doc", "url", "priority"]
    assert rows[1][2] == "3" and rows[2][2] == "1.5"
    assert rows[3] == ["d3", "", "7"]


def test_xlsx_unknown_column_and_bad_file(spark, tmp_path):
    import pytest as _pytest

    from pdf_extractor_spark.sources.manifest import read_manifest
    from pdf_extractor_spark.sources.xlsx import XlsxError, read_xlsx_rows

    path = str(tmp_path / "m.xlsx")
    _write_xlsx(path, ["a", "b"], [["1", "2"]])
    with _pytest.raises(ValueError, match="url column"):
        read_manifest(spark, path, url_col="nope")

    bad = tmp_path / "bad.xlsx"
    bad.write_bytes(b"this is not a zip")
    with _pytest.raises(XlsxError):
        read_xlsx_rows(str(bad))


def test_xlsx_data_row_wider_than_header(spark, tmp_path):
    """A data row wider than the header must not produce unaddressable ''
    columns: overflow header cells are named _c<N> (ADVICE r03)."""
    from pdf_extractor_spark.sources.manifest import read_manifest

    path = str(tmp_path / "wide.xlsx")
    _write_xlsx(
        path,
        ["doc", "url"],
        [["d1", "http://h/a.pdf", "stray-extra-cell"]],
    )
    df = read_manifest(spark, path, url_col="url", id_col="doc")
    assert [tuple(r) for r in df.collect()] == [("d1", "http://h/a.pdf")]
    # the overflow column is present and addressable on the raw frame
    from pdf_extractor_spark.sources.xlsx import read_xlsx_rows

    rows = read_xlsx_rows(path)
    assert rows[0] == ["doc", "url", ""] and rows[1][2] == "stray-extra-cell"


def test_jsonl_corrupt_lines_quarantined(spark):
    """PERMISSIVE JSONL ingest over the six fixture line classes: the 3
    truncated lines land in _corrupt (all data fields null); bad-TYPED
    lines (spans not an array / unconvertible nested offset) are NOT
    corrupt on this Spark — the field alone null-izes, matching DuckDB —
    and ingest as zero/partial-span docs; text-less spans (no text key)
    are clean partial rows. Cached before touching _corrupt (the
    documented Spark corrupt-column contract)."""
    import pyspark.sql.functions as F

    from pdf_extractor_spark.ops.jsonl_source import (
        jsonl_fixture_root,
        read_jsonl_documents,
    )

    df = read_jsonl_documents(spark, jsonl_fixture_root()).cache()
    try:
        bad = df.where(df["_corrupt"].isNotNull())
        # full-row parse (cache materializes spans): truncated AND
        # type-mangled lines are flagged — 3 of each class
        assert bad.count() == 9
        trunc = bad.where(df.doc_id.isNull())
        assert trunc.count() == 3  # structurally broken: no partial result
        # partial results: mangled lines keep doc_id and null-ize the field
        badtype = bad.where(df.doc_id.startswith("j-badtype-"))
        assert badtype.count() == 3
        assert badtype.where(df.spans.isNotNull()).count() == 0
        badnest = bad.where(df.doc_id.startswith("j-badnest-")).collect()
        assert len(badnest) == 3
        for r in badnest:  # struct kept, only the unconvertible offset nulled
            assert r["spans"][0]["kind"] == "text"
            assert r["spans"][0]["offset"] is None
        # the INGEST policy gate drops all 9; metadata-only and
        # text-less-span docs stay
        kept = df.where("doc_id IS NOT NULL AND _corrupt IS NULL")
        assert kept.count() == 366  # 360 docs + 3 meta + 3 notext
        assert kept.where(df.doc_id.startswith("j-meta-")).count() == 3
        notext = kept.where(df.doc_id.startswith("j-notext-")).collect()
        assert len(notext) == 3
        for r in notext:  # missing text key -> null field, row stays clean
            assert r["spans"][0]["text"] is None
            assert r["spans"][1]["text"] is not None
    finally:
        df.unpersist()


def test_detect_input_format_refuses_mixed_dirs(tmp_path):
    from pdf_extractor_spark.ops.jsonl_source import detect_input_format

    import pytest

    d = tmp_path / "drops"
    d.mkdir()
    # empty dir: refuse to guess — a watcher started ahead of its producer
    # would pin the stream to the guess and misparse later jsonl drops
    with pytest.raises(ValueError, match="explicit --input-format"):
        detect_input_format(str(d))
    (d / "a.jsonl").write_text("{}\n")
    assert detect_input_format(str(d)) == "jsonl"
    assert detect_input_format(str(d / "a.jsonl")) == "jsonl"  # single file
    (d / "b.parquet").write_bytes(b"PAR1")
    with pytest.raises(ValueError, match="mixes"):
        detect_input_format(str(d))
    # single parquet FILE resolves by extension (review finding: used to
    # hit the dir scan and fail with the misleading empty-dir error)
    assert detect_input_format(str(d / "b.parquet")) == "parquet"
    # a file of neither extension must fail loudly, not scan-as-dir
    (d / "c.csv").write_text("x\n")
    with pytest.raises(ValueError, match="is a file"):
        detect_input_format(str(d / "c.csv"))
    # a DIRECTORY named *.jsonl is scanned by contents, not by its name
    dj = tmp_path / "table.jsonl"
    dj.mkdir()
    (dj / "part-0.parquet").write_bytes(b"PAR1")
    assert detect_input_format(str(dj)) == "parquet"
    # glob metacharacters in the landing-dir path must not break the scan
    dg = tmp_path / "drops[1]"
    dg.mkdir()
    (dg / "a.jsonl").write_text("{}\n")
    assert detect_input_format(str(dg)) == "jsonl"


def test_migrate_layout_cli_runs_without_input(tmp_path):
    """The documented one-time migration invocation: `maintain ROOT
    --migrate-layout` takes no --input, runs alone, idempotent."""
    import os

    from pdf_extractor_spark.job import main

    root = tmp_path / "t"
    (root / "commits").mkdir(parents=True)
    (root / "data" / "chunk-000000").mkdir(parents=True)
    (root / "data" / "chunk-1000000").mkdir(parents=True)  # 7-digit legacy
    assert main(["maintain", str(root), "--migrate-layout"]) == 0
    assert sorted(os.listdir(root / "data")) == ["chunk=000000", "chunk=1000000"]
    assert main(["maintain", str(root), "--migrate-layout"]) == 0  # idempotent
