"""Sources: the documents parquet and JSONL sources (span fields by name,
corrupt-line quarantine, format sniffing), the password manifest's
delimiter sniff and the layout migration CLI."""

from pdf_extractor_spark.job import sniff_delimiter


def test_manifest_reader_delimiters(tmp_path):
    for name, delim in (("comma", ","), ("semi", ";"), ("tab", "\t")):
        p = tmp_path / f"m_{name}.csv"
        p.write_text(
            f"id{delim}the_url{delim}extra\n"
            f"x1{delim}http://h/a.pdf{delim}1\n"
            f"x2{delim}http://h/b.pdf{delim}2\n"
        )
        assert sniff_delimiter(str(p)) == delim


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
    # watch resolves from the files it reads, its drop dir's own: a nested
    # parquet it never reads does not make the dir mixed, a flat one does
    from pdf_extractor_spark.ops.jsonl_source import files_format
    from pdf_extractor_spark.spark.lineage import _drop_files

    (dg / "sub").mkdir()
    (dg / "sub" / "b.parquet").write_bytes(b"PAR1")
    assert files_format(str(dg), _drop_files(str(dg))) == "jsonl"
    with pytest.raises(ValueError, match="mixes"):
        files_format(str(d), _drop_files(str(d)))


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


def test_extract_reads_parquet_span_fields_by_name(spark, tmp_path):
    """``job.py extract`` over a documents parquet whose span struct lists
    its fields in another order commits the same spans as the canonical
    file: the ingest read resolves span fields by name."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_extractor_spark.job import main
    from pdf_extractor_spark.spark.lineage import CommitLog

    spans = [
        [{"kind": "text", "text": "hello world", "media_ref": None, "offset": 0}],
        [{"kind": "media", "text": None, "media_ref": "m://1", "offset": 0}],
    ]
    committed = {}
    for name, order in (("canon", ["kind", "text", "media_ref", "offset"]),
                        ("reordered", ["kind", "media_ref", "offset", "text"])):
        typ = pa.struct([(f, pa.int32() if f == "offset" else pa.string())
                         for f in order])
        (tmp_path / name).mkdir()
        pq.write_table(pa.table({
            "doc_id": pa.array(["d1", "d2"]),
            "spans": pa.array([[{f: s[f] for f in order} for s in doc]
                               for doc in spans], pa.list_(typ)),
        }), tmp_path / name / "docs.parquet")
        out = str(tmp_path / f"out-{name}")
        assert main(["extract", "--input", str(tmp_path / name), "--output", out,
                     "--n-parts", "2", "--parts-per-chunk", "2"]) == 0
        committed[name] = {
            r["doc_id"]: [tuple(s) for s in r["spans"]]
            for r in CommitLog(out).read_extracted(spark).collect()
        }
    assert committed["reordered"] == committed["canon"]
    assert any("hello world" in (s[1] or "") for s in committed["canon"]["d1"])
    assert any(s[2] == "m://1" for s in committed["canon"]["d2"])
