"""The OCR stage (spark/ocr.py): routed refs of scanned pages committed as
a derived table — incremental runs, a direct compute and a rebuild agree,
and the core kernel's own needs-OCR signal names the same refs."""

from __future__ import annotations

import pytest

import pdf_extractor_spark.spark.lineage as L
from pdf_extractor_spark.core.extractor import extract_document
from pdf_extractor_spark.corpus import corpus_df, gen_documents
from pdf_extractor_spark.spark.ocr import compute_ocr, read_ocr_text, run_ocr, stub_ocr


def _rows(df) -> list[tuple]:
    return sorted(
        (r["doc_id"], r["media_ref"], r["ocr_text"], r["part_id"]) for r in df.collect()
    )


def test_ocr_stage_incremental_matches_direct_and_rebuild(spark, tmp_path):
    """Mixed corpus, extraction interrupted then resumed, one OCR run after
    each wave: the two incremental windows together equal a direct compute
    over the committed table and a rebuild, every routed ref lands exactly
    once, and a rerun commits nothing."""
    n_docs, seed = 200, 101
    docs = corpus_df(spark, n_docs, seed=seed)
    src = L.CommitLog(str(tmp_path / "src"))
    out = L.CommitLog(str(tmp_path / "ocr"))

    with pytest.raises(RuntimeError, match="injected failure"):
        L.run_extraction(spark, docs, src, n_parts=8, parts_per_chunk=2,
                         fail_after_chunks=1)
    r1 = run_ocr(spark, src, out)
    L.run_extraction(spark, docs, src, n_parts=8, parts_per_chunk=2)
    r2 = run_ocr(spark, src, out)
    assert r1.chunks_committed == 1 and r2.chunks_committed == 1

    incremental = _rows(read_ocr_text(spark, out))
    assert r1.docs_processed + r2.docs_processed == len(incremental)
    assert len({(d, ref) for d, ref, _, _ in incremental}) == len(incremental)
    assert incremental == _rows(compute_ocr(src.read_extracted(spark)))

    rebuilt = L.CommitLog(str(tmp_path / "ocr-rebuilt"))
    assert run_ocr(spark, src, rebuilt, rebuild=True).chunks_committed == 1
    assert _rows(read_ocr_text(spark, rebuilt)) == incremental

    # the kernel's needs-OCR score (core/extractor.py) names the same refs
    expected = set()
    for row in gen_documents(n_docs, seed=seed):
        res = extract_document(row["spans"])
        if (res.scores or {}).get("pages_empty_with_images", 0) > 0:
            expected |= {
                (row["doc_id"], ref, stub_ocr(ref))
                for _, _, ref, _ in res.spans
                if (ref or "").startswith("pdf://")
            }
    assert expected and {(d, ref, t) for d, ref, t, _ in incremental} == expected

    again = run_ocr(spark, src, out)
    assert again.chunks_committed == 0 and again.docs_processed == 0
    assert _rows(read_ocr_text(spark, out)) == incremental


def test_ocr_cli_then_compact(spark, tmp_path, capsys):
    """`job.py ocr` after each extraction wave prints OCR_DONE, a rerun
    commits nothing, and `maintain --compact` on the OCR table keeps its
    rows and its cursor."""
    from pdf_extractor_spark.job import main

    docs = corpus_df(spark, 60, seed=101)
    src = L.CommitLog(str(tmp_path / "src"))
    out = L.CommitLog(str(tmp_path / "ocr"))
    ocr_argv = ["ocr", "--input", src.root, "--output", out.root]

    with pytest.raises(RuntimeError, match="injected failure"):
        L.run_extraction(spark, docs, src, n_parts=4, parts_per_chunk=2,
                         fail_after_chunks=1)
    assert main(ocr_argv) == 0
    L.run_extraction(spark, docs, src, n_parts=4, parts_per_chunk=2)
    assert main(ocr_argv) == 0
    assert capsys.readouterr().out.count("OCR_DONE chunks=1") == 2
    before = _rows(read_ocr_text(spark, out))
    assert before

    assert main(["maintain", out.root, "--compact"]) == 0
    assert "COMPACTION_DONE chunk=" in capsys.readouterr().out
    assert len(out.visible_chunks()) == 1
    assert _rows(read_ocr_text(spark, out)) == before

    assert main(ocr_argv) == 0
    assert "OCR_DONE chunks=0" in capsys.readouterr().out
