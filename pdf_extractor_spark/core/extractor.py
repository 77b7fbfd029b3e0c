"""Per-document extraction core — pure Python, Spark-free.

One document in (ordered input spans), one ordered output span sequence +
metrics out. This module is shared verbatim by the local test oracle and the
Spark ``mapInArrow`` kernel (SURVEY.md §7.0), which is what makes the
span-sequence-equality contract (BASELINE.json:input_hint) cheap to test.
One kernel serves both span encodings: the ingest contract (string payloads,
pdf as base64) and the internal staging table (binary payloads, see
``stage_span`` and spark/staging.py).

Dispatch by ``kind`` mirrors the reference's extension -> category routing
(``app/config.py:9-15``, ``dashboard.py:235-239``):
  text  -> clean_text (pymu_tesseract_processor.py:150-154)
  html  -> DOM text-density boilerplate strip, then clean_text (the YOLO
           Non-Text masking analogue, pymu_tesseract_processor.py:44-66)
  pdf   -> base64 PDF bytes -> layout parse -> per-page span sequence in
           reading order: text regions merge into text spans, embedded
           images (Image XObjects / inline images) become kind='media'
           spans with synthesized pdf:// refs (the process_pdf page loop +
           Non-Text region handling, pymu_tesseract_processor.py:44-117)
  media -> passthrough unchanged (kind, media_ref, relative order preserved)

Failures never abort: an invalid PDF increments ``parse_failures`` (the
analogue of the validity gate, ``app/utils/helper.py:213-225``) and yields an
empty text span so downstream counts stay consistent.
"""

from __future__ import annotations

import base64
import time
from dataclasses import dataclass, field

from .html_extract import extract_main_text
from .pdf_parse import PdfParseError, extract_pdf_spans
from .textclean import clean_text, render_data

KIND_TEXT = "text"
KIND_HTML = "html"
KIND_PDF = "pdf"
KIND_MEDIA = "media"
KIND_DATA = "data"  # delimited content (csv/tsv/...), app/config.py:9-15


@dataclass(slots=True)
class ExtractResult:
    spans: list[tuple[str, str, str, int]]  # (kind, text, media_ref, offset)
    pages_parsed: int
    spans_emitted: int
    parse_failures: int
    duration_ms: int
    scores: dict[str, float] = field(default_factory=dict)


def _compute_scores(
    n_input: int,
    n_failures: int,
    out: list[tuple[str, str, str, int]],
    pages_empty_with_images: int,
) -> dict[str, float]:
    """Per-document quality scores — the engine's analogue of Docling's
    per-page confidence block (docling_processor.py:135-144, surfaced as
    parse_score/layout_score in the UI, dashboard.py:973-978). Deterministic
    pure ratios/counts, exact in IEEE on any engine:

    - parse_score: fraction of input spans that processed without failure;
    - media_ratio: fraction of emitted spans that are media (passthrough or
      PDF-embedded images);
    - avg_span_chars: mean text length over emitted spans;
    - pages_empty_with_images: count of PDF pages with no text regions but
      >= 1 image — the needs-OCR routing signal (the reference's P6
      empty-text force-OCR trigger, docling_processor.py:235-239).
    """
    n_media = sum(1 for s in out if s[0] == KIND_MEDIA)
    total_chars = sum(len(s[1]) for s in out)
    return {
        "parse_score": (n_input - n_failures) / n_input if n_input else 1.0,
        "media_ratio": n_media / len(out) if out else 0.0,
        "avg_span_chars": total_chars / len(out) if out else 0.0,
        "pages_empty_with_images": float(pages_empty_with_images),
    }


def _offset_sort_key(s) -> tuple[bool, int]:
    """Offset-order sort key tolerating a null offset: damaged spans sort
    after every real offset, stably in input order (sort is stable), so
    the kernels stay deterministic and never TypeError on None < int."""
    return (s[3] is None, s[3] if s[3] is not None else 0)


def stage_span(kind: str, text: str | None) -> bytes | None:
    """Ingest text -> staged binary payload for ONE span (pure, per-span).

    The one-time conversion a multi-pass pipeline runs when writing the
    internal staging table, and the decode ``extract_document`` applies to
    ingest pdf spans: pdf base64 is strictly decoded (``validate=True``), so
    every later pass over a staging table reads raw bytes and never pays the
    4/3 base64 inflation again. ``None`` payload is the tombstone for base64
    that failed strict decode; ``extract_document`` turns it into a parse
    failure. Non-pdf text is carried as its UTF-8 bytes.
    """
    text = text or ""
    if kind == KIND_PDF:
        try:
            return base64.b64decode(text.encode("ascii"), validate=True)
        except (ValueError, UnicodeEncodeError):
            return None
    return text.encode("utf-8")


def _decode(kind: str, payload: str | bytes | None) -> str | bytes | None:
    """A span payload's Python type names its encoding: ``str`` is the
    ingest contract (pdf base64, strictly decoded by ``stage_span``);
    ``bytes``/``None`` is the staged form (pdf raw bytes with ``None`` the
    strict-decode tombstone, every other kind UTF-8). Returns pdf bytes (or
    ``None``) for pdf spans, text for every other kind."""
    if kind == KIND_PDF:
        return stage_span(kind, payload) if isinstance(payload, str) else payload
    if isinstance(payload, str):
        return payload
    return (payload or b"").decode("utf-8")


def extract_document(
    spans: list[tuple[str, str | bytes | None, str, int]] | list[dict],
    passwords: tuple[bytes, ...] = (),
) -> ExtractResult:
    """Rebuild one document's ordered output span sequence.

    Input spans are (kind, payload, media_ref, offset) in either encoding
    (see ``_decode``; dict spans carry the payload as ``text`` or
    ``payload``); processed in offset order. A staged document extracts
    byte-identically to its ingest form (``tests/test_staging.py``).
    Output offsets are reassigned densely 0..n-1 — computed inside the
    kernel, never from partition order (SURVEY.md §7.4 determinism note).
    ``passwords`` are candidate user/owner passwords for encrypted pdf spans
    (tried after the empty password); non-matching documents still
    quarantine as parse failures.
    """
    t0 = time.monotonic()
    norm: list[tuple[str, str | bytes | None, str, int]] = []
    for s in spans:
        if isinstance(s, dict):
            payload = s["text"] if "text" in s else s["payload"]
            kind, media_ref, off = s["kind"], s["media_ref"], s["offset"]
        else:
            kind, payload, media_ref, off = s[0], s[1], s[2], s[3]
        norm.append((kind, _decode(kind, payload), media_ref or "", off))
    # a null offset (a JSONL line whose span is missing the key is schema-
    # valid and NOT _corrupt-flagged) must quarantine as a span failure,
    # never TypeError the sort and abort the whole batch; damaged spans
    # order deterministically after all real offsets, stably by input order
    norm.sort(key=_offset_sort_key)

    out: list[tuple[str, str, str, int]] = []
    pages = 0
    failures = 0
    empty_with_images = 0

    def emit(kind: str, text: str, media_ref: str = "") -> None:
        out.append((kind, text, media_ref, len(out)))

    for kind, body, media_ref, off in norm:
        if off is None:  # damaged input: position unknowable
            failures += 1
            emit(KIND_TEXT, "")
        elif kind == KIND_MEDIA:
            emit(KIND_MEDIA, "", media_ref)
        elif kind == KIND_TEXT:
            emit(KIND_TEXT, clean_text(body))
        elif kind == KIND_HTML:
            emit(KIND_TEXT, clean_text(extract_main_text(body)))
        elif kind == KIND_DATA:
            # delimited/JSON rows -> the F4 table framing, then clean_text
            # — the data corpus category (app/config.py:9-15) as a span path
            emit(KIND_TEXT, clean_text(render_data(body)))
        elif kind == KIND_PDF and body is not None:
            try:
                # media_ref prefix = the INPUT span offset: stable per doc,
                # known to the generator oracle, no doc_id needed in-kernel
                page_spans, n_pages, n_empty = extract_pdf_spans(
                    body, ref_prefix=str(off), passwords=passwords
                )
            except (PdfParseError, ValueError):
                failures += 1
                emit(KIND_TEXT, "")
            else:
                pages += n_pages
                empty_with_images += n_empty
                for pspans in page_spans:
                    for k, t, ref in pspans:
                        emit(k, t, ref)
        else:
            # bad base64 (a None pdf payload) or an unknown kind: the
            # unsupported-file error path (helper.py:160-171)
            failures += 1
            emit(KIND_TEXT, "")

    return ExtractResult(
        spans=out,
        pages_parsed=pages,
        spans_emitted=len(out),
        parse_failures=failures,
        duration_ms=int((time.monotonic() - t0) * 1000),
        scores=_compute_scores(len(norm), failures, out, empty_with_images),
    )
