"""Kernel timing outside Spark: each public kernel function called over a
sample of documents, in a process of its own.

    python3 perfbench/solo.py <sample.json>

``sample.json`` holds ``[[doc_id, spans], ...]`` with the corpus's span
dicts. Prints one JSON object of seconds per function (best of two passes)
and whole-document ``extract_document`` throughput.
"""

from __future__ import annotations

import base64
import json
import os
import sys
import time
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def one_pass(docs) -> dict[str, float]:
    from pdf_extractor_spark.core.extractor import extract_document
    from pdf_extractor_spark.core.html_extract import extract_main_text
    from pdf_extractor_spark.core.pdf_parse import page_to_spans, parse_pdf
    from pdf_extractor_spark.core.textclean import clean_text

    t = defaultdict(float)
    clock = time.perf_counter
    for _doc_id, spans in docs:
        t0 = clock()
        extract_document(spans)
        t["extract_document_s"] += clock() - t0
        for s in spans:
            if s["kind"] == "pdf":
                data = base64.b64decode(s["text"])
                t0 = clock()
                pages = parse_pdf(data)
                t1 = clock()
                for i, p in enumerate(pages):
                    page_to_spans(p, i, str(s["offset"]))
                t["page_to_spans_s"] += clock() - t1
                t["parse_pdf_s"] += t1 - t0
            elif s["kind"] in ("html", "text"):
                text = s["text"]
                if s["kind"] == "html":
                    t0 = clock()
                    text = extract_main_text(text)
                    t["extract_main_text_s"] += clock() - t0
                t0 = clock()
                clean_text(text)
                t["clean_text_s"] += clock() - t0
    return t


def main(path: str) -> None:
    with open(path) as f:
        docs = json.load(f)
    passes = [one_pass(docs) for _ in range(2)]
    keys = ("extract_document_s", "parse_pdf_s", "page_to_spans_s", "extract_main_text_s", "clean_text_s")
    best = {k: min(p.get(k, 0.0) for p in passes) for k in keys}
    best["docs"] = len(docs)
    print(json.dumps(best))


if __name__ == "__main__":
    main(sys.argv[1])
