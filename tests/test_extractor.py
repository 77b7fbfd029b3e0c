"""Per-document extraction core: routing, passthrough, offsets, failure
accounting (reference: category routing app/config.py:9-15, validity gate
helper.py:213-225, page loop pymu_tesseract_processor.py:84-117)."""

import base64

from hypothesis import given
from hypothesis import strategies as st

from pdf_extractor_spark.core.extractor import extract_document
from pdf_extractor_spark.core.pdf_build import PageSpec, TextBox, build_pdf


def test_text_span_cleaned():
    res = extract_document([("text", "  a \n\n\n b ", "", 0)])
    assert res.spans == [("text", "a\n\nb", "", 0)]
    assert res.parse_failures == 0


def test_media_passthrough_preserves_ref_and_order():
    spans = [
        ("media", "", "media://aaa.png", 0),
        ("text", "hello", "", 1),
        ("media", "", "media://bbb.mp4", 2),
    ]
    res = extract_document(spans)
    assert res.spans == [
        ("media", "", "media://aaa.png", 0),
        ("text", "hello", "", 1),
        ("media", "", "media://bbb.mp4", 2),
    ]


def test_input_offset_order_respected_not_list_order():
    spans = [("text", "second", "", 5), ("text", "first", "", 1)]
    res = extract_document(spans)
    assert [s[1] for s in res.spans] == ["first", "second"]
    assert [s[3] for s in res.spans] == [0, 1]


def test_pdf_span_expands_to_page_spans():
    pdf = build_pdf(
        [
            PageSpec(boxes=[TextBox(x=72, y_top=100, lines=["P0."])]),
            PageSpec(boxes=[TextBox(x=72, y_top=100, lines=["P1."])]),
        ]
    )
    b64 = base64.b64encode(pdf).decode()
    res = extract_document([("text", "before", "", 0), ("pdf", b64, "", 1), ("media", "", "m://x", 2)])
    assert [(s[0], s[1]) for s in res.spans] == [
        ("text", "before"),
        ("text", "P0."),
        ("text", "P1."),
        ("media", ""),
    ]
    assert res.pages_parsed == 2
    assert [s[3] for s in res.spans] == [0, 1, 2, 3]


def test_invalid_pdf_counts_failure_not_crash():
    res = extract_document([("pdf", base64.b64encode(b"junk").decode(), "", 0)])
    assert res.parse_failures == 1
    assert res.spans == [("text", "", "", 0)]


def test_bad_base64_counts_failure():
    res = extract_document([("pdf", "!!!not-base64!!!", "", 0)])
    assert res.parse_failures == 1


def test_unknown_kind_counts_failure():
    res = extract_document([("exe", "MZ...", "", 0)])
    assert res.parse_failures == 1


def test_null_offset_quarantines_span_not_crash():
    """A span with a null offset (a JSONL line missing the key is
    schema-valid and unflagged) must count as a span failure — never
    TypeError the offset sort and abort the batch (review finding). Damaged
    spans order deterministically after all real offsets, in input order,
    on both span encodings."""
    from pdf_extractor_spark.core.extractor import stage_span

    spans = [
        ("text", "beta", "", None),
        ("text", "alpha", "", 0),
        ("media", "", "m://x", None),
    ]
    res = extract_document(spans)
    assert res.parse_failures == 2
    assert [s[1] for s in res.spans] == ["alpha", "", ""]
    assert [s[3] for s in res.spans] == [0, 1, 2]  # dense, deterministic
    staged = extract_document(
        [(k, stage_span(k, t), m, o) for k, t, m, o in spans]
    )
    assert staged.spans == res.spans
    assert staged.parse_failures == res.parse_failures
    assert staged.scores == res.scores


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["text", "media"]),
            st.text(alphabet=" \t\nabc", max_size=40),
            st.sampled_from(["", "media://x"]),
        ),
        max_size=10,
    )
)
def test_offsets_always_dense_increasing(items):
    spans = [(k, t if k == "text" else "", m if k == "media" else "", i) for i, (k, t, m) in enumerate(items)]
    res = extract_document(spans)
    assert [s[3] for s in res.spans] == list(range(len(res.spans)))
    assert res.spans_emitted == len(res.spans)


def test_quality_scores():
    """Per-doc score map (Docling confidence analogue): exact ratios."""
    from pdf_extractor_spark.core.extractor import extract_document

    res = extract_document(
        [
            ("text", "hello world", "", 0),
            ("media", "", "media://x", 1),
            ("bogus", "x", "", 2),
        ]
    )
    assert res.scores["parse_score"] == 2 / 3  # 1 of 3 input spans failed
    assert res.scores["media_ratio"] == 1 / 3  # 1 media of 3 emitted
    assert res.scores["avg_span_chars"] == len("hello world") / 3

    assert res.scores["pages_empty_with_images"] == 0.0

    empty = extract_document([])
    assert empty.scores == {
        "parse_score": 1.0, "media_ratio": 0.0, "avg_span_chars": 0.0,
        "pages_empty_with_images": 0.0,
    }


def test_hostile_pdf_inputs_never_crash():
    """At corpus scale malformed PDFs are routine: random garbage, truncated
    files, and bit-flipped valid PDFs must all land as parse_failures (or, if
    the flip is benign, still parse) — never an uncaught exception."""
    import base64
    import random

    from pdf_extractor_spark.core.extractor import extract_document
    from pdf_extractor_spark.corpus import gen_documents

    rng = random.Random(7)
    blobs = [
        base64.b64encode(
            bytes(rng.randrange(256) for _ in range(rng.randrange(0, 400)))
        ).decode()
        for _ in range(60)
    ]
    for t in (s["text"] for r in gen_documents(5, seed=42, profile="heavy")
              for s in r["spans"]):
        raw = bytearray(base64.b64decode(t))
        for _ in range(5):
            b = bytearray(raw)
            for _ in range(rng.randrange(1, 30)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            blobs.append(base64.b64encode(bytes(b)).decode())
        blobs.append(base64.b64encode(bytes(raw[: rng.randrange(len(raw))])).decode())
        blobs.append(t + "!!notb64")

    for blob in blobs:
        res = extract_document([("pdf", blob, "", 0)])  # must not raise
        assert res.spans_emitted >= 1


def test_data_kind_renders_table_framing():
    """kind='data' (the reference's csv/xlsx/json corpus category,
    app/config.py:9-15): delimited content renders through the SAME F4
    table framing the PDF grid path uses — sniffed delimiter, list-repr
    rows, clean_text — and never aborts on malformed content."""
    from pdf_extractor_spark.core.extractor import extract_document, stage_span

    for delim in (",", ";", "\t", "|"):
        text = f"id{delim}lang\n1{delim}en\n2{delim}fr"
        r = extract_document([("data", text, "", 0)])
        assert r.parse_failures == 0
        assert r.spans[0] == (
            "text",
            "Table:\n\n['id', 'lang']\n\n['1', 'en']\n\n['2', 'fr']",
            "",
            0,
        ), delim
        # the staged encoding is byte-identical
        staged = extract_document([("data", stage_span("data", text), "", 0)])
        assert staged.spans == r.spans

    # no sniffable delimiter -> ',' fallback, single-column rows
    r = extract_document([("data", "solo\nrows", "", 0)])
    assert r.parse_failures == 0
    assert r.spans[0][1] == "Table:\n\n['solo']\n\n['rows']"

    # empty data span: empty table, not a failure, not a crash
    r = extract_document([("data", "", "", 0)])
    assert r.parse_failures == 0 and r.spans[0][1] == "Table:"

    # an unquoted bare '\r' is a record break (old-Mac line ends), never a
    # csv "new-line character seen in unquoted field" error
    for text, want in (
        ("a,b\r0,1", "Table:\n\n['a', 'b']\n\n['0', '1']"),
        ("\r0", "Table:\n\n[]\n\n['0']"),
        ("id,lang\r1,en\r2,fr\r", "Table:\n\n['id', 'lang']\n\n['1', 'en']\n\n['2', 'fr']"),
    ):
        r = extract_document([("data", text, "", 0)])
        assert r.parse_failures == 0
        assert r.spans[0][1] == want, text

    # interleaving preserved around media spans
    r = extract_document(
        [("data", "a,b\n1,2", "", 0), ("media", "", "m://x", 1)]
    )
    assert [s[0] for s in r.spans] == ["text", "media"]

    # JSON data content: object list -> sorted-key header table; missing
    # keys render as None; non-tabular JSON one cell per element;
    # almost-JSON falls back to the delimited renderer, never aborts
    r = extract_document(
        [("data", '[{"b": "2", "a": "1"}, {"a": "3"}]', "", 0)]
    )
    assert r.parse_failures == 0
    assert r.spans[0][1] == "Table:\n\n['a', 'b']\n\n['1', '2']\n\n['3', None]"
    r = extract_document([("data", "[1, 2]", "", 0)])
    assert r.spans[0][1] == "Table:\n\n[1]\n\n[2]"
    r = extract_document([("data", '{"k": "v"}', "", 0)])
    assert r.spans[0][1] == "Table:\n\n['k']\n\n['v']"
    r = extract_document([("data", "[broken json", "", 0)])
    assert r.parse_failures == 0
    assert r.spans[0][1] == "Table:\n\n['[broken json']"
