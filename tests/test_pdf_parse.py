"""PDF builder/parser pair: content-stream tokenizing, layout analysis,
reading order (the W1 invariant, pymu_tesseract_processor.py:233-235),
ruled-line table detection (find_tables analogue, :204-211)."""

import random

import pytest

from pdf_extractor_spark.core.pdf_build import PageSpec, Table, TextBox, build_pdf
from pdf_extractor_spark.core.pdf_parse import PdfParseError, parse_pdf
from pdf_extractor_spark.corpus import make_pdf_bytes
from tests.helpers import extract_pdf_text


def test_single_textbox_roundtrip():
    page = PageSpec(boxes=[TextBox(x=72, y_top=100, lines=["Hello world.", "Second line."])])
    [text] = extract_pdf_text(build_pdf([page]))
    assert text == "Hello world.\nSecond line."


@pytest.mark.parametrize("style", ["td", "tm", "quote", "tj_array"])
def test_all_operator_styles_equal(style):
    page = PageSpec(boxes=[TextBox(x=72, y_top=100, lines=["Alpha beta.", "Gamma delta."], style=style)])
    [text] = extract_pdf_text(build_pdf([page]))
    assert text == "Alpha beta.\nGamma delta."


def test_reading_order_y_then_x():
    # stream order is deliberately scrambled; layout must win
    boxes = [
        TextBox(x=320, y_top=60, lines=["B top-right."]),
        TextBox(x=50, y_top=300, lines=["C bottom-left."]),
        TextBox(x=50, y_top=50, lines=["A top-left."]),
    ]
    [text] = extract_pdf_text(build_pdf([PageSpec(boxes=boxes)]))
    assert text == "A top-left.\n\nB top-right.\n\nC bottom-left."


def test_same_y_orders_by_x():
    boxes = [
        TextBox(x=320, y_top=100, lines=["right"]),
        TextBox(x=50, y_top=100, lines=["left"]),
    ]
    [text] = extract_pdf_text(build_pdf([PageSpec(boxes=boxes)]))
    assert text == "left\n\nright"


def test_stream_order_permutation_invariant():
    rng = random.Random(3)
    boxes = [
        TextBox(x=50 if i % 2 == 0 else 320, y_top=60 + 60 * (i // 2), lines=[f"box {i} text."])
        for i in range(6)
    ]
    base = extract_pdf_text(build_pdf([PageSpec(boxes=list(boxes))]))
    for _ in range(5):
        rng.shuffle(boxes)
        assert extract_pdf_text(build_pdf([PageSpec(boxes=list(boxes))])) == base


def test_table_detection_grid():
    tbl = Table(x=60, y_top=500, rows=[["a", "b"], ["c", ""]])
    page = PageSpec(
        boxes=[TextBox(x=60, y_top=80, lines=["Intro text."])], tables=[tbl]
    )
    [text] = extract_pdf_text(build_pdf([page]))
    assert text == "Intro text.\n\nTable:\n\n['a', 'b']\n\n['c', None]"


def test_multiple_tables_labeled():
    t1 = Table(x=60, y_top=200, rows=[["a", "b"], ["c", "d"]])
    t2 = Table(x=60, y_top=500, rows=[["e", "f"], ["g", "h"]])
    page = PageSpec(tables=[t1, t2])
    [text] = extract_pdf_text(build_pdf([page]))
    assert text.startswith("Table1:") and "Table2:" in text


def test_multipage_order_and_count():
    pages = [
        PageSpec(boxes=[TextBox(x=72, y_top=100, lines=[f"Page {i} content."])])
        for i in range(4)
    ]
    texts = extract_pdf_text(build_pdf(pages))
    assert texts == [f"Page {i} content." for i in range(4)]


def test_empty_page():
    texts = extract_pdf_text(build_pdf([PageSpec()]))
    assert texts == [""]


def test_compressed_equals_raw():
    page = PageSpec(boxes=[TextBox(x=72, y_top=100, lines=["Flate test."])])
    assert extract_pdf_text(build_pdf([page], compress=True)) == extract_pdf_text(
        build_pdf([page], compress=False)
    )


def test_invalid_pdf_raises():
    with pytest.raises(PdfParseError):
        parse_pdf(b"not a pdf at all")
    with pytest.raises(PdfParseError):
        parse_pdf(b"%PDF-1.4\ngarbage with no objects")


def test_corrupt_flate_raises():
    page = PageSpec(boxes=[TextBox(x=72, y_top=100, lines=["x"])])
    data = bytearray(build_pdf([page], compress=True))
    at = data.find(b"stream\n") + 7
    data[at : at + 4] = b"\x00\x00\x00\x00"
    with pytest.raises(PdfParseError):
        extract_pdf_text(bytes(data))


def test_string_escapes():
    page = PageSpec(boxes=[TextBox(x=72, y_top=100, lines=["paren (x) and \\ slash."])])
    [text] = extract_pdf_text(build_pdf([page]))
    assert text == "paren (x) and \\ slash."


def test_corpus_pdfs_parse_clean():
    rng = random.Random(11)
    for _ in range(10):
        n = rng.randint(1, 5)
        texts = extract_pdf_text(make_pdf_bytes(rng, n))
        assert len(texts) == n


def test_tokenizer_escape_dialects():
    """Pin the content-stream tokenizer's escape semantics (ISO 32000
    7.3.4.2, uniform in every context since round 2): named escapes, octal
    decode, unknown escapes keep the character with the backslash ignored;
    nested parens; unterminated string at EOF."""
    from pdf_extractor_spark.core.pdf_parse import _tokenize

    cases = {
        rb"(ab\tc) Tj": [("str", "ab\tc"), ("op", "Tj")],
        rb"(a\053b) Tj": [("str", "a+b"), ("op", "Tj")],
        # \8 is not a valid octal escape -> backslash dropped, char kept
        rb"(\101\8)Tj": [("str", "A8"), ("op", "Tj")],
        # same semantics inside TJ arrays (octal works there too)
        rb"[(a\q) -3 (\102)] TJ": [
            ("arr", [("str", "aq"), ("num", -3.0), ("str", "B")]),
            ("op", "TJ"),
        ],
        rb"(nest (inner) out) Tj": [("str", "nest (inner) out"), ("op", "Tj")],
        rb"(unterminated": [("str", "unterminated")],
        rb"12.5 -3 Td": [("num", 12.5), ("num", -3.0), ("op", "Td")],
    }
    for raw, want in cases.items():
        assert list(_tokenize(raw)) == want, raw


def test_roundtrip_property_arbitrary_text():
    """Property: any latin-1 printable text (incl. parens/backslashes/escape
    look-alikes) survives build->parse byte-exact after the clean-text
    normalization the parser applies per line."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pdf_extractor_spark.core.textclean import clean_text

    line_st = st.text(
        alphabet=st.characters(
            codec="latin-1", categories=("L", "N", "P", "S"), include_characters=" ()\\"
        ),
        min_size=1,
        max_size=60,
    ).map(lambda s: s.strip()).filter(lambda s: s and clean_text(s) == s)

    @settings(max_examples=60, deadline=None)
    @given(st.lists(line_st, min_size=1, max_size=4))
    def inner(lines):
        page = PageSpec(boxes=[TextBox(x=72, y_top=100, lines=lines)])
        [text] = extract_pdf_text(build_pdf([page]))
        assert text == "\n".join(lines)

    inner()


def test_tj_kern_word_spacing():
    """pdfTeX-style text carries NO space glyphs — inter-word spacing is
    encoded as wide negative TJ kerns ("[(This)-371(man)28(ual)]TJ").
    _join_tj_array must read gaps beyond the space threshold back as
    spaces (round 4; verified against real pdfTeX documents), while small
    typographic kerns like the builder's intra-word -20 stay fused."""
    from pdf_extractor_spark.core.pdf_build import PageSpec, TextBox, build_pdf
    from pdf_extractor_spark.core.pdf_parse import _split_tj_array

    # unit semantics: threshold, no leading/trailing/empty segments; show()
    # joins the RAW segments with spaces only after per-segment font decode
    assert _split_tj_array(
        [("str", "This"), ("num", -371.0), ("str", "man"),
         ("num", 28.0), ("str", "ual")]
    ) == (["This", "manual"], -343.0)
    cases = [
        ([("str", "a"), ("num", -350.0), ("str", "b")], ["a", "b"], -350.0),
        ([("str", "a"), ("num", -20.0), ("str", "b")], ["ab"], -20.0),
        # leftward displacement still totals (it shortens the advance)
        ([("str", "a"), ("num", 350.0), ("str", "b")], ["ab"], 350.0),
        ([("num", -350.0), ("str", "a")], ["a"], -350.0),  # never leading
        ([("str", "a"), ("num", -350.0), ("num", -350.0), ("str", "b")],
         ["a", "b"], -700.0),
        # trailing gap segment dropped, its displacement still counted
        ([("str", "a"), ("num", -350.0)], ["a"], -350.0),
        ([], [], 0.0),
    ]
    for arr, want, want_kern in cases:
        assert _split_tj_array(arr) == (want, want_kern), arr

    # build -> parse roundtrip: the "tex" builder style emits kern-only
    # word gaps and must come back byte-exact
    lines = ["This manual is for GNU Libtasn1.", "Second line here."]
    page = PageSpec(boxes=[TextBox(x=72, y_top=100, lines=lines, style="tex")])
    [text] = extract_pdf_text(build_pdf([page]))
    assert text == "\n".join(lines)


def test_real_pdftex_documents_parse_with_word_spacing():
    """Golden check against genuinely foreign PDFs (pdfTeX / docbook output
    shipped with the OS) — not this repo's builder: multi-page parse, real
    word boundaries recovered from TJ kerning. Skipped where the files
    don't exist."""
    import os

    import pytest as _pytest

    from pdf_extractor_spark.core.pdf_parse import extract_pdf_spans

    path = "/usr/share/doc/libtasn1-doc/libtasn1.pdf"
    if not os.path.exists(path):
        _pytest.skip("system PDF not present")
    spans, n_pages, _ = extract_pdf_spans(open(path, "rb").read())
    assert n_pages == 36
    all_text = "\n".join(t for ps in spans for _, t, _ in ps)
    assert "Abstract Syntax Notation One" in all_text
    assert "version 4.19.0" in all_text
    # the pre-fix failure mode: fused words
    assert "AbstractSyntaxNotation" not in all_text

    path2 = "/usr/share/doc/shared-mime-info/shared-mime-info-spec.pdf"
    if not os.path.exists(path2):
        return
    spans2, n2, _ = extract_pdf_spans(open(path2, "rb").read())
    txt2 = "\n".join(t for ps in spans2 for _, t, _ in ps)
    assert n2 == 17
    # TeX Type1 f-ligatures decode through the simple-font ToUnicode CMap
    # (pre-fix: 197 U+FFFD from /Differences [2 /fi /fl])
    assert "�" not in txt2
    assert "specification" in txt2


def test_line_assembly_baseline_jitter_and_exact_widths():
    """Round-4 line-assembly hardening, pinned at the unit level:

    (a) sub-ULP baseline jitter (679.323 vs 679.3230000000001 — real
        pdfTeX output) must not reorder a line's items: clustering by y
        happens BEFORE the left-to-right walk;
    (b) an item with a real /Widths advance (width > 0) joins its
        same-baseline continuation regardless of length — the
        _WORD_MERGE_MAX_CHARS guard only bounds the 0.5 em/char model's
        accumulated error."""
    from pdf_extractor_spark.core.pdf_parse import _TextItem, _group_textboxes

    # (a): leftmost item carries the jittered y; naive (y, x) sort puts it
    # last and splits the line
    items = [
        _TextItem(x=90.0, y_top=679.3230000000001, text="Nikos Mavro (",
                  size=14.0, width=193.0),
        _TextItem(x=284.3, y_top=679.323, text="mail@example.org",
                  size=14.0, width=155.0),
        _TextItem(x=439.33, y_top=679.323, text=")", size=14.0, width=6.3),
    ]
    [box] = _group_textboxes(items)
    assert box.lines == ["Nikos Mavro (mail@example.org)"]

    # (b): 25-char first item — beyond the model guard — still joins when
    # its advance is exact; with only the model estimate it must split
    # (the 0.5 em model drifts ~15 units here, outside the window)
    long_exact = [
        _TextItem(x=90.0, y_top=100.0, text="abcdefghij klmnopqrst uvw",
                  size=14.0, width=191.0),  # ends at 281; gap 4 = word space
        _TextItem(x=285.0, y_top=100.0, text="tail", size=14.0, width=30.0),
    ]
    [box] = _group_textboxes(long_exact)
    assert box.lines == ["abcdefghij klmnopqrst uvw tail"]
    long_model = [
        _TextItem(x=90.0, y_top=100.0, text="abcdefghij klmnopqrst uvw",
                  size=14.0),
        _TextItem(x=285.0, y_top=100.0, text="tail", size=14.0),
    ]
    boxes = _group_textboxes(long_model)
    assert sum(len(b.lines) for b in boxes) == 2  # stays split (guarded)

    # column-gutter protection survives exact widths: a wide gap never joins
    cols = [
        _TextItem(x=50.0, y_top=100.0, text="left column", size=12.0,
                  width=60.0),
        _TextItem(x=320.0, y_top=100.0, text="right column", size=12.0,
                  width=66.0),
    ]
    boxes = _group_textboxes(cols)
    assert {l for b in boxes for l in b.lines} == {"left column", "right column"}


def test_exact_width_join_window_spans_tex_glue():
    """With a real /Widths advance the continuation window widens to
    _EXACT_JOIN_MAX_EM (TeX stretches ~0.8 em of glue around inline
    verbatim/font switches) while gaps beyond it — right-aligned tags,
    column gutters — still split; the model path keeps the tight window."""
    from pdf_extractor_spark.core.pdf_parse import _TextItem, _group_textboxes

    glue = [  # 9.1-unit gap at size 10.91 (the real libtasn1 shape)
        _TextItem(x=90.0, y_top=167.8, text="comments begin with",
                  size=10.91, width=255.9),
        _TextItem(x=355.0, y_top=167.8, text="--", size=10.91, width=11.5),
    ]
    [box] = _group_textboxes(glue)
    assert box.lines == ["comments begin with --"]
    # beyond 2 em: split even with exact widths
    far = [
        _TextItem(x=90.0, y_top=100.0, text="signature(...)", size=10.91,
                  width=100.0),
        _TextItem(x=480.0, y_top=100.0, text="[Function]", size=10.91,
                  width=50.0),
    ]
    boxes = _group_textboxes(far)
    assert sum(len(b.lines) for b in boxes) == 2
    # model path unchanged: same 9.1-unit gap without widths stays split
    model = [
        _TextItem(x=90.0, y_top=167.8, text="comments begin with extra pad",
                  size=10.91),
        _TextItem(x=355.0, y_top=167.8, text="--", size=10.91),
    ]
    boxes = _group_textboxes(model)
    assert sum(len(b.lines) for b in boxes) == 2


def test_group_textboxes_preserves_all_text_property():
    """Property: line/box assembly may reorder and join items (inserting
    spaces) but must never drop or duplicate a character — over random
    geometries including jittered baselines, overlapping x, exact and
    model-estimated widths."""
    from collections import Counter

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pdf_extractor_spark.core.pdf_parse import _TextItem, _group_textboxes

    item_st = st.builds(
        _TextItem,
        x=st.floats(0, 600, allow_nan=False),
        y_top=st.floats(0, 790, allow_nan=False).map(
            lambda y: y + 1e-13 * (y % 3)  # sub-ULP-ish jitter
        ),
        text=st.text(
            alphabet=st.characters(codec="ascii", categories=("L", "N", "P")),
            min_size=1,
            max_size=12,
        ),
        size=st.floats(6, 24, allow_nan=False),
        width=st.one_of(st.just(0.0), st.floats(1, 300, allow_nan=False)),
    )

    @settings(max_examples=80, deadline=None)
    @given(st.lists(item_st, min_size=1, max_size=12))
    def inner(items):
        boxes = _group_textboxes(list(items))
        got = Counter(
            c for b in boxes for ln in b.lines for c in ln if c != " "
        )
        want = Counter(c for it in items for c in it.text if c != " ")
        assert got == want

    inner()


def test_rule_drawn_tables_match_re_drawn():
    """Real writers (docbook/passivetex, LaTeX) draw table grids as m/l/S
    stroked RULES, not per-cell `re` rects; _cells_from_rule_segments must
    reconstruct the identical table from rule intersections (round 4)."""
    rows = [["alpha", "beta"], ["gamma", ""], ["", "delta"]]
    texts = {}
    for ruled in (False, True):
        page = PageSpec(
            boxes=[TextBox(x=60, y_top=80, lines=["Intro."])],
            tables=[Table(x=60, y_top=400, rows=rows, ruled=ruled)],
        )
        [texts[ruled]] = extract_pdf_text(build_pdf([page]))
    assert texts[True] == texts[False]
    assert "Table:" in texts[True]


def test_ruled_frame_box_is_not_a_table():
    """A single framed box (2 H x 2 V rules — the docbook example/note
    frame) is prose decoration: its text must NOT be swallowed into a 1x1
    table. Only grids forming >= 2 cells qualify."""
    frame = (
        "60 300 m 400 300 l S\n"  # top rule (y=300 device)
        "60 200 m 400 200 l S\n"  # bottom rule
        "60 200 m 60 300 l S\n"  # left border
        "400 200 m 400 300 l S\n"  # right border
        "BT /F1 12 Tf 80 250 Td (boxed code) Tj ET"
    )
    from pdf_extractor_spark.core.pdf_build import PAGE_H  # noqa: F401
    import zlib as _zlib  # noqa: F401

    # hand-assemble a minimal one-page PDF around the raw content stream
    page = PageSpec(boxes=[TextBox(x=60, y_top=80, lines=["Before."])])
    pdf = build_pdf([page])
    # splice: append the frame ops into the content stream (uncompressed)
    marker = b"stream\n"
    i = pdf.find(marker)
    j = pdf.find(b"\nendstream", i)
    body = pdf[i + len(marker):j] + b"\n" + frame.encode()
    new = pdf[:i + len(marker)] + body + pdf[j:]
    # fix the stream /Length
    import re as _re

    new = _re.sub(
        rb"/Length \d+", b"/Length %d" % len(body), new, count=1
    )
    pages = parse_pdf(new)
    assert not pages[0].tables
    text = extract_pdf_text(new)[0]
    assert "boxed code" in text and "Table" not in text


def test_rule_segment_vector_art_cap():
    """Pages stroking hundreds of segments (vector art) skip rule-table
    synthesis entirely instead of running the O(H*V) grid pass."""
    from pdf_extractor_spark.core.pdf_parse import (
        _MAX_RULE_SEGS,
        _cells_from_rule_segments,
    )

    segs = [((float(i), 0.0), (float(i), 50.0)) for i in range(_MAX_RULE_SEGS + 1)]
    assert _cells_from_rule_segments(segs, 792.0) == []


def test_corpus_spec_lines_survive_extraction():
    """Every generated box line must appear verbatim in its page's parsed
    text (post clean-text), across the full v10 style matrix — notably the
    "tex" kern-gap boxes and rule-drawn tables, whose joins/cell claims
    must not mangle neighbouring prose. Pages whose boxes can be absorbed
    into table regions are skipped (the kind-sequence oracle covers those;
    here we pin raw TEXT fidelity)."""
    from pdf_extractor_spark.core.textclean import clean_text
    from pdf_extractor_spark.corpus import make_pdf

    rng = random.Random(77)
    checked_lines = tex_lines = 0
    for _ in range(40):
        pdf, specs = make_pdf(rng, rng.randint(1, 3))
        texts = extract_pdf_text(pdf)
        for spec, text in zip(specs, texts):
            if spec.tables:
                continue
            for b in spec.boxes:
                for ln in b.lines:
                    want = clean_text(ln)
                    assert want in text, (b.style, ln, text[:200])
                    checked_lines += 1
                    if b.style == "tex":
                        tex_lines += 1
    assert checked_lines > 200 and tex_lines > 20


def test_char_word_spacing_enter_width_advance():
    """Tc / Tw / Tz (ISO 32000-1 9.3) enter the /Widths advance — office
    writers justify lines with Tw, and an advance that ignored it would
    re-break the exact-width same-baseline joins. Also pinned: q/Q
    save/restore the spacing params."""
    from pdf_extractor_spark.core.pdf_parse import _Font, _interpret

    fonts = {"F1": _Font(widths={c: 500.0 for c in range(32, 127)})}
    base = b"BT /F1 10 Tf 100 700 Td (ab cd) Tj ET"
    [it], _, _ = _interpret(base, 792.0, fonts=fonts)
    assert it.width == pytest.approx(5 * 0.5 * 10)  # 5 glyphs at 500/1000

    spaced = b"2 Tc 3 Tw BT /F1 10 Tf 100 700 Td (ab cd) Tj ET"
    [it2], _, _ = _interpret(spaced, 792.0, fonts=fonts)
    assert it2.width == pytest.approx(25 + 5 * 2 + 1 * 3)  # +Tc/glyph +Tw/space

    scaled = b"50 Tz BT /F1 10 Tf 100 700 Td (ab cd) Tj ET"
    [it3], _, _ = _interpret(scaled, 792.0, fonts=fonts)
    assert it3.width == pytest.approx(25 * 0.5)

    saved = (
        b"2 Tc q 9 Tc Q BT /F1 10 Tf 100 700 Td (ab cd) Tj ET"
    )
    [it4], _, _ = _interpret(saved, 792.0, fonts=fonts)
    assert it4.width == pytest.approx(25 + 5 * 2)  # Q restored Tc=2


def test_tj_kern_displacement_enters_width_advance():
    """TJ numbers displace the pen by -v/1000*Tfs*Tz (ISO 32000-1 9.4.3)
    whether or not they split a word — the pdfTeX case writes every word
    gap this way, and a kerned show string that dropped the kerns would
    report a width short by the summed gaps while _group_textboxes treats
    width>0 as exact (round-5 ADVICE fix)."""
    from pdf_extractor_spark.core.pdf_parse import _Font, _interpret

    fonts = {"F1": _Font(widths={c: 500.0 for c in range(32, 127)})}

    # word-break kern: 8 glyphs at 500/1000*10 = 40, plus gap 371/1000*10
    kerned = b"BT /F1 10 Tf 100 700 Td [(This)-371(test)] TJ ET"
    [it], _, _ = _interpret(kerned, 792.0, fonts=fonts)
    assert it.text == "This test"
    assert it.width == pytest.approx(8 * 5.0 + 0.371 * 10)

    # small intra-word kerns (below the word threshold) count too,
    # including positive (leftward) ones
    tight = b"BT /F1 10 Tf 100 700 Td [(ma)-20(nu)28(al)] TJ ET"
    [it2], _, _ = _interpret(tight, 792.0, fonts=fonts)
    assert it2.text == "manual"
    assert it2.width == pytest.approx(6 * 5.0 + (20 - 28) / 1000 * 10)

    # Tz scales the kern displacement like every other advance component
    scaled = b"50 Tz BT /F1 10 Tf 100 700 Td [(This)-371(test)] TJ ET"
    [it3], _, _ = _interpret(scaled, 792.0, fonts=fonts)
    assert it3.width == pytest.approx((8 * 5.0 + 0.371 * 10) * 0.5)


def test_kerned_width_preserves_same_baseline_joins():
    """End-to-end form of the round-5 kern-width fix: a kerned show
    string followed by a same-baseline continuation placed just past its
    TRUE advance. With the kerns folded into the width the measured gap
    is a word space and the line joins; under the pre-fix width (short
    by the summed kerns) the apparent gap exceeded the 2-em exact-width
    window and the visual line split in two."""
    from pdf_extractor_spark.core.pdf_parse import (
        _Font,
        _group_textboxes,
        _interpret,
    )

    fonts = {"F1": _Font(widths={c: 500.0 for c in range(32, 127)})}
    # glyphs 4*5 = 20; kerns 3 * 700/1000*10 = 21 -> true advance 41
    stream = (  # Td is relative: +59 on the same baseline -> x = 159
        b"BT /F1 10 Tf 100 700 Td [(a)-700(b)-700(c)-700(d)] TJ "
        b"59 0 Td (tail) Tj ET"
    )
    items, _, _ = _interpret(stream, 792.0, fonts=fonts)
    it = items[0]
    assert it.text == "a b c d"
    assert it.width == pytest.approx(41.0)
    # continuation at 159: gap = 159 - (100 + 41) = 18 <= 2 em (20);
    # the pre-fix width (20) read the gap as 39 and split
    [box] = _group_textboxes(items)
    assert box.lines == ["a b c d tail"]

    # the fix must not over-join: the same layout with the continuation
    # past the window still splits (column-gutter protection intact)
    far = (  # +85 -> x = 185: gap 44 past the 2-em window
        b"BT /F1 10 Tf 100 700 Td [(a)-700(b)-700(c)-700(d)] TJ "
        b"85 0 Td (tail) Tj ET"
    )
    items2, _, _ = _interpret(far, 792.0, fonts=fonts)
    boxes = _group_textboxes(items2)
    assert sum(len(b.lines) for b in boxes) == 2
