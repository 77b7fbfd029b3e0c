"""Round-2 real-world PDF features: hex strings, /Differences fonts, cm CTM,
xref tables honored over file order, PDF 1.5 xref/object streams, PNG
predictors, /Prev incremental updates, /Contents arrays, hostile inputs.

Each feature is generated by the builder and parsed back byte-exact — the
generator <-> parser subset contract of SURVEY.md §7.4, extended per the
round-1 verdict toward the reference's open-anything behavior
(pymu_tesseract_processor.py:84-117: any PDF opens; failures quarantine)."""

import random
import zlib

import pytest

from pdf_extractor_spark.core.pdf_build import (
    PageSpec,
    Table,
    TextBox,
    append_incremental_page_update,
    build_pdf,
)
from pdf_extractor_spark.core.pdf_parse import (
    Name,
    PdfParseError,
    Stream,
    parse_pdf,
)
from tests.helpers import extract_pdf_text

BASE_LINES = ["Alpha beta gamma.", "Delta epsilon."]


def _one_box_pdf(**kwargs):
    style = kwargs.pop("style", "td")
    box_kwargs = {}
    for k in ("font", "ctm"):
        if k in kwargs:
            box_kwargs[k] = kwargs.pop(k)
    page = PageSpec(
        boxes=[TextBox(x=72, y_top=100, lines=list(BASE_LINES), style=style, **box_kwargs)]
    )
    return build_pdf([page], **kwargs)


EXPECT = "Alpha beta gamma.\nDelta epsilon."


# --- hex strings ------------------------------------------------------------


def test_hex_string_tj():
    [text] = extract_pdf_text(_one_box_pdf(style="hex"))
    assert text == EXPECT


def test_hex_string_whitespace_and_odd_padding():
    # "AB" = <4142>; whitespace inside the hex body and odd-length padding
    # (<414> -> "A@" since the last digit pads to 0x40) are both per-spec
    raw = (
        b"BT /F1 12 Tf 14 TL 72 692 Td <41 4\n2> Tj 0 -14 Td <414> Tj ET"
    )
    pdf = build_pdf([PageSpec(boxes=[TextBox(x=72, y_top=100, lines=["x"])])])
    doctored = pdf.replace(b"(x) Tj", b"<78> Tj")
    [text] = extract_pdf_text(doctored)
    assert text == "x"
    from pdf_extractor_spark.core.pdf_parse import _tokenize

    toks = list(_tokenize(raw))
    strs = [v for k, v in toks if k == "str"]
    assert strs == ["AB", "A@"]


def test_hex_string_in_tj_array():
    from pdf_extractor_spark.core.pdf_parse import _tokenize

    toks = list(_tokenize(rb"[<48 65> -20 (llo)] TJ"))
    assert toks == [("arr", [("str", "He"), ("num", -20.0), ("str", "llo")]), ("op", "TJ")]


# --- multi-font /Differences ------------------------------------------------

DIFFS = [(200, "eacute", "é"), (201, "ccedilla", "ç"), (202, "Adieresis", "Ä")]


@pytest.mark.parametrize("style", ["td", "hex", "tj_array", "quote"])
def test_differences_font_decodes(style):
    lines = ["Café été çédille.", "Ärger naïve? no: plain."]
    # naïve's ï is NOT in the differences map; for the literal styles it
    # passes through as a raw latin-1 byte (identity decode for unmapped
    # codes), exactly like a base encoding would
    lines = [lines[0], "Arger plain line."] if style == "hex" else lines
    page = PageSpec(
        boxes=[TextBox(x=72, y_top=100, lines=list(lines), style=style, font="F2")]
    )
    pdf = build_pdf([page], differences=DIFFS)
    [text] = extract_pdf_text(pdf)
    assert text == "\n".join(lines)


def test_differences_only_applies_to_f2():
    # same accented byte shown through F1 must stay latin-1 identity
    page = PageSpec(
        boxes=[
            TextBox(x=72, y_top=100, lines=["café"], font="F1"),  # é = byte 0xE9
            TextBox(x=72, y_top=200, lines=["x"], font="F2"),
        ]
    )
    pdf = build_pdf([page], differences=[(0xE9, "ccedilla", "ç")])
    [text] = extract_pdf_text(pdf)
    # F1 box: byte 0xE9 stays é; F2 box text 'x' unaffected
    assert text == "café\n\nx"


def test_unknown_glyph_name_is_replacement_char():
    from pdf_extractor_spark.core.pdf_parse import _glyph_to_char

    assert _glyph_to_char("eacute") == "é"
    assert _glyph_to_char("uni0041") == "A"
    assert _glyph_to_char("u1F600") == "😀"
    assert _glyph_to_char("g123") == "�"


# --- cm CTM -----------------------------------------------------------------


def test_cm_translate_matches_untransformed():
    plain = _one_box_pdf()
    moved = _one_box_pdf(ctm=(1, 0, 0, 1, 30.0, -12.0))
    assert extract_pdf_text(moved) == extract_pdf_text(plain) == [EXPECT]


def test_cm_scale_matches_untransformed():
    plain = _one_box_pdf()
    scaled = _one_box_pdf(ctm=(2.0, 0, 0, 0.5, 10.0, 40.0))
    assert extract_pdf_text(scaled) == extract_pdf_text(plain)


def test_cm_nested_q_restores_state():
    # box A inside q..Q with a big translate; box B after Q must be placed
    # by the ORIGINAL ctm — a parser that leaks the q state misorders them
    a = TextBox(x=50, y_top=300, lines=["second box."], ctm=(1, 0, 0, 1, 100, -50))
    b = TextBox(x=50, y_top=60, lines=["first box."])
    [text] = extract_pdf_text(build_pdf([PageSpec(boxes=[a, b])]))
    assert text == "first box.\n\nsecond box."


def test_cm_composes_multiplicatively():
    # two nested cm ops: net translate = (20+5, -10-6)
    inner = "q 1 0 0 1 20 -10 cm q 1 0 0 1 5 -6 cm BT /F1 12 Tf 47 706 Td (deep) Tj ET Q Q"
    pdf = _one_box_pdf()
    # replace the whole content stream with the nested-q one
    start = pdf.find(b"stream\n") + 7
    end = pdf.find(b"\nendstream")
    old_len = end - start
    doctored = pdf[:start] + inner.encode() + pdf[end:]
    doctored = doctored.replace(
        f"/Length {old_len}".encode(), f"/Length {len(inner)}".encode()
    )
    [text] = extract_pdf_text(doctored)
    # 47+25 = 72, 706-16 = 690 => same place as a Td 72 690 box
    assert text == "deep"


# --- xref machinery ---------------------------------------------------------


def test_shuffled_object_order_parses_via_xref():
    pages = [
        PageSpec(boxes=[TextBox(x=72, y_top=100, lines=[f"Page {i}."])])
        for i in range(3)
    ]
    base = build_pdf(pages)
    shuffled = build_pdf(pages, order_rng=random.Random(5))
    assert shuffled != base
    assert extract_pdf_text(shuffled) == extract_pdf_text(base)


def test_xref_stream_roundtrip():
    pages = [
        PageSpec(
            boxes=[TextBox(x=72, y_top=100, lines=["Stream xref page."])],
            tables=[Table(x=60, y_top=500, rows=[["a", "b"], ["c", "d"]])],
        )
    ]
    classic = extract_pdf_text(build_pdf(pages))
    streamed = extract_pdf_text(build_pdf(pages, xref_mode="stream"))
    assert streamed == classic


def test_object_streams_roundtrip():
    pages = [
        PageSpec(boxes=[TextBox(x=72, y_top=100, lines=[f"Packed page {i}."])])
        for i in range(4)
    ]
    classic = extract_pdf_text(build_pdf(pages))
    packed = extract_pdf_text(build_pdf(pages, xref_mode="stream", objstm=True))
    assert packed == classic
    # sanity: the page dicts really are inside the compressed ObjStm
    raw = build_pdf(pages, xref_mode="stream", objstm=True)
    assert raw.count(b"/Type /Page") == 0  # only inside Flate payload


def test_xref_stream_png_predictor():
    pages = [PageSpec(boxes=[TextBox(x=72, y_top=100, lines=["Predicted."])])]
    plain = extract_pdf_text(build_pdf(pages, xref_mode="stream"))
    pred = extract_pdf_text(
        build_pdf(pages, xref_mode="stream", objstm=True, predictor=True)
    )
    assert pred == plain == ["Predicted."]


def test_compressed_objstm_combinations():
    page = PageSpec(
        boxes=[TextBox(x=72, y_top=100, lines=["Combo."], style="hex")]
    )
    for kwargs in (
        dict(compress=True, xref_mode="stream"),
        dict(compress=True, xref_mode="stream", objstm=True),
        dict(compress=True, xref_mode="stream", objstm=True, predictor=True),
    ):
        assert extract_pdf_text(build_pdf([page], **kwargs)) == ["Combo."]


def test_incremental_update_newest_revision_wins():
    pages = [
        PageSpec(boxes=[TextBox(x=72, y_top=100, lines=[f"Original {i}."])])
        for i in range(2)
    ]
    base = build_pdf(pages)
    new_page = PageSpec(boxes=[TextBox(x=72, y_top=100, lines=["Updated 1."])])
    updated = append_incremental_page_update(base, 1, new_page, n_pages=2)
    assert extract_pdf_text(base) == ["Original 0.", "Original 1."]
    assert extract_pdf_text(updated) == ["Original 0.", "Updated 1."]


def test_contents_array_of_streams():
    # split one page's ops across two content streams referenced as an array
    part1 = b"BT /F1 12 Tf 14 TL 72 692 Td (first half) Tj ET"
    part2 = b"BT /F1 12 Tf 14 TL 72 678 Td (second half) Tj ET"
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: (
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents [4 0 R 5 0 R] /Resources << /Font << /F1 6 0 R >> >> >>"
        ),
        4: b"<< /Length %d >>\nstream\n%s\nendstream" % (len(part1), part1),
        5: b"<< /Length %d >>\nstream\n%s\nendstream" % (len(part2), part2),
        6: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    }
    out = bytearray(b"%PDF-1.4\n")
    offsets = {}
    for num in sorted(objs):
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 7\n0000000000 65535 f \n"
    for num in range(1, 7):
        out += b"%010d 00000 n \n" % offsets[num]
    out += b"trailer\n<< /Size 7 /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % xref_at
    [text] = extract_pdf_text(bytes(out))
    assert text == "first half\nsecond half"


def test_indirect_length_resolves():
    part = b"BT /F1 12 Tf 72 692 Td (indirect len) Tj ET"
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: (
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents 4 0 R /Resources << /Font << /F1 6 0 R >> >> >>"
        ),
        4: b"<< /Length 5 0 R >>\nstream\n" + part + b"\nendstream",
        5: b"%d" % len(part),
        6: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    }
    out = bytearray(b"%PDF-1.4\n")
    offsets = {}
    for num in sorted(objs):
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 7\n0000000000 65535 f \n"
    for num in range(1, 7):
        out += b"%010d 00000 n \n" % offsets[num]
    out += b"trailer\n<< /Size 7 /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % xref_at
    [text] = extract_pdf_text(bytes(out))
    assert text == "indirect len"


def test_broken_xref_falls_back_to_scan():
    pdf = bytearray(_one_box_pdf())
    at = pdf.rfind(b"startxref")
    # point startxref at garbage; the brute-force object scan must recover
    broken = pdf[: at + 10] + b"999999999\n%%EOF\n"
    [text] = extract_pdf_text(bytes(broken))
    assert text == EXPECT


# --- form XObjects ----------------------------------------------------------


def test_form_xobject_executes_with_matrix():
    form = b"BT /F1 12 Tf 0 0 Td (from the form) Tj ET"
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: (
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents 4 0 R /Resources << /Font << /F1 6 0 R >> "
            b"/XObject << /Fm1 5 0 R >> >> >>"
        ),
        4: b"<< /Length 29 >>\nstream\nq 1 0 0 1 10 -8 cm /Fm1 Do Q\nendstream",
        5: (
            b"<< /Type /XObject /Subtype /Form /Matrix [1 0 0 1 62 700] "
            b"/Resources << /Font << /F1 6 0 R >> >> /Length %d >>\nstream\n%s\nendstream"
            % (len(form), form)
        ),
        6: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    }
    out = bytearray(b"%PDF-1.4\n")
    offsets = {}
    for num in sorted(objs):
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 7\n0000000000 65535 f \n"
    for num in range(1, 7):
        out += b"%010d 00000 n \n" % offsets[num]
    out += b"trailer\n<< /Size 7 /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % xref_at
    [text] = extract_pdf_text(bytes(out))
    assert text == "from the form"


# --- hostile inputs: must raise PdfParseError, never hang or crash ----------


def test_truncated_xref_offset():
    pdf = bytearray(_one_box_pdf())
    at = pdf.rfind(b"startxref")
    truncated = bytes(pdf[: at + 40])  # cut mid-trailer
    # either parses via fallback or fails cleanly — never another exception
    try:
        extract_pdf_text(truncated)
    except PdfParseError:
        pass


def test_cyclic_kids_raises():
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Pages /Kids [2 0 R] /Count 1 >>",  # cycle 2 -> 3 -> 2
    }
    out = bytearray(b"%PDF-1.4\n")
    offsets = {}
    for num in sorted(objs):
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 4\n0000000000 65535 f \n"
    for num in range(1, 4):
        out += b"%010d 00000 n \n" % offsets[num]
    out += b"trailer\n<< /Size 4 /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % xref_at
    with pytest.raises(PdfParseError):
        parse_pdf(bytes(out))


def test_self_referential_object_raises():
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"2 0 R",  # resolves to itself forever
    }
    out = bytearray(b"%PDF-1.4\n")
    offsets = {}
    for num in sorted(objs):
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 3\n0000000000 65535 f \n"
    for num in range(1, 3):
        out += b"%010d 00000 n \n" % offsets[num]
    out += b"trailer\n<< /Size 3 /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % xref_at
    with pytest.raises(PdfParseError):
        parse_pdf(bytes(out))


def test_wrong_length_recovers_or_fails_cleanly():
    pdf = _one_box_pdf()
    # inflate the declared /Length beyond the real stream: the parser must
    # re-locate endstream rather than reading into the next object
    m = pdf.find(b"/Length ")
    end = pdf.find(b" ", m + 8)
    doctored = pdf[:m] + b"/Length 99999" + pdf[pdf.find(b">", m) :]
    [text] = extract_pdf_text(doctored)
    assert text == EXPECT


def test_deep_dict_nesting_raises():
    body = b"<< /A " * 200 + b"1" + b" >>" * 200
    blob = (
        b"%PDF-1.4\n1 0 obj\n" + body + b"\nendobj\n"
        b"trailer\n<< /Size 2 /Root 1 0 R >>\nstartxref\n9\n%%EOF\n"
    )
    with pytest.raises(PdfParseError):
        parse_pdf(blob)


def test_mutation_fuzz_never_hangs_or_crashes():
    """Random byte mutations of valid corpus PDFs must always either parse
    or raise PdfParseError — no other exception type, no hang."""
    from pdf_extractor_spark.corpus import make_pdf_bytes

    rng = random.Random(1234)
    for trial in range(60):
        pdf = bytearray(make_pdf_bytes(rng, rng.randint(1, 3)))
        for _ in range(rng.randint(1, 8)):
            pos = rng.randrange(len(pdf))
            pdf[pos] = rng.randrange(256)
        try:
            extract_pdf_text(bytes(pdf))
        except PdfParseError:
            pass


def test_flate_bomb_is_bounded():
    """A huge-but-valid Flate stream of garbage ops parses without blowup."""
    bomb = zlib.compress(b"0 0 Td\n" * 50_000)
    pdf = build_pdf(
        [PageSpec(boxes=[TextBox(x=72, y_top=100, lines=["x"])])], compress=True
    )
    # swap in the bomb stream with corrected /Length
    s = pdf.find(b"stream\n") + 7
    e = pdf.find(b"\nendstream")
    old_len = e - s
    doctored = pdf[:s] + bomb + pdf[e:]
    doctored = doctored.replace(
        b"/Length %d" % old_len, b"/Length %d" % len(bomb)
    )
    [text] = extract_pdf_text(doctored)
    assert text == ""


def test_encrypted_pdf_fails_cleanly():
    """/Encrypt in the trailer -> PdfParseError (the needs_pass quarantine
    path), not garbled text from undecrypted streams."""
    pdf = _one_box_pdf()
    doctored = pdf.replace(
        b"trailer\n<< /Size", b"trailer\n<< /Encrypt 99 0 R /Size"
    )
    with pytest.raises(PdfParseError, match="encrypted"):
        parse_pdf(doctored)


# --- /Rotate ----------------------------------------------------------------


@pytest.mark.parametrize("rot", [90, 180, 270])
def test_rotate_preserves_display_reading_order(rot):
    """A /Rotate'd page must extract identically to its unrotated twin —
    reading order follows the DISPLAYED orientation, not raw device space."""
    boxes = [
        TextBox(x=60, y_top=60, lines=["First box line one.", "And line two."]),
        TextBox(x=300, y_top=62, lines=["Second box right."]),
        TextBox(x=60, y_top=300, lines=["Third box lower."]),
    ]

    def clone(bs):
        return [TextBox(x=b.x, y_top=b.y_top, lines=list(b.lines)) for b in bs]

    plain = extract_pdf_text(build_pdf([PageSpec(boxes=clone(boxes))]))
    rotated = extract_pdf_text(
        build_pdf([PageSpec(boxes=clone(boxes), rotate=rot)])
    )
    assert rotated == plain


def test_rotate_inherited_from_pages_node():
    # /Rotate on the Pages node applies to kids that don't override it
    pdf = build_pdf([PageSpec(boxes=[TextBox(x=60, y_top=60, lines=["x"])], rotate=90)])
    # move the /Rotate attribute from the page dict up to the Pages node
    moved = pdf.replace(b" /Rotate 90", b"", 1).replace(
        b"/Count 1", b"/Count 1 /Rotate 90", 1
    )
    assert extract_pdf_text(moved) == extract_pdf_text(pdf) == ["x"]


# --- Type0 / CID fonts with ToUnicode ---------------------------------------


@pytest.mark.parametrize("style", ["td", "tm", "quote", "tj_array"])
def test_cid_font_tounicode_roundtrip(style):
    """Identity-H Type0 font: 2-byte CIDs decode through the ToUnicode CMap
    (identity-ASCII bfrange + bfchar extras incl. a multi-char ligature)."""
    lines = ["Hello CID world.", "Cafe fflavor test."]
    page = PageSpec(
        boxes=[TextBox(x=72, y_top=100, lines=list(lines), style=style, font="F3")]
    )
    [text] = extract_pdf_text(build_pdf([page], cid=True))
    assert text == "\n".join(lines)


def test_cid_font_bfchar_extras():
    page = PageSpec(
        boxes=[TextBox(x=72, y_top=100, lines=["café ffl end."], font="F3")]
    )
    [text] = extract_pdf_text(build_pdf([page], cid=True))
    assert text == "café ffl end."


def test_cid_unmapped_code_is_replacement_char():
    pdf = build_pdf(
        [PageSpec(boxes=[TextBox(x=72, y_top=100, lines=["AB"], font="F3")])],
        cid=True,
    )
    # AB = <00410042>; splice in an unmapped CID 0x3000
    doctored = pdf.replace(b"<00410042>", b"<004130000042>")
    [text] = extract_pdf_text(doctored)
    assert text == "A�B"


def test_cid_in_objstm_pdf15():
    lines = ["Packed CID page."]
    page = PageSpec(boxes=[TextBox(x=72, y_top=100, lines=lines, font="F3")])
    got = extract_pdf_text(
        build_pdf([page], cid=True, xref_mode="stream", objstm=True, compress=True)
    )
    assert got == lines


def test_bfrange_array_form():
    from pdf_extractor_spark.core.pdf_parse import _parse_tounicode

    cmap = (
        b"1 beginbfrange\n"
        b"<0001> <0003> [<0041> <00420043> <0044>]\n"
        b"endbfrange\n"
    )
    m = _parse_tounicode(cmap)
    assert m == {1: "A", 2: "BC", 3: "D"}


# --- additional stream filters ----------------------------------------------


def test_lzw_decode_spec_example():
    """The LZWDecode worked example from ISO 32000 7.4.4.2."""
    from pdf_extractor_spark.core.pdf_parse import _lzw_decode

    encoded = bytes([0x80, 0x0B, 0x60, 0x50, 0x22, 0x0C, 0x0C, 0x85, 0x01])
    assert _lzw_decode(encoded) == b"-----A---B"


def test_runlength_decode():
    from pdf_extractor_spark.core.pdf_parse import _rl_decode

    # 2 -> copy 3 literals; 254 -> repeat next byte 3x; 128 -> EOD
    assert _rl_decode(bytes([2, 65, 66, 67, 254, 88, 128])) == b"ABCXXX"


def test_ascii85_decode():
    import base64

    from pdf_extractor_spark.core.pdf_parse import _a85_decode

    payload = b"BT /F1 12 Tf 72 692 Td (a85 text) Tj ET"
    enc = base64.a85encode(payload, adobe=True)[2:]  # strip <~, keep ~>
    assert _a85_decode(enc + b"\n") == payload


@pytest.mark.parametrize("fname,codec", [
    ("ASCIIHexDecode", "hex"),
    ("ASCII85Decode", "a85"),
    ("RunLengthDecode", "rl"),
])
def test_filtered_content_stream_roundtrip(fname, codec):
    """A content stream through each filter must extract identically."""
    import base64

    plain = _one_box_pdf()
    s = plain.find(b"stream\n") + 7
    e = plain.find(b"\nendstream")
    payload = plain[s:e]
    if codec == "hex":
        enc = payload.hex().encode() + b">"
    elif codec == "a85":
        enc = base64.a85encode(payload, adobe=True)[2:]
    else:  # naive run-length: all literal runs of <=128
        out = bytearray()
        for i in range(0, len(payload), 128):
            chunk = payload[i : i + 128]
            out.append(len(chunk) - 1)
            out += chunk
        out.append(128)
        enc = bytes(out)
    doctored = (
        plain[:s].replace(
            b"<< /Length %d >>" % len(payload),
            b"<< /Length %d /Filter /%s >>" % (len(enc), fname.encode()),
        )
        + enc
        + plain[e:]
    )
    assert extract_pdf_text(doctored) == [EXPECT]


# --- word assembly (per-word positioned text) -------------------------------


def test_words_style_reassembles_lines():
    """Per-word show ops (how real writers emit text) must reassemble into
    the original spaced line via the width-model word merge."""
    lines = ["alpha beta gamma delta", "one two three"]
    page = PageSpec(boxes=[TextBox(x=72, y_top=100, lines=list(lines), style="words")])
    [text] = extract_pdf_text(build_pdf([page]))
    assert text == "\n".join(lines)


def test_words_style_multiple_boxes_stay_separate():
    # a second column must NOT merge into the first box's word chain
    b1 = TextBox(x=50, y_top=100, lines=["left col words here"], style="words")
    b2 = TextBox(x=320, y_top=100, lines=["right col words"], style="words")
    [text] = extract_pdf_text(build_pdf([PageSpec(boxes=[b1, b2])]))
    assert text == "left col words here\n\nright col words"


def test_words_style_with_cid_font():
    page = PageSpec(
        boxes=[TextBox(x=72, y_top=100, lines=["cid words join up"], style="words", font="F3")]
    )
    [text] = extract_pdf_text(build_pdf([page], cid=True))
    assert text == "cid words join up"


def test_word_merge_requires_tight_gap():
    # two show-ops on one y but far apart (> 0.45 em past the estimated
    # right edge) stay separate lines -> separate boxes
    raw_items = (
        "BT /F1 12 Tf 50 692 Td (short) Tj ET "
        "BT /F1 12 Tf 200 692 Td (far) Tj ET"
    )
    pdf = _one_box_pdf()
    s = pdf.find(b"stream\n") + 7
    e = pdf.find(b"\nendstream")
    doctored = pdf[:s] + raw_items.encode() + pdf[e:]
    doctored = doctored.replace(
        b"/Length %d" % (e - s), b"/Length %d" % len(raw_items)
    )
    [text] = extract_pdf_text(doctored)
    assert text == "short\n\nfar"


def test_xref_stream_index_subsections():
    """/Index with multiple (start, count) subsections: rebuild a stream-xref
    PDF's table into two disjoint ranges and reparse."""
    import zlib as _zlib

    pages = [PageSpec(boxes=[TextBox(x=72, y_top=100, lines=["Index test."])])]
    pdf = build_pdf(pages, xref_mode="stream")
    # locate the xref stream object and its Flate payload
    at = pdf.rfind(b"/Type /XRef")
    s = pdf.find(b"stream\n", at) + 7
    e = pdf.find(b"\nendstream", at)
    rows = _zlib.decompress(pdf[s:e])
    ent = 7  # W = [1 4 2]
    n = len(rows) // ent
    # split full range [0, n) into [0, 2) + [2, n-2) emitted as two sections
    new_rows = rows[: 2 * ent] + rows[2 * ent :]
    payload = _zlib.compress(new_rows)
    doctored = (
        pdf[:at]
        + pdf[at:s].replace(
            b"/Size %d" % n,
            b"/Size %d /Index [0 2 2 %d]" % (n, n - 2),
        ).replace(
            b"/Length %d" % len(pdf[s:e]), b"/Length %d" % len(payload)
        )
        + payload
        + pdf[e:]
    )
    assert extract_pdf_text(doctored) == ["Index test."]


def test_startxref_ignores_decoy_in_stream_content():
    """A literal 'startxref NNN' inside page TEXT must not hijack the real
    trailer pointer (the parser takes the LAST startxref in the tail)."""
    page = PageSpec(boxes=[TextBox(x=72, y_top=100, lines=["startxref 12345"])])
    [text] = extract_pdf_text(build_pdf([page]))
    assert text == "startxref 12345"


# --- round-3 ADVICE regressions ----------------------------------------------


def test_free_xref_entry_tombstones_older_revision():
    """An object freed ('f') in a NEWER incremental revision must not be
    resurrected from an older revision's in-use entry (ADVICE r03), and a
    reference to it resolves to NULL (ISO 32000-1 §7.3.10) — the freed
    content stream disappears, the document itself keeps parsing (never
    quarantined, never the deleted revision's bytes)."""
    pages = [
        PageSpec(boxes=[TextBox(x=72, y_top=100, lines=["Page one."])]),
        PageSpec(boxes=[TextBox(x=72, y_top=100, lines=["Deleted text."])]),
    ]
    base = build_pdf(pages)  # content of page 2 = object 6 (positional)
    m = None
    import re as _re

    for m in _re.finditer(rb"startxref\s+(\d+)", base):
        pass
    prev = int(m.group(1))
    out = bytearray(base)
    xref_at = len(out)
    out += b"xref\n6 1\n0000000000 00001 f \n"
    out += (
        b"trailer\n<< /Size 8 /Root 1 0 R /Prev %d >>\nstartxref\n%d\n%%%%EOF\n"
        % (prev, xref_at)
    )
    parsed = parse_pdf(bytes(out))
    assert len(parsed) == 2  # page object survives; its content is null
    assert extract_pdf_text(bytes(out)) == ["Page one.", ""]
    # sanity: the base itself still parses both pages
    assert extract_pdf_text(base) == ["Page one.", "Deleted text."]


def test_mediabox_nonzero_origin():
    """MediaBox [x0 y0 x1 y1] with a non-zero lower-left corner (cropped /
    print PDFs): dimensions are the EXTENT and coordinates are offset by the
    origin, so layout equals the zero-origin twin (ADVICE r03)."""
    boxes = [
        TextBox(x=72, y_top=100, lines=["Upper text block."]),
        TextBox(x=90, y_top=200, lines=["Lower text block."]),
    ]
    base = build_pdf([PageSpec(boxes=[TextBox(x=b.x, y_top=b.y_top, lines=list(b.lines)) for b in boxes])])
    expect = extract_pdf_text(base)

    # same page with MediaBox shifted by (+50, +30) and every Td translated
    # to match: device-space layout relative to the box is identical
    shifted = base.replace(b"/MediaBox [0 0 612 792]", b"/MediaBox [50 30 662 822]")
    shifted = shifted.replace(b"72 692 Td", b"122 722 Td")
    shifted = shifted.replace(b"90 592 Td", b"140 622 Td")
    assert shifted != base
    assert extract_pdf_text(shifted) == expect


def test_mediabox_origin_with_rotate():
    """Non-zero origin + /Rotate: page_h from the extent keeps the display-
    space mapping correct."""
    base = build_pdf(
        [PageSpec(boxes=[TextBox(x=60, y_top=80, lines=["Rotated origin."])], rotate=90)]
    )
    expect = extract_pdf_text(base)
    shifted = base.replace(b"/MediaBox [0 0 612 792]", b"/MediaBox [20 40 632 832]")
    # rotated pages place text via absolute Tm; shift them all by the origin
    import re as _re

    def bump(mm):
        x, y = float(mm.group(1)), float(mm.group(2))
        return b"1 0 0 1 %g %g Tm" % (x + 20, y + 40)

    shifted = _re.sub(rb"1 0 0 1 ([\d.]+) ([\d.]+) Tm", bump, shifted)
    assert extract_pdf_text(shifted) == expect


def test_incremental_update_trailer_size_carries_base():
    """The appended revision's /Size must equal the base revision's actual
    object count — including diff/CID font objects (ADVICE r03)."""
    import re as _re

    pages = [PageSpec(boxes=[TextBox(x=72, y_top=100, lines=["Sized."], font="F2")])]
    base = build_pdf(
        pages,
        differences=[(200, "eacute", "é")],
        cid=True,
    )
    base_size = int(_re.search(rb"/Size (\d+)", base).group(1))
    upd = append_incremental_page_update(
        base, 0, PageSpec(boxes=[TextBox(x=72, y_top=100, lines=["New."])]), n_pages=1
    )
    sizes = [int(x) for x in _re.findall(rb"/Size (\d+)", upd)]
    assert sizes[-1] == base_size and base_size > 3 + 2 * 1 + 1
    assert extract_pdf_text(upd) == ["New."]


# --- embedded images -> media spans (round 3, SURVEY §2.8-K2) -----------------


def test_image_xobject_and_inline_become_media_spans():
    """Image XObjects and inline images emit kind='media' spans at their
    reading-order position with synthesized pdf:// refs; text above/below
    splits into separate text spans (the reference's Non-Text region
    handling, pymu_tesseract_processor.py:44-66)."""
    from pdf_extractor_spark.core.pdf_build import ImageBox
    from pdf_extractor_spark.core.pdf_parse import extract_pdf_spans

    page = PageSpec(
        boxes=[
            TextBox(x=72, y_top=100, lines=["Above the figure."]),
            TextBox(x=72, y_top=400, lines=["Below the figure."]),
        ],
        images=[
            ImageBox(x=100, y_top=200.5, w=120, h=90),
            ImageBox(x=60, y_top=300.5, w=80, h=40, inline=True),
        ],
    )
    expected = [
        ("text", "Above the figure.", ""),
        ("media", "", "pdf://7/0/Im0"),
        ("media", "", "pdf://7/0/inline-1"),
        ("text", "Below the figure.", ""),
    ]
    for kw in [
        {},
        {"compress": True},
        {"xref_mode": "stream"},
        {"xref_mode": "stream", "objstm": True, "predictor": True},
    ]:
        spans, n_pages, n_empty = extract_pdf_spans(
            build_pdf([page], **kw), ref_prefix="7"
        )
        assert spans == [expected] and n_pages == 1 and n_empty == 0, (kw, spans)
    # text-only extraction ignores images (back-compat)
    assert extract_pdf_text(build_pdf([page])) == [
        "Above the figure.\n\nBelow the figure."
    ]


def test_image_bbox_follows_ctm():
    """The placed rect is the unit square under the CTM — a nested q/cm
    around the image op must move its reading-order anchor."""
    from pdf_extractor_spark.core.pdf_build import ImageBox
    from pdf_extractor_spark.core.pdf_parse import parse_pdf

    page = PageSpec(images=[ImageBox(x=100, y_top=200.5, w=120, h=90)])
    pdf = build_pdf([page])
    [p] = parse_pdf(pdf)
    [im] = p.images
    assert (im.x, im.y_top, im.w, im.h) == (100.0, 200.5, 120.0, 90.0)
    # wrap the whole content in an extra translate: anchor must shift
    at = pdf.find(b"q 120 0 0 90")
    doctored = pdf[:at] + b"q 1 0 0 1 30 -50 cm\n" + pdf[at:]
    # fix stream /Length by letting the parser relocate endstream: doctor the
    # declared length too
    import re as _re

    m = _re.search(rb"/Length (\d+)", doctored)
    doctored = doctored.replace(
        m.group(0), b"/Length " + str(int(m.group(1)) + 20).encode(), 1
    )
    [p2] = parse_pdf(doctored)
    [im2] = p2.images
    assert (im2.x, im2.y_top) == (130.0, 250.5)  # +30 x, -50 device y = +50 y_top
    assert (im2.w, im2.h) == (120.0, 90.0)


def test_scanned_page_needs_ocr_signal():
    """A page with zero text operators and an image parses to media spans
    only and counts into pages_empty_with_images (the P6 force-OCR trigger
    analogue, docling_processor.py:235-239)."""
    from pdf_extractor_spark.core.pdf_build import ImageBox
    from pdf_extractor_spark.core.pdf_parse import extract_pdf_spans

    pdf = build_pdf(
        [
            PageSpec(images=[ImageBox(x=50, y_top=49.5, w=512, h=693)]),
            PageSpec(boxes=[TextBox(x=72, y_top=100, lines=["Real text."])]),
        ]
    )
    spans, n_pages, n_empty = extract_pdf_spans(pdf, ref_prefix="0")
    assert spans == [
        [("media", "", "pdf://0/0/Im0")],
        [("text", "Real text.", "")],
    ]
    assert n_pages == 2 and n_empty == 1
    # blank page (no regions at all) keeps one empty text span and does NOT
    # count as needs-OCR
    spans2, _, n_empty2 = extract_pdf_spans(build_pdf([PageSpec()]))
    assert spans2 == [[("text", "", "")]] and n_empty2 == 0


def test_image_on_rotated_page_maps_to_display_space():
    """/Rotate applies to image anchors like text: doctor a /Rotate 90 onto a
    page with one image and check the display-space anchor mapping."""
    from pdf_extractor_spark.core.pdf_build import ImageBox
    from pdf_extractor_spark.core.pdf_parse import parse_pdf

    page = PageSpec(images=[ImageBox(x=100, y_top=200.5, w=120, h=90)])
    pdf = build_pdf([page])
    doctored = pdf.replace(b"/Type /Page /Parent", b"/Type /Page /Rotate 90 /Parent")
    [p] = parse_pdf(doctored)
    [im] = p.images
    # device rect x:[100,220], y_top:[200.5,290.5]; rot 90 map (x,yt)->(h-yt,x)
    assert (im.x, im.y_top) == (792.0 - 290.5, 100.0)
    assert (im.w, im.h) == (90.0, 120.0)


def test_extractor_media_spans_from_pdf():
    """extract_document: a pdf span with images emits interleaved text/media
    output spans with dense offsets, media_ref prefixed by the INPUT span
    offset; scores carry pages_empty_with_images."""
    import base64

    from pdf_extractor_spark.core.extractor import extract_document
    from pdf_extractor_spark.core.pdf_build import ImageBox

    pdf = build_pdf(
        [
            PageSpec(
                boxes=[TextBox(x=72, y_top=300, lines=["Caption text."])],
                images=[ImageBox(x=60, y_top=100.5, w=200, h=150)],
            )
        ]
    )
    res = extract_document(
        [
            ("text", "intro", "", 0),
            ("pdf", base64.b64encode(pdf).decode(), "", 3),
        ]
    )
    assert res.spans == [
        ("text", "intro", "", 0),
        ("media", "", "pdf://3/0/Im0", 1),
        ("text", "Caption text.", "", 2),
    ]
    assert res.pages_parsed == 1 and res.parse_failures == 0
    assert res.scores["pages_empty_with_images"] == 0.0
    assert res.scores["media_ratio"] == 1 / 3


# --- encrypted PDFs (round 3: standard security handler) ----------------------


def test_encrypted_empty_password_roundtrip():
    """RC4-40/128, AES-128, and AES-256 (/V 5 /R 5-6) owner-password-only
    files (empty user password) must decrypt transparently — the
    pymupdf.open behavior (pymu_tesseract_processor.py:84) — across every
    xref mode, with no plaintext leaking into the file bytes."""
    from pdf_extractor_spark.core.pdf_build import ImageBox

    page = PageSpec(
        boxes=[TextBox(x=72, y_top=100, lines=["Secret alpha.", "Secret beta."])],
        images=[ImageBox(x=60, y_top=200.5, w=100, h=60)],
        tables=[Table(x=60, y_top=560, rows=[["a", "b"], ["c", "d"]])],
    )
    plain = extract_pdf_text(build_pdf([page]))
    for mode in ["rc4-40", "rc4-128", "aes-128", "aes-256", "aes-256-r5"]:
        for kw in [
            {},
            {"compress": True},
            {"xref_mode": "stream"},
            {"xref_mode": "stream", "objstm": True, "predictor": True},
        ]:
            pdf = build_pdf([page], encrypt=mode, **kw)
            assert b"Secret" not in pdf, (mode, kw)
            assert extract_pdf_text(pdf) == plain, (mode, kw)


def test_encrypted_user_password_quarantines():
    """A real user password (we only try the empty one) must fail as
    PdfParseError -> parse_failures, never garbled output."""
    page = PageSpec(boxes=[TextBox(x=72, y_top=100, lines=["Locked."])])
    for mode in ["rc4-40", "rc4-128", "aes-128", "aes-256"]:
        pdf = build_pdf([page], encrypt=mode, user_pw=b"hunter2")
        with pytest.raises(PdfParseError, match="encrypted.*password required"):
            parse_pdf(pdf)


def test_encrypted_candidate_password_list():
    """The ingest-manifest password workflow (round 4): candidates supplied
    to ``parse_pdf`` are tried after the empty password — as the USER
    password (Algorithm 2 / 2.A) and as the OWNER password (Algorithm 7 /
    the /O+/OE path) — across every cipher mode. A wrong-only list still
    quarantines; both unlock paths yield byte-identical text."""
    page = PageSpec(
        boxes=[TextBox(x=72, y_top=100, lines=["Locked alpha.", "Locked beta."])]
    )
    plain = extract_pdf_text(build_pdf([page]))
    for mode in ["rc4-40", "rc4-128", "aes-128", "aes-256", "aes-256-r5"]:
        for kw in [
            {},
            {"xref_mode": "stream", "objstm": True, "predictor": True},
        ]:
            pdf = build_pdf([page], encrypt=mode, user_pw=b"hunter2", **kw)
            # builder's owner password defaults to b"owner" (pdf_build.py)
            with pytest.raises(PdfParseError, match="encrypted.*password"):
                parse_pdf(pdf, passwords=(b"wrong", b"also-wrong"))
            via_user = extract_pdf_text_pw(pdf, (b"wrong", b"hunter2"))
            via_owner = extract_pdf_text_pw(pdf, (b"owner",))
            assert via_user == plain, (mode, kw)
            assert via_owner == plain, (mode, kw)


def extract_pdf_text_pw(pdf: bytes, passwords: tuple) -> list[str]:
    from tests.helpers import page_to_text

    return [page_to_text(p) for p in parse_pdf(pdf, passwords=passwords)]


def test_candidate_passwords_hostile_entries_quarantine():
    """The owner-path additions must fail CLEAN on damaged /O //OE entries
    when candidates are supplied — PdfCryptError -> quarantine, never an
    IndexError/garbled key."""
    from pdf_extractor_spark.core import pdf_crypt as pc

    fk = bytes(range(32))
    ent = pc.compute_v5_entries(b"secret", b"owner", fk, -44, r=6)
    # V5 owner path with truncated /O and missing /OE
    with pytest.raises(pc.PdfCryptError):
        pc.v5_owner_file_key(ent["O"][:40], ent["OE"], ent["U"], 6, b"owner")
    with pytest.raises(pc.PdfCryptError):
        pc.v5_owner_file_key(ent["O"], b"", ent["U"], 6, b"owner")
    with pytest.raises(pc.PdfCryptError):
        pc.v5_owner_file_key(ent["O"], ent["OE"], ent["U"][:30], 6, b"owner")
    # wrong owner password: clean rejection, and the document-level API
    # quarantines rather than decrypting with a garbage key
    with pytest.raises(pc.PdfCryptError, match="owner password rejected"):
        pc.v5_owner_file_key(ent["O"], ent["OE"], ent["U"], 6, b"not-owner")
    page = PageSpec(boxes=[TextBox(x=72, y_top=100, lines=["Locked."])])
    pdf = build_pdf([page], encrypt="aes-256", user_pw=b"secret")
    # a corrupted /O must not crash candidate iteration: the user-password
    # candidate still authenticates via /U even when /O is damaged
    with pytest.raises(PdfParseError, match="encrypted"):
        parse_pdf(pdf.replace(b"/O <", b"/O <00>%"), passwords=(b"owner",))
    assert extract_pdf_text_pw(pdf, (b"bad", b"secret"))


def test_encrypted_unsupported_handler_quarantines():
    """Unknown /V revisions, V5 dicts missing /UE, and non-Standard filters
    all fail cleanly into the quarantine path."""
    page = PageSpec(boxes=[TextBox(x=72, y_top=100, lines=["x"])])
    pdf = build_pdf([page], encrypt="rc4-128")
    v6 = pdf.replace(b"/Filter /Standard /V 2 /R 3", b"/Filter /Standard /V 6 /R 7")
    with pytest.raises(PdfParseError, match="encrypted"):
        parse_pdf(v6)
    # V5 shape but no /UE /CF entries: must reject, not KeyError
    v5 = pdf.replace(b"/Filter /Standard /V 2 /R 3", b"/Filter /Standard /V 5 /R 6")
    with pytest.raises(PdfParseError, match="encrypted"):
        parse_pdf(v5)
    pub = pdf.replace(b"/Filter /Standard", b"/Filter /Adobe.PubSec")
    with pytest.raises(PdfParseError, match="encrypted"):
        parse_pdf(pub)


def test_encrypted_with_fonts_and_tounicode():
    """Decryption composes with /Differences fonts and CID ToUnicode streams
    (the ToUnicode CMap is itself an encrypted stream)."""
    page = PageSpec(
        boxes=[
            TextBox(x=72, y_top=100, lines=["Accénted line."], font="F2"),
            TextBox(x=72, y_top=200, lines=["CID ligature ffl."], font="F3"),
        ]
    )
    diffs = [(200, "eacute", "é")]
    plain = extract_pdf_text(build_pdf([page], differences=diffs, cid=True))
    assert plain == ["Accénted line.\n\nCID ligature ffl."]
    for mode in ("aes-128", "aes-256"):
        enc = build_pdf([page], differences=diffs, cid=True, encrypt=mode, compress=True)
        assert extract_pdf_text(enc) == plain, mode


def test_aes_fips197_known_answers():
    """The pure-Python T-table cipher against the FIPS-197 Appendix C
    vectors, both key sizes and both directions."""
    from pdf_extractor_spark.core import pdf_crypt as pc

    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    vectors = [
        (bytes(range(16)), "69c4e0d86a7b0430d8cdb78070b4c55a"),
        (bytes(range(32)), "8ea2b7ca516745bfeafc49904b496089"),
    ]
    for key, ct_hex in vectors:
        rks = pc._expand_key(key)
        assert pc._aes_encrypt_block(pt, rks).hex() == ct_hex
        assert pc._aes_decrypt_block(bytes.fromhex(ct_hex), rks) == pt


def test_aes_rc4_differential_vs_cryptography():
    """Differential check of the pure-Python RC4 and AES-CBC (both key
    sizes) against the `cryptography` package on random inputs — gated
    behind import-try so the suite still runs in containers without it."""
    try:
        from cryptography.hazmat.primitives.ciphers import (
            Cipher,
            algorithms,
            modes,
        )
        from cryptography.hazmat.decrepit.ciphers.algorithms import ARC4
    except ImportError:
        pytest.skip("cryptography package unavailable")
    from pdf_extractor_spark.core import pdf_crypt as pc

    rng = random.Random(777)
    for _ in range(10):
        data = rng.randbytes(rng.randint(0, 200))
        rc4_key = rng.randbytes(rng.choice([5, 16]))
        ref = Cipher(ARC4(rc4_key), mode=None).encryptor()
        assert pc.rc4(rc4_key, data) == ref.update(data) + ref.finalize()
        for klen in (16, 32):
            key, iv = rng.randbytes(klen), rng.randbytes(16)
            blocks = data[: len(data) - len(data) % 16]
            ref = Cipher(algorithms.AES(key), modes.CBC(iv)).encryptor()
            assert (
                pc._cbc_encrypt_raw(key, iv, blocks)
                == ref.update(blocks) + ref.finalize()
            )


def test_v5_key_derivation_roundtrip():
    """Algorithm 2.A/2.B: /U authenticates the empty user password, /UE
    unwraps the chosen file key, and a non-empty user password is rejected
    (R5 and R6 variants)."""
    from pdf_extractor_spark.core import pdf_crypt as pc

    fk = bytes(range(32))
    for r in (5, 6):
        ent = pc.compute_v5_entries(b"", b"owner", fk, -44, r=r)
        assert pc.v5_file_key(ent["U"], ent["UE"], r) == fk
    locked = pc.compute_v5_entries(b"secret", b"owner", fk, -44, r=6)
    with pytest.raises(pc.PdfCryptError, match="password required"):
        pc.v5_file_key(locked["U"], locked["UE"], 6)


# --- non-Identity CID CMaps (round 3) ------------------------------------------


CID_LINES = ["Accénted ffl mix.", "Plain ascii line."]
CID_EXPECT = ["Accénted ffl mix.\nPlain ascii line."]


@pytest.mark.parametrize("enc", ["identity", "embedded", "ucs2"])
def test_cid_encoding_variants_roundtrip(enc):
    """Type0 text decodes under Identity-H, an EMBEDDED CMap stream with
    mixed 1/2-byte codes (codespacerange-driven splitting), and the
    predefined UniGB-UCS2-H family (codes ARE UCS-2, no ToUnicode)."""
    page = PageSpec(boxes=[TextBox(x=72, y_top=100, lines=list(CID_LINES), font="F3")])
    for kw in [{}, {"compress": True}, {"xref_mode": "stream", "objstm": True},
               {"encrypt": "aes-128"}]:
        pdf = build_pdf([page], cid=True, cid_encoding=enc, **kw)
        assert extract_pdf_text(pdf) == CID_EXPECT, (enc, kw)


def test_embedded_cmap_cidrange_operators():
    """The /Encoding CMap's codespacerange is parsed next to its
    cidrange/cidchar operators: code widths split correctly."""
    from pdf_extractor_spark.core.pdf_parse import PdfDoc, _page_fonts, _page_list

    page = PageSpec(boxes=[TextBox(x=72, y_top=100, lines=["x"], font="F3")])
    doc = PdfDoc(build_pdf([page], cid=True, cid_encoding="embedded"))
    pg, inh = _page_list(doc)[0]
    f3 = _page_fonts(doc, pg.get("Resources", inh.get("Resources")))["F3"]
    assert f3.code_ranges == [(0x20, 0x7E, 1), (0x8000, 0x80FF, 2)]


def test_embedded_cmap_oversized_cidrange_refused():
    """A cidrange spanning more than 0x10000 codes is refused, like an
    oversized bfrange; one just inside the bound parses."""
    from pdf_extractor_spark.core.pdf_parse import PdfParseError, _parse_cid_cmap

    def cmap(hi: str) -> bytes:
        return (
            b"1 begincodespacerange\n<000000> <FFFFFF>\nendcodespacerange\n"
            b"1 begincidrange\n<000000> <" + hi.encode() + b"> 1\nendcidrange\n"
        )

    assert _parse_cid_cmap(cmap("010000")) == [(0, 0xFFFFFF, 3)]
    with pytest.raises(PdfParseError, match="oversized cidrange"):
        _parse_cid_cmap(cmap("010001"))


def test_embedded_cmap_out_of_codespace_bytes():
    """Bytes outside every codespace range advance one byte as U+FFFD —
    hostile input never hangs or crashes."""
    page = PageSpec(boxes=[TextBox(x=72, y_top=100, lines=["ab"], font="F3")])
    pdf = build_pdf([page], cid=True, cid_encoding="embedded")
    doctored = pdf.replace(b"<6162>", b"<1f1f>")  # 0x1f below the 1-byte range
    assert doctored != pdf
    [text] = extract_pdf_text(doctored)
    assert text == "��"


def test_unknown_type0_encoding_still_fails():
    page = PageSpec(boxes=[TextBox(x=72, y_top=100, lines=["x"], font="F3")])
    pdf = build_pdf([page], cid=True)
    doctored = pdf.replace(b"/Encoding /Identity-H", b"/Encoding /90ms-RKSJ-H")
    with pytest.raises(PdfParseError, match="unsupported Type0"):
        extract_pdf_text(doctored)


def test_encrypted_mutation_fuzz_never_hangs_or_crashes():
    """Random byte mutations of ENCRYPTED corpus PDFs (hitting /Encrypt
    dicts, /O//U entries, AES payloads, padding bytes) must always either
    parse or raise PdfParseError — no other exception type, no hang."""
    rng = random.Random(4321)
    modes = ["rc4-40", "rc4-128", "aes-128", "aes-256"]
    page = PageSpec(boxes=[TextBox(x=72, y_top=100, lines=["Fuzz target."])])
    for trial in range(44):
        pdf = bytearray(
            build_pdf([page], encrypt=modes[trial % 4], compress=trial % 2 == 0)
        )
        for _ in range(rng.randint(1, 8)):
            pos = rng.randrange(len(pdf))
            pdf[pos] = rng.randrange(256)
        try:
            extract_pdf_text(bytes(pdf))
        except PdfParseError:
            pass


def test_span_sequence_matches_geometry_property():
    """Property: for ANY page layout of non-tying text boxes and images, the
    parsed span sequence equals the sequence derived from generator geometry
    alone (_page_kind_seq — the same function the corpus oracle uses)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pdf_extractor_spark.core.pdf_build import ImageBox
    from pdf_extractor_spark.core.pdf_parse import extract_pdf_spans
    from pdf_extractor_spark.corpus import _page_kind_seq

    # y slots spaced 40 apart: boxes land on integer slots, images on
    # .5 offsets — anchors can never tie across kinds, and box gaps stay
    # above the textbox-merge threshold (1.8 * leading)
    slot = st.integers(min_value=0, max_value=14)

    @settings(max_examples=60, deadline=None)
    @given(
        box_slots=st.lists(slot, unique=True, max_size=4),
        img_slots=st.lists(slot, unique=True, max_size=3),
        inline=st.lists(st.booleans(), min_size=3, max_size=3),
    )
    def run(box_slots, img_slots, inline):
        page = PageSpec(
            boxes=[
                TextBox(x=72, y_top=60.0 + 40 * s, lines=[f"Box {s} text."])
                for s in sorted(box_slots)
            ],
            images=[
                ImageBox(x=60, y_top=60.5 + 40 * s, w=50, h=20, inline=inline[k])
                for k, s in enumerate(sorted(img_slots))
            ],
        )
        spans, n_pages, n_empty = extract_pdf_spans(build_pdf([page]), "9")
        got = [(k, ref) for k, _t, ref in spans[0]]
        want = [
            (k, f"pdf://9/0/{name}" if k == "media" else "")
            for k, name in _page_kind_seq(page)
        ]
        assert got == want, (got, want)
        assert n_empty == (1 if not box_slots and img_slots else 0)

    run()


# --- round-3 review fixes: hybrid xref, unsigned /P, CMap conformance -------


def test_hybrid_xrefstm_overrides_classic_free_entries():
    """Hybrid-reference files (ISO 32000-1 §7.5.8.4, Acrobat 'fast web
    view'): the classic table marks stream-resident objects FREE and the
    /XRefStm supplies their real entries — within one revision the stream
    must take precedence, or the tombstones null out live objects."""
    import re as _re

    pages = [
        PageSpec(boxes=[TextBox(x=72, y_top=100, lines=["Page one."])]),
        PageSpec(boxes=[TextBox(x=72, y_top=100, lines=["Hybrid text."])]),
    ]
    base = build_pdf(pages)
    expect = extract_pdf_text(base)
    off6 = base.index(b"6 0 obj")  # page-2 content stream (positional)
    m = None
    for m in _re.finditer(rb"startxref\s+(\d+)", base):
        pass
    prev = int(m.group(1))

    out = bytearray(base)
    stm_at = len(out)
    entry = bytes([1]) + off6.to_bytes(4, "big") + (0).to_bytes(4, "big")
    out += (
        b"50 0 obj << /Type /XRef /Size 51 /W [1 4 4] /Index [6 1] "
        b"/Length 9 /Root 1 0 R >> stream\n" + entry + b"\nendstream endobj\n"
    )
    xref_at = len(out)
    # classic section of the SAME revision frees object 6...
    out += b"xref\n0 1\n0000000000 65535 f \n6 1\n0000000000 65535 f \n"
    out += (
        b"trailer\n<< /Size 51 /Root 1 0 R /Prev %d /XRefStm %d >>\n"
        b"startxref\n%d\n%%%%EOF\n" % (prev, stm_at, xref_at)
    )
    # ...but the /XRefStm re-supplies it: full text must survive
    assert extract_pdf_text(bytes(out)) == expect


def test_encrypted_unsigned_p_value():
    """Several real-world writers store /P as the unsigned 32-bit form
    (e.g. 4294967252 instead of -44). The key derivation must see the same
    low-32 bytes either way — and must not crash the task (struct.error
    escapes every quarantine net)."""
    page = PageSpec(boxes=[TextBox(x=72, y_top=100, lines=["P unsigned."])])
    pdf = build_pdf([page], encrypt="rc4-128")
    assert b"/P -44" in pdf
    doctored = pdf.replace(b"/P -44", b"/P " + str(-44 & 0xFFFFFFFF).encode())
    assert extract_pdf_text(doctored) == extract_pdf_text(pdf) == ["P unsigned."]


def test_codespacerange_matches_per_byte():
    """ISO 32000-1 §9.7.6.2: a code matches a codespacerange only if EACH
    byte is within the corresponding byte range — integer comparison of the
    whole code would consume the wrong number of bytes and desynchronize
    the rest of the show string (Shift-JIS-style <8140> <FCFC> ranges)."""
    from pdf_extractor_spark.core.pdf_parse import _split_codes

    ranges = [(0x00, 0x80, 1), (0x8140, 0xFCFC, 2)]
    # 0x82 0x20: integer 0x8220 is inside [0x8140, 0xFCFC] but the low byte
    # 0x20 < 0x40 -> NOT a 2-byte match; 0x82 alone matches nothing (-1),
    # then 0x20 matches the 1-byte range
    assert _split_codes(bytes([0x82, 0x20]), ranges) == [-1, 0x20]
    assert _split_codes(bytes([0x81, 0x40, 0x41]), ranges) == [0x8140, 0x41]
    # boundary bytes still match
    assert _split_codes(bytes([0xFC, 0xFC]), ranges) == [0xFCFC]


def test_bfchar_empty_dst_suppresses_glyph():
    """A bfchar may map a code to the EMPTY string (<> dst — suppressed
    glyph, e.g. a soft hyphen): that is a mapping, not a miss, and must not
    render U+FFFD."""
    page = PageSpec(boxes=[TextBox(x=72, y_top=100, lines=["café end."], font="F3")])
    pdf = build_pdf([page], cid=True)
    assert b"<0100> <00e9>" in pdf  # é's bfchar in the builder's ToUnicode
    doctored = pdf.replace(b"<0100> <00e9>", b"<0100> <>")
    [text] = extract_pdf_text(doctored)
    assert text == "caf end."  # é suppressed, no replacement char


# --- named base encodings (WinAnsi / MacRoman) -------------------------------

_SPICED = ["The “quick” fox — plus café • end.", "résumé ‘solo’ … fin."]


@pytest.mark.parametrize("enc", ["WinAnsiEncoding", "MacRomanEncoding"])
@pytest.mark.parametrize("style", ["td", "hex", "tj_array", "quote", "words"])
def test_base_encoding_roundtrip(enc, style):
    """F4 boxes write high-range bytes through the named encoding's codec;
    the parser must decode through the same table (cp1252 / mac_roman —
    MacRoman disagrees with latin-1 on EVERY byte >= 0x80)."""
    page = PageSpec(
        boxes=[TextBox(x=72, y_top=100, lines=list(_SPICED), style=style, font="F4")]
    )
    pdf = build_pdf([page], base_encoding=enc)
    [text] = extract_pdf_text(pdf)
    if style == "words":
        # words style re-assembles per-word show ops; line text is preserved
        assert "“quick”" in text and "café" in text and "—" in text
    else:
        assert text == "\n".join(_SPICED)


def test_winansi_c1_range_bytes_decode():
    """Raw 0x91-0x97 bytes under /WinAnsiEncoding are smart quotes/dashes,
    not the latin-1 C1 controls they'd decode to without the table."""
    page = PageSpec(boxes=[TextBox(x=72, y_top=100, lines=["x"], font="F4")])
    pdf = build_pdf([page], base_encoding="WinAnsiEncoding")
    doctored = pdf.replace(b"(x) Tj", b"<91929394859697> Tj")
    [text] = extract_pdf_text(doctored)
    assert text == "‘’“”…–—"


def test_base_encoding_only_applies_to_f4():
    """The same high byte through F1 stays latin-1 identity."""
    page = PageSpec(
        boxes=[
            TextBox(x=72, y_top=100, lines=["A\xe9B"], font="F1"),
            TextBox(x=72, y_top=200, lines=["a\xe9b"], font="F4"),
        ]
    )
    pdf = build_pdf([page], base_encoding="MacRomanEncoding")
    [text] = extract_pdf_text(pdf)
    # F1 line: latin-1 é; F4 line: é encoded as MacRoman byte 0x8E, decoded
    # back (separate textboxes join with a paragraph gap)
    assert text == "AéB\n\naéb"


def test_base_encoding_dict_form_layers_differences():
    """/Encoding << /BaseEncoding /WinAnsiEncoding /Differences [...] >>:
    Differences override single codes, the base table fills the rest
    (ISO 32000-1 9.6.5.1)."""
    from pdf_extractor_spark.core.pdf_parse import Name, _build_font

    class FakeDoc:
        def resolve(self, v, depth=0):
            return v

    fd = {
        "Subtype": Name("Type1"),
        "Encoding": {
            "BaseEncoding": Name("WinAnsiEncoding"),
            "Differences": [0x93, Name("bullet")],
        },
    }
    f = _build_font(FakeDoc(), fd)
    assert f.decode_map[0x93] == "•"  # Differences wins over base “
    assert f.decode_map[0x94] == "”"  # base table elsewhere
    assert f.decode_map[0x97] == "—"


def test_unknown_encoding_name_keeps_latin1():
    from pdf_extractor_spark.core.pdf_parse import Name, _build_font

    class FakeDoc:
        def resolve(self, v, depth=0):
            return v

    f = _build_font(FakeDoc(), {"Subtype": Name("Type1"), "Encoding": Name("MacExpertEncoding")})
    assert f.decode_map is None


def test_annex_d_deltas_over_codecs():
    """ISO 32000-1 Annex D positions the Python codecs get wrong: WinAnsi's
    unused codes render bullet (note 3) and 0xA0/0xAD alias space/hyphen
    (note 6); MacRoman 0xDB is the CURRENCY SIGN (pre-8.5 Mac, not euro),
    0xF0 (Apple logo) is undefined, 0xCA aliases space."""
    from pdf_extractor_spark.core.encodings import BASE_ENC_MAPS

    win = BASE_ENC_MAPS["WinAnsiEncoding"]
    for c in (0x81, 0x8D, 0x8F, 0x90, 0x9D):
        assert win[c] == "•"
    assert win[0xA0] == " " and win[0xAD] == "-"
    assert win[0x95] == "•" and win[0x80] == "€"
    mac = BASE_ENC_MAPS["MacRomanEncoding"]
    assert mac[0xDB] == "¤" and mac[0xF0] == "�" and mac[0xCA] == " "
    assert mac[0x8E] == "é" and mac[0xD2] == "“"


def test_base_inverse_prefers_canonical_codes():
    """Writers put bullet at its cp1252 home (0x95), not the note-3 alias;
    Annex-only chars (MacRoman currency) still get a code; ASCII targets
    and undefined positions never enter the encode table."""
    from pdf_extractor_spark.core.encodings import BASE_ENC_INVERSE

    win = BASE_ENC_INVERSE["WinAnsiEncoding"]
    assert win["•"] == 0x95 and win["€"] == 0x80
    assert " " not in win and "-" not in win
    mac = BASE_ENC_INVERSE["MacRomanEncoding"]
    assert mac["¤"] == 0xDB and mac["é"] == 0x8E
    assert "€" not in mac  # MacRomanEncoding predates the euro
    assert "�" not in mac


def test_macroman_currency_roundtrip():
    page = PageSpec(boxes=[TextBox(x=72, y_top=100, lines=["pay ¤5 now"], font="F4")])
    pdf = build_pdf([page], base_encoding="MacRomanEncoding")
    assert rb"\333" in pdf  # ¤ written as code 0xDB (octal escape)
    [text] = extract_pdf_text(pdf)
    assert text == "pay ¤5 now"


@pytest.mark.parametrize("style", ["td", "hex"])
def test_f4_unencodable_char_raises(style):
    """A char outside the named encoding must fail LOUDLY at build time —
    silent latin-1 fallthrough would corrupt the PageSpec ground truth."""
    page = PageSpec(
        boxes=[TextBox(x=72, y_top=100, lines=["ý not in macroman"], style=style, font="F4")]
    )
    with pytest.raises(ValueError, match="base encoding"):
        build_pdf([page], base_encoding="MacRomanEncoding")


# --- round-4 hostile matrix (VERDICT r03 #5) --------------------------------
# Every case must parse or raise PdfParseError — never another exception,
# never a hang. Each case runs under a hard wall-clock deadline so a
# regression to unbounded recursion/looping fails the suite instead of
# wedging it.

import contextlib
import signal


@contextlib.contextmanager
def _deadline(seconds: float):
    def _boom(signum, frame):
        raise AssertionError(f"hostile-input case exceeded {seconds}s deadline")

    old = signal.signal(signal.SIGALRM, _boom)
    signal.setitimer(signal.ITIMER_REAL, seconds)
    try:
        yield
    finally:
        signal.setitimer(signal.ITIMER_REAL, 0)
        signal.signal(signal.SIGALRM, old)


def _xref_stream_pdf(objs: dict[int, bytes], type2: dict[int, tuple[int, int]],
                     xref_num: int) -> bytes:
    """Assemble a PDF 1.5 file: ``objs`` written physically (type-1 xref
    entries), ``type2[num] = (objstm_num, idx)`` entries claiming membership
    in an object stream, W = [1 4 2] like the builder's."""
    out = bytearray(b"%PDF-1.5\n")
    entries: dict[int, tuple] = {}
    for num in sorted(objs):
        entries[num] = ("n", len(out))
        out += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
    for num, (stm, idx) in type2.items():
        entries[num] = ("s", stm, idx)
    total = xref_num + 1
    xref_at = len(out)
    entries[xref_num] = ("n", xref_at)
    rows = bytearray()
    for num in range(total):
        e = entries.get(num)
        if e is None:
            rows += bytes([0]) + (0).to_bytes(4, "big") + (65535).to_bytes(2, "big")
        elif e[0] == "n":
            rows += bytes([1]) + e[1].to_bytes(4, "big") + (0).to_bytes(2, "big")
        else:
            rows += bytes([2]) + e[1].to_bytes(4, "big") + e[2].to_bytes(2, "big")
    xdata = zlib.compress(bytes(rows))
    out += (
        b"%d 0 obj\n<< /Type /XRef /Size %d /W [1 4 2] /Root 1 0 R "
        b"/Length %d /Filter /FlateDecode >>\nstream\n" % (xref_num, total, len(xdata))
        + xdata
        + b"\nendstream\nendobj\n"
    )
    out += b"startxref\n%d\n%%%%EOF\n" % xref_at
    return bytes(out)


_HOSTILE_PAGE_OBJS = {
    2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
    3: (
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Resources << /Font << /F1 7 0 R >> >> >>"
    ),
    4: b"<< /Length 40 >>\nstream\nBT /F1 12 Tf 72 700 Td (cycle bait) Tj ET\nendstream",
    7: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
}


def test_objstm_mutual_reference_cycle():
    """Catalog claimed inside ObjStm 5; ObjStm 5's xref entry claims it
    lives inside ObjStm 6, whose entry points back into ObjStm 5. Resolving
    the catalog chases 5 -> 6 -> 5 forever unless cycle-guarded."""
    pdf = _xref_stream_pdf(
        _HOSTILE_PAGE_OBJS, type2={1: (5, 0), 5: (6, 0), 6: (5, 1)}, xref_num=8
    )
    with _deadline(20):
        try:
            extract_pdf_text(pdf)
        except PdfParseError:
            pass


def test_objstm_self_reference():
    """An ObjStm whose xref entry claims it is stored inside ITSELF."""
    pdf = _xref_stream_pdf(
        _HOSTILE_PAGE_OBJS, type2={1: (5, 0), 5: (5, 1)}, xref_num=8
    )
    with _deadline(20):
        try:
            extract_pdf_text(pdf)
        except PdfParseError:
            pass


def _form_chain_pdf(n_forms: int, self_loop: bool = False) -> bytes:
    """Page draws /Fm0; each /Fm{i} draws /Fm{i+1}; the last either ends
    with text or (self_loop) draws /Fm0 again through the shared resources."""
    objs: dict[int, bytes] = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
    }
    font_num = 4 + n_forms + 1
    xobj_entries = " ".join(
        f"/Fm{i} {5 + i} 0 R" for i in range(n_forms)
    ).encode()
    res = (
        b"/Resources << /Font << /F1 %d 0 R >> /XObject << %s >> >>"
        % (font_num, xobj_entries)
    )
    objs[3] = (
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R " + res + b" >>"
    )
    objs[4] = b"<< /Length 8 >>\nstream\n/Fm0 Do\nendstream"
    for i in range(n_forms):
        if i + 1 < n_forms:
            body = b"/Fm%d Do" % (i + 1)
        elif self_loop:
            body = b"/Fm0 Do"
        else:
            body = b"BT /F1 12 Tf 72 700 Td (deep form) Tj ET"
        objs[5 + i] = (
            b"<< /Type /XObject /Subtype /Form " + res + b" /Length %d >>\nstream\n%s\nendstream"
            % (len(body), body)
        )
    objs[font_num] = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    out = bytearray(b"%PDF-1.4\n")
    offsets = {}
    for num in sorted(objs):
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
    xref_at = len(out)
    total = max(objs) + 1
    out += b"xref\n0 %d\n0000000000 65535 f \n" % total
    for num in range(1, total):
        out += b"%010d 00000 n \n" % offsets[num]
    out += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (total, xref_at)
    return bytes(out)


def test_form_xobject_chain_within_bound_parses():
    [text] = extract_pdf_text(_form_chain_pdf(4))
    assert text == "deep form"


def test_form_xobject_chain_beyond_bound_raises():
    with _deadline(20):
        with pytest.raises(PdfParseError):
            extract_pdf_text(_form_chain_pdf(40))


def test_form_xobject_self_loop_raises():
    with _deadline(20):
        with pytest.raises(PdfParseError):
            extract_pdf_text(_form_chain_pdf(2, self_loop=True))


@pytest.mark.parametrize("mode", ["rc4-128", "aes-256"])
def test_encrypted_objstm_xrefstream_roundtrip(mode):
    """Encryption combined with object streams + predictor-coded xref
    stream: members decrypt via the ObjStm's wholesale stream key."""
    pdf = _one_box_pdf(xref_mode="stream", objstm=True, predictor=True,
                       compress=True, encrypt=mode)
    [text] = extract_pdf_text(pdf)
    assert text == EXPECT


@pytest.mark.parametrize("mode", ["rc4-128", "aes-256"])
def test_encrypted_objstm_mutation_fuzz(mode):
    """Byte mutations over the encrypted+objstm build: parse or
    PdfParseError, never a hang or another exception type (cipher padding
    errors, zlib errors, and ObjStm header garbage must all be wrapped)."""
    base = _one_box_pdf(xref_mode="stream", objstm=True, predictor=True,
                        compress=True, encrypt=mode)
    rng = random.Random(99)
    with _deadline(120):
        for _ in range(40):
            pdf = bytearray(base)
            for _m in range(rng.randint(1, 6)):
                pdf[rng.randrange(len(pdf))] = rng.randrange(256)
            try:
                extract_pdf_text(bytes(pdf))
            except PdfParseError:
                pass


def test_three_revisions_free_reuse_chain():
    """Base + 3 incremental revisions. Revision 2 FREES the page-2 content
    object; revision 3 reuses that number (gen bumped) with new content.
    The newest entry must win and the tombstone must not leak through."""
    pages = [
        PageSpec(boxes=[TextBox(x=72, y_top=100, lines=["page one"])]),
        PageSpec(boxes=[TextBox(x=72, y_top=100, lines=["page two"])]),
    ]
    base = build_pdf(pages)
    # rev 1: normal incremental replace of page 2's content (object 6)
    rev1 = append_incremental_page_update(
        base, 1, PageSpec(boxes=[TextBox(x=72, y_top=100, lines=["rev one"])]), 2
    )
    import re as _re

    prev = max(int(m.group(1)) for m in _re.finditer(rb"startxref\s+(\d+)", rev1))
    size = max(int(m.group(1)) for m in _re.finditer(rb"/Size\s+(\d+)", rev1))
    # rev 2: free object 6 (content of page 2) — a pure tombstone revision
    out = bytearray(rev1)
    xref_at = len(out)
    out += b"xref\n6 1\n0000000000 00001 f \n"
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R /Prev %d >>\nstartxref\n%d\n%%%%EOF\n"
        % (size, prev, xref_at)
    )
    rev2 = bytes(out)
    # freed object must be gone: page 2 contributes nothing
    texts = extract_pdf_text(rev2)
    assert texts[0] == "page one" and "rev one" not in texts[1]
    # rev 3: reuse object number 6 at generation 1 with new content
    content = b"BT /F1 12 Tf 72 692 Td (rev three) Tj ET"
    out = bytearray(rev2)
    obj_at = len(out)
    out += b"6 1 obj\n<< /Length %d >>\nstream\n" % len(content) + content + b"\nendstream\nendobj\n"
    xref_at = len(out)
    out += b"xref\n6 1\n%010d 00001 n \n" % obj_at
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R /Prev %d >>\nstartxref\n%d\n%%%%EOF\n"
        % (size, len(rev1), xref_at)
    )
    rev3 = bytes(out)
    with _deadline(20):
        texts = extract_pdf_text(rev3)
    assert texts == ["page one", "rev three"]


def test_truncated_xref_stream_mid_predictor_row():
    """File cut INSIDE the predictor-coded xref stream payload: the zlib
    body ends mid-row. Must recover via object scan or fail cleanly."""
    pdf = _one_box_pdf(xref_mode="stream", objstm=True, predictor=True)
    at = pdf.rfind(b"stream\n")  # last stream = the xref stream
    cut = pdf[: at + 7 + 9]  # 9 bytes of compressed xref data, then nothing
    with _deadline(20):
        try:
            texts = extract_pdf_text(cut)
            assert texts == [EXPECT]  # scan fallback fully recovers
        except PdfParseError:
            pass


def test_objstm_garbage_header_fails_cleanly():
    """ObjStm whose /First points past the decompressed payload and whose
    header pairs are garbage: wrapped into PdfParseError, never IndexError."""
    pdf = bytearray(_one_box_pdf(xref_mode="stream", objstm=True))
    at = pdf.find(b"/Type /ObjStm")
    first = pdf.find(b"/First ", at)
    end = pdf.find(b" ", first + 7)
    doctored = pdf[:first] + b"/First 999999" + pdf[end:]
    with _deadline(20):
        try:
            extract_pdf_text(bytes(doctored))
        except PdfParseError:
            pass


def test_simple_font_tounicode_overrides_glyph_names():
    """Simple (non-CID) fonts with a /ToUnicode CMap decode through it
    (round 4) — the TeX Type1 shape: /Differences [2 /fi /fl] plus a
    ToUnicode mapping those codes to decomposed "fi"/"fl". Without the
    CMap the f-ligature glyph NAMES now resolve via the AGL instead of
    U+FFFD."""
    import zlib

    from pdf_extractor_spark.core.pdf_parse import _build_font

    class _FakeDoc:
        def resolve(self, x):
            return x

    cmap = (
        b"begincmap\n"
        b"1 begincodespacerange <00> <FF> endcodespacerange\n"
        b"2 beginbfchar <02> <00660069> <03> <0066006c> endbfchar\n"
        b"endcmap"
    )
    tu = Stream(dict={"Length": len(cmap)}, raw=cmap)
    fd = {
        "Subtype": "Type1",
        "Encoding": {"Differences": [2, Name("fi"), Name("fl")]},
        "ToUnicode": tu,
    }
    f = _build_font(_FakeDoc(), fd)
    assert "\x02\x03".translate(f.decode_map) == "fifl"
    # glyph-name fallback without ToUnicode: AGL ligature codepoints
    f2 = _build_font(
        _FakeDoc(), {"Subtype": "Type1",
                     "Encoding": {"Differences": [2, Name("fi"), Name("fl")]}}
    )
    assert "\x02\x03".translate(f2.decode_map) == "ﬁﬂ"
    # damaged ToUnicode never fails the font build
    bad = Stream(dict={"Filter": Name("FlateDecode"), "Length": 4}, raw=b"xxxx")
    f3 = _build_font(
        _FakeDoc(), {"Subtype": "Type1", "ToUnicode": bad,
                     "Encoding": {"Differences": [2, Name("fi")]}}
    )
    assert "\x02".translate(f3.decode_map) == "ﬁ"
