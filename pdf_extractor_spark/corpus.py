"""Deterministic synthetic interleaved-document corpus (FIXTURES.md §1).

Generates the ``documents(doc_id, spans)`` table the extraction pipeline runs
on: ~50% plain text (messy whitespace to exercise clean_text), 25% HTML with
link-dense boilerplate, 15% base64 synthetic PDFs (multi-textbox, two-column,
tabled pages; v6 adds embedded Image XObjects / inline images and text-free
"scanned" pages), 10% media passthrough spans — plus a ~1% heavy tail of
"giant" multi-page PDFs to exercise size bucketing + salted repartitioning.
seed=42, no external data.
"""

from __future__ import annotations

import base64
import os
import random

# bump when gen_documents/make_pdf_bytes output changes: the parquet cache
# in tempdir is keyed by it, so stale corpora are never reused across edits
_GEN_VERSION = 10

from .core.pdf_build import (
    ImageBox,
    PageSpec,
    Table,
    TextBox,
    append_incremental_page_update,
    build_pdf,
)

# the /Differences remap some corpus PDFs write their accented text through
# (decoded back by the parser's glyph table — a real multi-font path)
CORPUS_DIFFS = [(200, "eacute", "é"), (201, "ccedilla", "ç"), (202, "Adieresis", "Ä")]

_WORDS = (
    "data spark engine document extraction pipeline content span layout "
    "partition shuffle arrow batch schema lineage resume salt skew commit "
    "table column vector text media page line order offset parse clean "
    "boilerplate density heuristic stream token grid cell row metric"
).split()

_NAV_WORDS = ["Home", "About", "Products", "Contact", "Login", "Sign-up",
              "Pricing", "Blog", "Careers", "Support", "Terms", "Privacy"]


def _sentence(rng: random.Random, n_words: int) -> str:
    ws = [rng.choice(_WORDS) for _ in range(n_words)]
    ws[0] = ws[0].capitalize()
    return " ".join(ws) + "."


def _paragraph(rng: random.Random) -> str:
    return " ".join(_sentence(rng, rng.randint(4, 12)) for _ in range(rng.randint(1, 4)))


def _spice_high_range(rng: random.Random, line: str) -> str:
    """Inject non-ASCII chars an F4 (named base encoding) box must decode.
    Every char here exists in BOTH WinAnsi (cp1252) and MacRoman, so a line
    stays encodable whichever encoding the document drew."""
    r = rng.random()
    if r < 0.35:
        words = line.split(" ")
        i = rng.randrange(len(words))
        words[i] = "“" + words[i] + "”"
        return " ".join(words)
    if r < 0.60:
        return line.replace("a", "é", 1)
    if r < 0.80:
        return line.replace(" ", " — ", 1)
    return line + " •"


def _messy_text(rng: random.Random) -> str:
    """Plain text with whitespace noise for clean_text to normalize."""
    paras = [_paragraph(rng) for _ in range(rng.randint(1, 5))]
    sep_choices = ["\n\n", "\n \n", "\n\t\n\n", "\n\n\n\n", "\n  \n \n"]
    out = rng.choice(["", "  \n", "\t"])
    for i, p in enumerate(paras):
        if i:
            out += rng.choice(sep_choices)
        if rng.random() < 0.3:
            p = "  " + p.replace(" ", "\t", 1)
        out += p
    return out + rng.choice(["", "\n\n", " \t \n"])


def _html_doc(rng: random.Random) -> str:
    """Main-content paragraphs wrapped in boilerplate (nav/footer/ads)."""
    main_paras = [_paragraph(rng) for _ in range(rng.randint(1, 4))]
    nav_links = "".join(
        f'<li><a href="/{w.lower()}">{w}</a></li>'
        for w in rng.sample(_NAV_WORDS, rng.randint(3, 6))
    )
    ads = "".join(
        f'<a href="/ad{i}">{rng.choice(_NAV_WORDS)} {rng.choice(_WORDS)}</a> '
        for i in range(rng.randint(2, 5))
    )
    body_main = "".join(f"<p>{p}</p>" for p in main_paras)
    sidebar = (
        f'<div class="sidebar">{ads}</div>' if rng.random() < 0.7 else ""
    )
    return (
        "<html><head><title>t</title><style>.x{color:red}</style>"
        "<script>var a=1;</script></head><body>"
        f"<nav><ul>{nav_links}</ul></nav>"
        f"<header><h1>{_sentence(rng, 3)}</h1></header>"
        f"<article>{body_main}</article>{sidebar}"
        f"<footer><a href=\"/terms\">Terms</a> <a href=\"/privacy\">Privacy</a></footer>"
        "</body></html>"
    )


def _pdf_page(
    rng: random.Random, two_col: bool, with_table: bool, features: int = 7
) -> PageSpec:
    page = PageSpec()
    styles = ["td", "tm", "quote", "tj_array", "hex", "words"]
    if features >= 7:
        # v10: pdfTeX shape — word spacing as TJ kern gaps, no space glyphs
        styles = styles + ["tex"]
    y = 60.0
    # v6 keeps every box's LAST line above the table zone (y >= 560): a box
    # landing entirely inside a table's ruled bbox would be absorbed into the
    # table region by the parser, and the expected-kind oracle derives region
    # interleaving from generator geometry alone (v5 didn't care — all text
    # regions collapsed into one span per page)
    y_cap = 480.0 if features >= 6 else float("inf")
    if two_col:
        # interleave two columns so pure content-stream order != reading order
        left_y, right_y = 60.0, 75.0
        for _ in range(rng.randint(2, 4)):
            if max(left_y, right_y) > y_cap:
                break
            lines = [_sentence(rng, rng.randint(3, 6)) for _ in range(rng.randint(1, 4))]
            page.boxes.append(TextBox(x=50, y_top=left_y, lines=lines, style=rng.choice(styles)))
            left_y += 14.0 * len(lines) + rng.randint(32, 50)
            lines = [_sentence(rng, rng.randint(3, 6)) for _ in range(rng.randint(1, 4))]
            page.boxes.append(TextBox(x=320, y_top=right_y, lines=lines, style=rng.choice(styles)))
            right_y += 14.0 * len(lines) + rng.randint(32, 50)
        # emit in shuffled order: layout, not stream order, must win
        rng.shuffle(page.boxes)
    else:
        for _ in range(rng.randint(1, 5)):
            if y > y_cap:
                break
            lines = [_sentence(rng, rng.randint(4, 8)) for _ in range(rng.randint(1, 5))]
            page.boxes.append(TextBox(x=rng.choice([50, 72, 90]), y_top=y, lines=lines, style=rng.choice(styles)))
            y += 14.0 * len(lines) + rng.randint(32, 55)
    if with_table:
        n_rows, n_cols = rng.randint(2, 4), rng.randint(2, 4)
        rows = [
            [
                (rng.choice(_WORDS) if rng.random() < 0.85 else "")
                for _ in range(n_cols)
            ]
            for _ in range(n_rows)
        ]
        page.tables.append(
            Table(
                x=60,
                y_top=560 + rng.randint(0, 60),
                rows=rows,
                # v10: half the grids draw as m/l/S stroked rules (the
                # docbook/LaTeX shape) instead of re cells; short-circuit
                # BEFORE the rng draw so pinned profiles (features=5) keep
                # their byte stream
                ruled=features >= 7 and rng.random() < 0.5,
            )
        )
    # v6: embedded figures — Image XObjects and inline images become media
    # spans at their reading-order position. y gets a .5 offset so an image
    # anchor never ties a text anchor (box/table y_tops are integer-valued);
    # the expected-kind oracle sorts the same keys.
    if features >= 6 and rng.random() < 0.25:
        for _ in range(rng.randint(1, 2)):
            page.images.append(
                ImageBox(
                    x=float(rng.choice([60, 180, 330])),
                    y_top=rng.randint(45, 745) + 0.5,
                    w=float(rng.randint(60, 160)),
                    h=float(rng.randint(40, 120)),
                    inline=rng.random() < 0.3,
                )
            )
    return page


def make_pdf(
    rng: random.Random,
    n_pages: int,
    features: int = 7,
    encrypt: str | None = None,
    user_pw: bytes = b"",
) -> tuple[bytes, list[PageSpec]]:
    """One synthetic PDF drawing from the full feature matrix: operator
    styles incl. <hex> strings, /Differences-encoded accented boxes, per-box
    cm translates, classic xref (optionally physically shuffled), PDF 1.5
    xref streams / object streams / PNG predictor, incremental updates, and
    (features >= 6) embedded Image XObjects / inline images incl. text-free
    "scanned" pages, non-Identity CID encodings (v7), named
    WinAnsi/MacRoman base encodings (v9, F4 boxes), and (features >= 7,
    v10) pdfTeX-style "tex" boxes (word spacing as TJ kern gaps) plus
    rule-drawn table grids (m/l/S strokes, the docbook/LaTeX shape) — all
    deterministic from the rng stream.

    Returns (bytes, effective page specs) — the specs are the
    parser-independent ground truth ``expected_extraction_rows`` derives the
    span-kind/media_ref oracle from. ``features=5`` reproduces the round-2
    corpus byte-for-byte (the scaling benchmark holds its workload fixed
    across rounds; every v6 draw is behind a features guard)."""
    pages = []
    for _ in range(n_pages):
        pages.append(
            _pdf_page(
                rng,
                two_col=rng.random() < 0.4,
                with_table=rng.random() < 0.35,
                features=features,
            )
        )
    if features >= 6:
        # ~6% of pages are "scanned": one full-page image, zero text ops —
        # the pages_empty_with_images / needs-OCR path (P6 analogue)
        for i in range(len(pages)):
            if rng.random() < 0.06:
                pages[i] = PageSpec(
                    images=[ImageBox(x=50, y_top=49.5, w=512, h=693)]
                )
    use_diff = rng.random() < 0.25
    use_cid = (not use_diff) and rng.random() < 0.20
    cid_encoding = "identity"
    if use_cid and features >= 6:
        # v7: non-Identity CID encodings — an embedded CMap stream with
        # mixed 1/2-byte codes, and the predefined UniGB-UCS2-H family
        cid_encoding = rng.choice(["identity", "embedded", "ucs2"])
    base_encoding = None
    if features >= 6 and not use_diff and not use_cid and rng.random() < 0.25:
        # v9: named base encodings (F4 boxes) — WinAnsi curly quotes and
        # dashes are ubiquitous in real-world PDFs, and MacRoman disagrees
        # with latin-1 on every high byte
        base_encoding = rng.choice(["WinAnsiEncoding", "MacRomanEncoding"])
    for page in pages:
        if not page.tables and not page.images and rng.random() < 0.15:
            page.rotate = rng.choice([90, 180, 270])
        for box in page.boxes:
            if use_diff and rng.random() < 0.4:
                box.font = "F2"
                box.lines = [
                    line.replace("a", "é", 1) if rng.random() < 0.5 else line
                    for line in box.lines
                ]
            elif use_cid and rng.random() < 0.4:
                # Type0/Identity-H boxes: ASCII via the identity bfrange,
                # plus é through its bfchar code
                box.font = "F3"
                box.lines = [
                    line.replace("a", "é", 1) if rng.random() < 0.3 else line
                    for line in box.lines
                ]
            elif base_encoding is not None and rng.random() < 0.5:
                box.font = "F4"
                box.lines = [_spice_high_range(rng, line) for line in box.lines]
            if rng.random() < 0.2:
                box.ctm = (
                    1.0, 0.0, 0.0, 1.0,
                    float(rng.randint(-30, 30)), float(rng.randint(-20, 20)),
                )
    kwargs: dict = {}
    incremental = False
    mode = rng.random()
    if mode < 0.30:
        kwargs["xref_mode"] = "stream"
        if rng.random() < 0.5:
            kwargs["objstm"] = True
            if rng.random() < 0.5:
                kwargs["predictor"] = True
    elif mode < 0.40:
        kwargs["order_rng"] = rng
    else:
        # an incremental revision onto an encrypted base would need its new
        # stream encrypted too — the builder's appender writes plaintext, so
        # encrypted docs skip it (the rng draw stays for stream stability)
        incremental = rng.random() < 0.15 and encrypt is None
    if encrypt is not None:
        kwargs["encrypt"] = encrypt
        kwargs["user_pw"] = user_pw
    data = build_pdf(
        pages,
        compress=rng.random() < 0.5,
        differences=CORPUS_DIFFS if use_diff else None,
        cid=use_cid,
        cid_encoding=cid_encoding,
        base_encoding=base_encoding,
        **kwargs,
    )
    if incremental:
        # incremental revisions replace a content stream only, so the new
        # page stays image-free (the base page dict carries no /XObject)
        new_page = _pdf_page(rng, two_col=False, with_table=False, features=5)
        data = append_incremental_page_update(
            data, len(pages) - 1, new_page, n_pages=len(pages)
        )
        pages = pages[:-1] + [new_page]  # effective spec: newest revision wins
    return data, pages


def make_pdf_bytes(rng: random.Random, n_pages: int, features: int = 7) -> bytes:
    return make_pdf(rng, n_pages, features=features)[0]


def gen_documents(n_docs: int, seed: int = 42, profile: str = "mixed") -> list[dict]:
    """Rows of ``{doc_id, spans:[{kind,text,media_ref,offset}]}``.

    profile="mixed": kind mix ~50/25/15/10 text/html/pdf/media per
    FIXTURES.md §1; ~1% of docs are "giant" (one 20-50 page PDF span) for
    the skew path. profile="heavy": every doc is one 6-14 page PDF —
    used by the scaling benchmark so parse compute dominates fixed
    overhead and the N-vs-4N efficiency measurement is meaningful.
    profile="encrypted": every doc is one standard-security PDF cycling
    rc4-40 / rc4-128 / aes-128 / aes-256 (/V 5 /R 6, the PDF 2.0 default)
    with an EMPTY user password (must decrypt transparently); every 7th doc
    instead carries a REAL user password and must quarantine as a parse
    failure.
    profile="skewed": the adversarial straggler shape (VERDICT r03 #2) —
    a 1% head of CONTIGUOUS giant PDFs (500-1000 pages each; the realistic
    crawl-dump layout where one long-document source arrives clustered in
    input order) followed by 99% single-page PDFs. The giant head holds
    ~90% of the parse work, so an input-order scan partitioning serializes
    it onto a handful of tasks; the salted repartition must scatter it.
    features=5 like "heavy" so the skew A/B measures partitioning, not
    feature mix.
    """
    rng = random.Random(seed)
    rows: list[dict] = []
    n_giants = max(1, n_docs // 100) if profile == "skewed" else 0
    for d in range(n_docs):
        doc_id = f"doc-{seed}-{d:08d}"
        spans: list[dict] = []
        if profile == "skewed":
            n_pages = rng.randint(500, 1000) if d < n_giants else 1
            pdf = make_pdf_bytes(rng, n_pages, features=5)
            spans.append({
                "kind": "pdf",
                "text": base64.b64encode(pdf).decode("ascii"),
                "media_ref": "",
                "offset": 0,
                "n_pages": n_pages,  # generator metadata (stripped on write)
            })
            rows.append({"doc_id": doc_id, "spans": spans})
            continue
        if profile == "encrypted":
            mode = ("rc4-40", "rc4-128", "aes-128", "aes-256")[d % 4]
            pw = b"real-password" if d % 7 == 0 else b""
            pdf, specs = make_pdf(
                rng, rng.randint(1, 4), encrypt=mode, user_pw=pw
            )
            spans.append({
                "kind": "pdf",
                "text": base64.b64encode(pdf).decode("ascii"),
                "media_ref": "",
                "offset": 0,
                "n_pages": len(specs),
                "_specs": specs,
                "_pw_protected": bool(pw),  # oracle metadata (stripped)
            })
            rows.append({"doc_id": doc_id, "spans": spans})
            continue
        if profile == "heavy":
            # features=5: the scaling benchmark's workload is held
            # byte-identical across rounds so BENCH deltas measure the code
            n_pages = rng.randint(6, 14)
            pdf = make_pdf_bytes(rng, n_pages, features=5)
            spans.append({
                "kind": "pdf",
                "text": base64.b64encode(pdf).decode("ascii"),
                "media_ref": "",
                "offset": 0,
                "n_pages": n_pages,  # generator metadata (stripped on write)
            })
            rows.append({"doc_id": doc_id, "spans": spans})
            continue
        giant = rng.random() < 0.01
        n_spans = 1 if giant else rng.randint(1, 12)
        for off in range(n_spans):
            if giant:
                kind = "pdf"
                n_pages = rng.randint(20, 50)
            else:
                r = rng.random()
                kind = "text" if r < 0.50 else "html" if r < 0.75 else "pdf" if r < 0.90 else "media"
                n_pages = rng.randint(1, 3)
            if kind == "text":
                spans.append({"kind": "text", "text": _messy_text(rng), "media_ref": "", "offset": off})
            elif kind == "html":
                spans.append({"kind": "html", "text": _html_doc(rng), "media_ref": "", "offset": off})
            elif kind == "pdf":
                pdf, specs = make_pdf(rng, n_pages)
                spans.append({
                    "kind": "pdf",
                    "text": base64.b64encode(pdf).decode("ascii"),
                    "media_ref": "",
                    "offset": off,
                    "n_pages": n_pages,  # generator metadata (stripped on write)
                    "_specs": specs,  # oracle ground truth (stripped on write)
                })
            else:
                ref = f"media://{rng.getrandbits(64):016x}.{rng.choice(['png','jpg','mp3','mp4'])}"
                spans.append({"kind": "media", "text": "", "media_ref": ref, "offset": off})
        rows.append({"doc_id": doc_id, "spans": spans})
    return rows


def corpus_parquet(
    n_docs: int, seed: int = 42, out_dir: str | None = None, profile: str = "mixed"
) -> str:
    """Materialize the synthetic corpus as parquet (cached by (n,seed)).

    Written directly with pyarrow — no Spark job — so Spark always *scans*
    the corpus like real table data instead of parallelizing driver memory
    (a local-collection plan has no column pruning/statistics and re-ships
    the pickled rows on every job).
    """
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    out_dir = out_dir or os.path.join(
        tempfile.gettempdir(), f"pes-corpus-v{_GEN_VERSION}-{profile}-{n_docs}-{seed}"
    )
    done = os.path.join(out_dir, "_SUCCESS")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    rows = gen_documents(n_docs, seed, profile=profile)
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
    schema_keys = ("kind", "text", "media_ref", "offset")
    table = pa.table(
        {
            "doc_id": pa.array([r["doc_id"] for r in rows], pa.string()),
            "spans": pa.array(
                [
                    [{k: s[k] for k in schema_keys} for s in r["spans"]]
                    for r in rows
                ],
                span_type,
            ),
        }
    )
    if profile == "skewed":
        # one file per input slice IN DOC ORDER: the unbalanced scan then has
        # plenty of natural splits, and the Skew A/B in BENCH/BASELINE.md
        # measures the skew (the giant head clustered into a few files), not
        # a lack of scan parallelism
        n_files = 32
        per = max(1, -(-n_docs // n_files))
        for f, lo in enumerate(range(0, n_docs, per)):
            pq.write_table(
                table.slice(lo, per),
                os.path.join(out_dir, f"part-{f}.parquet"),
                row_group_size=max(per // 4, 4),
            )
    else:
        # several row groups so Spark can split the scan across tasks
        pq.write_table(
            table,
            os.path.join(out_dir, "part-0.parquet"),
            row_group_size=max(n_docs // 16, 16),
        )
    with open(done, "w"):
        pass
    return out_dir


def corpus_df(spark, n_docs: int, seed: int = 42, profile: str = "mixed"):
    """Synthetic documents table as a Spark DataFrame (parquet-backed)."""
    return spark.read.parquet(corpus_parquet(n_docs, seed, profile=profile))


# --- expected extraction results (parser-independent oracle) ----------------

_PAGE_OBJ_RE = None  # lazy-compiled


def _count_pdf_pages(pdf_bytes: bytes) -> int:
    """Page count straight from the object dictionaries — page objects are
    never compressed by the builder (only content streams are), so a byte
    scan is parser-independent: the oracle derives from generator structure,
    not from the layout parser it is checking."""
    global _PAGE_OBJ_RE
    if _PAGE_OBJ_RE is None:
        import re

        _PAGE_OBJ_RE = re.compile(rb"/Type\s*/Page\b(?!s)")
    return len(_PAGE_OBJ_RE.findall(pdf_bytes))


def _page_kind_seq(spec: PageSpec) -> list[tuple[str, str]]:
    """Expected (kind, image_name) span sequence of one generated page,
    derived from the spec GEOMETRY alone (never from the parser): regions
    sort by (top-y, left-x, media-after-text-on-ties) — the identical key
    ``page_to_spans`` uses — consecutive text regions collapse into one
    span, a region-free page emits one empty text span."""
    regions: list[tuple[float, float, int, str]] = []
    for t in spec.tables:
        regions.append((t.y_top, t.x, 0, ""))
    for b in spec.boxes:
        regions.append((b.y_top, b.x, 0, ""))
    n_xobj = 0
    for j, im in enumerate(spec.images):
        name = f"inline-{j}" if im.inline else f"Im{n_xobj}"
        if not im.inline:
            n_xobj += 1
        regions.append((im.y_top, im.x, 1, name))
    if not regions:
        return [("text", "")]
    regions.sort(key=lambda r: (r[0], r[1], r[2]))
    seq: list[tuple[str, str]] = []
    for _y, _x, is_media, name in regions:
        if is_media:
            seq.append(("media", name))
        elif not seq or seq[-1][0] != "text":
            seq.append(("text", ""))
    return seq


def expected_extraction_rows(
    n_docs: int,
    seed: int = 42,
    profile: str = "mixed",
    unlock_passworded: bool = False,
) -> list[dict]:
    """Closed-form expected (pages_parsed, spans_emitted, parse_failures,
    output kind sequence, media_refs, needs-OCR page count) per doc, derived
    from the deterministic generator — NOT by running the extraction kernel.
    Every generated span is valid, so parse_failures is identically 0; a pdf
    span emits its per-page region sequence (text groups + media spans for
    embedded images), media passes through with its ref, text/html emit one
    text span each (the extract_document contract, core/extractor.py).

    ``unlock_passworded=True`` is the expectation when the extraction runs
    with the corpus's user password in its candidate list: the
    ``_pw_protected`` docs parse from their page specs instead of
    quarantining (the ``extract_passworded_corpus`` oracle)."""
    out: list[dict] = []
    for row in gen_documents(n_docs, seed, profile=profile):
        kinds: list[str] = []
        refs: list[str] = []
        pages = 0
        empty_pages = 0
        failures = 0
        for s in sorted(row["spans"], key=lambda s: s["offset"]):
            if s["kind"] == "media":
                kinds.append("media")
                refs.append(s["media_ref"])
            elif s["kind"] == "pdf":
                if s.get("_pw_protected") and not unlock_passworded:
                    # user-password-protected: quarantines as a parse
                    # failure with one empty placeholder span
                    failures += 1
                    kinds.append("text")
                    continue
                specs = s.get("_specs")
                if specs is None:
                    # externally-built span without specs: page count from
                    # metadata or a byte scan, one text span per page
                    n = s.get("n_pages") or _count_pdf_pages(
                        base64.b64decode(s["text"])
                    )
                    pages += n
                    kinds.extend(["text"] * n)
                    continue
                pages += len(specs)
                for pi, spec in enumerate(specs):
                    for kind, name in _page_kind_seq(spec):
                        kinds.append(kind)
                        if kind == "media":
                            refs.append(f"pdf://{s['offset']}/{pi}/{name}")
                    if not spec.boxes and not spec.tables and spec.images:
                        empty_pages += 1
            else:  # text | html
                kinds.append("text")
        out.append(
            {
                "doc_id": row["doc_id"],
                "pages_parsed": pages,
                "spans_emitted": len(kinds),
                "parse_failures": failures,
                "kinds": ",".join(kinds),
                "media_refs": ",".join(refs),
                "empty_pages": empty_pages,
            }
        )
    return out


def expected_corpus_parquet(
    n_docs: int,
    seed: int = 42,
    profile: str = "mixed",
    unlock_passworded: bool = False,
) -> str:
    """Materialize the expected-results table (cached by (n, seed, profile,
    unlock)); returns the parquet file path for a DuckDB ``read_parquet``
    oracle."""
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    tag = "-unlocked" if unlock_passworded else ""
    out_dir = os.path.join(
        tempfile.gettempdir(),
        f"pes-expected-v{_GEN_VERSION}-{profile}{tag}-{n_docs}-{seed}",
    )
    path = os.path.join(out_dir, "expected.parquet")
    done = os.path.join(out_dir, "_SUCCESS")
    if os.path.exists(done):
        return path
    os.makedirs(out_dir, exist_ok=True)
    rows = expected_extraction_rows(
        n_docs, seed, profile=profile, unlock_passworded=unlock_passworded
    )
    table = pa.table(
        {
            "doc_id": pa.array([r["doc_id"] for r in rows], pa.string()),
            "pages_parsed": pa.array([r["pages_parsed"] for r in rows], pa.int64()),
            "spans_emitted": pa.array([r["spans_emitted"] for r in rows], pa.int64()),
            "parse_failures": pa.array([r["parse_failures"] for r in rows], pa.int64()),
            "kinds": pa.array([r["kinds"] for r in rows], pa.string()),
            "media_refs": pa.array([r["media_refs"] for r in rows], pa.string()),
            "empty_pages": pa.array([r["empty_pages"] for r in rows], pa.int64()),
        }
    )
    pq.write_table(table, path)
    with open(done, "w"):
        pass
    return path
