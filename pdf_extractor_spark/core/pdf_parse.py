"""PDF byte-stream parser + layout analysis (pdfminer-style), pure Python.

Replaces the reference's rasterize -> YOLO -> per-region Tesseract pipeline
(``app/processor/pymu_tesseract_processor.py:189-287``) with digital text
extraction from content streams: page -> textbox -> line ordering, plus
ruled-line table detection (the analogue of ``page.find_tables(
strategy="lines_strict")``, pymu_tesseract_processor.py:204-211).

Scope (SURVEY.md §7.4, extended in round 2 toward the reference's
open-anything contract, ``pymu_tesseract_processor.py:84`` pymupdf.open):

- object layer: classic xref tables, PDF 1.5 xref streams (/W columns,
  /Index, PNG predictors), object streams (/ObjStm), /Prev incremental-
  update chains, hybrid /XRefStm, indirect /Length, with a brute-force
  object-scan fallback when the xref machinery is damaged;
- document layer: /Root -> /Pages tree walk with /Kids recursion (cycle
  guard), inherited /MediaBox and /Resources, /Contents as a single stream
  or an array of streams;
- content layer: text operators BT/ET Tf TL Td TD Tm T* Tj TJ ' ",
  literal and <hex> strings, full ``cm`` CTM matrix composition with q/Q
  graphics-state nesting, multiple fonts per page with /Encoding
  /Differences glyph remapping, Form XObjects (``Do``) executed recursively,
  inline images (BI..ID..EI) skipped, rect operator ``re`` for tables.

Anything outside this raises ``PdfParseError`` and the pipeline records a
parse failure (the analogue of the invalid-PDF gate,
``app/utils/helper.py:213-225``) instead of aborting.

Pure Python + zlib only — importable on executors and as the local oracle.
"""

from __future__ import annotations

import re
import zlib
from dataclasses import dataclass, field

from .pdf_crypt import PdfCryptError, make_decryptor
from .textclean import clean_text, frame_region, frame_table

# layout constants
_LINE_Y_TOL = 2.0  # show-ops within this y distance belong to one line
_WORD_MERGE_MAX_CHARS = 24  # word-assembly only continues after short items
# with a REAL /Widths advance the end estimate is exact, so a same-baseline
# continuation can be accepted up to a couple of ems — TeX emits stretched
# glue (~0.8 em) around inline verbatim/font switches, while true column
# gutters and right-aligned tags sit far beyond 2 em (pdftotext/pymupdf
# join the same way); the MODEL path keeps the tight window because its
# error grows with item length
_EXACT_JOIN_MAX_EM = 2.0
_BOX_GAP_FACTOR = 1.8  # vertical gap > factor*leading starts a new textbox
_RECT_SNAP = 1.0  # grid-line coordinate snapping tolerance

_MAX_OBJ_DEPTH = 64  # nested dict/array guard (hostile input)
_MAX_REF_DEPTH = 32  # indirect-reference chain guard
_MAX_PAGES = 100_000  # /Kids walk guard
_MAX_XREF_SECTIONS = 1024  # /Prev chain guard
_MAX_FORM_DEPTH = 8  # nested Form-XObject execution guard


class PdfParseError(ValueError):
    pass


# ---------------------------------------------------------------- object model


@dataclass(frozen=True, slots=True)
class Ref:
    num: int
    gen: int = 0


class Name(str):
    """A /Name token (distinct from a string literal)."""

    __slots__ = ()


@dataclass(slots=True)
class Stream:
    dict: dict
    raw: bytes  # undecoded bytes as stored in the file


_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"
_WS_SET = frozenset(_WS)
_NUM_RE = re.compile(rb"[+\-.0-9]+")
_BARE_RE = re.compile(rb"[^\x00\t\n\x0c\r ()\[\]<>/%{}]*")
_OBJ_HDR_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_DIGITS_RE = re.compile(rb"\d+")
# "num gen R" in one C-level attempt (the common-case lookahead in dicts)
_INDIRECT_RE = re.compile(
    rb"(\d+)[\x00\t\n\x0c\r ]+(\d+)[\x00\t\n\x0c\r ]+R(?=[\x00\t\n\x0c\r ()<>\[\]{}/%]|$)"
)
_XREF_SEC_RE = re.compile(rb"(\d+)\s+(\d+)")
_XREF_ENT_RE = re.compile(rb"(\d{10})\s+(\d{5})\s+([nf])\s{0,2}")
_STARTXREF_RE = re.compile(rb"startxref\s+(\d+)")
_STR_SPECIAL_RE = re.compile(rb"[\\()]")
_STR_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _skip_ws(data: bytes, i: int) -> int:
    n = len(data)
    while i < n:
        c = data[i]
        if c in _WS_SET:
            i += 1
        elif c == 0x25:  # % comment to EOL
            j = data.find(b"\n", i)
            i = n if j == -1 else j + 1
        else:
            break
    return i


def _scan_string(stream: bytes, i: int, n: int):
    """Scan a ( ) string body starting just past '('; returns (new_pos, text).

    Bulk-copies runs between specials via regex search. Spec escape
    semantics (ISO 32000 7.3.4.2) in every context — named escapes, octal
    escapes (1-3 digits), and for any other escaped character the backslash
    is ignored and the character kept.
    """
    buf = bytearray()
    depth = 1
    search = _STR_SPECIAL_RE.search
    while i < n and depth:
        m = search(stream, i)
        if m is None:
            buf += stream[i:n]
            i = n
            break
        j = m.start()
        buf += stream[i:j]
        ch = stream[j]
        if ch == 0x5C:  # backslash
            nxt = stream[j + 1 : j + 2]
            if nxt in _STR_ESCAPES:
                buf += _STR_ESCAPES[nxt]
                i = j + 2
            elif nxt in (b"0", b"1", b"2", b"3", b"4", b"5", b"6", b"7"):
                oct_digits = stream[j + 1 : j + 4]
                k = 0
                while k < len(oct_digits) and 0x30 <= oct_digits[k] <= 0x37:
                    k += 1
                buf.append(int(oct_digits[:k], 8) & 0xFF)
                i = j + 1 + k
            else:
                buf += nxt  # backslash ignored, character kept (spec)
                i = j + 2
        elif ch == 0x28:  # (
            depth += 1
            buf += b"("
            i = j + 1
        else:  # )
            depth -= 1
            if depth:
                buf += b")"
            i = j + 1
    return i, buf.decode("latin-1")


def _scan_hex_string(data: bytes, i: int, n: int):
    """Scan a <...> hex string body starting just past '<'; returns
    (new_pos_past_close, text). Whitespace allowed inside; odd digit count
    is padded with 0 per spec."""
    j = data.find(b">", i)
    if j == -1:
        raise PdfParseError("unterminated hex string")
    body = data[i:j].translate(None, _WS)  # C-level whitespace strip
    if len(body) % 2:
        body += b"0"
    try:
        return j + 1, bytes.fromhex(body.decode("ascii")).decode("latin-1")
    except (ValueError, UnicodeDecodeError) as e:
        raise PdfParseError("invalid hex string") from e


def _parse_object(data: bytes, i: int, depth: int = 0):
    """Structural PDF object parser: returns (value, new_pos).

    Values: float/int, str (literal/hex string), Name, bool, None, list,
    dict (keys are plain strs without the slash), Ref.
    """
    if depth > _MAX_OBJ_DEPTH:
        raise PdfParseError("object nesting too deep")
    i = _skip_ws(data, i)
    n = len(data)
    if i >= n:
        raise PdfParseError("unexpected end of data in object")
    c = data[i]
    if c == 0x3C:  # < or <<
        if data[i + 1 : i + 2] == b"<":
            d: dict = {}
            i += 2
            while True:
                i = _skip_ws(data, i)
                if data[i : i + 2] == b">>":
                    return d, i + 2
                if data[i : i + 1] != b"/":
                    raise PdfParseError("dict key is not a name")
                key, i = _parse_object(data, i, depth + 1)
                val, i = _parse_object(data, i, depth + 1)
                d[str(key)] = val
        j, s = _scan_hex_string(data, i + 1, n)
        return s, j
    if c == 0x28:  # ( string
        j, s = _scan_string(data, i + 1, n)
        return s, j
    if c == 0x2F:  # /name
        m = _BARE_RE.match(data, i + 1)
        return Name(m.group().decode("latin-1")), m.end()
    if c == 0x5B:  # [ array
        arr: list = []
        i += 1
        while True:
            i = _skip_ws(data, i)
            if i >= n:
                raise PdfParseError("unterminated array")
            if data[i] == 0x5D:
                return arr, i + 1
            val, i = _parse_object(data, i, depth + 1)
            arr.append(val)
    if c == 0x2B or c == 0x2D or c == 0x2E or 0x30 <= c <= 0x39:  # number
        mref = _INDIRECT_RE.match(data, i)
        if mref is not None:
            return Ref(int(mref.group(1)), int(mref.group(2))), mref.end()
        m = _NUM_RE.match(data, i)
        tok = m.group()
        try:
            return (float(tok) if b"." in tok else int(tok)), m.end()
        except ValueError as e:
            raise PdfParseError(f"bad number token {tok!r}") from e
    m = _BARE_RE.match(data, i)
    word = m.group()
    if word == b"true":
        return True, m.end()
    if word == b"false":
        return False, m.end()
    if word == b"null":
        return None, m.end()
    raise PdfParseError(f"unexpected token {data[i:i+16]!r} at {i}")


# --------------------------------------------------------------- filter layer


def _png_unpredict(data: bytes, columns: int, colors: int = 1, bpc: int = 8) -> bytes:
    """Reverse PNG row predictors (per-row filter byte, types 0-4)."""
    bpp = max(1, (colors * bpc + 7) // 8)
    row_len = columns * bpp
    out = bytearray()
    prev = bytearray(row_len)
    i = 0
    n = len(data)
    while i + 1 + row_len <= n or (i < n and n - i - 1 > 0):
        ft = data[i]
        row = bytearray(data[i + 1 : i + 1 + row_len])
        if len(row) < row_len:
            row.extend(b"\x00" * (row_len - len(row)))
        i += 1 + row_len
        if ft == 0:
            pass
        elif ft == 1:  # Sub
            for k in range(bpp, row_len):
                row[k] = (row[k] + row[k - bpp]) & 0xFF
        elif ft == 2:  # Up
            for k in range(row_len):
                row[k] = (row[k] + prev[k]) & 0xFF
        elif ft == 3:  # Average
            for k in range(row_len):
                left = row[k - bpp] if k >= bpp else 0
                row[k] = (row[k] + ((left + prev[k]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for k in range(row_len):
                a = row[k - bpp] if k >= bpp else 0
                b = prev[k]
                cc = prev[k - bpp] if k >= bpp else 0
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                row[k] = (row[k] + pred) & 0xFF
        else:
            raise PdfParseError(f"unsupported PNG predictor filter type {ft}")
        out += row
        prev = row
        if i >= n:
            break
    return bytes(out)


def _a85_decode(data: bytes) -> bytes:
    """Adobe ASCII85: body up to '~>' (whitespace ignored, 'z' groups)."""
    import base64

    body = data.split(b"~>")[0].translate(None, _WS)
    try:
        return base64.a85decode(b"<~" + body + b"~>", adobe=True)
    except ValueError as e:
        raise PdfParseError(f"bad ASCII85 stream: {e}") from e


def _rl_decode(data: bytes) -> bytes:
    """RunLengthDecode: 0-127 = copy n+1 literal, 129-255 = repeat next
    byte 257-n times, 128 = EOD."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        ln = data[i]
        if ln == 128:
            break
        if ln < 128:
            out += data[i + 1 : i + 2 + ln]
            i += 2 + ln
        else:
            if i + 1 >= n:
                raise PdfParseError("truncated RunLength stream")
            out += data[i + 1 : i + 2] * (257 - ln)
            i += 2
    return bytes(out)


def _lzw_decode(data: bytes) -> bytes:
    """LZWDecode, PDF variant: 9..12-bit codes MSB-first, clear=256,
    EOD=257, early-change table-width bumps (ISO 32000 7.4.4)."""
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    buf = bits = 0
    prev: bytes | None = None
    for byte in data:
        buf = (buf << 8) | byte
        bits += 8
        while bits >= width:
            bits -= width
            code = (buf >> bits) & ((1 << width) - 1)
            if code == 256:  # clear table
                table = [bytes([i]) for i in range(256)] + [b"", b""]
                width = 9
                prev = None
                continue
            if code == 257:  # EOD
                return bytes(out)
            if prev is None:
                if code >= len(table):
                    raise PdfParseError("bad first LZW code")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
            elif code == len(table):
                entry = prev + prev[:1]
            else:
                raise PdfParseError("LZW code out of range")
            out += entry
            if prev is not None:
                table.append(prev + entry[:1])
                # early change: widen one code before the table fills
                if len(table) + 1 >= (1 << width) and width < 12:
                    width += 1
            prev = entry
    return bytes(out)


def _apply_filters(raw: bytes, sdict: dict, resolve) -> bytes:
    filt = resolve(sdict.get("Filter"))
    parms = resolve(sdict.get("DecodeParms")) or resolve(sdict.get("DP"))
    if filt is None:
        return raw
    filters = filt if isinstance(filt, list) else [filt]
    parms_list = parms if isinstance(parms, list) else [parms] * len(filters)
    data = raw
    for f, p in zip(filters, parms_list):
        f = str(resolve(f))
        p = resolve(p) or {}
        if f == "FlateDecode" or f == "Fl":
            try:
                data = zlib.decompress(data)
            except zlib.error as e:  # corrupt stream -> parse failure, not crash
                raise PdfParseError(f"flate error: {e}") from e
        elif f == "ASCIIHexDecode" or f == "AHx":
            body = data.split(b">")[0].translate(None, _WS)
            if len(body) % 2:
                body += b"0"
            try:
                data = bytes.fromhex(body.decode("ascii"))
            except ValueError as e:
                raise PdfParseError("bad ASCIIHex stream") from e
        elif f == "ASCII85Decode" or f == "A85":
            data = _a85_decode(data)
        elif f == "RunLengthDecode" or f == "RL":
            data = _rl_decode(data)
        elif f == "LZWDecode" or f == "LZW":
            data = _lzw_decode(data)
        else:
            raise PdfParseError(f"unsupported stream filter {f}")
        pred = resolve(p.get("Predictor", 1)) if isinstance(p, dict) else 1
        if isinstance(pred, (int, float)) and pred >= 10:
            cols = int(resolve(p.get("Columns", 1)))
            colors = int(resolve(p.get("Colors", 1)))
            bpc = int(resolve(p.get("BitsPerComponent", 8)))
            data = _png_unpredict(data, cols, colors, bpc)
        elif pred not in (1, None):
            raise PdfParseError(f"unsupported predictor {pred}")
    return data


# ------------------------------------------------------------- document layer


class PdfDoc:
    """Lazy object store over the raw bytes: xref chain (tables, streams,
    /Prev, hybrid /XRefStm) with object-stream support, plus a brute-force
    scan fallback for files with damaged xref machinery (the reference's
    pymupdf.open repairs such files too)."""

    def __init__(self, data: bytes, passwords: tuple[bytes, ...] = ()):
        self.data = data
        self._passwords = passwords
        # num -> ("n", offset) | ("s", objstm_num, index_in_stream) | ("f",)
        self.xref: dict[int, tuple] = {}
        self.trailer: dict = {}
        self._cache: dict[int, object] = {}
        self._objstm_cache: dict[int, list] = {}
        self._res_font_cache: dict[int, dict] = {}
        self._res_xobj_cache: dict[int, dict] = {}
        self._crypt = None
        try:
            self._load_xref_chain()
        except PdfParseError:
            self.xref = {}
        if not self.xref:
            self._scan_fallback()
        if not self.xref:
            raise PdfParseError("no objects found")
        self._setup_encryption()

    def _setup_encryption(self) -> None:
        """Standard security handler for the EMPTY-user-password case
        (RC4-40/128, AES-128/256) — the owner-password-only files pymupdf opens
        transparently (pymu_tesseract_processor.py:84). Files that need a
        real user password, or use an unsupported handler, fail as
        PdfParseError -> the parse_failures quarantine (helper.py:213-225)."""
        enc_ref = self.trailer.get("Encrypt")
        if enc_ref is None:
            return
        try:
            enc = self.resolve(enc_ref)
            if not isinstance(enc, dict):
                raise PdfCryptError("/Encrypt is not a dict")
            ids = self.trailer.get("ID")
            fid = b""
            if isinstance(ids, list) and ids:
                first = self.resolve(ids[0])
                if isinstance(first, str):
                    fid = first.encode("latin-1")
            self._crypt = make_decryptor(
                enc, fid, self.resolve, passwords=self._passwords
            )
        except (PdfCryptError, PdfParseError) as e:
            raise PdfParseError(f"encrypted PDF ({e})") from e
        # drop anything parsed before the key existed (raw-encrypted streams)
        self._cache.clear()
        self._objstm_cache.clear()

    # ---- xref machinery

    def _load_xref_chain(self) -> None:
        tail = self.data[-2048:]
        m = None
        for m in _STARTXREF_RE.finditer(tail):
            pass
        if m is None:
            raise PdfParseError("no startxref")
        pos = int(m.group(1))
        seen: set[int] = set()
        sections = 0
        while pos is not None:
            if pos in seen or pos < 0 or pos >= len(self.data):
                break
            seen.add(pos)
            sections += 1
            if sections > _MAX_XREF_SECTIONS:
                raise PdfParseError("xref /Prev chain too long")
            section: dict = {}
            trailer = self._load_xref_section(pos, section)
            # keep the FIRST (newest) trailer's keys; older revisions fill gaps
            for k, v in trailer.items():
                self.trailer.setdefault(k, v)
            # hybrid-reference file (ISO 32000-1 §7.5.8.4): the classic table
            # marks object-stream-resident objects FREE and the /XRefStm
            # stream supplies their real entries — within one revision the
            # stream takes PRECEDENCE over the classic section, or the
            # tombstones would null out the whole page tree
            xstm = trailer.get("XRefStm")
            if isinstance(xstm, (int, float)) and int(xstm) not in seen:
                seen.add(int(xstm))
                stream_section: dict = {}
                self._load_xref_section(int(xstm), stream_section)
                stream_section.update(
                    {k: v for k, v in section.items() if k not in stream_section}
                )
                section = stream_section
            for k, v in section.items():
                self.xref.setdefault(k, v)  # newer revisions always win
            prev = trailer.get("Prev")
            pos = int(prev) if isinstance(prev, (int, float)) else None

    def _load_xref_section(self, pos: int, target: dict) -> dict:
        i = _skip_ws(self.data, pos)
        if self.data[i : i + 4] == b"xref":
            return self._load_xref_table(i + 4, target)
        return self._load_xref_stream(i, target)

    def _load_xref_table(self, i: int, target: dict) -> dict:
        data = self.data
        while True:
            i = _skip_ws(data, i)
            if data[i : i + 7] == b"trailer":
                t, _ = _parse_object(data, i + 7)
                if not isinstance(t, dict):
                    raise PdfParseError("trailer is not a dict")
                return t
            m = _XREF_SEC_RE.match(data, i)
            if m is None:
                raise PdfParseError("malformed xref table")
            start, count = int(m.group(1)), int(m.group(2))
            i = _skip_ws(data, m.end())
            for k in range(count):
                em = _XREF_ENT_RE.match(data, i)
                if em is None:
                    raise PdfParseError("malformed xref entry")
                if em.group(3) == b"n":
                    target.setdefault(start + k, ("n", int(em.group(1))))
                else:
                    # free entry: record a tombstone so an object deleted in
                    # a NEWER incremental revision shadows older revisions'
                    # in-use entries (setdefault fallthrough would otherwise
                    # resurrect it — ADVICE r02). Within the SAME revision a
                    # hybrid /XRefStm overrides these (see _load_xref_chain).
                    target.setdefault(start + k, ("f",))
                i = em.end()

    def _load_xref_stream(self, i: int, target: dict) -> dict:
        obj = self._parse_indirect_at(i, expect_stream=True)
        if not isinstance(obj, Stream) or str(obj.dict.get("Type")) != "XRef":
            raise PdfParseError("startxref does not point at an xref section")
        sd = obj.dict
        data = _apply_filters(obj.raw, sd, self.resolve)
        w = [int(x) for x in self.resolve(sd.get("W")) or []]
        if len(w) != 3 or any(x < 0 or x > 8 for x in w):
            raise PdfParseError("bad /W in xref stream")
        size = int(self.resolve(sd.get("Size", 0)))
        index = self.resolve(sd.get("Index")) or [0, size]
        if len(index) % 2:
            raise PdfParseError("bad /Index in xref stream")
        ent_len = sum(w)
        pos = 0
        for s in range(0, len(index), 2):
            start, count = int(index[s]), int(index[s + 1])
            for k in range(count):
                if pos + ent_len > len(data):
                    raise PdfParseError("truncated xref stream")
                fields = []
                for width in w:
                    fields.append(
                        int.from_bytes(data[pos : pos + width], "big") if width else None
                    )
                    pos += width
                ftype = fields[0] if w[0] else 1  # default type 1 per spec
                num = start + k
                if ftype == 1:
                    target.setdefault(num, ("n", fields[1]))
                elif ftype == 2:
                    target.setdefault(num, ("s", fields[1], fields[2]))
                elif ftype == 0:  # free: tombstone shadows older revisions
                    target.setdefault(num, ("f",))
        return sd

    def _scan_fallback(self) -> None:
        """Brute-force object discovery when the xref machinery is damaged:
        every `N G obj` header in the file; later occurrences win (that is
        the incremental-update semantics: appended revisions override)."""
        offsets: dict[int, int] = {}
        for m in _OBJ_HDR_RE.finditer(self.data):
            offsets[int(m.group(1))] = m.start()
        self.xref = {num: ("n", off) for num, off in offsets.items()}
        if not self.trailer:
            tm = None
            for tm in re.finditer(rb"trailer", self.data):
                pass
            if tm is not None:
                try:
                    t, _ = _parse_object(self.data, tm.end())
                    if isinstance(t, dict):
                        self.trailer = t
                except PdfParseError:
                    pass

    # ---- object access

    def _parse_indirect_at(
        self, offset: int, expect_stream: bool = False, expect_num: int | None = None
    ):
        data = self.data
        i = _skip_ws(data, offset)
        m = _OBJ_HDR_RE.match(data, i)
        if m is None:
            raise PdfParseError(f"no object header at offset {offset}")
        if expect_num is not None and int(m.group(1)) != expect_num:
            raise PdfParseError(
                f"stale xref: object {m.group(1).decode()} at offset of {expect_num}"
            )
        val, j = _parse_object(data, m.end())
        j2 = _skip_ws(data, j)
        if data[j2 : j2 + 6] == b"stream":
            if not isinstance(val, dict):
                raise PdfParseError("stream without a dict")
            s = j2 + 6
            if data[s : s + 2] == b"\r\n":
                s += 2
            elif data[s : s + 1] == b"\n" or data[s : s + 1] == b"\r":
                s += 1
            length = self.resolve(val.get("Length"))
            if not isinstance(length, (int, float)) or length < 0:
                length = None
            if length is not None:
                end = s + int(length)
                probe = _skip_ws(data, end)
                if data[probe : probe + 9] != b"endstream":
                    length = None  # declared /Length is wrong: re-locate
            if length is None:
                end = data.find(b"endstream", s)
                if end == -1:
                    raise PdfParseError("unterminated stream")
                # strip the EOL that precedes endstream
                while end > s and data[end - 1] in b"\r\n":
                    end -= 1
            raw = data[s:end]
            # decrypt BEFORE filters (ISO 32000 7.6.2); xref streams are
            # never encrypted by spec
            if self._crypt is not None and str(val.get("Type")) != "XRef":
                try:
                    raw = self._crypt.decrypt(
                        int(m.group(1)), int(m.group(2)), raw
                    )
                except PdfCryptError as e:
                    raise PdfParseError(f"stream decryption failed: {e}") from e
            return Stream(val, raw)
        return val

    def _scan_offset(self, num: int) -> int | None:
        """Lazy brute-scan offset map for stale-xref recovery (edited or
        incrementally-damaged files whose tables point at old offsets —
        pymupdf repairs these too). Last occurrence wins."""
        if not hasattr(self, "_scanned"):
            self._scanned = {}
            for m in _OBJ_HDR_RE.finditer(self.data):
                self._scanned[int(m.group(1))] = m.start()
        return self._scanned.get(num)

    def get(self, num: int):
        if num in self._cache:
            return self._cache[num]
        entry = self.xref.get(num)
        if entry is None:
            off = self._scan_offset(num)
            if off is None:
                raise PdfParseError(f"missing object {num}")
            entry = ("n", off)
        if entry[0] == "f":
            # freed in the newest revision that mentions it: ISO 32000-1
            # §7.3.10 says a reference to a free object IS null — resolve to
            # None (a real-world PDF with a deleted /Annots must not lose
            # its whole text to quarantine), but never fall back to a brute
            # scan, which would resurrect the deleted revision's bytes
            self._cache[num] = None
            return None
        if entry[0] == "n":
            try:
                val = self._parse_indirect_at(entry[1], expect_num=num)
            except PdfParseError:
                off = self._scan_offset(num)
                if off is None or off == entry[1]:
                    raise
                val = self._parse_indirect_at(off, expect_num=num)
        else:
            _, stm_num, idx = entry
            val = self._objstm_object(stm_num, idx)
        self._cache[num] = val
        return val

    def _objstm_object(self, stm_num: int, idx: int):
        objs = self._objstm_cache.get(stm_num)
        if objs is None:
            stm = self.get(stm_num)
            if not isinstance(stm, Stream) or str(stm.dict.get("Type")) != "ObjStm":
                raise PdfParseError(f"object {stm_num} is not an object stream")
            data = _apply_filters(stm.raw, stm.dict, self.resolve)
            n = int(self.resolve(stm.dict.get("N", 0)))
            first = int(self.resolve(stm.dict.get("First", 0)))
            pairs = []
            i = 0
            for _ in range(n):
                onum, i = _parse_object(data, i)
                ooff, i = _parse_object(data, i)
                if not isinstance(onum, int) or not isinstance(ooff, int):
                    raise PdfParseError("bad object-stream header")
                pairs.append((onum, ooff))
            objs = []
            for _onum, ooff in pairs:
                val, _ = _parse_object(data, first + ooff)
                objs.append(val)
            self._objstm_cache[stm_num] = objs
        if idx >= len(objs):
            raise PdfParseError("object-stream index out of range")
        return objs[idx]

    def resolve(self, val, depth: int = 0):
        while isinstance(val, Ref):
            if depth > _MAX_REF_DEPTH:
                raise PdfParseError("reference chain too deep")
            val = self.get(val.num)
            depth += 1
        return val


# ------------------------------------------------------------------ encodings

# Adobe Glyph List subset: the names that occur in practice for simple Latin
# text plus the builder's /Differences fixtures. Unmapped names fall back to
# uniXXXX parsing, then U+FFFD.
_GLYPHS: dict[str, str] = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~",
    "quoteleft": "‘", "quoteright": "’",
    "quotedblleft": "“", "quotedblright": "”",
    "endash": "–", "emdash": "—", "bullet": "•",
    "Aacute": "Á", "aacute": "á", "Agrave": "À",
    "agrave": "à", "Acircumflex": "Â", "acircumflex": "â",
    "Adieresis": "Ä", "adieresis": "ä", "Eacute": "É",
    "eacute": "é", "Egrave": "È", "egrave": "è",
    "Iacute": "Í", "iacute": "í", "Oacute": "Ó",
    "oacute": "ó", "Odieresis": "Ö", "odieresis": "ö",
    "Uacute": "Ú", "uacute": "ú", "Udieresis": "Ü",
    "udieresis": "ü", "Ccedilla": "Ç", "ccedilla": "ç",
    "Ntilde": "Ñ", "ntilde": "ñ", "germandbls": "ß",
    "oslash": "ø", "Oslash": "Ø", "ae": "æ", "AE": "Æ",
    "Euro": "€", "sterling": "£", "yen": "¥", "cent": "¢",
    "degree": "°", "plusminus": "±", "section": "§",
    "ellipsis": "…", "dagger": "†", "daggerdbl": "‡",
    "copyright": "©", "registered": "®", "trademark": "™",
    # AGL f-ligatures (TeX Type1 fonts place these via /Differences)
    "fi": "\ufb01", "fl": "\ufb02", "ff": "\ufb00",
    "ffi": "\ufb03", "ffl": "\ufb04",
}
for _ch in "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz":
    _GLYPHS[_ch] = _ch


def _glyph_to_char(name: str) -> str:
    ch = _GLYPHS.get(name)
    if ch is not None:
        return ch
    if re.fullmatch(r"uni[0-9A-Fa-f]{4}", name):
        return chr(int(name[3:], 16))
    if re.fullmatch(r"u[0-9A-Fa-f]{4,6}", name):
        return chr(int(name[1:], 16))
    return "�"


# Named simple-font base encodings (ISO 32000-1 Annex D tables, shared
# with the builder so decode/encode can never drift — see encodings.py for
# the codec-vs-Annex deltas). Applied via str.translate; unmapped codes
# fall through to latin-1 (the StandardEncoding approximation this parser
# has always used). Reference behavior: pymupdf decodes through the font's
# encoding table transparently
# (app/processor/pymu_tesseract_processor.py get_text path).
from .encodings import BASE_ENC_MAPS as _BASE_ENC_MAPS


@dataclass(slots=True)
class _Font:
    """Per-font text decoding state.

    Simple fonts: latin-1 base + optional /Differences remap (decode_map).
    Composite (Type0) fonts: show strings are byte sequences split into
    character CODES, then mapped to unicode:

    - Identity-H/V: fixed 2-byte codes, unicode via /ToUnicode (cid_map);
    - predefined Uni(GB|JIS|KS|CNS)-UCS2-H/V: fixed 2-byte codes that ARE
      UCS-2 values (ucs2_codes) — unicode without any ToUnicode;
    - embedded CMap stream (round 3): variable-width codes split by the
      CMap's codespacerange (code_ranges), unicode via the code-keyed
      /ToUnicode.
    """

    decode_map: dict[int, str] | None = None
    # simple-font /Widths (code -> glyph width in 1/1000 text units, round
    # 4): real advances for the line assembler's end-of-item estimate —
    # the 0.5 em/char model accumulates enough error over a long show
    # string to misjudge same-baseline continuation vs column gutter
    widths: dict[int, float] | None = None
    missing_width: float = 0.0
    is_cid: bool = False
    cid_map: dict[int, str] | None = None
    code_ranges: list[tuple[int, int, int]] | None = None  # (lo, hi, nbytes)
    ucs2_codes: bool = False


_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
_HEXPAIR_RE = re.compile(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>")
# bfchar dst may be EMPTY (<>): a legal mapping meaning "no text content"
# (suppressed glyph) — distinct from an unmapped code, which renders U+FFFD
_BFCHAR_PAIR_RE = re.compile(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]*)>")
_HEXTRIPLE_RE = re.compile(
    rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*(<[0-9A-Fa-f]+>|\[[^\]]*\])"
)
_HEXTOKEN_RE = re.compile(rb"<([0-9A-Fa-f]+)>")


def _utf16be_hex_to_str(h: bytes) -> str:
    try:
        return bytes.fromhex(h.decode("ascii")).decode("utf-16-be")
    except (ValueError, UnicodeDecodeError) as e:
        raise PdfParseError(f"bad ToUnicode hex {h!r}") from e


def _parse_tounicode(data: bytes) -> dict[int, str]:
    """Extract code -> unicode mappings from a ToUnicode CMap stream:
    bfchar pairs, bfrange (start stop offset) and bfrange array form."""
    cmap: dict[int, str] = {}
    for m in _BFRANGE_RE.finditer(data):
        for t in _HEXTRIPLE_RE.finditer(m.group(1)):
            start = int(t.group(1), 16)
            stop = int(t.group(2), 16)
            if stop - start > 0x10000:
                raise PdfParseError("oversized bfrange")
            dst = t.group(3)
            if dst.startswith(b"["):
                targets = _HEXTOKEN_RE.findall(dst)
                for k, th in enumerate(targets):
                    if start + k <= stop:
                        cmap[start + k] = _utf16be_hex_to_str(th)
            else:
                base_hex = dst[1:-1]
                base = int(base_hex, 16)
                for k in range(stop - start + 1):
                    cmap[start + k] = _utf16be_hex_to_str(
                        f"{base + k:0{len(base_hex)}x}".encode()
                    )
    for m in _BFCHAR_RE.finditer(data):
        for p in _BFCHAR_PAIR_RE.finditer(m.group(1)):
            cmap[int(p.group(1), 16)] = _utf16be_hex_to_str(p.group(2))
    return cmap


_CODESPACE_RE = re.compile(rb"begincodespacerange(.*?)endcodespacerange", re.S)
_CIDRANGE_RE = re.compile(rb"begincidrange(.*?)endcidrange", re.S)
_CIDRANGE_TRIPLE_RE = re.compile(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s+(\d+)")


def _parse_cid_cmap(data: bytes) -> list[tuple[int, int, int]]:
    """Parse an embedded /Encoding CMap stream's codespacerange: the code
    byte-width structure show strings split by (ISO 32000 9.7.5.3). Text
    decodes through the code-keyed ToUnicode, so the code -> CID tables
    are not kept; the cidranges are only scanned to refuse an oversized
    one, as the bfrange parse does."""
    code_ranges: list[tuple[int, int, int]] = []
    for m in _CODESPACE_RE.finditer(data):
        for p in _HEXPAIR_RE.finditer(m.group(1)):
            lo_hex, hi_hex = p.group(1), p.group(2)
            if len(lo_hex) != len(hi_hex) or len(lo_hex) % 2:
                raise PdfParseError("bad codespacerange widths")
            nbytes = len(lo_hex) // 2
            if nbytes > 4:
                raise PdfParseError("codespacerange wider than 4 bytes")
            code_ranges.append((int(lo_hex, 16), int(hi_hex, 16), nbytes))
    if not code_ranges:
        raise PdfParseError("CMap without codespacerange")
    for m in _CIDRANGE_RE.finditer(data):
        for t in _CIDRANGE_TRIPLE_RE.finditer(m.group(1)):
            if int(t.group(2), 16) - int(t.group(1), 16) > 0x10000:
                raise PdfParseError("oversized cidrange")
    return code_ranges


def _split_codes(raw: bytes, ranges: list[tuple[int, int, int]]) -> list[int]:
    """Split show-string bytes into character codes by codespacerange:
    shortest matching width wins; an unmatchable byte advances by one and
    yields -1 (rendered U+FFFD) so hostile input never hangs.

    Matching is PER BYTE (ISO 32000-1 §9.7.6.2): a code is in a range only
    if each byte lies within the corresponding byte of the bounds. For
    <8140> <FCFC>, bytes 82 20 are NOT a match (20 < 40 in the low byte)
    even though 0x8220 is between the endpoints as an integer — the integer
    comparison would consume two bytes and desynchronize every following
    code in the show string."""
    by_len: dict[int, list[tuple[bytes, bytes]]] = {}
    for lo, hi, nb in ranges:
        mask = (1 << (8 * nb)) - 1
        by_len.setdefault(nb, []).append(
            ((lo & mask).to_bytes(nb, "big"), (hi & mask).to_bytes(nb, "big"))
        )
    max_len = max(by_len)
    out: list[int] = []
    i, n = 0, len(raw)
    while i < n:
        for ln in range(1, max_len + 1):
            spans = by_len.get(ln)
            if spans is None or i + ln > n:
                continue
            chunk = raw[i : i + ln]
            if any(
                all(lo[j] <= chunk[j] <= hi[j] for j in range(ln))
                for lo, hi in spans
            ):
                out.append(int.from_bytes(chunk, "big"))
                i += ln
                break
        else:
            out.append(-1)
            i += 1
    return out


_UCS2_CMAP_RE = re.compile(r"Uni(GB|JIS|JIS2004|KS|CNS)-UCS2-[HV]")


def _build_font(doc: PdfDoc, font_obj) -> _Font:
    fd = doc.resolve(font_obj)
    if not isinstance(fd, dict):
        return _Font()
    subtype = str(doc.resolve(fd.get("Subtype")) or "")
    if subtype == "Type0":
        enc = doc.resolve(fd.get("Encoding"))
        tu = doc.resolve(fd.get("ToUnicode"))
        cid_map: dict[int, str] = {}
        if isinstance(tu, Stream):
            cid_map = _parse_tounicode(_apply_filters(tu.raw, tu.dict, doc.resolve))
        if isinstance(enc, Stream):
            # embedded CMap: variable-width codes via its codespacerange;
            # unicode via the code-keyed ToUnicode
            code_ranges = _parse_cid_cmap(
                _apply_filters(enc.raw, enc.dict, doc.resolve)
            )
            return _Font(is_cid=True, cid_map=cid_map, code_ranges=code_ranges)
        enc_name = str(enc)
        if enc_name in ("Identity-H", "Identity-V"):
            return _Font(is_cid=True, cid_map=cid_map)
        if _UCS2_CMAP_RE.fullmatch(enc_name):
            # predefined *-UCS2 encodings: 2-byte codes ARE UCS-2 values,
            # so text decodes without any ToUnicode (common CJK subset)
            return _Font(is_cid=True, cid_map=cid_map, ucs2_codes=True)
        raise PdfParseError(f"unsupported Type0 encoding {enc!r}")
    widths: dict[int, float] | None = None
    missing_width = 0.0
    try:
        first = doc.resolve(fd.get("FirstChar"))
        warr = doc.resolve(fd.get("Widths"))
        if isinstance(first, (int, float)) and isinstance(warr, list):
            widths = {
                int(first) + i: float(doc.resolve(w))
                for i, w in enumerate(warr)
                if isinstance(doc.resolve(w), (int, float))
            }
            desc = doc.resolve(fd.get("FontDescriptor"))
            if isinstance(desc, dict):
                mw = doc.resolve(desc.get("MissingWidth"))
                if isinstance(mw, (int, float)):
                    missing_width = float(mw)
    except PdfParseError:
        widths = None  # damaged width machinery never fails the font
    enc = doc.resolve(fd.get("Encoding"))
    # simple-font /ToUnicode (round 4): the author's declared code->unicode
    # CMap, the mapping pdftotext/pymupdf prefer; layered OVER the
    # glyph-name decode so e.g. a TeX font's /Differences [2 /fi /fl] with
    # "<02> <fb01>" (or a decomposed "fi") reads as the author wrote it —
    # previously these fonts fell back to glyph names only
    tu = doc.resolve(fd.get("ToUnicode"))
    tu_map: dict[int, str] = {}
    if isinstance(tu, Stream):
        try:
            raw = _apply_filters(tu.raw, tu.dict, doc.resolve)
            tu_map = {
                k: v for k, v in _parse_tounicode(raw).items() if 0 <= k <= 0xFF
            }
        except PdfParseError:
            tu_map = {}  # a damaged ToUnicode never fails the document
    base_map: dict[int, str] | None = None
    diffs = None
    if isinstance(enc, Name):
        # name-form /Encoding (/WinAnsiEncoding, /MacRomanEncoding): a named
        # base encoding table. Unknown names (e.g. /MacExpertEncoding) keep
        # the latin-1 default rather than failing the document.
        base_map = _BASE_ENC_MAPS.get(str(enc))
    elif isinstance(enc, dict):
        base = doc.resolve(enc.get("BaseEncoding"))
        if base is not None:
            base_map = _BASE_ENC_MAPS.get(str(base))
        diffs = doc.resolve(enc.get("Differences"))
    if not isinstance(diffs, list):
        diffs = None
    if base_map is None and diffs is None and not tu_map:
        return _Font(widths=widths, missing_width=missing_width)
    # /Differences layer ON TOP of the base encoding (ISO 32000 9.6.5.1)
    dmap: dict[int, str] = dict(base_map or {})
    code = 0
    for item in diffs or ():
        item = doc.resolve(item)
        if isinstance(item, (int, float)):
            code = int(item)
        elif isinstance(item, Name):
            dmap[code] = _glyph_to_char(str(item))
            code += 1
        else:
            raise PdfParseError("bad /Differences entry")
    dmap.update(tu_map)
    return _Font(
        decode_map=dmap or None, widths=widths, missing_width=missing_width
    )


def _page_fonts(doc: PdfDoc, resources) -> dict[str, _Font]:
    res = doc.resolve(resources)
    if not isinstance(res, dict):
        return {}
    # pages overwhelmingly share one (inherited) /Resources dict: cache the
    # built font table per resolved-dict identity so /Differences and
    # ToUnicode CMaps parse once per document, not once per page (resolved
    # dicts are held by doc._cache, so id() is stable for the doc lifetime)
    cache = doc._res_font_cache
    key = id(res)
    cached = cache.get(key)
    if cached is not None:
        return cached
    fonts = doc.resolve(res.get("Font"))
    out = (
        {name: _build_font(doc, obj) for name, obj in fonts.items()}
        if isinstance(fonts, dict)
        else {}
    )
    cache[key] = out
    return out


def _page_xobjects(doc: PdfDoc, resources) -> dict[str, Stream]:
    res = doc.resolve(resources)
    if not isinstance(res, dict):
        return {}
    cache = doc._res_xobj_cache
    key = id(res)
    cached = cache.get(key)
    if cached is not None:
        return cached
    xo = doc.resolve(res.get("XObject"))
    out: dict[str, Stream] = {}
    if isinstance(xo, dict):
        for name, obj in xo.items():
            v = doc.resolve(obj)
            if isinstance(v, Stream):
                out[name] = v
    cache[key] = out
    return out


# --------------------------------------------------------------- content layer

# hot-path scanners: compiled regexes consume whole token spans in C instead
# of a Python loop per byte (>3x kernel throughput on the heavy corpus).
# Round-3 experiment, kept for the record: a single master-regex tokenizer
# (one alternation consuming leading ws + classifying number/name/simple-
# string/operator per C-level match) was differential-tested byte-identical
# on all three corpus profiles and measured 0.988x — a slight LOSS vs this
# per-byte dispatch loop, because most separators are single spaces (one
# cheap `in`-set test here) and re's 4-way alternation costs more per token
# than the anchored single-class matches below. Measured > clever; reverted.
_CONTENT_BARE_RE = re.compile(rb"[^ \t\r\n()\[\]<>/%]*")


def _tokenize(stream: bytes, stack: list | None = None):
    """Tokenize a content stream.

    Default mode yields ('num', float) | ('str', str) | ('arr', list) |
    ('op', str) | ('name', str) tuples. With ``stack`` (the interpreter hot
    path), operand VALUES are pushed raw onto the given list and only bare
    operator strings are yielded — no per-operand tuple is ever built, and
    TJ arrays are pre-joined to their concatenated string (the only use the
    interpreter has for them). Hex strings <...> decode like string
    literals; << ... >> operand dicts are skipped (their operators — BDC,
    DP — carry no text); inline images (BI..ID..EI) are skipped wholesale
    because their binary payload is not token-structured.
    """
    push = stack.append if stack is not None else None
    i, n = 0, len(stream)
    # hot-loop local bindings: global/attr lookups cost ~20% of tokenizing
    ws_set = _WS_SET
    num_match = _NUM_RE.match
    bare_match = _CONTENT_BARE_RE.match
    find = stream.find
    while i < n:
        c = stream[i]
        if c in ws_set:
            i += 1
        elif c == 0x25:  # %
            j = find(b"\n", i)
            i = n if j == -1 else j + 1
        elif c == 0x28:  # (
            i, s = _scan_string(stream, i + 1, n)
            if push is None:
                yield ("str", s)
            else:
                push(s)
        elif c == 0x3C:  # < : hex string or dict
            if stream[i + 1 : i + 2] == b"<":
                depth = 1
                i += 2
                while i < n and depth:
                    if stream[i : i + 2] == b"<<":
                        depth += 1
                        i += 2
                    elif stream[i : i + 2] == b">>":
                        depth -= 1
                        i += 2
                    elif stream[i] == 0x28:
                        i, _ = _scan_string(stream, i + 1, n)
                    else:
                        i += 1
                # dict operand dropped (no text-bearing operator consumes one)
            else:
                i, s = _scan_hex_string(stream, i + 1, n)
                if push is None:
                    yield ("str", s)
                else:
                    push(s)
        elif c == 0x5B:  # [
            i += 1
            arr: list = []
            for tok in _tokenize_until(stream, i):
                if tok is None:
                    break
                kind, val, i = tok
                arr.append((kind, val))
            if push is None:
                yield ("arr", arr)
            else:
                push(_split_tj_array(arr))
            i += 1  # past ']'
        elif c == 0x2F:  # /
            m = bare_match(stream, i + 1)
            if push is None:
                yield ("name", m.group().decode("latin-1"))
            else:
                push(m.group().decode("latin-1"))
            i = m.end()
        elif c == 0x2B or c == 0x2D or c == 0x2E or 0x30 <= c <= 0x39:  # + - . 0-9
            m = num_match(stream, i)
            if push is None:
                yield ("num", float(m.group()))
            else:
                push(float(m.group()))
            i = m.end()
        else:
            m = bare_match(stream, i)
            if m.end() == i:
                i += 1  # skip stray delimiter like ] or >
                continue
            op = m.group().decode("latin-1")
            if op == "BI":  # inline image: skip payload to EI at a token
                # boundary, then yield a synthetic EI op so the interpreter
                # can record the image's CTM placement as a media region
                j = i
                while True:
                    j = stream.find(b"EI", j + 1)
                    if j == -1:
                        i = n
                        break
                    before = stream[j - 1 : j]
                    after = stream[j + 2 : j + 3]
                    if (not before or before[0] in _WS_SET) and (
                        not after or after[0] in _WS_SET or after[0] in _DELIM
                    ):
                        i = j + 2
                        break
                if stack is not None:
                    stack.clear()
                yield ("op", "EI") if push is None else "EI"
                continue
            yield ("op", op) if push is None else op
            i = m.end()


# A TJ element number is SUBTRACTED from the glyph displacement (ISO
# 32000-1 9.4.3, thousandths of text-space units): a large negative value
# is a rightward gap. Real writers — pdfTeX foremost — encode inter-word
# spaces this way instead of space glyphs ("[(This)-371(man)28(ual)]TJ"),
# so dropping the numbers fuses words. A space glyph is ~250/1000 em in
# common fonts and TeX kerns stay within ~±100, so a gap beyond 180
# (≈0.7 space widths; same decision rule family as pdftotext/pdfminer's
# word-margin) reads as a word break.
_TJ_SPACE_KERN = -180.0


def _split_tj_array(arr: list) -> tuple[list[str], float]:
    """Split a TJ operand array into RAW string segments at kern gaps wide
    enough to be encoded word breaks (never a leading, trailing, or empty
    segment). Small kerns concatenate their neighbors. The interpreter's
    ``show`` decodes each segment through the font and joins with spaces —
    splitting at the raw level and inserting a literal space byte instead
    would shift every following 2-byte CID code off alignment.

    Also returns the SUMMED kern displacement (thousandths, sign as
    written): every TJ number moves the pen by -v/1000*Tfs*Tz (ISO
    32000-1 9.4.3) whether or not it splits a word, so ``show`` must fold
    it into the advance — a kerned pdfTeX line otherwise reports a width
    short by the summed gaps while the assembler treats width>0 as exact.
    """
    segs: list[str] = [""]
    kern_total = 0.0
    for k, v in arr:
        if k == "str":
            segs[-1] += v
        elif k == "num":
            kern_total += v
            if v <= _TJ_SPACE_KERN and segs[-1]:
                segs.append("")
    if segs and segs[-1] == "":
        segs.pop()
    return segs, kern_total


def _tokenize_until(stream: bytes, start: int):
    """Helper for array parsing: yields (kind, val, new_pos) until ']'."""
    i, n = start, len(stream)
    while i < n:
        c = stream[i]
        if c in _WS_SET:
            i += 1
            continue
        if c == 0x5D:  # ]
            # signal end; caller reads position via last yielded new_pos
            yield None
            return
        if c == 0x28:  # (
            j, s = _scan_string(stream, i + 1, n)
            yield ("str", s, j)
            i = j
        elif c == 0x3C:  # <hex> inside TJ array
            j, s = _scan_hex_string(stream, i + 1, n)
            yield ("str", s, j)
            i = j
        elif c == 0x2B or c == 0x2D or c == 0x2E or 0x30 <= c <= 0x39:
            m = _NUM_RE.match(stream, i)
            yield ("num", float(m.group()), m.end())
            i = m.end()
        else:
            i += 1
    yield None


# --------------------------------------------------------- interpreter (text)


@dataclass(slots=True)
class _TextItem:
    x: float
    y_top: float
    text: str
    size: float = 12.0  # effective font size (Tf x text/CTM vertical scale)
    width: float = 0.0  # device-space advance from /Widths; 0 = unknown


@dataclass(slots=True)
class _Rect:
    x0: float
    y0_top: float
    x1: float
    y1_top: float


@dataclass(slots=True)
class ImageOut:
    """A placed image (Image XObject or inline image) in display coords:
    top-left (x, y_top) and extent, plus the resource name for media_ref
    synthesis. The analogue of the reference's detected Non-Text regions
    (pymu_tesseract_processor.py:44-66) — positions survive into the span
    sequence as kind='media' instead of being silently dropped."""

    y_top: float
    x: float
    w: float
    h: float
    name: str


_IDENTITY = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


def _mat_mul(m, n):
    """Affine compose: apply m, then n (row-vector convention)."""
    a1, b1, c1, d1, e1, f1 = m
    a2, b2, c2, d2, e2, f2 = n
    return (
        a1 * a2 + b1 * c2,
        a1 * b2 + b1 * d2,
        c1 * a2 + d1 * c2,
        c1 * b2 + d1 * d2,
        e1 * a2 + f1 * c2 + e2,
        e1 * b2 + f1 * d2 + f2,
    )


def _mat_apply(m, x, y):
    a, b, c, d, e, f = m
    return (a * x + c * y + e, b * x + d * y + f)


def _image_region(ctm, page_h: float, name: str) -> "ImageOut":
    """Display-space bbox of the unit image square under the CTM."""
    corners = [
        _mat_apply(ctm, 0.0, 0.0),
        _mat_apply(ctm, 1.0, 0.0),
        _mat_apply(ctm, 0.0, 1.0),
        _mat_apply(ctm, 1.0, 1.0),
    ]
    xs = [p[0] for p in corners]
    ys = [p[1] for p in corners]
    return ImageOut(
        y_top=page_h - max(ys),
        x=min(xs),
        w=max(xs) - min(xs),
        h=max(ys) - min(ys),
        name=name,
    )


def _interpret(
    stream: bytes,
    page_h: float,
    fonts: dict[str, _Font] | None = None,
    xobjects: dict[str, "Stream"] | None = None,
    doc: "PdfDoc | None" = None,
    ctm=_IDENTITY,
    items: list[_TextItem] | None = None,
    rects: list[_Rect] | None = None,
    images: list[ImageOut] | None = None,
    form_depth: int = 0,
    segs: list | None = None,
) -> tuple[list[_TextItem], list[_Rect], list[ImageOut]]:
    """Execute the text/graphics subset, collecting show-ops, rects, and
    placed images in top-down device coordinates. Full CTM composition
    (cm, q/Q), per-font /Differences decoding (Tf), and recursive
    Form-XObject execution (Do); Image XObjects and inline images record
    their CTM-transformed unit-square bbox as media regions."""
    if form_depth > _MAX_FORM_DEPTH:
        raise PdfParseError("form XObject nesting too deep")
    items = [] if items is None else items
    rects = [] if rects is None else rects
    images = [] if images is None else images
    # stroked-path segments in device space (real writers draw table rules
    # as m/l/S line paths, not re cell grids — round 4); filled to `segs`
    # when the caller passes a list
    path_pts: list = []  # current path: list of device-space points, or None separators
    segs = segs if segs is not None else None
    fonts = fonts or {}
    xobjects = xobjects or {}
    stack: list = []
    gs_stack: list = []  # saved (ctm, font, leading)
    tm = _IDENTITY  # text matrix (valid inside BT/ET)
    tlm = _IDENTITY  # text line matrix
    leading = 0.0
    font: _Font | None = None
    font_size = 12.0
    # text-state spacing params (ISO 32000-1 9.3): graphics state, saved by
    # q/Q, NOT reset at BT. They enter the /Widths advance — office-style
    # writers justify lines with Tw, and ignoring it would re-break the
    # exact-width same-baseline joins the assembler relies on.
    char_spacing = 0.0  # Tc, unscaled text units per glyph
    word_spacing = 0.0  # Tw, unscaled text units per code-32 byte
    h_scale = 1.0  # Tz / 100

    def _decode_segment(s: str) -> str:
        """One raw show-string segment through the current font's decode
        pipeline. TJ kern-gap spaces are joined AFTER this per-segment
        decode — inserting a space byte into the RAW string would shift
        every following 2-byte CID code off alignment."""
        if font is not None:
            if font.is_cid:
                raw = s.encode("latin-1")
                cm = font.cid_map or {}
                if font.code_ranges is not None:
                    # embedded CMap: variable-width codes per codespacerange
                    codes = _split_codes(raw, font.code_ranges)
                elif font.ucs2_codes and not cm:
                    # predefined *-UCS2: codes are UTF-16BE code units
                    s = raw.decode("utf-16-be", errors="replace")
                    codes = None
                else:
                    # Identity-H (or UCS2 with an explicit ToUnicode):
                    # fixed 2-byte big-endian codes
                    codes = [
                        int.from_bytes(raw[k : k + 2], "big")
                        for k in range(0, len(raw) - len(raw) % 2, 2)
                    ]
                if codes is not None:
                    fallback = (
                        (lambda c: chr(c) if 0 <= c <= 0xFFFF else "�")
                        if font.ucs2_codes
                        else (lambda c: "�")
                    )
                    # `is None`, not `or`: a bfchar may legally map a code to
                    # the EMPTY string (suppressed glyph) — that is a mapping,
                    # not a miss, and must not fall through to U+FFFD
                    s = "".join(
                        v if (v := cm.get(c)) is not None else fallback(c)
                        for c in codes
                    )
            elif font.decode_map is not None:
                s = s.translate(font.decode_map)
        return s

    def show(s) -> None:
        kern_total = 0.0
        if isinstance(s, tuple):  # TJ operand: (kern-split segments, kerns)
            parts, kern_total = s
        elif isinstance(s, str):
            parts = [s]
        else:  # e.g. `5 Tj` in a malformed stream
            raise PdfParseError(f"show operator on non-string operand {s!r}")
        # real advance from /Widths, summed over the RAW codes (the show
        # string's latin-1 bytes) BEFORE any decode remaps them; text-space
        # 1/1000 units -> device via the x scales. Unknown fonts report 0
        # and the line assembler falls back to its width model.
        adv = 0.0
        if font is not None and font.widths is not None and not font.is_cid:
            w = font.widths
            mw = font.missing_width
            for part in parts:
                for ch in part:
                    code = ord(ch)
                    # per glyph: w0/1000*Tfs + Tc (+ Tw on the space code),
                    # ISO 32000-1 9.4.4; Tz applies to the whole advance
                    adv += w.get(code, mw) / 1000.0 * font_size + char_spacing
                    if code == 32:
                        adv += word_spacing
            # each TJ number displaces the pen by -v/1000*Tfs (no Tc/Tw);
            # a pdfTeX word gap is a large NEGATIVE v, i.e. extra width
            adv -= kern_total / 1000.0 * font_size
            adv *= h_scale
        s = " ".join(_decode_segment(part) for part in parts if part)
        # device position of the text origin: (tm.e, tm.f) through the CTM;
        # identity CTM (the overwhelmingly common case) skips the transform
        if ctm is _IDENTITY:
            x, y = tm[4], tm[5]
            vscale = abs(tm[3])
            hscale = abs(tm[0])
        else:
            x, y = _mat_apply(ctm, tm[4], tm[5])
            vscale = abs(tm[3] * ctm[3])  # axis-aligned approximation
            hscale = abs(tm[0] * ctm[0])
        items.append(
            _TextItem(
                x=x,
                y_top=page_h - y,
                text=s,
                size=font_size * vscale,
                width=adv * hscale,
            )
        )

    # stack mode: the tokenizer pushes operand values directly and yields
    # only operator strings — no per-operand tuples on the hot path
    for op in _tokenize(stream, stack):
        try:
            if op == "Td":
                # translate-compose inlined: tlm = T(tx,ty)·tlm (hot path)
                ty = stack[-1]
                tx = stack[-2]
                a, b, c, d, e, f = tlm
                tlm = tm = (a, b, c, d, tx * a + ty * c + e, tx * b + ty * d + f)
            elif op == "TD":
                ty = stack[-1]
                tx = stack[-2]
                leading = -ty
                a, b, c, d, e, f = tlm
                tlm = tm = (a, b, c, d, tx * a + ty * c + e, tx * b + ty * d + f)
            elif op == "Tm":
                tlm = tm = (
                    stack[-6], stack[-5], stack[-4], stack[-3], stack[-2], stack[-1],
                )
            elif op == "T*":
                a, b, c, d, e, f = tlm
                tlm = tm = (a, b, c, d, e - leading * c, f - leading * d)
            elif op == "TL":
                leading = stack[-1]
            elif op == "Tc":
                char_spacing = float(stack[-1])
            elif op == "Tw":
                word_spacing = float(stack[-1])
            elif op == "Tz":
                h_scale = float(stack[-1]) / 100.0
            elif op == "Tj":
                show(stack[-1])
            elif op == "'":
                a, b, c, d, e, f = tlm
                tlm = tm = (a, b, c, d, e - leading * c, f - leading * d)
                show(stack[-1])
            elif op == '"':
                a, b, c, d, e, f = tlm
                tlm = tm = (a, b, c, d, e - leading * c, f - leading * d)
                show(stack[-1])  # aw/ac spacing operands don't affect layout
            elif op == "TJ":
                show(stack[-1])  # array pre-joined by the tokenizer
            elif op == "BT":
                tm = tlm = _IDENTITY
            elif op == "Tf":
                name = stack[-2]
                if isinstance(name, str):
                    font = fonts.get(name, font)
                if isinstance(stack[-1], float):
                    font_size = stack[-1]
            elif op == "cm":
                m = (stack[-6], stack[-5], stack[-4], stack[-3], stack[-2], stack[-1])
                ctm = _mat_mul(m, ctm)
            elif op == "q":
                gs_stack.append(
                    (ctm, font, leading, font_size,
                     char_spacing, word_spacing, h_scale)
                )
                if len(gs_stack) > 256:
                    raise PdfParseError("graphics state stack too deep")
            elif op == "Q":
                if gs_stack:
                    (ctm, font, leading, font_size,
                     char_spacing, word_spacing, h_scale) = gs_stack.pop()
            elif op == "re":
                h = stack[-1]
                w = stack[-2]
                ry = stack[-3]
                rx = stack[-4]
                corners = [
                    _mat_apply(ctm, rx, ry),
                    _mat_apply(ctm, rx + w, ry),
                    _mat_apply(ctm, rx, ry + h),
                    _mat_apply(ctm, rx + w, ry + h),
                ]
                xs = [p[0] for p in corners]
                ys = [p[1] for p in corners]
                rects.append(
                    _Rect(
                        x0=min(xs),
                        y0_top=page_h - max(ys),
                        x1=max(xs),
                        y1_top=page_h - min(ys),
                    )
                )
            elif op == "Do":
                name = stack[-1]
                xo = xobjects.get(name) if isinstance(name, str) else None
                if xo is not None and doc is not None:
                    sub = str(doc.resolve(xo.dict.get("Subtype")) or "")
                    if sub == "Form":
                        mtx = doc.resolve(xo.dict.get("Matrix")) or [1, 0, 0, 1, 0, 0]
                        sub_ctm = _mat_mul(tuple(float(v) for v in mtx), ctm)
                        sub_res = xo.dict.get("Resources")
                        sub_fonts = _page_fonts(doc, sub_res) if sub_res else fonts
                        sub_xo = _page_xobjects(doc, sub_res) if sub_res else xobjects
                        _interpret(
                            _apply_filters(xo.raw, xo.dict, doc.resolve),
                            page_h,
                            fonts=sub_fonts,
                            xobjects=sub_xo,
                            doc=doc,
                            ctm=sub_ctm,
                            items=items,
                            rects=rects,
                            images=images,
                            form_depth=form_depth + 1,
                            segs=segs,
                        )
                    elif sub == "Image":
                        # image XObject: the unit square through the CTM is
                        # the placed rect (PDF imaging model) — record it as
                        # a media region; pixels deliberately not decoded
                        images.append(_image_region(ctm, page_h, str(name)))
            elif op == "EI":
                # inline image (payload skipped by the tokenizer): placed at
                # the current CTM like an XObject, name synthesized
                images.append(
                    _image_region(ctm, page_h, f"inline-{len(images)}")
                )
            elif op == "m":
                if segs is not None:
                    path_pts.append(None)  # subpath break
                    path_pts.append(_mat_apply(ctm, stack[-2], stack[-1]))
            elif op == "l":
                if segs is not None:
                    path_pts.append(_mat_apply(ctm, stack[-2], stack[-1]))
            elif op in ("S", "s", "B", "B*", "b", "b*"):
                if segs is not None:
                    prev = None
                    for pt in path_pts:
                        if pt is None:
                            prev = None
                            continue
                        if prev is not None:
                            segs.append((prev, pt))
                        prev = pt
                    path_pts.clear()
            elif op in ("f", "f*", "n"):
                if segs is not None:
                    path_pts.clear()
            # ET, W, w, h, c, v, y, gs, rg, g, BMC/BDC/EMC: no tracked state
        except (IndexError, TypeError) as e:
            raise PdfParseError(f"malformed operands for {op}: {e}") from e
        stack.clear()
    return items, rects, images


def _apply_rotation(
    items: list[_TextItem],
    rects: list[_Rect],
    images: list[ImageOut],
    rot: int,
    w: float,
    h: float,
) -> tuple[list[_TextItem], list[_Rect], list[ImageOut]]:
    """Map device coordinates into DISPLAY space for a /Rotate'd page, so
    reading order follows what a viewer shows (clockwise rotation per spec).

    Derived point maps (device (x, y_top) -> display (x', y_top')):
      90:  (h - y_top, x)        — display canvas is h wide, w tall
      180: (w - x, h - y_top)
      270: (y_top, w - x)
    """
    if rot == 90:
        f = lambda x, yt: (h - yt, x)
    elif rot == 180:
        f = lambda x, yt: (w - x, h - yt)
    elif rot == 270:
        f = lambda x, yt: (yt, w - x)
    else:
        raise PdfParseError(f"unsupported /Rotate {rot}")
    new_items = [
        _TextItem(
            x=f(it.x, it.y_top)[0],
            y_top=f(it.x, it.y_top)[1],
            text=it.text,
            size=it.size,
        )
        for it in items
    ]
    new_rects = []
    for r in rects:
        (x0, y0), (x1, y1) = f(r.x0, r.y0_top), f(r.x1, r.y1_top)
        new_rects.append(
            _Rect(
                x0=min(x0, x1), y0_top=min(y0, y1),
                x1=max(x0, x1), y1_top=max(y0, y1),
            )
        )
    new_images = []
    for im in images:
        (x0, y0), (x1, y1) = f(im.x, im.y_top), f(im.x + im.w, im.y_top + im.h)
        new_images.append(
            ImageOut(
                y_top=min(y0, y1), x=min(x0, x1),
                w=abs(x1 - x0), h=abs(y1 - y0), name=im.name,
            )
        )
    return new_items, new_rects, new_images


# ---------------------------------------------------------------- layout layer


@dataclass(slots=True)
class TextBoxOut:
    """A detected textbox: ordered lines, bbox top-y/left-x for reading order."""

    y_top: float
    x: float
    lines: list[str] = field(default_factory=list)

    @property
    def text(self) -> str:
        return "\n".join(self.lines)


@dataclass(slots=True)
class TableOut:
    y_top: float
    x: float
    rows: list[list[str | None]] = field(default_factory=list)


@dataclass(slots=True)
class PageOut:
    boxes: list[TextBoxOut]
    tables: list[TableOut]
    images: list[ImageOut] = field(default_factory=list)


def _snap(vals: list[float]) -> list[float]:
    """Cluster near-equal coordinates (ruled-line grid axes)."""
    out: list[float] = []
    for v in sorted(vals):
        if not out or v - out[-1] > _RECT_SNAP:
            out.append(v)
    return out


# vector-art pages stroke thousands of segments; rule-drawn tables use tens
_MAX_RULE_SEGS = 500


def _cells_from_rule_segments(segs: list, page_h: float) -> list[_Rect]:
    """Synthesize table-cell rects from stroked RULE segments (round 4).

    Real writers (docbook/passivetex, LaTeX booktabs, many office exports)
    draw table grids as m/l/S line paths, not ``re`` cell rectangles — the
    shape ``_detect_tables`` was built for. This pass reconstructs cells:
    axis-aligned segments -> collinear merge -> intersection-connected
    clusters -> the cross product of consecutive rule lines. A cluster must
    form at least TWO cells (>= 3 distinct rule lines on one axis): a
    single framed box (2 H x 2 V — docbook example/note frames) is prose
    decoration, not a table, and claiming its text would swallow code
    blocks into 1x1 grids. The synthesized cells feed the SAME
    ``_detect_tables`` clustering/claiming as ``re`` cells, so the two
    drawing styles can never diverge in downstream semantics."""
    if not segs or len(segs) > _MAX_RULE_SEGS:
        return []
    snap = _RECT_SNAP
    hs: list[tuple[float, float, float]] = []  # (y_top, x_lo, x_hi)
    vs: list[tuple[float, float, float]] = []  # (x, yt_lo, yt_hi)
    for (x0, y0), (x1, y1) in segs:
        if abs(y1 - y0) <= 0.5 and abs(x1 - x0) > 2.0:
            yt = page_h - (y0 + y1) / 2.0
            hs.append((yt, min(x0, x1), max(x0, x1)))
        elif abs(x1 - x0) <= 0.5 and abs(y1 - y0) > 2.0:
            x = (x0 + x1) / 2.0
            vs.append((x, page_h - max(y0, y1), page_h - min(y0, y1)))
    if not hs or not vs:
        return []

    def _merge(lines, tol):
        """Merge collinear runs: group by the fixed coordinate, then fuse
        overlapping/adjacent extents (docbook strokes one border as many
        short ticks)."""
        lines.sort()
        out: list[list[float]] = []
        for c, lo, hi in lines:
            if out and abs(c - out[-1][0]) <= tol and lo <= out[-1][2] + tol:
                out[-1][2] = max(out[-1][2], hi)
            else:
                out.append([c, lo, hi])
        return out

    hls = _merge(hs, snap)
    vls = _merge(vs, snap)

    # cluster by intersection-connectivity (an H and V meet within snap)
    n_h, n_v = len(hls), len(vls)
    parent = list(range(n_h + n_v))

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for i, (y, x_lo, x_hi) in enumerate(hls):
        for j, (x, y_lo, y_hi) in enumerate(vls):
            if x_lo - snap <= x <= x_hi + snap and y_lo - snap <= y <= y_hi + snap:
                parent[find(i)] = find(n_h + j)

    clusters: dict[int, tuple[list, list]] = {}
    for i, hl in enumerate(hls):
        clusters.setdefault(find(i), ([], []))[0].append(hl)
    for j, vl in enumerate(vls):
        clusters.setdefault(find(n_h + j), ([], []))[1].append(vl)

    cells: list[_Rect] = []
    for ch, cv in clusters.values():
        ys = sorted(y for y, _, _ in ch)
        xs = sorted(x for x, _, _ in cv)
        rows, cols = len(ys) - 1, len(xs) - 1
        if rows < 1 or cols < 1 or rows * cols < 2 or rows * cols > 4096:
            continue
        for r in range(rows):
            for c in range(cols):
                cells.append(
                    _Rect(
                        x0=xs[c],
                        y0_top=ys[r],
                        x1=xs[c + 1],
                        y1_top=ys[r + 1],
                    )
                )
    return cells


def _detect_tables(rects: list[_Rect], items: list[_TextItem]) -> tuple[list[TableOut], set[int]]:
    """Cluster cell rects into grid tables; claim contained text items.

    Returns tables plus the indices of items consumed by a table (so they are
    excluded from textbox grouping) — the analogue of find_tables + the
    reference's region merge (pymu_tesseract_processor.py:204-231).
    """
    if len(rects) < 2:
        return [], set()
    # connected-component clustering by adjacency (shared edges within snap tol)
    parent = list(range(len(rects)))

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    def union(a: int, b: int) -> None:
        parent[find(a)] = find(b)

    for i in range(len(rects)):
        for j in range(i + 1, len(rects)):
            a, b = rects[i], rects[j]
            touch_x = a.x0 <= b.x1 + _RECT_SNAP and b.x0 <= a.x1 + _RECT_SNAP
            touch_y = a.y0_top <= b.y1_top + _RECT_SNAP and b.y0_top <= a.y1_top + _RECT_SNAP
            if touch_x and touch_y:
                union(i, j)

    clusters: dict[int, list[int]] = {}
    for i in range(len(rects)):
        clusters.setdefault(find(i), []).append(i)

    tables: list[TableOut] = []
    used_items: set[int] = set()
    for members in clusters.values():
        if len(members) < 2:
            continue
        cells = [rects[i] for i in members]
        row_tops = _snap([c.y0_top for c in cells])
        col_lefts = _snap([c.x0 for c in cells])
        n_rows, n_cols = len(row_tops), len(col_lefts)
        if n_rows * n_cols < 2:
            continue
        grid: list[list[str | None]] = [[None] * n_cols for _ in range(n_rows)]
        x0 = min(c.x0 for c in cells)
        x1 = max(c.x1 for c in cells)
        y0 = min(c.y0_top for c in cells)
        y1 = max(c.y1_top for c in cells)
        for idx, it in enumerate(items):
            if x0 - _RECT_SNAP <= it.x <= x1 + _RECT_SNAP and y0 - _RECT_SNAP <= it.y_top <= y1 + _RECT_SNAP:
                # row/col by containment: last grid line at or above the item
                r = max(
                    (k for k, t in enumerate(row_tops) if t <= it.y_top + _RECT_SNAP),
                    default=0,
                )
                c = max(
                    (k for k, l in enumerate(col_lefts) if l <= it.x + _RECT_SNAP),
                    default=0,
                )
                cur = grid[r][c]
                grid[r][c] = it.text if cur is None else f"{cur} {it.text}"
                used_items.add(idx)
        tables.append(TableOut(y_top=y0, x=x0, rows=grid))
    tables.sort(key=lambda t: (t.y_top, t.x))
    return tables, used_items


def _group_textboxes(items: list[_TextItem]) -> list[TextBoxOut]:
    """Lines (merge show-ops at ~equal y) then textboxes (vertical adjacency
    within a column), sorted into reading order by (top-y, left-x).

    This is the load-bearing ordering invariant — the reference's
    sort-by-bbox-y (pymu_tesseract_processor.py:233-235) extended with an x
    tiebreak so multi-column layouts are deterministic.
    """
    if not items:
        return []
    # 1. lines: bucket by y AND x origin — same-y items in different columns
    # must stay separate lines (two-column layouts), so a show-op joins the
    # current line when it shares the line origin OR (word-assembly, the way
    # real writers emit one show-op per positioned word) when it begins
    # within a tight window after the previous item's estimated right edge.
    # The width model is 0.5 em per char (Helvetica-ish average); the window
    # is deliberately narrow and only applies after SHORT items, so the
    # estimate's error can never reach across a column gutter.
    # end-of-item estimate: the font's real /Widths advance when the
    # interpreter had one (width > 0), else the 0.5 em/char model. With a
    # real advance the estimate is exact, so the continuation window needs
    # no length guard — the guard exists only to bound the MODEL's
    # accumulated error (round 4; a 25-char item under the model drifts
    # ~15 device units, past the window, splitting one visual line).
    def _end(it: _TextItem) -> tuple[float, bool]:
        if it.width > 0:
            return it.x + it.width, True
        return it.x + 0.5 * it.size * len(it.text), False

    # Phase 1 — cluster into baselines by y alone (round 4): sorting by
    # (y, x) breaks on sub-ULP baseline jitter — 679.323 vs
    # 679.3230000000001 puts a line's LEFTMOST item after its rightmost
    # neighbors and the single-pass walk splits the visual line. Cluster
    # consecutive y's within _LINE_Y_TOL first, THEN order each baseline
    # left-to-right.
    items = sorted(items, key=lambda it: it.y_top)
    clusters: list[list[_TextItem]] = [[items[0]]]
    anchor_y = items[0].y_top
    for it in items[1:]:
        if abs(it.y_top - anchor_y) <= _LINE_Y_TOL:
            clusters[-1].append(it)
        else:
            clusters.append([it])
            anchor_y = it.y_top

    # Phase 2 — word assembly left-to-right within each baseline; a gap the
    # continuation window rejects (a column gutter) starts a separate line
    # at the same y.
    lines: list[tuple[float, float, str]] = []  # (y_top, x0, text)
    for cluster in clusters:
        cluster.sort(key=lambda it: it.x)
        first = cluster[0]
        cur_y, cur_x, parts = first.y_top, first.x, [first.text]
        cur_end, cur_exact = _end(first)
        cur_len = len(first.text)
        cur_size = first.size
        for it in cluster[1:]:
            gap = it.x - cur_end
            if abs(it.x - cur_x) <= 1.0:
                parts.append(it.text)
                cur_end, cur_exact = _end(it)
                cur_len += len(it.text)
                continue
            hi = (_EXACT_JOIN_MAX_EM if cur_exact else 0.45) * cur_size
            if (
                (cur_exact or cur_len <= _WORD_MERGE_MAX_CHARS)
                and -0.15 * cur_size <= gap <= hi
            ):
                if gap > 0.12 * cur_size:
                    parts.append(" ")
                parts.append(it.text)
                cur_end, cur_exact = _end(it)
                cur_len = len(it.text)
                cur_size = it.size
                continue
            lines.append((cur_y, cur_x, "".join(parts)))
            cur_y, cur_x, parts = it.y_top, it.x, [it.text]
            cur_end, cur_exact = _end(it)
            cur_len = len(it.text)
            cur_size = it.size
        lines.append((cur_y, cur_x, "".join(parts)))

    # 2. boxes: a line joins a box sharing its column (x within tol) whose last
    # line is vertically adjacent
    boxes: list[TextBoxOut] = []
    open_boxes: list[tuple[TextBoxOut, float, float]] = []  # (box, last_y, leading)
    for y_top, x0, text in lines:
        placed = False
        for k, (box, last_y, lead) in enumerate(open_boxes):
            if abs(x0 - box.x) <= 20.0 and 0 < y_top - last_y <= _BOX_GAP_FACTOR * lead:
                box.lines.append(text)
                open_boxes[k] = (box, y_top, y_top - last_y if y_top > last_y else lead)
                placed = True
                break
        if not placed:
            box = TextBoxOut(y_top=y_top, x=x0, lines=[text])
            boxes.append(box)
            open_boxes.append((box, y_top, 16.0))
    boxes.sort(key=lambda b: (b.y_top, b.x))
    return boxes


# ------------------------------------------------------------------ public API


def _page_list(doc: PdfDoc) -> list[tuple[dict, dict]]:
    """Ordered (page_dict, inherited) pairs via the /Root -> /Pages walk;
    `inherited` carries MediaBox/Resources inherited from ancestors.
    Falls back to numeric-order /Type /Page discovery for damaged trees."""
    pages: list[tuple[dict, dict]] = []
    root = None
    try:
        root = doc.resolve(doc.trailer.get("Root"))
    except PdfParseError:
        root = None
    pages_node = None
    if isinstance(root, dict):
        try:
            pages_node = doc.resolve(root.get("Pages"))
        except PdfParseError:
            pages_node = None

    if isinstance(pages_node, dict):
        visited: set[int] = set()

        def walk(node, inherited: dict) -> None:
            node_res = doc.resolve(node)
            if node_res is None:
                # a freed kid is null (§7.3.10): the page was deleted in a
                # newer revision but a stale /Kids entry survives — skip it
                return
            if not isinstance(node_res, dict):
                raise PdfParseError("page-tree node is not a dict")
            if isinstance(node, Ref):
                if node.num in visited:
                    raise PdfParseError("cycle in page tree /Kids")
                visited.add(node.num)
            inh = dict(inherited)
            for key in ("MediaBox", "Resources", "Rotate"):
                if key in node_res:
                    inh[key] = node_res[key]
            ntype = str(doc.resolve(node_res.get("Type")) or "")
            kids = node_res.get("Kids")
            if ntype == "Page" or (kids is None and ntype != "Pages"):
                if len(pages) >= _MAX_PAGES:
                    raise PdfParseError("too many pages")
                pages.append((node_res, inh))
                return
            for kid in doc.resolve(kids) or []:
                walk(kid, inh)

        walk(pages_node, {})
        if pages:
            return pages

    # fallback: any object whose dict is /Type /Page, in numeric order
    for num in sorted(doc.xref):
        try:
            obj = doc.get(num)
        except PdfParseError:
            continue
        if isinstance(obj, dict) and str(obj.get("Type")) == "Page":
            pages.append((obj, {}))
    if not pages:
        raise PdfParseError("no pages")
    return pages


def _page_content(doc: PdfDoc, page: dict) -> bytes:
    """Decoded content bytes; /Contents may be one stream or an array of
    streams (concatenated with newline separators per spec)."""
    contents = doc.resolve(page.get("Contents"))
    if contents is None:
        return b""
    streams = contents if isinstance(contents, list) else [contents]
    parts: list[bytes] = []
    for s in streams:
        s = doc.resolve(s)
        if s is None:  # freed array element resolves to null (§7.3.10)
            continue
        if not isinstance(s, Stream):
            raise PdfParseError("page /Contents is not a stream")
        parts.append(_apply_filters(s.raw, s.dict, doc.resolve))
    return b"\n".join(parts)


def parse_pdf(
    data: bytes, passwords: tuple[bytes, ...] = ()
) -> list[PageOut]:
    """Parse a PDF byte string into per-page textboxes + tables.

    ``passwords`` are candidate user/owner passwords (bytes; the caller
    encodes) tried after the empty password — the ingest-manifest
    password-list workflow. Documents none of them open still raise
    PdfParseError -> parse_failures quarantine."""
    if not data.startswith(b"%PDF"):
        raise PdfParseError("not a PDF (bad header)")
    try:
        # encrypted files: PdfDoc transparently decrypts the empty-user-
        # password case (RC4-40/128, AES-128/256) and tries the caller's
        # candidate passwords (user then owner); otherwise PdfParseError
        # -> parse_failures
        doc = PdfDoc(data, passwords=passwords)
        page_nodes = _page_list(doc)

        pages: list[PageOut] = []
        for page, inherited in page_nodes:
            mb = doc.resolve(page.get("MediaBox", inherited.get("MediaBox")))
            page_w, page_h = 612.0, 792.0
            mb_x0 = mb_y0 = 0.0
            if isinstance(mb, list) and len(mb) == 4:
                # dimensions are the box EXTENT, not the upper corner — a
                # non-zero lower-left origin (cropped/print PDFs) is folded
                # into the base CTM as a translate so y_top and /Rotate
                # mapping stay correct (ADVICE r02; pymupdf does the same)
                mb_x0 = float(doc.resolve(mb[0]))
                mb_y0 = float(doc.resolve(mb[1]))
                page_w = float(doc.resolve(mb[2])) - mb_x0
                page_h = float(doc.resolve(mb[3])) - mb_y0
            rot = doc.resolve(page.get("Rotate", inherited.get("Rotate", 0))) or 0
            rot = int(rot) % 360
            resources = page.get("Resources", inherited.get("Resources"))
            fonts = _page_fonts(doc, resources)
            xobjects = _page_xobjects(doc, resources)
            stream = _page_content(doc, page)
            base_ctm = (
                _IDENTITY if mb_x0 == 0.0 and mb_y0 == 0.0
                else (1.0, 0.0, 0.0, 1.0, -mb_x0, -mb_y0)
            )
            segs: list = []
            items, rects, images = _interpret(
                stream, page_h, fonts=fonts, xobjects=xobjects, doc=doc,
                ctm=base_ctm, segs=segs,
            )
            rects = rects + _cells_from_rule_segments(segs, page_h)
            if rot:
                items, rects, images = _apply_rotation(
                    items, rects, images, rot, page_w, page_h
                )
            tables, used = _detect_tables(rects, items)
            free_items = [it for i, it in enumerate(items) if i not in used]
            boxes = _group_textboxes(free_items)
            pages.append(PageOut(boxes=boxes, tables=tables, images=images))
        return pages
    except PdfParseError:
        raise
    except RecursionError as e:
        raise PdfParseError("recursion limit during parse") from e
    except (ValueError, KeyError, IndexError, TypeError, OverflowError) as e:
        # hostile/garbled input must yield a parse failure, never a crash
        raise PdfParseError(f"malformed PDF structure: {e}") from e


def page_to_spans(
    page: PageOut, page_idx: int, ref_prefix: str = ""
) -> list[tuple[str, str, str]]:
    """One page's ordered (kind, text, media_ref) span sequence.

    Regions merge in reading order by (top-y, left-x); consecutive TEXT
    regions (textboxes + framed tables) collapse into one cleaned text
    span, and each image becomes a
    ``kind='media'`` span with a synthesized ref
    ``pdf://{ref_prefix}/{page_idx}/{name}`` at its reading-order position
    (SURVEY §2.8-K2: detected non-content regions become media spans — the
    reference's Non-Text region handling, pymu_tesseract_processor.py:44-66).
    A page with no regions at all still emits one empty text span so blank
    pages keep the one-span-per-page contract; a page with ONLY images (a
    scanned page) emits only its media spans.
    """
    regions: list[tuple[float, float, int, object]] = []
    n_tables = len(page.tables)
    for i, tbl in enumerate(page.tables, start=1):
        label = f"Table{i}" if n_tables > 1 else "Table"
        regions.append((tbl.y_top, tbl.x, 0, frame_table(label, tbl.rows)))
    for box in page.boxes:
        regions.append((box.y_top, box.x, 0, frame_region(box.text)))
    for im in page.images:
        regions.append((im.y_top, im.x, 1, im))
    if not regions:
        return [("text", "", "")]
    regions.sort(key=lambda r: (r[0], r[1], r[2]))
    out: list[tuple[str, str, str]] = []
    text_parts: list[str] = []
    for _y, _x, is_media, payload in regions:
        if is_media:
            if text_parts:
                out.append(("text", clean_text("".join(text_parts)), ""))
                text_parts = []
            ref = f"pdf://{ref_prefix}/{page_idx}/{payload.name}"
            out.append(("media", "", ref))
        else:
            text_parts.append(payload)
    if text_parts:
        out.append(("text", clean_text("".join(text_parts)), ""))
    return out


def extract_pdf_spans(
    data: bytes, ref_prefix: str = "", passwords: tuple[bytes, ...] = ()
) -> tuple[list, int, int]:
    """bytes -> (per-page span-sequence lists, n_pages, n_empty_with_images).

    ``n_empty_with_images`` counts pages with zero text regions but >= 1
    image — the needs-OCR signal (the reference's P6 empty-text force-OCR
    trigger, docling_processor.py:235-239) surfaced as a metric so
    downstream can route scanned documents to an OCR stage.
    """
    pages = parse_pdf(data, passwords=passwords)
    page_spans = [page_to_spans(p, i, ref_prefix) for i, p in enumerate(pages)]
    n_empty_with_images = sum(
        1 for p in pages if not p.boxes and not p.tables and p.images
    )
    return page_spans, len(pages), n_empty_with_images
