"""Text normalization — byte-exact reimplementation of the reference semantics.

Reference: ``app/processor/pymu_tesseract_processor.py:150-154`` (``_clean_text``)
and ``:259-272`` (region/table framing). These functions are the single source
of truth shared by the local oracle and the Spark kernel, so span-sequence
equality cannot drift.
"""

from __future__ import annotations

import csv
import io
import re

_MULTI_BLANK = re.compile(r"\n\s*\n+")

# the reference's read_dataset sniff (helper.py:85-94); job.py's password
# manifest check sniffs through the same function
_DATA_DELIMS = ",;\t|"
_SNIFF_CHARS = 64 * 1024


def clean_text(text: str) -> str:
    """Collapse blank runs, strip lines, tabs->space, outer strip.

    Byte-exact port of the reference's ``_clean_text``
    (pymu_tesseract_processor.py:150-154): the regex collapse runs FIRST on the
    raw text, then per-line strip, then tab replacement, then outer strip.
    Order matters for byte equality.
    """
    text = _MULTI_BLANK.sub("\n\n", text)
    text = "\n".join(line.strip() for line in text.splitlines())
    text = text.replace("\t", " ")
    return text.strip()


def frame_region(raw_text: str) -> str:
    """A text region contributes ``\\n\\n{raw_text}\\n\\n``
    (pymu_tesseract_processor.py:261,272)."""
    return f"\n\n{raw_text}\n\n"


def sniff_delimiter(text: str) -> str:
    """``csv.Sniffer`` over the text's head, ',' fallback."""
    try:
        return csv.Sniffer().sniff(text[:_SNIFF_CHARS], delimiters=_DATA_DELIMS).delimiter
    except csv.Error:
        return ","


def render_delimited(text: str) -> str:
    """``kind='data'`` content (csv/tsv/…) rendered through the SAME
    table framing the PDF grid path uses: sniff the delimiter
    (``sniff_delimiter``), parse rows, ``frame_table``. The
    reference treats csv/xlsx/json files as a first-class corpus
    category (app/config.py:9-15) and previews them as tables
    (dashboard.py:864-897); this is that category as an extraction
    span path instead of a UI preview."""
    delim = sniff_delimiter(text)
    # newline="" as the csv module requires: csv splits records itself, so
    # an unquoted bare '\r' (old-Mac line ends) is a record break, not a
    # "new-line character seen in unquoted field" error
    rows = [
        list(r)
        for r in csv.reader(io.StringIO(text, newline=""), delimiter=delim)
    ]
    return frame_table("Table", rows)


def render_data(text: str) -> str:
    """``kind='data'`` dispatch: JSON content (first non-space char is a
    bracket/brace and it parses) renders as a table of its objects —
    header = sorted key union, one row per object, missing keys None —
    matching the reference's tabular JSON preview; anything else goes
    through the delimited renderer (which is also the fallback for
    almost-JSON text, keeping the no-abort contract)."""
    t = text.lstrip()
    if t[:1] in ("[", "{"):
        import json

        try:
            obj = json.loads(text)
        except ValueError:
            return render_delimited(text)
        rows = obj if isinstance(obj, list) else [obj]
        if rows and all(isinstance(r, dict) for r in rows):
            header = sorted({k for r in rows for k in r})
            return frame_table(
                "Table",
                [header] + [[r.get(k) for k in header] for r in rows],
            )
        # non-tabular JSON (scalars / mixed list): one cell per element
        return frame_table("Table", [[el] for el in rows] if rows else [])
    return render_delimited(text)


def frame_table(label: str, rows: list[list[str | None]]) -> str:
    """A table contributes ``\\n\\n{label}:\\n\\n`` then one ``{row}\\n\\n`` per
    row, where the row is rendered via Python list repr — part of the output
    contract (pymu_tesseract_processor.py:263-269)."""
    out = f"\n\n{label}:\n\n"
    for row in rows:
        out += f"{row}\n\n"
    return out
