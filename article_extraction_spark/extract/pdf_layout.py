"""PDF layout parser: positioned text runs → columns → reading order.

The north rule's PDF stage is more than text-show scraping: real article
PDFs are multi-column with running headers/footers, and naive stream-order
extraction interleaves the columns. This module parses the content-stream
TEXT POSITIONING operators (BT/ET, Tm, Td/TD, T*, TL, Tf) to recover each
show-op's page coordinates, then does classic layout analysis:

  1. COLUMN DETECTION — project runs onto the x-axis, merge overlapping
     [x0, x1) extents, and treat every surviving gap ≥ ``min_gutter`` as a
     column gutter (handles any column count, not just two).
  2. READING-ORDER SORT — columns left→right; within a column, lines top→
     bottom (PDF y grows upward), runs in a line left→right; runs whose
     baselines differ by less than half the font size join into one line.
  3. HEADER/FOOTER REMOVAL — a line is a running header/footer iff it sits
     in the top/bottom ``margin_frac`` band AND its normalized text repeats
     at a similar y on most pages (≥60%); single-page documents keep
     everything (no repetition evidence — a title is not a header).

Pure stdlib + the spec (PDF 32000-1 §9.4 text objects). Scope (documented,
tested): upright text (the a/b/c/d matrix terms are ignored — rotated text
keeps only its translation), one content stream per page (the fixture
writer's shape), FlateDecode or plain streams, latin-1/escape strings.
PyMuPDF remains the full-fidelity backend when installable; this makes the
LAYOUT math real and testable without it.

Spark-side: ``extract_pdf_layout`` is the pdf kernel of
``extract.udfs.extract_stage(pdf_mode="layout")``, which decodes the payload
with the simple path's decoder (``core._pdf_bytes``).
"""

from __future__ import annotations

import re
import zlib

from .core import _pdf_unescape

# object streams: reuse the same boundary regex family as extract.core
_STREAM_RE = re.compile(rb"stream\r?\n(.*?)\r?\nendstream", re.S)
_MEDIABOX_RE = re.compile(rb"/MediaBox\s*\[\s*([\d.+-]+)\s+([\d.+-]+)\s+([\d.+-]+)\s+([\d.+-]+)")

# content-stream tokens: string (with escapes), array delims, number, name,
# operator
_TOKEN_RE = re.compile(
    rb"\((?:\\.|[^\\()])*\)"  # string literal incl. escaped parens
    rb"|\[|\]"
    rb"|[-+]?\d*\.?\d+"
    rb"|/[^\s\[\]()<>/]*"
    rb"|[A-Za-z'\"*]+"
)


class Run:
    __slots__ = ("x", "y", "size", "text")

    def __init__(self, x: float, y: float, size: float, text: str) -> None:
        self.x, self.y, self.size, self.text = x, y, size, text

    def __repr__(self) -> str:  # debugging aid
        return f"Run({self.x:.0f},{self.y:.0f},{self.size:.0f},{self.text!r})"


def parse_positioned_runs(data: bytes) -> tuple[list[list[Run]], float]:
    """PDF bytes → (per-page positioned runs, page height).

    Tracks the text-line matrix translation through Tm/Td/TD/T*/TL and
    emits one Run per show op (Tj / TJ / ' / \")."""
    if not data.startswith(b"%PDF-"):
        raise ValueError("not a PDF payload")
    mb = _MEDIABOX_RE.search(data)
    page_h = float(mb.group(4)) if mb else 792.0

    pages: list[list[Run]] = []
    for sm in _STREAM_RE.finditer(data):
        raw = sm.group(1)
        try:
            raw = zlib.decompress(raw)
        except zlib.error:
            pass
        runs: list[Run] = []
        # text state
        x = y = 0.0      # current line origin (translation of Tlm)
        tl = 0.0         # leading
        size = 12.0      # font size
        stack: list[bytes] = []  # operand accumulator

        def popn(n: int) -> list[float]:
            vals = []
            for tok in stack[-n:]:
                try:
                    vals.append(float(tok))
                except ValueError:
                    vals.append(0.0)
            return vals if len(vals) == n else [0.0] * n

        def show(parts: list[bytes]) -> None:
            text = "".join(_pdf_unescape(p[1:-1]) for p in parts)
            if text:
                runs.append(Run(x, y, size, text))

        in_array: list[bytes] | None = None
        for tok in _TOKEN_RE.finditer(raw):
            t = tok.group(0)
            if t == b"[":
                in_array = []
            elif t == b"]":
                stack.append(b"]")  # marker; TJ consumes in_array
            elif t.startswith(b"("):
                if in_array is not None:
                    in_array.append(t)
                else:
                    stack.append(t)
            elif t[:1] in b"-+.0123456789" or t.startswith(b"/"):
                if in_array is None:
                    stack.append(t)
            elif t == b"BT":
                x = y = 0.0
                stack.clear()
            elif t == b"ET":
                stack.clear()
            elif t == b"Tm":
                a_, b_, c_, d_, e_, f_ = popn(6)
                x, y = e_, f_  # upright text: keep the translation
                stack.clear()
            elif t == b"Td":
                tx, ty = popn(2)
                x, y = x + tx, y + ty
                stack.clear()
            elif t == b"TD":
                tx, ty = popn(2)
                tl = -ty
                x, y = x + tx, y + ty
                stack.clear()
            elif t == b"TL":
                (tl,) = popn(1)
                stack.clear()
            elif t == b"T*":
                y -= tl
                stack.clear()
            elif t == b"Tf":
                (size,) = popn(1)
                stack.clear()
            elif t == b"Tj":
                if stack and stack[-1].startswith(b"("):
                    show([stack[-1]])
                stack.clear()
            elif t == b"TJ":
                if in_array is not None:
                    show(in_array)
                in_array = None
                stack.clear()
            elif t in (b"'", b'"'):
                y -= tl
                if stack and stack[-1].startswith(b"("):
                    show([stack[-1]])
                stack.clear()
            else:
                # any other operator ends its operands
                stack.clear()
        if runs:
            pages.append(runs)
    if not pages:
        raise ValueError("no parsable PDF content streams")
    return pages, page_h


def _approx_width(r: Run) -> float:
    # average latin glyph advance ≈ 0.5 em — good enough for gutter finding
    return max(len(r.text) * 0.5 * r.size, r.size)


def _columns(runs: list[Run], min_gutter: float) -> list[list[Run]]:
    """Merge x-extents; gaps ≥ min_gutter split columns (any column count)."""
    if not runs:
        return []
    extents = sorted((r.x, r.x + _approx_width(r)) for r in runs)
    merged: list[list[float]] = [list(extents[0])]
    for x0, x1 in extents[1:]:
        if x0 - merged[-1][1] < min_gutter:
            merged[-1][1] = max(merged[-1][1], x1)
        else:
            merged.append([x0, x1])
    cols: list[list[Run]] = [[] for _ in merged]
    for r in runs:
        for i, (x0, _x1) in enumerate(merged):
            if r.x < _x1 + 1e-9 and r.x >= x0 - 1e-9:
                cols[i].append(r)
                break
        else:  # numeric edge: assign to nearest start
            cols[min(range(len(merged)), key=lambda i: abs(merged[i][0] - r.x))].append(r)
    return cols


def _lines(col: list[Run]) -> list[tuple[float, str]]:
    """Group a column's runs into (y, text) lines: same line when baselines
    differ by < half the font size; runs in a line join left→right."""
    out: list[tuple[float, str]] = []
    for r in sorted(col, key=lambda r: (-r.y, r.x)):
        if out and abs(out[-1][0] - r.y) < 0.5 * max(r.size, 1.0):
            out[-1] = (out[-1][0], out[-1][1] + " " + r.text)
        else:
            out.append((r.y, r.text))
    return out


def reading_order_text(
    pages: list[list[Run]],
    page_h: float,
    min_gutter: float = 18.0,
    margin_frac: float = 0.08,
    strip_headers: bool = True,
) -> str:
    """Layout-analyzed text: columns left→right, lines top→bottom, running
    headers/footers removed (see module docstring for the rule)."""
    # pass 1: identify repeating margin lines across pages
    def norm(s: str) -> str:
        return re.sub(r"\d+", "#", s.strip().lower())  # page numbers vary

    margin_counts: dict[str, int] = {}
    if strip_headers and len(pages) > 1:
        for runs in pages:
            seen = set()
            for r in runs:
                if r.y >= page_h * (1 - margin_frac) or r.y <= page_h * margin_frac:
                    seen.add(norm(r.text))
            for k in seen:
                margin_counts[k] = margin_counts.get(k, 0) + 1
    threshold = max(2, int(0.6 * len(pages)))
    drop = {k for k, n in margin_counts.items() if n >= threshold}

    out_pages: list[str] = []
    for runs in pages:
        kept = [
            r
            for r in runs
            if not (
                (r.y >= page_h * (1 - margin_frac) or r.y <= page_h * margin_frac)
                and norm(r.text) in drop
            )
        ]
        col_texts: list[str] = []
        for col in _columns(kept, min_gutter):
            lines = _lines(col)
            if lines:
                col_texts.append("\n".join(t for _, t in lines))
        if col_texts:
            out_pages.append("\n".join(col_texts) + "\n")
    return "\n".join(out_pages)


def extract_pdf_layout(data: bytes) -> str:
    """PDF bytes → layout-analyzed text (columns in reading order, running
    headers/footers stripped). Raises ValueError on non-PDF payloads."""
    pages, page_h = parse_positioned_runs(data)
    return reading_order_text(pages, page_h)

