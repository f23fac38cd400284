"""Scalar extraction kernels (E1-E4) — the convert_to_txt semantics.

These are the batch-local, genuinely-custom kernels that run inside the
Arrow extraction stage (see udfs.py). Semantics match the reference's
``convert_to_txt`` stage byte-for-byte (reference
tables/paper_text_table.py:43-105):

  * HTML → text: stream-parse with the stdlib ``html.parser`` tokenizer; a
    ``<p>``-paragraph state machine (case-insensitive tags, non-re-entrant on
    nested ``<p>``, per-paragraph ``strip()``, empty paragraphs skipped,
    paragraphs joined with ``"\\n"``, no paragraphs ⇒ ``""``).
  * PDF → text: PyMuPDF ``page.get_text()`` per page joined with ``"\\n"``
    when the library is present; otherwise a deterministic minimal parser for
    uncompressed PDF text streams (clearly marked fallback — the synthetic
    fixtures only ever produce such PDFs, so engine/oracle parity holds).
  * txt/json → text: ``bytes.decode("utf-8", errors="ignore")``.
  * unknown kind ⇒ ``""`` (row subsequently dropped, reference
    paper_text_table.py:153-155).

Beyond the reference (north star), each kernel also emits **span offsets** —
``(start, end)`` character offsets of every extracted segment in the decoded
source payload — and an Arc90/Readability-style main-content scorer is
available as an *additional* signal (readability.py); the equality oracle
remains the ``<p>``/PyMuPDF baseline above.
"""

from __future__ import annotations

import base64
import re
import zlib
from html.parser import HTMLParser

Span = tuple[int, int]

# --------------------------------------------------------------------------
# HTML (E1) — reference tables/paper_text_table.py:43-65, 82-88
# --------------------------------------------------------------------------


class _ParagraphCollector(HTMLParser):
    """``<p>``-paragraph state machine with source-span tracking.

    Same observable text semantics as the reference's ParagraphExtractor
    (reference tables/paper_text_table.py:43-65); additionally records, for
    each emitted paragraph, the character range of its raw content region in
    the decoded source: from just after the opening ``<p...>`` tag to the
    ``<`` of the closing ``</p>``.
    """

    def __init__(self, line_starts: list[int]) -> None:
        super().__init__()
        self._line_starts = line_starts
        self._inside = False
        self._chunks: list[str] = []
        self._span_start = 0
        self.paragraphs: list[str] = []
        self.spans: list[Span] = []

    def _offset(self) -> int:
        line, col = self.getpos()
        return self._line_starts[line - 1] + col

    def handle_starttag(self, tag: str, attrs) -> None:  # noqa: ANN001
        if tag.lower() == "p" and not self._inside:
            self._inside = True
            self._chunks = []
            raw = self.get_starttag_text() or "<p>"
            self._span_start = self._offset() + len(raw)

    def handle_startendtag(self, tag: str, attrs) -> None:  # noqa: ANN001
        # ``<p/>`` — html.parser reports it via handle_startendtag only; the
        # reference's ParagraphExtractor (which overrides neither) treats it
        # as start-then-end via the default implementation, so mirror that.
        self.handle_starttag(tag, attrs)
        self.handle_endtag(tag)

    def handle_endtag(self, tag: str) -> None:
        if tag.lower() == "p" and self._inside:
            paragraph = "".join(self._chunks).strip()
            end = self._offset()
            if paragraph:
                self.paragraphs.append(paragraph)
                self.spans.append((min(self._span_start, end), end))
            self._inside = False
            self._chunks = []

    def handle_data(self, data: str) -> None:
        if self._inside:
            self._chunks.append(data)


def _decode_utf8_ignore(data: str | bytes) -> str:
    if isinstance(data, bytes):
        return data.decode("utf-8", errors="ignore")
    return data


def _line_starts(s: str) -> list[int]:
    starts = [0]
    idx = s.find("\n")
    while idx != -1:
        starts.append(idx + 1)
        idx = s.find("\n", idx + 1)
    return starts


# --- fast path -------------------------------------------------------------
# html.parser tokenizes at ~20 MB/s/core; most real documents contain none of
# the constructs where its behavior is subtle (entities, comments, CDATA,
# script/style/textarea/title content models, declarations). For those, a
# C-speed regex tag scan emulates the <p>-state machine EXACTLY; anything
# suspicious falls back to the parser. Parity is enforced by a property test
# (tests/test_extract_core.py) comparing both paths.

_FAST_TAG_RE = re.compile(r"<(/?)([a-zA-Z][a-zA-Z0-9]*)((?:[^>\"']|\"[^\"]*\"|'[^']*')*)(/?)>")
# html.parser's only CDATA content elements are script/style
# (HTMLParser.CDATA_CONTENT_ELEMENTS); title/textarea parse as normal tags
_FAST_UNSAFE_RE = re.compile(r"(?i)&|<[!?]|\r|<script|<style")


# r8: the old standalone `_FAST_UNSAFE_RE.search` screen was ~40% of the
# fast-path kernel (multi-char alternation scanning). It is now folded into
# the main loop: '&' and '\r' stay as two C memchr passes up front; '<!'
# and '<?' never match _FAST_TAG_RE, so their '<' lands in an inter-tag gap
# and the existing stray-'<' gap check bails identically; <script>/<style>
# elements bail on the matched tag NAME. A '<script'/'<!' inside a QUOTED
# attribute no longer bails, which is safe: html.parser treats it as a
# plain attribute value of a non-p tag — exactly what the fast loop does
# (the old screen was conservative there, falling back to the parser for
# the same result; parity property test covers both paths).


def _fast_html_extract(html: str) -> tuple[str, list[Span]] | None:
    """Regex twin of _ParagraphCollector; None ⇒ caller must use the parser.

    r8 micro-shape (semantics unchanged, enforced by the parser-parity
    property test): the unsafe screen uses C substring finds; the tag loop
    only allocates the group tuple for p-tags (checked via the name group's
    span) and detects stray '<' in inter-tag gaps with a bounded str.find
    instead of slicing every gap."""
    if "&" in html or "\r" in html:
        return None
    paragraphs: list[str] = []
    spans: list[Span] = []
    inside = False
    chunks: list[str] = []
    span_start = 0
    pos = 0

    def end_p(at: int) -> None:
        nonlocal inside, chunks
        paragraph = "".join(chunks).strip()
        if paragraph:
            paragraphs.append(paragraph)
            spans.append((min(span_start, at), at))
        inside = False
        chunks = []

    find = html.find
    for m in _FAST_TAG_RE.finditer(html):
        mstart = m.start()
        if find("<", pos, mstart) != -1:  # stray '<' — html.parser treats it specially
            return None
        if inside and mstart > pos:
            chunks.append(html[pos:mstart])
        s2, e2 = m.span(2)
        n_name = e2 - s2
        if n_name == 5 or n_name == 6:
            nm = html[s2:e2].lower()
            if nm == "script" or nm == "style":
                return None  # CDATA content elements — parser semantics
        if n_name == 1 and html[s2] in "pP":
            closing, _name, attrs, selfclose = m.groups()
            # the greedy attrs group may swallow the self-closing '/'
            if not selfclose and attrs.endswith("/"):
                if attrs == "/" or attrs[-2].isspace():
                    selfclose, attrs = "/", attrs[:-1]
                else:
                    return None  # '<p x=y/>' — parser semantics subtle
            if closing and selfclose:
                return None  # '</p/>' — parser behavior subtle, bail out
            if attrs and not attrs[0].isspace() and attrs[0] != "/":
                return None  # '<p-x>' etc: parser reads a LONGER tag name
            if closing:
                if inside:
                    end_p(mstart)
            else:
                if not inside:
                    inside = True
                    chunks = []
                    span_start = m.end()
                if selfclose and inside:
                    # <p/> ⇒ start-then-end (html.parser handle_startendtag)
                    end_p(mstart)
        pos = m.end()
    tail = html[pos:]
    if "<" in tail:
        return None
    if inside and tail:
        chunks.append(tail)
    if not paragraphs:
        return "", []
    return "\n".join(paragraphs), spans


def extract_html(data: str | bytes) -> tuple[str, list[Span]]:
    """HTML bytes/str → (joined paragraphs, spans). ``""`` if no paragraphs."""
    html = _decode_utf8_ignore(data)
    fast = _fast_html_extract(html)
    if fast is not None:
        return fast
    collector = _ParagraphCollector(_line_starts(html))
    collector.feed(html)
    collector.close()
    if not collector.paragraphs:
        return "", []
    return "\n".join(collector.paragraphs), collector.spans


# --------------------------------------------------------------------------
# PDF (E2) — reference tables/paper_text_table.py:68-79
# --------------------------------------------------------------------------

try:  # pragma: no cover - availability depends on the environment
    import fitz  # type: ignore

    HAVE_FITZ = True
except Exception:  # pragma: no cover
    fitz = None
    HAVE_FITZ = False

_PDF_STREAM_RE = re.compile(rb"stream\r?\n(.*?)endstream", re.DOTALL)
_PDF_TJ_RE = re.compile(rb"\((?:[^()\\]|\\.)*\)\s*Tj|\[(?:[^\]\\]|\\.)*\]\s*TJ")
_PDF_STR_RE = re.compile(rb"\((?:[^()\\]|\\.)*\)")


_PDF_ESC_RE = re.compile(rb"\\(n|r|t|b|f|\(|\)|\\|[0-7]{1,3})")
_PDF_ESC_MAP = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _pdf_unescape(raw: bytes) -> str:
    """PDF string-literal unescape in ONE regex pass (incl. \\ddd octal).

    Sequential str.replace passes corrupt literal backslashes: in
    ``(C:\\\\nightly)`` the ``\\n`` rule would fire INSIDE the escaped
    ``\\\\`` before the ``\\\\`` rule ran (review r3 — both this and the
    layout parser's former copy had the bug)."""

    def _rep(m: "re.Match[bytes]") -> bytes:
        g = m.group(1)
        mapped = _PDF_ESC_MAP.get(g)
        return mapped if mapped is not None else bytes([int(g, 8) & 0xFF])

    return _PDF_ESC_RE.sub(_rep, raw).decode("latin-1")


def _fallback_pdf_text(data: bytes) -> str:
    """DETERMINISTIC FALLBACK (PyMuPDF absent in this container).

    Parses text-show operators (``(..) Tj`` / ``[..] TJ``) out of PDF content
    streams (inflating FlateDecode streams when needed), one output line per
    text-show, a trailing newline per non-empty page, pages joined with
    ``"\\n"`` — mirroring the shape of PyMuPDF's default ``get_text()``
    output for the simple single-column synthetic PDFs used in fixtures.
    Real scanned/layout PDFs require PyMuPDF; this fallback makes the Spark
    plumbing (binary transport, batching, dispatch) fully testable without it.
    """
    if not data.startswith(b"%PDF-"):
        raise ValueError("not a PDF payload")  # fitz.open raises likewise
    pages: list[str] = []
    for m in _PDF_STREAM_RE.finditer(data):
        raw = m.group(1)
        try:
            raw = zlib.decompress(raw)
        except zlib.error:
            pass
        lines: list[str] = []
        for tm in _PDF_TJ_RE.finditer(raw):
            parts = _PDF_STR_RE.findall(tm.group(0))
            text = "".join(_pdf_unescape(p[1:-1]) for p in parts)
            lines.append(text)
        if lines:
            pages.append("\n".join(lines) + "\n")
    if not pages:
        # a %PDF- header with no parsable content stream: fitz would raise on
        # such a file; surface it as a conversion failure, not empty text
        raise ValueError("no parsable PDF content streams")
    return "\n".join(pages)


def extract_pdf(data: bytes) -> tuple[str, list[Span]]:
    """PDF bytes → (text, spans). Spans are empty for binary sources."""
    if HAVE_FITZ:  # pragma: no cover - not installed in this container
        chunks: list[str] = []
        with fitz.open(stream=data, filetype="pdf") as doc:
            for page in doc:
                chunks.append(page.get_text())
        return "\n".join(chunks), []
    return _fallback_pdf_text(data), []


# --------------------------------------------------------------------------
# txt / json (E3) — reference tables/paper_text_table.py:91-104
# --------------------------------------------------------------------------


def decode_utf8_ignore(data: str | bytes) -> tuple[str, list[Span]]:
    text = _decode_utf8_ignore(data)
    return text, ([(0, len(text))] if text else [])


# --------------------------------------------------------------------------
# dispatch (E4) — reference tables/paper_text_table.py:95-105
# --------------------------------------------------------------------------

_B64_PDF_PREFIX = "JVBERi0"  # base64 of b"%PDF-"


def _pdf_bytes(document: str | bytes) -> bytes:
    """A pdf payload as bytes: a string starting ``JVBERi0`` is base64
    (lenient: line-wrapped base64 decodes), any other string is latin-1,
    bytes pass through. Invalid base64 raises ``binascii.Error`` (a
    ``ValueError``): it IS a conversion failure, which the caller counts in
    lineage rows_failed (the reference logs and skips)."""
    if isinstance(document, str):
        if document.startswith(_B64_PDF_PREFIX):
            return base64.b64decode(document)
        return document.encode("latin-1", errors="ignore")
    return bytes(document)


def to_text(document_type: str | None, document: str | bytes | None) -> tuple[str, list[Span]]:
    """Type dispatch: pdf/html/txt/json else ``""``.

    String payloads typed ``pdf`` may be base64-encoded (parquet string
    transport of binary content); raw ``%PDF-`` byte payloads pass through.
    """
    if document is None:
        return "", []
    kind = (document_type or "").lower()
    if kind == "pdf":
        return extract_pdf(_pdf_bytes(document))
    if kind == "html":
        return extract_html(document)
    if kind in ("txt", "json"):
        return decode_utf8_ignore(document)
    return "", []


# --------------------------------------------------------------------------
# payload-kind classifier (S2 analog) — reference paper_document_table.py:60-70
# classifies by content sniffing instead of content-type header; the Spark
# plan uses the native-expression twin in udfs.py (classify_payload_col) so
# classification stays JVM-side.
# --------------------------------------------------------------------------

# any tag-like token (no space after "<", so "a < b" stays txt); json is
# sniffed before html so markup embedded in JSON strings doesn't misfire
_HTML_SNIFF_RE = re.compile(r"(?is)<(?:!doctype\s+html|/?[a-z][a-z0-9]*)[\s>/]")

# content sniffing looks at a bounded prefix only (classify cost must not
# scale with payload size; must match udfs.classify_payload_col)
SNIFF_PREFIX = 512


def classify_payload(text: str | None) -> str:
    if text is None:
        return "txt"
    head = text[:SNIFF_PREFIX]
    if head.startswith("%PDF-") or head.startswith(_B64_PDF_PREFIX):
        return "pdf"
    # strip the same ASCII whitespace set as Java's \s (the JVM twin's
    # regexp_replace(^\s+)): a bare .lstrip() is Unicode-aware, so
    # '\xa0{...}' would classify json here but txt JVM-side
    stripped = head.lstrip(" \t\n\r\x0b\x0c")
    if stripped[:1] in ("{", "["):
        return "json"
    if _HTML_SNIFF_RE.search(head):
        return "html"
    return "txt"
