"""Golden unit tests for the extraction kernels (E1-E4).

Expected values are hand-computed from the reference semantics
(reference tables/paper_text_table.py:43-105) — FIXTURES.md §3 corpus.
"""

from __future__ import annotations

import base64
import json
import os
import subprocess
import sys

import pytest

from article_extraction_spark.extract.core import (
    classify_payload,
    decode_utf8_ignore,
    extract_html,
    extract_pdf,
    to_text,
)
from article_extraction_spark.fixtures.synth import make_pdf_bytes

HTML_CASES = [
    ("<p>one</p><p>two</p>", "one\ntwo"),
    ("<p>a<p>b</p>c</p>", "ab"),  # nested <p>: non-re-entrant guard
    ("<p>x", ""),  # unclosed: never emitted
    ("</p><p>y</p>", "y"),  # stray close ignored
    ("<P>up</P>", "up"),  # case-insensitive tags
    ("<p>   </p><p>kept</p>", "kept"),  # whitespace-only skipped
    ("outside<p>inner</p>trailing", "inner"),  # text outside <p> ignored
    ("<div>no paragraphs</div>", ""),  # no <p> ⇒ ""
    ("<p>a &amp; b &lt;c&gt;</p>", "a & b <c>"),  # entities decoded
    ("<p>a<br>b</p>", "ab"),  # inline tags transparent
    ('<p class="x" data-y="1">attr</p>', "attr"),
    ("<p>  padded  </p>", "padded"),  # per-paragraph strip
    ("", ""),
    ("<p></p>", ""),  # empty paragraph skipped entirely
    ("<p>first</p>middle<p>second</p>", "first\nsecond"),
    ("<p>a<span>b</span>c</p>", "abc"),  # inline span content kept
]


@pytest.mark.parametrize("html,expected", HTML_CASES)
def test_html_golden(html, expected):
    text, spans = extract_html(html)
    assert text == expected
    assert len(spans) == (len(expected.split("\n")) if expected else 0)


def test_html_nested_unclosed():
    # "<p>a<p>b" — first <p> enters, nested ignored, no close ⇒ nothing emitted
    text, _ = extract_html("<p>a<p>b")
    assert text == ""


def test_html_non_utf8_bytes():
    raw = "<p>café</p>".encode("utf-8")
    broken = raw[:-5] + b"\xff\xfe" + raw[-5:]  # stray invalid bytes
    text, _ = extract_html(broken)
    # errors="ignore" drops the invalid bytes only
    assert text == broken.decode("utf-8", errors="ignore").replace("<p>", "").replace("</p>", "").strip()


def test_html_spans_point_at_content():
    html = "<p>alpha</p>\n<p class='k'>beta</p>"
    text, spans = extract_html(html)
    assert text == "alpha\nbeta"
    (s0, e0), (s1, e1) = spans
    assert html[s0:e0] == "alpha"
    assert html[s1:e1] == "beta"


def test_txt_json_decode():
    text, spans = decode_utf8_ignore(b"plain \xff text")
    assert text == "plain  text"
    assert spans == [(0, len(text))]
    payload = json.dumps({"a": 1})
    assert to_text("json", payload)[0] == payload
    assert to_text("TXT", "x")[0] == "x"  # kind lowered (reference :96)


def test_unknown_kind_empty():
    assert to_text("bin", b"\x00\x01")[0] == ""
    assert to_text(None, "x")[0] == ""
    assert to_text("txt", None)[0] == ""


@pytest.mark.parametrize("compress", [False, True])
def test_pdf_roundtrip(compress):
    lines = ["alpha beta", "gamma (delta)", "back\\slash"]
    data = make_pdf_bytes(lines, compress=compress)
    assert data.startswith(b"%PDF-")
    text, spans = extract_pdf(data)
    assert text == "\n".join(lines) + "\n"
    assert spans == []


def test_pdf_base64_dispatch():
    lines = ["hello pdf"]
    b64 = base64.b64encode(make_pdf_bytes(lines)).decode()
    assert to_text("pdf", b64)[0] == "hello pdf\n"


def _parser_path(html: str):
    """Force the html.parser path (bypassing the fast regex path)."""
    from article_extraction_spark.extract.core import _ParagraphCollector, _line_starts

    c = _ParagraphCollector(_line_starts(html))
    c.feed(html)
    c.close()
    return ("\n".join(c.paragraphs) if c.paragraphs else "", c.spans)


def test_fast_path_parity_on_fixture_corpus():
    from article_extraction_spark.extract.core import _fast_html_extract

    for html, _expected in HTML_CASES:
        fast = _fast_html_extract(html)
        if fast is not None:
            assert fast == _parser_path(html), html


def test_fast_path_parity_property():
    """Randomized parity: on every document the fast path ACCEPTS, it must
    equal the html.parser state machine byte-for-byte (text and spans)."""
    import random

    from article_extraction_spark.extract.core import _fast_html_extract

    rng = random.Random(1234)
    pieces = [
        "<p>", "</p>", "<P>", "</P>", "<p/>", "<p class='x'>", '<p id="a">',
        "<div>", "</div>", "<br>", "<span>", "</span>", "<b>", "</b>",
        "word", " ", "  ", "\n", "two words", "x,y.z", "1 2 3", "()",
        "<p-x>", "<px>", "</p >", "<p >",
    ]
    accepted = 0
    for _ in range(800):
        doc = "".join(rng.choice(pieces) for _ in range(rng.randint(0, 25)))
        fast = _fast_html_extract(doc)
        if fast is None:
            continue
        accepted += 1
        assert fast == _parser_path(doc), repr(doc)
    assert accepted > 400  # the fast path must actually take most documents


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _PIECES = st.sampled_from(
        [
            "<p>", "</p>", "<P>", "</P>", "<p/>", "<p class='x'>", "<div>", "</div>",
            "<br>", "word", " ", "\n", "a & b", "&amp;", "<!--c-->", "x < y",
            "<p >", "</p >", "<p-x>", "text.", "%PDF-", "{", "é",
        ]
    )

    @given(st.lists(_PIECES, max_size=25))
    @settings(max_examples=300, deadline=None, derandomize=True)
    def test_fast_path_parity_hypothesis(parts):
        from article_extraction_spark.extract.core import _fast_html_extract

        doc = "".join(parts)
        fast = _fast_html_extract(doc)
        if fast is not None:
            assert fast == _parser_path(doc)

except ImportError:  # pragma: no cover
    pass


def test_fast_path_rejects_subtle_constructs():
    from article_extraction_spark.extract.core import _fast_html_extract

    for doc in [
        "<p>a &amp; b</p>", "<!-- c --><p>x</p>", "<script><p>s</p></script>",
        "<p>a < b</p>", "<?pi?><p>x</p>", "<p-x>y</p>",
    ]:
        assert _fast_html_extract(doc) is None, doc
    # title/textarea are ordinary tags for html.parser → fast path keeps them
    assert _fast_html_extract("<title><p>t</p></title>") == ("t", [(10, 11)])


def test_classify_payload():
    assert classify_payload("%PDF-1.4 ...") == "pdf"
    assert classify_payload("JVBERi0xLjQK") == "pdf"
    assert classify_payload("<p>x</p>") == "html"
    assert classify_payload("<!DOCTYPE html><html><body>t</body></html>") == "html"
    assert classify_payload("<div>markup without p</div>") == "html"
    assert classify_payload("a < b and c > d") == "txt"
    assert classify_payload('  {"a": 1}') == "json"
    assert classify_payload("[1, 2]") == "json"
    assert classify_payload("plain words") == "txt"
    assert classify_payload(None) == "txt"


def test_fallback_pdf_parity_with_real_fitz():
    """Skip-if-absent parity: on the synthetic corpus the deterministic
    fallback parser must produce the same text as pinned PyMuPDF
    ``page.get_text()`` (reference paper_text_table.py:68-79). Runs wherever
    PyMuPDF (requirements-optional.txt) is installed; this container lacks
    it, so the fallback is the exercised path and this test documents the
    contract it must keep."""
    import pytest

    from article_extraction_spark.extract.core import HAVE_FITZ, _fallback_pdf_text
    from article_extraction_spark.fixtures.synth import make_pdf_bytes

    if not HAVE_FITZ:
        pytest.skip("PyMuPDF not installed (see requirements-optional.txt)")

    import fitz

    cases = [
        ["hello world"],
        ["line one", "line two", "with (parens) and \\ backslash"],
        ["a" * 200, "short"],
    ]
    for compress in (False, True):
        for lines in cases:
            data = make_pdf_bytes(lines, compress=compress)
            with fitz.open(stream=data, filetype="pdf") as doc:
                real = "\n".join(page.get_text() for page in doc)
            assert _fallback_pdf_text(data) == real, (lines, compress)


def test_kernels_import_without_spark_pandas_or_arrow():
    """A fresh interpreter imports the kernels, and with them the package
    ``__init__``, without loading pyspark, pandas or pyarrow."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    probe = (
        "import sys, article_extraction_spark.extract.core; "
        "print(sorted({m.split('.')[0] for m in sys.modules} & {'pyspark', 'pandas', 'pyarrow'}))"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe], cwd=root, capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "[]"
