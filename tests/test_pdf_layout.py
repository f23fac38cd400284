"""PDF layout parser (extract/pdf_layout.py): positioned-run parsing,
column detection, reading-order sort, header/footer removal, and its
kernel in the extraction stage (``extract_stage(pdf_mode="layout")``)."""

from __future__ import annotations

import base64

import pytest

from article_extraction_spark.extract.pdf_layout import (
    extract_pdf_layout,
    parse_positioned_runs,
    reading_order_text,
)
from article_extraction_spark.extract.udfs import _layout_to_text
from article_extraction_spark.fixtures.synth import make_layout_pdf_bytes


def test_two_column_reading_order():
    pdf = make_layout_pdf_bytes(
        pages=[[["A1", "A2", "A3"], ["B1", "B2"]]],
    )
    # stream order interleaves nothing here, but the columns are 280pt
    # apart: entire left column must precede the right column
    assert extract_pdf_layout(pdf) == "A1\nA2\nA3\nB1\nB2\n"


def test_three_columns_and_compression():
    pdf = make_layout_pdf_bytes(
        pages=[[["L1", "L2"], ["M1"], ["R1", "R2"]]],
        col_x=(40, 240, 440),
        compress=True,
    )
    assert extract_pdf_layout(pdf) == "L1\nL2\nM1\nR1\nR2\n"


def test_header_footer_removed_only_when_repeating():
    two = make_layout_pdf_bytes(
        pages=[[["body one"]], [["body two"]]],
        header="Running Head", footer="page",
    )
    out = extract_pdf_layout(two)
    assert "Running Head" not in out and "page" not in out
    assert out == "body one\n\nbody two\n"

    # single page: no repetition evidence — margin text is KEPT (a title in
    # the top band is not a running header)
    one = make_layout_pdf_bytes(pages=[[["body only"]]], header="A Title")
    out1 = extract_pdf_layout(one)
    assert "A Title 1" in out1 and "body only" in out1


def test_interleaved_stream_order_is_fixed_by_layout():
    """Emit runs in stream order R1, L1, R2, L2 (alternating columns) —
    the layout sort must still output the whole left column first."""
    ops = ["BT", "/F1 12 Tf"]
    for x, y, s in [(330, 720, "R1"), (50, 720, "L1"), (330, 706, "R2"), (50, 706, "L2")]:
        ops.append(f"1 0 0 1 {x} {y} Tm")
        ops.append(f"({s}) Tj")
    ops.append("ET")
    # wrap in a minimal single-page shell via the fixture writer's framing
    pdf = make_layout_pdf_bytes(pages=[[[]]])  # shell with empty content
    stream = "\n".join(ops).encode("latin-1")
    # splice our stream into the shell's content object
    head, _, tail = pdf.partition(b"stream\n")
    _, _, tail = tail.partition(b"\nendstream")
    spliced = head + b"stream\n" + stream + b"\nendstream" + tail
    # Length is now wrong but the boundary regex doesn't use it
    assert extract_pdf_layout(spliced) == "L1\nL2\nR1\nR2\n"


def test_td_tstar_and_tj_array_operators():
    """Relative positioning (Td/TD/T*) and TJ arrays with kerning numbers."""
    ops = (
        "BT /F1 12 Tf 14 TL 50 720 Td (first) Tj T* "
        "[(sec) -250 (ond)] TJ 0 -14 Td (third) Tj ET"
    )
    pdf = make_layout_pdf_bytes(pages=[[[]]])
    head, _, tail = pdf.partition(b"stream\n")
    _, _, tail = tail.partition(b"\nendstream")
    spliced = head + b"stream\n" + ops.encode() + b"\nendstream" + tail
    assert extract_pdf_layout(spliced) == "first\nsecond\nthird\n"


def test_lines_join_runs_at_same_baseline():
    pdf = make_layout_pdf_bytes(pages=[[[]]])
    ops = (
        "BT /F1 12 Tf 1 0 0 1 50 700 Tm (left) Tj "
        "1 0 0 1 90 700 Tm (right) Tj ET"
    )
    head, _, tail = pdf.partition(b"stream\n")
    _, _, tail = tail.partition(b"\nendstream")
    spliced = head + b"stream\n" + ops.encode() + b"\nendstream" + tail
    assert extract_pdf_layout(spliced) == "left right\n"


def test_error_paths_and_kernel_wrapper():
    with pytest.raises(ValueError, match="not a PDF"):
        extract_pdf_layout(b"plain text")
    with pytest.raises(ValueError, match="content streams"):
        extract_pdf_layout(b"%PDF-1.4\nno streams here")
    pdf = make_layout_pdf_bytes(pages=[[["hello world"]]])
    # the stage's layout kernel: raw bytes, base64 string, junk, None
    assert _layout_to_text("pdf", pdf) == ("hello world\n", [])
    assert _layout_to_text("pdf", base64.b64encode(pdf).decode()) == ("hello world\n", [])
    for junk in ("definitely not a pdf", "JVBERi0", None):
        with pytest.raises(ValueError, match="^undecodable PDF payload$"):
            _layout_to_text("pdf", junk)


def test_parse_positioned_runs_coordinates():
    pdf = make_layout_pdf_bytes(pages=[[["a", "b"], ["c"]]], col_x=(50, 330))
    pages, page_h = parse_positioned_runs(pdf)
    assert page_h == 792.0 and len(pages) == 1
    coords = {(r.x, r.y, r.text) for r in pages[0]}
    assert (50.0, 720.0, "a") in coords
    assert (50.0, 706.0, "b") in coords
    assert (330.0, 720.0, "c") in coords


def test_spark_pdf_layout_udf(spark):
    """Arrow-batched end-to-end: binary payloads through the extraction
    stage in layout mode; junk fails its row, not the task."""
    from pyspark.sql import functions as F

    from article_extraction_spark.extract.udfs import extract_stage

    pdfs = [
        (1, bytearray(make_layout_pdf_bytes(pages=[[["one L"], ["one R"]]]))),
        (2, bytearray(make_layout_pdf_bytes(
            pages=[[["p1"]], [["p2"]]], header="Head", footer="foot"))),
        (3, bytearray(b"junk payload")),
    ]
    df = spark.createDataFrame(pdfs, "doc_id long, payload binary")
    out = extract_stage(
        df.select("doc_id", F.lit("pdf").alias("doc_kind"), F.col("payload").alias("text")),
        pdf_mode="layout",
    )
    got = {r["doc_id"]: r for r in out.collect()}
    assert got[1]["extracted_text"] == "one L\none R\n"
    assert got[2]["extracted_text"] == "p1\n\np2\n" and "Head" not in got[2]["extracted_text"]
    assert got[3]["extracted_text"] == ""
    assert got[3]["extract_error"] == "ValueError: undecodable PDF payload"
    assert got[1]["extract_error"] is None and got[1]["spans"] == []


def test_extract_stage_pdf_mode_layout(spark):
    """Over the pipeline's classify projection, pdf_mode='layout' routes
    PDF turns through the layout parser (columns in reading order), the
    default mode keeps the stream-order fallback; both leave html/txt
    turns identical."""
    import base64
    import datetime as dt

    from article_extraction_spark.extract.udfs import extract_stage
    from article_extraction_spark.pipeline.convert import classify_turns

    pdf = make_layout_pdf_bytes(pages=[[["colA x", "colA y"], ["colB x"]]])
    ts = dt.datetime(2024, 1, 1)
    rows = [
        ("c1", 0, "user", base64.b64encode(pdf).decode(), None, ts),
        ("c1", 1, "assistant", "<p>hello html</p>", None, ts),
        ("c1", 2, "tool", "plain text", None, ts),
    ]
    t = classify_turns(spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    ))
    layout = {r["turn_idx"]: r["extracted_text"]
              for r in extract_stage(t, pdf_mode="layout").collect()}
    assert layout[0] == "colA x\ncolA y\ncolB x\n"
    assert layout[1] == "hello html" and layout[2] == "plain text"

    simple = {r["turn_idx"]: r["extracted_text"]
              for r in extract_stage(t).collect()}
    # default path: stream-order Tj scrape (same content, no column sort
    # guarantees; here stream order equals layout order)
    assert "colA x" in simple[0]
    assert simple[1] == layout[1] and simple[2] == layout[2]

    import pytest

    with pytest.raises(ValueError, match="pdf_mode"):
        extract_stage(t, pdf_mode="bogus")


def test_pdf_string_unescape_single_pass():
    """review r3: sequential replaces corrupted literal backslashes —
    (C:\\\\nightly) must unescape to C:\\nightly, not C:<LF>ightly; octal
    escapes decode too."""
    from article_extraction_spark.extract.core import _pdf_unescape

    assert _pdf_unescape(rb"C:\\nightly\\results") == r"C:\nightly\results"
    assert _pdf_unescape(rb"a\(b\)c\\d") == r"a(b)c\d"
    assert _pdf_unescape(rb"\101\102\103") == "ABC"
    assert _pdf_unescape(rb"line\nbreak\ttab") == "line\nbreak\ttab"

    # end-to-end: a shown string containing escaped backslash-n
    pdf = make_layout_pdf_bytes(pages=[[[r"C:\nightly"]]])
    assert extract_pdf_layout(pdf) == "C:\\nightly\n"


def test_pdf_layout_accepts_wrapped_base64():
    """review r3: line-wrapped base64 (MIME transport) must decode like the
    simple path does."""
    import base64 as b64

    pdf = make_layout_pdf_bytes(pages=[[["wrapped ok"]]])
    wrapped = b64.encodebytes(pdf).decode()  # newline every 76 chars
    assert "\n" in wrapped.strip()
    assert _layout_to_text("pdf", wrapped) == ("wrapped ok\n", [])
