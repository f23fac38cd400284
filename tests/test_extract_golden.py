"""Frozen extraction goldens: the always-on byte-for-byte check of the
extraction stage (the reference-parity tests skip without a reference
checkout).

``golden/extract_snapshot.json`` holds ``extracted_text``, ``spans`` and
``extract_error`` (plus byte/char counts and the readability columns) for
the synthetic fixtures, the FIXTURES.md §3 edge cases and a few binary
payloads, in each extraction mode. It was written by the engine as it stood
before its extraction paths were unified; a kernel change that is meant to
alter outputs regenerates it, from the root of the repository, with

    PYTHONPATH=. python tests/test_extract_golden.py --write
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import sys

from article_extraction_spark.fixtures.synth import (
    make_layout_pdf_bytes,
    make_pdf_bytes,
    synth_transcripts,
    transcripts_df,
)

SNAPSHOT = os.path.join(os.path.dirname(__file__), "golden", "extract_snapshot.json")
# extract_stage options over convert's classify projection; "simple" is
# convert_transcripts itself
MODES = {
    "simple": None,
    "layout": {"pdf_mode": "layout"},
    "readability": {"with_readability": True},
}
_INLINE_CHARS = 2048  # longer texts are stored as a digest


def transcript_rows() -> list[tuple]:
    """Synthetic turns plus the FIXTURES.md §3 edge cases, as transcripts."""
    rows, _ = synth_transcripts(n_convs=4, turns_per_conv=10, seed=2024, mega_conv=False)
    two_col = make_layout_pdf_bytes(
        pages=[[["left one", "left two"], ["right one"]], [["left three"], ["right two"]]],
        header="Running Head",
        footer="page",
    )
    edges = [
        "<p>one</p><p>two</p>",
        "<p>a<p>b</p>c</p>",                                  # nested, non-re-entrant
        "<p>unclosed",
        "</p>stray<p>x</p>",
        "<P>upper</P>",
        "<p>   </p><p>ws</p>",                                # whitespace-only paragraph
        "outside <p>inside</p> outside",
        "<div>no p at all</div>",
        "<p>a &amp; b<br>c &lt; d</p>",                       # entities, <br>
        "",
        None,
        "<p>" + "multi megabyte turn " * 110_000 + "</p>",
        "JVBERi0xLjQKJSVFT0Y=",                               # undecodable pdf
        "%PDF-garbage",
        base64.b64encode(two_col).decode("ascii"),            # layout-sensitive pdf
        "<nav><a href='/'>home</a> <a href='/x'>menu</a></nav><article><p>The main body "
        "text, long enough to score, with commas, clauses, and more words here.</p>"
        "</article><footer>foot</footer>",
        "<div><a href='#'>link one</a> <a href='#'>link two</a></div><p>short</p>",
        '{"k": "<p>not html</p>"}',
        "naïve café — ünïcödé 🙂",
        "<!DOCTYPE html><html><body><p>doctype page</p></body></html>",
    ]
    ts = rows[0][5]
    rows += [("edge", i, "user", text, None, ts) for i, text in enumerate(edges)]
    return rows


def binary_rows() -> list[tuple]:
    """(id, doc_kind, document) with a binary payload column."""
    return [
        (0, "html", b"<p>caf\xe9 \xff ok</p><p>second</p>"),
        (1, "pdf", make_pdf_bytes(["binary pdf line", "another line"])),
        (2, "txt", b"plain \xfe\xff bytes"),
        (3, "json", None),
        (4, "unknown", b"<p>never extracted</p>"),
    ]


def _text(s):
    if s is None or len(s) <= _INLINE_CHARS:
        return s
    return f"sha256:{hashlib.sha256(s.encode()).hexdigest()}:{len(s)}"


def _canon(row) -> dict:
    d = row.asDict()
    d["extracted_text"] = _text(d["extracted_text"])
    d["spans"] = [[s["start"], s["end"]] for s in d["spans"]]
    if "readability_text" in d:
        d["readability_text"] = _text(d["readability_text"])
    return d


def convert_snapshot(spark, mode) -> list[dict]:
    from pyspark.sql import functions as F

    from article_extraction_spark.extract.udfs import extract_stage
    from article_extraction_spark.pipeline.convert import classify_turns, convert_transcripts

    t = transcripts_df(spark, transcript_rows())
    if mode is None:
        out = convert_transcripts(t, num_partitions=4, drop_empty=False)
    else:
        out = extract_stage(classify_turns(t), **mode).withColumn(
            "n_extracted_chars", F.length("extracted_text").cast("long")
        )
    return sorted((_canon(r) for r in out.collect()), key=lambda d: (d["conv_id"], d["turn_idx"]))


def binary_snapshot(spark) -> list[dict]:
    from article_extraction_spark.extract.udfs import extract_stage

    docs = spark.createDataFrame(binary_rows(), "id int, doc_kind string, text binary")
    out = extract_stage(docs).select("id", "extracted_text", "spans", "extract_error")
    return sorted((_canon(r) for r in out.collect()), key=lambda d: d["id"])


def _load() -> dict:
    with open(SNAPSHOT) as fh:
        return json.load(fh)


def test_convert_modes_match_snapshot(spark):
    golden = _load()
    for mode, kwargs in MODES.items():
        got = convert_snapshot(spark, kwargs)
        assert len(got) == len(golden[mode]), mode
        for g, want in zip(got, golden[mode]):
            assert g == want, (mode, g["conv_id"], g["turn_idx"])


def test_binary_payloads_match_snapshot(spark):
    assert binary_snapshot(spark) == _load()["binary"]


def test_streaming_equals_batch(spark, tmp_path):
    """streaming_extract and convert_transcripts produce the same rows on
    the same input, spans included."""
    from article_extraction_spark.pipeline.convert import convert_transcripts
    from article_extraction_spark.streaming.ingest import run_available_now, streaming_extract

    src = str(tmp_path / "in")
    transcripts_df(spark, transcript_rows()).write.parquet(src)
    run_available_now(streaming_extract(spark, src), str(tmp_path / "out"), str(tmp_path / "ckpt"))
    cols = ["conv_id", "turn_idx", "doc_kind", "extracted_text", "spans"]
    streamed = spark.read.parquet(str(tmp_path / "out")).select(*cols)
    batch = convert_transcripts(spark.read.parquet(src), num_partitions=4).select(*cols)
    key = lambda r: (r["conv_id"], r["turn_idx"])  # noqa: E731
    s, b = sorted(streamed.collect(), key=key), sorted(batch.collect(), key=key)
    assert len(s) == len(b) > 0
    assert s == b
    assert "ts" in spark.read.parquet(str(tmp_path / "out")).columns


if __name__ == "__main__":  # pragma: no cover - regenerates the snapshot
    if sys.argv[1:] != ["--write"]:
        sys.exit("usage: PYTHONPATH=. python tests/test_extract_golden.py --write")
    from article_extraction_spark.session import get_spark

    session = get_spark(master="local[2]")
    snap = {mode: convert_snapshot(session, kw) for mode, kw in MODES.items()}
    snap["binary"] = binary_snapshot(session)
    os.makedirs(os.path.dirname(SNAPSHOT), exist_ok=True)
    with open(SNAPSHOT, "w") as fh:
        json.dump(snap, fh, indent=1, ensure_ascii=False, sort_keys=True)
        fh.write("\n")
