"""Deterministic transcripts fixtures + independently-constructed goldens.

Every payload template *constructs its expected extraction output directly
from the content it injects* (not by running the engine), so the pytest
parity check (engine output == golden) is a genuine two-sided oracle per
FIXTURES.md §2-3. Seeded, no wall-clock, no network.

Payload mix per FIXTURES.md §1: html ~50%, pdf-b64 ~15%, txt ~25%, json ~10%.
Includes ≥1 mega-conversation (≥100× median turns) for the skew test.
"""

from __future__ import annotations

import base64
import datetime as dt
import json
import random
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline.partitioning import fan_out_small_scan
from ..schemas import TRANSCRIPTS_SCHEMA

_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

_VOCAB = (
    "spark arrow shuffle partition catalyst codegen parquet iceberg lineage "
    "transcript paragraph extraction boilerplate density window stride token "
    "salt skew broadcast anti join resume checkpoint snapshot metric turn"
).split()


# --------------------------------------------------------------------------
# synthetic PDF bytes (uncompressed + flate variants)
# --------------------------------------------------------------------------


def make_pdf_bytes(lines: list[str], compress: bool = False) -> bytes:
    """Minimal valid one-page PDF showing ``lines`` as text operators."""
    ops = ["BT", "/F1 12 Tf", "72 720 Td", "14 TL"]
    for i, line in enumerate(lines):
        esc = line.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")
        if i:
            ops.append("T*")
        ops.append(f"({esc}) Tj")
    ops.append("ET")
    stream = "\n".join(ops).encode("latin-1")
    filt = b""
    if compress:
        stream = zlib.compress(stream)
        filt = b" /Filter /FlateDecode"
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 4 0 R "
        b"/Resources << /Font << /F1 5 0 R >> >> >>",
        b"<< /Length " + str(len(stream)).encode() + filt + b" >>\nstream\n" + stream + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n0000000000 65535 f \n".encode()
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\nstartxref\n{xref_at}\n%%EOF\n"
    ).encode()
    return bytes(out)


def make_layout_pdf_bytes(
    pages: list[list[list[str]]],
    header: str | None = None,
    footer: str | None = None,
    compress: bool = False,
    col_x: tuple = (50, 330),
    page_h: int = 792,
) -> bytes:
    """Multi-page, multi-COLUMN PDF with positioned text (Tm operators) and
    optional running header/footer — the layout-analysis fixture
    (extract/pdf_layout.py). ``pages`` = per page, per column, list of
    lines. Lines are placed bottom of a 720-start ladder, 14pt leading."""
    streams = []
    for pno, cols in enumerate(pages):
        ops = ["BT", "/F1 12 Tf"]
        if header:
            ops.append(f"1 0 0 1 {col_x[0]} {page_h - 30} Tm")
            ops.append(f"({_pdf_escape(header + ' ' + str(pno + 1))}) Tj")
        if footer:
            ops.append(f"1 0 0 1 {col_x[0]} 25 Tm")
            ops.append(f"({_pdf_escape(footer + ' ' + str(pno + 1))}) Tj")
        for ci, lines in enumerate(cols):
            xpos = col_x[ci % len(col_x)]
            for li, line in enumerate(lines):
                ops.append(f"1 0 0 1 {xpos} {720 - 14 * li} Tm")
                ops.append(f"({_pdf_escape(line)}) Tj")
        ops.append("ET")
        stream = "\n".join(ops).encode("latin-1")
        filt = b""
        if compress:
            stream = zlib.compress(stream)
            filt = b" /Filter /FlateDecode"
        streams.append((stream, filt))

    n_pages = len(streams)
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    objs: list[bytes] = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode(),
    ]
    font_obj_num = 3 + 2 * n_pages
    for i, (stream, filt) in enumerate(streams):
        objs.append(
            (
                f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 {page_h}] "
                f"/Contents {4 + 2 * i} 0 R /Resources << /Font << /F1 "
                f"{font_obj_num} 0 R >> >> >>"
            ).encode()
        )
        objs.append(
            b"<< /Length " + str(len(stream)).encode() + filt + b" >>\nstream\n" + stream + b"\nendstream"
        )
    objs.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")

    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n0000000000 65535 f \n".encode()
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\nstartxref\n{xref_at}\n%%EOF\n"
    ).encode()
    return bytes(out)


def _pdf_escape(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


# --------------------------------------------------------------------------
# payload templates — each returns (payload_text, expected_extracted_text)
# expected values are constructed from the injected content, matching the
# reference convert_to_txt semantics (reference tables/paper_text_table.py:
# 43-105) *by construction*, never by running the engine.
# --------------------------------------------------------------------------


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_VOCAB) for _ in range(n))


def _html_payload(rng: random.Random) -> tuple[str, str]:
    kind = rng.randrange(11)
    a, b, c = _words(rng, 4), _words(rng, 3), _words(rng, 2)
    if kind == 0:  # plain paragraphs
        return f"<p>{a}</p><p>{b}</p>", f"{a}\n{b}"
    if kind == 1:  # nested <p> — non-re-entrant guard
        return f"<div><p>{a}<p>{b}</p>{c}</p></div>", f"{a}{b}"
    if kind == 2:  # uppercase tags
        return f"<P>{a}</P>", a
    if kind == 3:  # unclosed <p> → never emitted → row dropped
        return f"<p>{a}", ""
    if kind == 4:  # whitespace-only paragraph skipped
        return f"<p>   </p><p>{b}</p>", b
    if kind == 5:  # text outside <p> ignored
        return f"{c}<p>{a}</p>{c}", a
    if kind == 6:  # no <p> at all → "" → row dropped
        return f"<div>{a}</div>", ""
    if kind == 7:  # entities decoded by the tokenizer
        return f"<p>{a} &amp; {b}</p>", f"{a} & {b}"
    if kind == 8:  # inline <br> does not break the paragraph
        return f"<p>{a}<br>{b}</p>", f"{a}{b}"
    if kind == 9:  # attributes on <p>; stray </p>
        return f'</p><p class="x" id="y">{a}</p>', a
    # padded content is stripped per paragraph
    return f"<p>  {a}  </p>\n<p>{b}</p>", f"{a}\n{b}"


def _txt_payload(rng: random.Random) -> tuple[str, str]:
    text = _words(rng, rng.randint(3, 40))
    return text, text


def _json_payload(rng: random.Random) -> tuple[str, str]:
    payload = json.dumps(
        {"summary": _words(rng, 5), "n": rng.randint(0, 99), "tags": _words(rng, 2).split()},
        sort_keys=True,
    )
    return payload, payload


def _pdf_payload(rng: random.Random) -> tuple[str, str]:
    lines = [_words(rng, rng.randint(2, 6)) for _ in range(rng.randint(1, 4))]
    data = make_pdf_bytes(lines, compress=rng.random() < 0.3)
    expected = "\n".join(lines) + "\n"  # one page, one text block
    return base64.b64encode(data).decode("ascii"), expected


_ROLES = ("user", "assistant", "tool")


def synth_transcripts(
    n_convs: int = 50,
    turns_per_conv: int = 20,
    seed: int = 42,
    mega_conv: bool = True,
) -> tuple[list[tuple], list[tuple]]:
    """Returns (transcript_rows, golden_rows).

    transcript_rows: (conv_id, turn_idx, role, text, tool, ts) — returned in a
    deterministically *shuffled* order so ordering must be recovered by key,
    never from file order (FIXTURES.md §1).
    golden_rows: (conv_id, turn_idx, expected_text) — rows whose expected
    extraction is empty are ABSENT (reference drops empty conversions,
    tables/paper_text_table.py:153-155).
    """
    rng = random.Random(seed)
    rows: list[tuple] = []
    golden: list[tuple] = []
    conv_sizes = [(f"conv-{i:06d}", turns_per_conv + rng.randint(-5, 5)) for i in range(n_convs)]
    if mega_conv:
        conv_sizes.append((f"conv-{n_convs:06d}-mega", turns_per_conv * 100))
    for conv_id, n_turns in conv_sizes:
        for turn_idx in range(n_turns):
            u = rng.random()
            if u < 0.50:
                payload, expected = _html_payload(rng)
            elif u < 0.65:
                payload, expected = _pdf_payload(rng)
            elif u < 0.90:
                payload, expected = _txt_payload(rng)
            else:
                payload, expected = _json_payload(rng)
            role = _ROLES[turn_idx % 3]
            tool = f"tool-{rng.randrange(5)}" if role == "tool" else None
            ts = _EPOCH + dt.timedelta(minutes=turn_idx)
            rows.append((conv_id, turn_idx, role, payload, tool, ts))
            if expected:
                golden.append((conv_id, turn_idx, expected))
    rng.shuffle(rows)
    return rows, golden


def transcripts_df(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    return spark.createDataFrame(rows, schema=TRANSCRIPTS_SCHEMA)


def golden_df(spark: SparkSession, golden: list[tuple]) -> DataFrame:
    return spark.createDataFrame(
        golden, schema="conv_id string, turn_idx int, expected_text string"
    )


def transcripts_from_documents(spark: SparkSession, sf_dir: str, convs: int = 500) -> DataFrame:
    """Build a transcripts table from the driver's ``documents`` parquet —
    Spark-native (no Python boundary), deterministic, used by entry()/bench.

    Each document becomes one turn; documents are dealt round-robin into
    ``convs`` conversations; payload kind cycles html/txt/json by doc_id.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    conv = F.concat(F.lit("conv-"), F.lpad((F.col("doc_id") % convs).cast("string"), 6, "0"))
    kind = F.col("doc_id") % 3
    payload = (
        F.when(kind == 0, F.concat(F.lit("<p>"), F.col("text"), F.lit("</p><p>lang: "), F.col("lang"), F.lit("</p>")))
        .when(kind == 1, F.col("text"))
        .otherwise(F.to_json(F.struct(F.col("text").alias("t"), F.col("lang").alias("l"))))
    )
    return docs.select(
        conv.alias("conv_id"),
        (F.col("doc_id") / convs).cast("int").alias("turn_idx"),
        F.element_at(F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")), (F.col("doc_id") % 3 + 1).cast("int")).alias("role"),
        payload.alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("ts"),
    )


def amplified_transcripts(
    spark: SparkSession, sf_dir: str, reps: int = 40, convs: int = 2000, text_reps: int = 3
) -> DataFrame:
    """Bench corpus: documents × reps turns, Spark-native and deterministic.

    Each (doc, rep) becomes a turn whose payload wraps the doc text
    (repeated ``text_reps``× for realistic payload sizes) as html/txt/json
    keyed by (doc_id + rep) % 3. Turn count = |documents| · reps.
    """
    # a small parquet is a single input split; spread BEFORE the 40× explode
    # or the whole amplified corpus lives in one partition and every
    # downstream stage starts from a serial scan
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    docs = fan_out_small_scan(docs)
    fat = F.concat_ws(" ", F.array_repeat(F.col("text"), text_reps))
    exploded = docs.select(
        "doc_id", fat.alias("t"), F.explode(F.sequence(F.lit(0), F.lit(reps - 1))).alias("rep")
    )
    key = F.col("doc_id") * reps + F.col("rep")
    # extraction corpora are markup-dominated (the reference corpus is
    # html/pdf articles): ~70% html, 15% txt, 15% json
    mix = (F.col("doc_id") + F.col("rep")) % 10
    kind = F.when(mix < 7, 0).when(mix < 9, 1).otherwise(2)
    payload = (
        F.when(
            kind == 0,
            F.concat(
                F.lit("<html><head><title>x</title></head><body><nav>menu</nav><p>"),
                F.col("t"),
                F.lit("</p><p>rep "),
                F.col("rep").cast("string"),
                F.lit("</p><footer>f</footer></body></html>"),
            ),
        )
        .when(kind == 1, F.col("t"))
        .otherwise(F.to_json(F.struct(F.col("t").alias("text"), F.col("rep").alias("rep"))))
    )
    return exploded.select(
        F.concat(F.lit("conv-"), F.lpad((key % convs).cast("string"), 7, "0")).alias("conv_id"),
        (key / convs).cast("int").alias("turn_idx"),
        F.element_at(
            F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")), (key % 3 + 1).cast("int")
        ).alias("role"),
        payload.alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("ts"),
    )
