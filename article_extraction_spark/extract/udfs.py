"""Vectorized (Arrow-batched) Spark surface of the extraction kernels.

Per BASELINE.json ``input_hint``: Arrow-batched Python only, no per-row
Python UDFs. Classification stays entirely JVM-side (native column
expressions); only the genuinely-custom kernels (HTML state machine, PDF
parse and layout analysis, utf-8-ignore decode, readability scoring) cross
into Python, and they do so only through ONE stage, ``extract_stage``: a
single ``mapInArrow`` that the batch pipeline, the streaming pipeline, the
corpus job and the driver queries all share. The kernel modules (core.py,
pdf_layout.py, readability.py) are pure Python and import no Spark.
"""

from __future__ import annotations

import functools
import zlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import SPAN_TYPE
from .core import SNIFF_PREFIX, _decode_utf8_ignore, _pdf_bytes, to_text
from .pdf_layout import extract_pdf_layout
from .readability import readability_row

_EXTRACT_FIELDS = [
    T.StructField("extracted_text", T.StringType(), True),
    T.StructField("spans", SPAN_TYPE, True),
    T.StructField("extract_error", T.StringType(), True),
]
# readability.readability_row's four values, in its tuple order
READABILITY_COLUMNS = ["readability_text", "readability_blocks", "readability_max_score", "link_density"]
_READABILITY_FIELDS = [
    T.StructField(name, dtype, True)
    for name, dtype in zip(
        READABILITY_COLUMNS, [T.StringType(), T.IntegerType(), T.DoubleType(), T.DoubleType()]
    )
]


def classify_payload_col(text: Column) -> Column:
    """Native-expression payload-kind sniffing (S2 analog, reference
    tables/paper_document_table.py:60-70) — whole-stage-codegen friendly,
    no Python boundary. Must agree with core.classify_payload.

    Sniffs only the first SNIFF_PREFIX chars: regex-scanning full multi-KB
    payloads dominated the classify stage at bench scale, and content
    sniffing is a prefix property (a document whose first markup appears
    beyond the prefix is effectively text-leading anyway).
    """
    head = F.substring(text, 1, SNIFF_PREFIX)
    # NB: F.ltrim strips only ' ' — python lstrip (the twin) strips all
    # whitespace; use a regex so both agree on '\n{'-style payloads
    stripped = F.regexp_replace(head, r"^\s+", "")
    return (
        F.when(text.isNull(), F.lit("txt"))
        .when(
            head.startswith("%PDF-") | head.startswith("JVBERi0"),
            F.lit("pdf"),
        )
        .when(
            stripped.startswith("{") | stripped.startswith("["),
            F.lit("json"),
        )
        .when(
            head.rlike(r"(?is)<(?:!doctype\s+html|/?[a-z][a-z0-9]*)[\s>/]"),
            F.lit("html"),
        )
        .otherwise(F.lit("txt"))
    )


# -- the extraction stage -----------------------------------------------------
# mapInArrow consumes the record batch directly and assembles the spans column
# from flat int arrays (one ListArray/StructArray build per batch). A pandas
# UDF pays twice per batch instead: Series iteration on input and a
# python-dict-per-span list on output that pandas→Arrow converts object by
# object (round 8, 32-core host: +17 µs/row on a 22 µs/row kernel).


def _layout_to_text(kind: str | None, data):
    """pdf_mode="layout": pdf payloads go through the positioned-run parser
    (extract/pdf_layout.py — column detection, reading order, header/footer
    removal; spans not applicable for binary sources); every other kind is
    the simple path. A pdf payload that does not decode or parse fails as
    "undecodable PDF payload"."""
    if kind != "pdf":
        return to_text(kind, data)
    try:
        return extract_pdf_layout(_pdf_bytes(data)), []
    except (TypeError, ValueError, zlib.error) as exc:  # TypeError: a null payload
        raise ValueError("undecodable PDF payload") from exc


def extract_map_in_arrow(batches, pdf_mode: str = "simple", with_readability: bool = False):
    """The mapInArrow body of ``extract_stage``. Consumes ``doc_kind`` and
    ``text``; every other column passes through untouched, followed by
    extracted_text, spans, extract_error (and READABILITY_COLUMNS with
    ``with_readability``).

    Conversion failures don't fail the task: the row carries the error and
    is dropped downstream while lineage counts it (the reference logs and
    continues, tables/paper_text_table.py:150-152)."""
    import pyarrow as pa

    kernel = _layout_to_text if pdf_mode == "layout" else to_text
    span_fields = [
        pa.field("start", pa.int32(), nullable=False),
        pa.field("end", pa.int32(), nullable=False),
    ]
    for batch in batches:
        kinds = batch.column("doc_kind").to_pylist()
        texts = batch.column("text").to_pylist()
        out_texts: list[str] = []
        errors: list[str | None] = []
        starts: list[int] = []
        ends: list[int] = []
        offsets: list[int] = [0]
        for kind, data in zip(kinds, texts):
            err = None
            try:
                text, sp = kernel(kind, data)
            except Exception as exc:  # noqa: BLE001
                text, sp, err = "", [], f"{type(exc).__name__}: {exc}"[:500]
            out_texts.append(text)
            for s, e in sp:
                starts.append(s)
                ends.append(e)
            offsets.append(len(starts))
            errors.append(err)
        spans = pa.ListArray.from_arrays(
            pa.array(offsets, pa.int32()),
            pa.StructArray.from_arrays(
                [pa.array(starts, pa.int32()), pa.array(ends, pa.int32())],
                fields=span_fields,
            ),
        )
        names = [n for n in batch.schema.names if n != "text"]
        columns = [batch.column(n) for n in names]
        names += ["extracted_text", "spans", "extract_error"]
        columns += [pa.array(out_texts, pa.string()), spans, pa.array(errors, pa.string())]
        if with_readability:
            # Arc90-style main-content signal for html rows only (extra
            # columns — the equality oracle stays the <p> path)
            rd = [
                readability_row(_decode_utf8_ignore(data)) if kind == "html" else None
                for kind, data in zip(kinds, texts)
            ]
            names += READABILITY_COLUMNS
            columns += [
                pa.array([None if r is None else r[i] for r in rd], dtype)
                for i, dtype in enumerate([pa.string(), pa.int32(), pa.float64(), pa.float64()])
            ]
        yield pa.RecordBatch.from_arrays(columns, names=names)


def extract_stage(
    df: DataFrame, pdf_mode: str = "simple", with_readability: bool = False
) -> DataFrame:
    """convert_to_txt (E1-E4) as one mapInArrow over ``df(doc_kind, text,
    ...)``, where ``text`` is a string or binary payload column. ``text`` is
    consumed; every other column passes through; extracted_text, spans and
    extract_error are appended, and with ``with_readability`` also
    READABILITY_COLUMNS (null on non-html rows).

    ``pdf_mode``: "simple" (stream-order text, byte-parity with the
    reference's extraction) or "layout" (extract/pdf_layout.py — an
    intentional, opt-in deviation from reference parity)."""
    if pdf_mode not in ("simple", "layout"):
        raise ValueError(f"pdf_mode must be 'simple' or 'layout', got {pdf_mode!r}")
    # pass-through columns come back from Python: declare them nullable
    fields = [T.StructField(f.name, f.dataType, True) for f in df.schema.fields if f.name != "text"]
    fields += _EXTRACT_FIELDS + (_READABILITY_FIELDS if with_readability else [])
    fn = functools.update_wrapper(
        functools.partial(extract_map_in_arrow, pdf_mode=pdf_mode, with_readability=with_readability),
        extract_map_in_arrow,
    )
    return df.mapInArrow(fn, T.StructType(fields))
