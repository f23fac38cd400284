"""BENCHMARK.json agrees with what the benchmark prints; generators are
seeded; the golden comparison and the small helpers behave."""

import json
import os

import pyarrow as pa

import run
from layers import PER_LAYER
from tracing import Tracer, union_seconds
from workloads import bulk_html, compare, stream_files

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_benchmark_json_matches_the_metric_tables():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        doc = json.load(fh)
    assert {m["name"]: m["unit"] for m in doc["end_to_end"]} == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in doc["per_layer"]} == PER_LAYER
    assert {w["name"] for w in doc["workloads"]} == set(run.WORKLOADS)


def test_generators_are_seeded():
    a, b, c = bulk_html(3, 200), bulk_html(3, 200), bulk_html(4, 200)
    assert a.table.equals(b.table) and a.golden == b.golden
    assert not a.table.equals(c.table)
    files = stream_files(3, 6, 40)
    assert len({k for f in files for k in f.golden}) == sum(len(f.golden) for f in files)


def test_bulk_goldens_agree_with_the_kernels():
    from article_extraction_spark.extract.core import _fast_html_extract, classify_payload, to_text

    corpus = bulk_html(5, 300)
    rows = zip(
        corpus.table.column("conv_id").to_pylist(),
        corpus.table.column("turn_idx").to_pylist(),
        corpus.table.column("text").to_pylist(),
    )
    for conv_id, turn_idx, text in rows:
        kind = classify_payload(text)
        assert kind != "pdf"
        if kind == "html":
            assert _fast_html_extract(text) is not None
        assert to_text(kind, text)[0] == corpus.golden[(conv_id, turn_idx)]


def _got(rows):
    conv, turn, text = zip(*rows)
    return pa.table({"conv_id": conv, "turn_idx": pa.array(turn, pa.int32()), "extracted_text": text})


def test_compare_counts_missing_mismatched_extra_and_duplicated():
    golden = {("a", 0): "x", ("a", 1): "y", ("b", 0): "z"}
    assert compare(golden, 4, _got([("a", 0, "x"), ("a", 1, "y"), ("b", 0, "z")])).failed == 0
    v = compare(golden, 4, _got([("a", 0, "x"), ("a", 0, "x"), ("a", 1, "Y"), ("c", 0, "w")]))
    assert v.failed == 4 and len(v.problems) == 4  # dup, mismatch, extra, missing b/0


def test_tail_needs_ten_samples_beyond():
    assert run.tail([1.0, 2.0, 3.0])[0] == 3.0
    values = [float(i) for i in range(100)]
    assert run.tail(values) == (89.0, "p90 of n=100")


def test_union_and_spans():
    assert union_seconds([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_seconds([(0, 2)], 1, 10) == 1
    t = Tracer("r", True)
    with t.span("outer"):
        with t.span("inner"):
            pass
    assert [s["parent"] for s in t.spans] == [None, 0]
    off = Tracer("r", False)
    with off.span("x"):
        pass
    assert off.spans == []
