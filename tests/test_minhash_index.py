"""MaintainedMinHashIndex: incremental near-dup detection against a
persistent signature index (round 7, VERDICT r6 #2)."""

from __future__ import annotations

import hashlib
import itertools
import re

import pytest

from article_extraction_spark.operators.minhash_index import (
    MINHASH_P,
    MaintainedMinHashIndex,
    minhash_params,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank"),
    (1, "the quick brown fox jumps over the lazy cat near the river bank"),
    (2, "completely unrelated text about cooking pasta with tomato sauce"),
    (3, "spark shuffles data between stages during wide transformations"),
    (4, "the quick brown fox jumps over the lazy dog near the river bend"),
    (5, "spark shuffles data between stages during wide transformation phases"),
    (6, ""),  # shingle-less: skipped by design
]


def _py_sig(text: str, num_hashes: int, shingle_n: int = 3) -> list[int] | None:
    toks = [w for w in re.split(r"[^a-z0-9]+", text.lower().strip()) if w]
    if not toks:
        return None
    if len(toks) <= shingle_n - 1:
        sh = {" ".join(toks)}
    else:
        sh = {" ".join(toks[i : i + shingle_n]) for i in range(len(toks) - shingle_n + 1)}
    base = [int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % MINHASH_P for g in sh]
    return [min((a * h + b) % MINHASH_P for h in base) for a, b in minhash_params(num_hashes)]


def _py_pairs(docs, num_hashes, bands, min_matches):
    r = num_hashes // bands
    sigs = {d: s for d, t in docs if (s := _py_sig(t, num_hashes)) is not None}
    out = {}
    for a, b in itertools.combinations(sorted(sigs), 2):
        sa, sb = sigs[a], sigs[b]
        collide = any(sa[i * r : (i + 1) * r] == sb[i * r : (i + 1) * r] for i in range(bands))
        if not collide:
            continue
        n = sum(1 for x, y in zip(sa, sb) if x == y)
        if n >= min_matches:
            out[(a, b)] = n
    return out


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_incremental_ingest_matches_python_twin(spark, tmp_path):
    """Two-batch ingest finds exactly the LSH-candidate pairs whose
    signature agreement clears the threshold — verified against a pure
    python twin of the whole pipeline (signatures, bands, verification)."""
    idx = MaintainedMinHashIndex(str(tmp_path / "mh"), num_hashes=16, bands=8)
    s1 = idx.ingest(spark, _df(spark, DOCS[:3]), threshold=0.5)
    s2 = idx.ingest(spark, _df(spark, DOCS[3:]), threshold=0.5)
    assert s1["new_docs"] == 3 and s2["new_docs"] == 3  # doc 6 shingle-less
    got = {
        (r["id_a"], r["id_b"]): r["n_matches"]
        for r in s1["pairs"].unionByName(s2["pairs"]).collect()
    }
    want = _py_pairs(DOCS, 16, 8, s1["min_matches"])
    assert got == want and got  # non-empty: 0/1, 0/4, 3/5 are near-dups
    assert (0, 1) in got and (3, 5) in got
    s1["pairs"].unpersist()
    s2["pairs"].unpersist()


def test_replay_to_zero_and_skip_accounting(spark, tmp_path):
    """Re-ingesting an already-indexed batch is a no-op: zero new docs,
    zero pairs, and the serving layout does not grow."""
    idx = MaintainedMinHashIndex(str(tmp_path / "mh"), num_hashes=16, bands=8)
    s1 = idx.ingest(spark, _df(spark, DOCS))
    n_serving = idx._read_serving(spark).count()
    s2 = idx.ingest(spark, _df(spark, DOCS))
    # doc 6 is tokenless: never indexed, so never counted as existing
    assert s2["new_docs"] == 0 and s2["skipped_existing"] == len(DOCS) - 1
    assert s2["pairs"].count() == 0
    assert idx._read_serving(spark).count() == n_serving
    s1["pairs"].unpersist()
    s2["pairs"].unpersist()


def test_crash_between_serving_and_sigs_self_heals(spark, tmp_path):
    """Durable order is serving-append THEN sig-merge: a crash between
    leaves orphan band rows that the retry re-pairs and dedups — the
    batch is still found as near-dups afterwards, with no self-pairs
    and no duplicate pairs."""
    idx = MaintainedMinHashIndex(str(tmp_path / "mh"), num_hashes=16, bands=8)
    idx.ingest(spark, _df(spark, DOCS[:3]))["pairs"].unpersist()

    real_merge = idx.sigs.merge
    def dying_merge(*a, **k):
        raise RuntimeError("simulated crash after serving append")
    idx.sigs.merge = dying_merge
    with pytest.raises(RuntimeError, match="simulated crash"):
        idx.ingest(spark, _df(spark, DOCS[3:]))
    idx.sigs.merge = real_merge

    # retry the same batch: docs 3-5 are NOT in sigs, so they re-ingest;
    # their orphan serving rows must not produce self-pairs or dup pairs
    s = idx.ingest(spark, _df(spark, DOCS[3:]))
    rows = s["pairs"].collect()
    assert s["new_docs"] == 3
    assert all(r["id_a"] < r["id_b"] for r in rows)
    keys = [(r["id_a"], r["id_b"]) for r in rows]
    assert len(keys) == len(set(keys))  # dedup across orphan band rows
    want = _py_pairs(DOCS, 16, 8, s["min_matches"])
    got = {(r["id_a"], r["id_b"]): r["n_matches"] for r in rows}
    # pairs involving the retried batch match the twin exactly
    want_batch = {k: v for k, v in want.items() if k[0] >= 3 or k[1] >= 3}
    assert got == want_batch and (3, 5) in got
    s["pairs"].unpersist()


def test_doc_stored_twice_counts_once(spark, tmp_path):
    """A signature table holding one doc_id twice counts that doc once in
    the batch and yields each of its verified pairs once."""
    from pyspark.sql import functions as F

    idx = MaintainedMinHashIndex(str(tmp_path / "mh"), num_hashes=16, bands=8)
    idx.ingest(spark, _df(spark, DOCS[:3]))["pairs"].unpersist()
    idx.sigs.append(idx.sigs.read(spark).where(F.col("doc_id") == 0))
    assert idx.sigs.read(spark).where(F.col("doc_id") == 0).count() == 2

    s = idx.ingest(spark, _df(spark, DOCS))
    # docs 0-2 are stored; doc 6 is tokenless, so never stored
    assert s["skipped_existing"] == 3 and s["new_docs"] == 3
    keys = [(r["id_a"], r["id_b"]) for r in s["pairs"].collect()]
    assert len(keys) == len(set(keys)) and (0, 4) in keys
    s["pairs"].unpersist()


def test_probe_scan_is_partition_pruned(spark, tmp_path):
    """The vs-index candidate join reads the serving layout with a
    planning-time bucket filter (PartitionFilters), the BM25 pattern."""
    from pyspark.sql import functions as F

    idx = MaintainedMinHashIndex(str(tmp_path / "mh"), num_hashes=16, bands=8, n_buckets=32)
    idx.ingest(spark, _df(spark, DOCS[:6]))["pairs"].unpersist()
    probe = [1, 5, 9]
    scan = idx._read_serving(spark).where(F.col("bucket").isin(probe))
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan


def test_parameter_and_type_pins(spark, tmp_path):
    idx = MaintainedMinHashIndex(str(tmp_path / "mh"), num_hashes=16, bands=8)
    idx.ingest(spark, _df(spark, DOCS[:2]))["pairs"].unpersist()
    with pytest.raises(ValueError, match="different parameters"):
        MaintainedMinHashIndex(str(tmp_path / "mh"), num_hashes=32, bands=8)
    with pytest.raises(ValueError, match="doc_id_type"):
        idx.ingest(spark, spark.createDataFrame([("x", "text")], "doc_id string, text string"))
    with pytest.raises(ValueError, match="threshold"):
        idx.ingest(spark, _df(spark, DOCS[:1]), threshold=0.0)
    with pytest.raises(ValueError, match="divisible"):
        MaintainedMinHashIndex(str(tmp_path / "mh2"), num_hashes=10, bands=4)


def test_probe_mode_does_not_pin_meta(spark, tmp_path):
    """Review r7: a commit=False probe must not mutate the index — a
    crashed probe with a wrongly-typed id column used to pin
    doc_id_type on the empty index forever."""
    import json
    import os

    idx = MaintainedMinHashIndex(str(tmp_path / "mh"), num_hashes=16, bands=8)
    st = idx.ingest(spark, _df(spark, DOCS[:2]), commit=False)
    st["pairs"].unpersist()
    with open(os.path.join(idx.root, "index_meta.json")) as f:
        assert "doc_id_type" not in json.load(f)
    # nothing committed either
    assert idx.sigs.current_snapshot_id() is None
    assert not os.path.isdir(idx.serving_dir)
    # a committed ingest with a DIFFERENT id type is still fine afterwards
    sdocs = spark.createDataFrame([("a", DOCS[0][1])], "doc_id string, text string")
    idx.ingest(spark, sdocs)["pairs"].unpersist()
    with open(os.path.join(idx.root, "index_meta.json")) as f:
        assert json.load(f)["doc_id_type"] == "string"


def test_broadcast_gate_counts_doc_id_bytes(spark, tmp_path, monkeypatch):
    """The broadcast hint on the batch's band rows is gated on their cached
    bytes, not their row count: eight docs with 20 kB ids make 64 band rows
    of about 1.3 MB, over a lowered 256 kB limit, so no join is hinted;
    under the default limit the same batch is."""
    from article_extraction_spark.operators import minhash_index

    rows = [("x" * 20_000 + str(i), f"the quick brown fox jumps over dog {i}") for i in range(8)]

    def hinted(name: str) -> bool:
        idx = MaintainedMinHashIndex(str(tmp_path / name), num_hashes=16, bands=8)
        s = idx.ingest(spark, spark.createDataFrame(rows, "doc_id string, text string"))
        plan = s["pairs"]._jdf.queryExecution().analyzed().toString()
        s["pairs"].unpersist()
        return "strategy=broadcast" in plan

    assert hinted("default")
    monkeypatch.setattr(minhash_index, "BROADCAST_MAX_BYTES", 256 * 1024)
    assert not hinted("lowered")
