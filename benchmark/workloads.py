"""Seeded input generators and their goldens.

Every generator builds each payload together with the text the extraction
must produce for it, from the content it injects; no golden is computed by
running the engine. Inputs are written to zstd-compressed parquet with the
engine's transcripts schema. The same seed always yields the same inputs.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import shutil
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

Key = tuple[str, int]

ARROW_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)

_VOCAB = (
    "spark arrow shuffle partition catalyst codegen parquet iceberg lineage "
    "transcript paragraph extraction boilerplate density window stride token "
    "salt skew broadcast anti join resume checkpoint snapshot metric turn "
    "executor driver stage task record batch kernel boundary exchange sink"
).split()
_ROLES = ("user", "assistant", "tool")
_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


@dataclass
class Corpus:
    table: pa.Table
    golden: dict[Key, str]  # only turns whose expected text is non-empty


def _table(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows))
    return pa.Table.from_arrays([pa.array(c, t.type) for c, t in zip(cols, ARROW_SCHEMA)], schema=ARROW_SCHEMA)


def bulk_html(seed: int, n_turns: int, turns_per_conv: int = 40) -> Corpus:
    """≈1 KB payloads: 70% html on the regex fast path, 15% txt, 15% json."""
    rng = random.Random(seed)
    rows, golden = [], {}
    for i in range(n_turns):
        conv_id, turn_idx = f"conv-{i // turns_per_conv:06d}", i % turns_per_conv
        a = " ".join(rng.choices(_VOCAB, k=rng.randint(55, 70)))
        u = rng.random()
        if u < 0.70:
            b = " ".join(rng.choices(_VOCAB, k=rng.randint(40, 55)))
            text = (
                "<html><head><title>report</title></head><body><nav>home docs</nav>"
                f"<p>{a}</p>\n<p class=\"body\">  {b}  </p><footer>footer</footer></body></html>"
            )
            expected = f"{a}\n{b}"
        elif u < 0.85:
            text = expected = a
        else:
            text = expected = json.dumps({"n": turn_idx, "text": a}, sort_keys=True)
        ts = _EPOCH + dt.timedelta(seconds=turn_idx)
        rows.append((conv_id, turn_idx, _ROLES[turn_idx % 3], text, None, ts))
        golden[(conv_id, turn_idx)] = expected
    rng.shuffle(rows)
    return Corpus(_table(rows), golden)


def synth_mix(seed: int, n_convs: int, turns_per_conv: int, mega_conv: bool) -> Corpus:
    """The engine's ``fixtures.synth`` templates (html 50% incl. entity,
    nested and unclosed cases, base64 pdf 15%, txt 25%, json 10%), whose
    goldens are built from the injected content."""
    from article_extraction_spark.fixtures.synth import synth_transcripts

    rows, golden_rows = synth_transcripts(n_convs, turns_per_conv, seed=seed, mega_conv=mega_conv)
    return Corpus(_table(rows), {(c, t): e for c, t, e in golden_rows})


def _rekey(corpus: Corpus, prefix: str) -> Corpus:
    conv = pa.array([prefix + c for c in corpus.table.column("conv_id").to_pylist()])
    table = corpus.table.set_column(0, "conv_id", conv)
    return Corpus(table, {(prefix + c, t): e for (c, t), e in corpus.golden.items()})


def stream_files(seed: int, n_files: int, turns_per_file: int, pool: int = 4) -> list[Corpus]:
    """One mixed corpus per trickle file. Payloads cycle through ``pool``
    seeded corpora; every file gets its own conversation ids."""
    base = [synth_mix(seed * 100_003 + j, turns_per_file // 20, 20, False) for j in range(pool)]
    return [_rekey(base[i % pool], f"f{i:04d}-") for i in range(n_files)]


def write_parquet(table: pa.Table, out_dir: str, n_files: int) -> None:
    """(Re)write ``out_dir`` as ``n_files`` zstd parquet files."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(out_dir, f"part-{i:05d}.parquet"), compression="zstd")


@dataclass
class Verdict:
    attempted: int
    failed: int
    problems: list[str]


def compare(golden: dict[Key, str], attempted: int, got: pa.Table) -> Verdict:
    """Per-turn text equality joined on (conv_id, turn_idx): every golden
    turn present once with equal text, and no turn the golden lacks."""
    seen: set[Key] = set()
    mismatched = extra = duplicated = 0
    for conv_id, turn_idx, text in zip(
        got.column("conv_id").to_pylist(),
        got.column("turn_idx").to_pylist(),
        got.column("extracted_text").to_pylist(),
    ):
        key = (conv_id, turn_idx)
        if key in seen:
            duplicated += 1
            continue
        seen.add(key)
        expected = golden.get(key)
        if expected is None:
            extra += 1
        elif expected != text:
            mismatched += 1
    missing = sum(1 for k in golden if k not in seen)
    problems = [
        f"{n} {what} turns"
        for n, what in ((missing, "missing"), (mismatched, "mismatched"), (extra, "extra"), (duplicated, "duplicated"))
        if n
    ]
    return Verdict(attempted, missing + mismatched + extra + duplicated, problems)
