"""E10: embedding encode with dedupe-before-encode.

The reference memoizes embeddings in a dict (scores.py:61, 105-123) — at
cluster scale the cache becomes a JOIN: distinct texts → encode once → join
back. The encoder here is a deterministic fake (no model libs in this
container): digest-derived unit vector, mean-pool + L2-normalize shape
(reference scores.py:142-154). Swap the kernel for a real model per worker;
the plan is unchanged.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def fake_encoder_udf(dim: int = 16):
    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def _encode(texts: pd.Series) -> pd.Series:
        out = []
        for text in texts:
            digest = hashlib.sha256((text or "").encode("utf-8")).digest()
            need = dim * 4
            buf = (digest * (need // len(digest) + 1))[:need]
            vals = [int.from_bytes(buf[4 * i : 4 * i + 4], "big") / 2**31 - 1.0 for i in range(dim)]
            norm = sum(v * v for v in vals) ** 0.5 or 1.0
            out.append([float(v / norm) for v in vals])
        return pd.Series(out)

    return _encode


def encode_texts_deduped(
    df: DataFrame, text_col: str, encoder=None, out_col: str = "embedding"
) -> DataFrame:
    """Dedupe-before-encode (E10): encode each DISTINCT text once, join back.
    The join is a hash join on the text value — for long texts, swap the key
    to md5(text) to shrink shuffle keys (done here)."""
    encoder = encoder or fake_encoder_udf()
    key = F.md5(F.coalesce(F.col(text_col), F.lit("")).cast("binary")).alias("_tkey")
    keyed = df.withColumn("_tkey", key)
    uniq = keyed.select("_tkey", F.col(text_col)).dropDuplicates(["_tkey"])
    encoded = uniq.select("_tkey", encoder(F.col(text_col)).alias(out_col))
    return keyed.join(encoded, "_tkey", "left").drop("_tkey")

