"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Decode coverage (round 4): raw-rgb8 / pcm16 AND compressed PNG /
baseline + progressive JPEG / WAV are REAL decodes. Backend order is
NATIVE-FIRST: when PIL / soundfile import successfully they are
preferred even for in-scope formats (libjpeg/libpng/libsndfile are
10²–10³× faster than the pure-Python entropy loops at corpus scale); the
stdlib spec codecs in functions/codecs.py (zlib+filters PNG, from-spec
huffman+IDCT JPEG incl. progressive since round 5, ``wave`` WAV) are the
zero-dependency fallback that keeps decode real in this container.
Out-of-scope variants for the stdlib path (CMYK/arithmetic JPEG,
16-bit/Adam7 PNG, FLAC, ...) also route to the native backend,
surfacing a per-row decode_error when it is absent. Round 5: the generic
feature stage (extract_media_features_arrow) runs the REAL decodes too
(pooled pixel stats / RMS features via the same dispatchers); the digest vector
survives only as the per-row fallback for payloads nothing can decode,
labeled feature_src='digest'.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.IntegerType(), True),
    ]
)

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("content_hash", T.StringType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
        # which kernel produced `feature`: image | audio | digest | null
        T.StructField("feature_src", T.StringType(), True),
    ]
)


def _digest_feature(payload, dim: int = 8) -> list[float]:
    """Deterministic digest FALLBACK feature for payloads no available
    decoder accepts (unknown kind, absent optional backend, corrupt
    bytes): a stable unit-norm vector from the sha256 digest. Real,
    decoded features are the primary path (`_feature_kernel`, round 5)."""
    if payload is None:
        return [0.0] * dim
    digest = hashlib.sha256(payload).digest()
    vals = [int.from_bytes(digest[4 * i : 4 * i + 4], "big") / 2**32 for i in range(dim)]
    norm = sum(v * v for v in vals) ** 0.5 or 1.0
    return [float(v / norm) for v in vals]


def _feature_kernel(payloads, kinds, mimes, widths, heights):
    """The per-payload kernel of `extract_media_features_arrow`. Round 5:
    features are REAL decoded statistics —

      * image → per-channel mean + std of the decoded pixels (6) plus
        log-scaled height/width (2), via `_decode_image` (native-first,
        stdlib spec-codec fallback);
      * audio → rms, peak, zero-crossing rate, sample mean/std,
        log-scaled length, via `_decode_audio`;
      * anything undecodable (video without a backend, corrupt bytes,
        unknown mime) → the digest fallback, labeled in feature_src.

    ``payloads`` may be any buffer-protocol objects (bytes, bytearray,
    Arrow-buffer memoryviews) — hashing/sizing never copies; only a
    decode converts to ``bytes`` once.
    Returns (n_bytes, content_hashes, features, feature_src) lists."""
    import math

    import numpy as np

    n_bytes, hashes, feats, srcs = [], [], [], []
    for p, kind, mime, w, h in zip(payloads, kinds, mimes, widths, heights):
        if p is None:
            n_bytes.append(0)
            hashes.append(None)
            feats.append([0.0] * 8)
            srcs.append("null")
            continue
        n_bytes.append(len(p))
        hashes.append(hashlib.sha256(p).hexdigest())
        try:
            if kind == "image":
                img = _decode_image(mime, p, w, h)
                flat = img.reshape(-1, 3).astype(np.float64) / 255.0
                mean, std = flat.mean(axis=0), flat.std(axis=0)
                feats.append(
                    [float(x) for x in mean]
                    + [float(x) for x in std]
                    + [math.log1p(img.shape[0]) / 10.0, math.log1p(img.shape[1]) / 10.0]
                )
                srcs.append("image")
            elif kind == "audio":
                pcm = _decode_audio(mime, p)
                if pcm.size:
                    feats.append(
                        [
                            float(np.sqrt((pcm**2).mean())),
                            float(np.abs(pcm).max()),
                            float(np.mean(np.signbit(pcm[1:]) != np.signbit(pcm[:-1]))) if pcm.size > 1 else 0.0,
                            float(pcm.mean()),
                            float(pcm.std()),
                            math.log1p(float(pcm.size)) / 20.0,
                            0.0,
                            0.0,
                        ]
                    )
                else:
                    feats.append([0.0] * 8)
                srcs.append("audio")
            else:
                raise NotImplementedError(f"no decoder for kind {kind!r}")
        except Exception:  # noqa: BLE001 — per-row fallback, never task failure
            feats.append(_digest_feature(p))
            srcs.append("digest")
    return n_bytes, hashes, feats, srcs


def _binary_views(arr):
    """Zero-copy memoryviews into a pa.BinaryArray's data buffer (None for
    null slots). Hashing/sizing then never materializes python bytes
    (review r5: the old `p.as_py()` loop made the 'no materialization'
    docstring claim false)."""
    import numpy as np
    import pyarrow as pa

    if arr.type == pa.large_binary():
        off_dtype = np.int64
    else:
        off_dtype = np.int32
    offsets = np.frombuffer(arr.buffers()[1], dtype=off_dtype)[
        arr.offset : arr.offset + len(arr) + 1
    ]
    data = memoryview(arr.buffers()[2]) if arr.buffers()[2] is not None else memoryview(b"")
    valid = np.asarray(arr.is_valid())
    return [
        data[offsets[i] : offsets[i + 1]] if valid[i] else None
        for i in range(len(arr))
    ]


def extract_media_features_arrow(media: DataFrame) -> DataFrame:
    """Feature extraction over binary payloads via ``mapInArrow``: REAL
    decoded image/audio statistics (`_feature_kernel`), digest fallback
    for rows nothing can decode (labeled in feature_src). Payload sizing +
    sha256 run over zero-copy memoryview slices of the Arrow data buffer
    (`_binary_views`) — no per-row python-bytes materialization for the
    hash path, which matters when payloads are megabytes each; only rows
    that actually DECODE convert to ``bytes`` once inside the decoder."""

    def op(batches):
        import pyarrow as pa

        target = pa.schema(
            [
                ("media_id", pa.int64()),
                ("kind", pa.string()),
                ("n_bytes", pa.int64()),
                ("content_hash", pa.string()),
                ("feature", pa.list_(pa.float32())),
                ("feature_src", pa.string()),
            ]
        )
        for batch in batches:
            col = lambda name: batch.column(batch.schema.get_field_index(name))  # noqa: E731
            kinds = col("kind").to_pylist()
            n_bytes, hashes, feats, srcs = _feature_kernel(
                _binary_views(col("payload")),
                kinds,
                col("mime").to_pylist(),
                col("width").to_pylist(),
                col("height").to_pylist(),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    col("media_id").cast(pa.int64()),
                    col("kind").cast(pa.string()),
                    pa.array(n_bytes, pa.int64()),
                    pa.array(hashes, pa.string()),
                    pa.array(feats, pa.list_(pa.float32())),
                    pa.array(srcs, pa.string()),
                ],
                schema=target,
            )

    return media.mapInArrow(op, schema=FEATURES_SCHEMA)


# ---------------------------------------------------------------------------
# REAL decode kernels (rounds 2-3): raw payloads (mime="image/raw-rgb8" =
# uint8 RGB width*height*3 bytes; "audio/pcm16" = mono int16 LE) plus
# compressed PNG/JPEG (baseline + progressive)/WAV via the stdlib codecs
# in functions/codecs.py. Formats beyond those (CMYK JPEG, FLAC, ...)
# need PIL/soundfile (requirements-optional.txt) and surface a clearly
# marked per-row error rather than failing the task.
# ---------------------------------------------------------------------------

RAW_RGB8 = "image/raw-rgb8"
PCM16 = "audio/pcm16"
PNG = "image/png"
JPEG = "image/jpeg"
WAV = "audio/wav"

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("channel_mean", T.ArrayType(T.DoubleType()), True),
        T.StructField("channel_std", T.ArrayType(T.DoubleType()), True),
        T.StructField("thumb", T.ArrayType(T.FloatType()), True),  # out_h*out_w*3 in [0,1]
        T.StructField("decode_error", T.StringType(), True),
    ]
)

def decode_raw_rgb8(payload: bytes, width: int, height: int):
    """Raw uint8 RGB bytes → (height, width, 3) array; validates length."""
    import numpy as np

    arr = np.frombuffer(payload, dtype=np.uint8)
    if arr.size != width * height * 3:
        raise ValueError(f"raw-rgb8 size mismatch: {arr.size} != {width}x{height}x3")
    return arr.reshape(height, width, 3)


def resize_nearest(img, out_w: int, out_h: int):
    """Nearest-neighbor resize by index striding — the real resize math."""
    import numpy as np

    h, w = img.shape[:2]
    ys = (np.arange(out_h) * (h / out_h)).astype(np.int64).clip(0, h - 1)
    xs = (np.arange(out_w) * (w / out_w)).astype(np.int64).clip(0, w - 1)
    return img[ys[:, None], xs[None, :]]


def _pil_available() -> bool:
    """Probe the native image backend once per process (executor-side
    module state; each Python worker re-imports this module)."""
    global _PIL_OK
    if _PIL_OK is None:
        try:
            import PIL.Image  # noqa: F401

            _PIL_OK = True
        except Exception:  # noqa: BLE001
            _PIL_OK = False
    return _PIL_OK


_PIL_OK: bool | None = None


def _soundfile_available() -> bool:
    global _SF_OK
    if _SF_OK is None:
        try:
            import soundfile  # noqa: F401

            _SF_OK = True
        except Exception:  # noqa: BLE001
            _SF_OK = False
    return _SF_OK


_SF_OK: bool | None = None


def _pil_decode(mime, payload):
    """Native (PIL) image backend — preferred when importable, and the only
    path for mimes/variants beyond the stdlib codecs' scope."""
    import numpy as np

    try:
        import io

        from PIL import Image
    except Exception as exc:  # noqa: BLE001
        raise NotImplementedError(
            f"compressed mime {mime!r} variant needs PIL (requirements-optional.txt)"
        ) from exc
    return np.asarray(Image.open(io.BytesIO(bytes(payload))).convert("RGB"))


def _decode_image(mime, payload, width, height):
    """Image decode dispatch, native-first:

    - raw-rgb8 → direct buffer reshape (no codec involved);
    - PNG/JPEG with PIL importable → PIL (libpng/libjpeg-turbo; the plan
      you want on an image-heavy corpus at 100×), stdlib spec codec as
      fallback if PIL rejects the file;
    - PNG/JPEG without PIL → stdlib spec codec (functions/codecs.py);
      out-of-scope variants (CMYK/arithmetic JPEG, 16-bit/Adam7 PNG)
      raise ValueError and fall through to `_pil_decode`, whose
      NotImplementedError becomes the row's decode_error;
    - anything else → PIL only.

    Lossless formats (PNG) and the DC-exact oracle fixtures (solid-color
    JPEG) decode identically on both backends — asserted by the
    cross-backend parity test (tests/test_multimodal.py)."""
    if payload is None:
        raise ValueError("null payload")
    if mime == RAW_RGB8:
        return decode_raw_rgb8(bytes(payload), int(width), int(height))
    if mime == PNG:
        from ..functions.codecs import decode_png

        if _pil_available():
            try:
                return _pil_decode(mime, payload)
            except NotImplementedError:
                raise
            except Exception:  # noqa: BLE001 — corrupt-for-PIL: let stdlib try
                return decode_png(bytes(payload))
        try:
            return decode_png(bytes(payload))
        except ValueError:
            return _pil_decode(mime, payload)  # 16-bit / Adam7 variants
    if mime == JPEG:
        from ..functions.codecs import decode_jpeg

        if _pil_available():
            try:
                return _pil_decode(mime, payload)
            except NotImplementedError:
                raise
            except Exception:  # noqa: BLE001
                return decode_jpeg(bytes(payload))
        try:
            return decode_jpeg(bytes(payload))
        except ValueError:
            return _pil_decode(mime, payload)  # CMYK / arithmetic variants
    return _pil_decode(mime, payload)


def image_pixel_features(media: DataFrame, out_w: int = 8, out_h: int = 8) -> DataFrame:
    """Per-image channel stats + a nearest-neighbor thumbnail over REAL
    decoded pixels (`_decode_image`: native-first, stdlib-codec fallback;
    undecodable rows get decode_error, the task never fails)."""
    import numpy as np

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, mime, payload, w, h in zip(
                pdf["media_id"], pdf["mime"], pdf["payload"], pdf["width"], pdf["height"]
            ):
                try:
                    img = _decode_image(mime, payload, w, h)
                    thumb = resize_nearest(img, out_w, out_h).astype(np.float64) / 255.0
                    rows.append(
                        (
                            mid,
                            [float(x) for x in img.reshape(-1, 3).mean(axis=0) / 255.0],
                            [float(x) for x in img.reshape(-1, 3).std(axis=0) / 255.0],
                            [float(x) for x in thumb.ravel()],
                            None,
                        )
                    )
                except Exception as exc:  # noqa: BLE001
                    rows.append((mid, None, None, None, f"{type(exc).__name__}: {exc}"[:300]))
            yield pd.DataFrame(
                rows, columns=["media_id", "channel_mean", "channel_std", "thumb", "decode_error"]
            )

    return media.where(F.col("kind") == "image").mapInPandas(op, schema=IMAGE_FEATURES_SCHEMA)


def _soundfile_decode(mime, payload):
    """Native (libsndfile) audio backend — preferred when importable, and
    the only path for mimes beyond PCM16/WAV (FLAC/OGG/...)."""
    try:
        import io

        import soundfile as sf
    except Exception as exc:  # noqa: BLE001
        raise NotImplementedError(
            f"audio mime {mime!r} needs soundfile (requirements-optional.txt)"
        ) from exc
    return sf.read(io.BytesIO(bytes(payload)), dtype="float64")[0].ravel()


def _decode_audio(mime, payload):
    """Audio decode dispatch, native-first (mirror of `_decode_image`):
    pcm16 is a direct buffer read; WAV prefers soundfile when importable
    with the stdlib ``wave`` decoder as fallback (and stdlib-rejected
    variants, e.g. float WAV, route to soundfile); other mimes are
    soundfile-only. Returns float64 samples in [-1, 1]."""
    import numpy as np

    if payload is None:
        raise ValueError("null payload")
    if mime == PCM16:
        return np.frombuffer(bytes(payload), dtype="<i2").astype(np.float64) / 32768.0
    if mime == WAV:
        from ..functions.codecs import decode_wav

        if _soundfile_available():
            try:
                return _soundfile_decode(mime, payload)
            except NotImplementedError:
                raise
            except Exception:  # noqa: BLE001
                return decode_wav(bytes(payload))[0].ravel()
        try:
            return decode_wav(bytes(payload))[0].ravel()
        except NotImplementedError:
            raise
        except Exception:  # noqa: BLE001 — float WAV / wave.Error variants
            return _soundfile_decode(mime, payload)
    return _soundfile_decode(mime, payload)

