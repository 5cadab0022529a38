"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata, processed in Arrow-batched ``mapInPandas``.

The Spark-side machinery — schemas, batch iteration, partition sizing,
UDF signatures — is real and tested. Decode is REAL, pure
stdlib+numpy, for: PNG (zlib inflate + all five scanline filters),
baseline JPEG (``jpeg.decode_jpeg``) and AVI video (``video.decode_avi``
— MJPEG via the JPEG decoder or BI_RGB DIB frames; ≤4 sampled frames,
temporally pooled). Every other payload, of any kind, gets a
deterministic stub: the first ``FEATURE_DIM`` bytes of a sha256 digest
of the bytes, scaled to [0, 1]. The stub is a pure function of the
payload, so the full distributed path runs with stable outputs, and the
``multimodal_features`` query's DuckDB oracle recomputes it exactly.
Swapping in a full decoder (PIL / torchaudio / pyav) changes only
`_decode_*`.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),   # image|audio|video
        T.StructField("mime", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), True),  # opaque bytes
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

FEATURE_DIM = 16

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_JPEG_SIG = b"\xff\xd8"


def decode_png(data: bytes) -> tuple[int, int, int, bytes]:
    """Minimal pure-stdlib PNG decoder: 8-bit depth, color types
    0 (gray) / 2 (RGB) / 4 (gray+alpha) / 6 (RGBA), non-interlaced,
    all five scanline filters (None/Sub/Up/Average/Paeth — RFC 2083
    §6). Returns ``(width, height, channels, pixel_bytes)`` with
    pixels row-major. Palette and 16-bit PNGs raise (rare in web
    corpora; a PIL-backed decoder slots in for those)."""
    if not data.startswith(_PNG_SIG):
        raise ValueError("not a PNG (bad signature)")
    pos = 8
    width = height = color_type = None
    idat = bytearray()
    while pos + 8 <= len(data):
        length, ctype = struct.unpack(">I4s", data[pos:pos + 8])
        chunk = data[pos + 8:pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            (width, height, depth, color_type,
             _comp, _filt, interlace) = struct.unpack(">IIBBBBB", chunk)
            if depth != 8:
                raise ValueError(f"only 8-bit PNG supported (depth={depth})")
            if interlace:
                raise ValueError("interlaced PNG unsupported")
            if color_type not in (0, 2, 4, 6):
                raise ValueError(f"palette PNG unsupported (type={color_type})")
        elif ctype == b"IDAT":
            idat += chunk
        elif ctype == b"IEND":
            break
    if width is None:
        raise ValueError("PNG missing IHDR")
    if not (0 < width <= 16384 and 0 < height <= 16384
            and width * height <= 64 * 1024 * 1024):
        raise ValueError(f"PNG dimensions out of range ({width}x{height})")
    ch = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    stride = width * ch
    expected = (stride + 1) * height
    # bounded inflate: a decompression-bomb IDAT can expand no further
    # than the dimensioned size before we reject it
    d = zlib.decompressobj()
    raw = d.decompress(bytes(idat), expected)
    if len(raw) != expected or d.decompress(b"", 1):
        raise ValueError("PNG IDAT size mismatch")
    return width, height, ch, bytes(
        _unfilter(raw, height, width, ch)
    )


def _unfilter(raw: bytes, height: int, width: int, ch: int) -> bytes:
    """Reverse the per-scanline PNG filters (RFC 2083 §6). None/Sub/Up
    are numpy-vectorized per row: None is a copy, Sub is a wrapping
    prefix-sum over the pixel axis (``np.add.accumulate`` on uint8
    wraps mod 256), Up is one vectorized add against the previous row
    (~10× the byte loop, BENCH/PNG_UNFILTER.md). Average and Paeth
    have a strict sequential dependency on the reconstructed LEFT
    pixel, so they stay byte loops — a measured per-pixel numpy
    variant was ~10× SLOWER (array-op overhead on (channels,)-sized
    operands dwarfs the arithmetic; see the same bench note). Byte-
    exact with the scalar definition (pinned by the round-trip tests
    across all five filter types)."""
    import numpy as np

    stride = width * ch
    scan = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride + 1)
    out = np.empty((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        f = int(scan[y, 0])
        line = scan[y, 1:]
        if f == 0:  # None
            cur = line
        elif f == 1:  # Sub: wrapping cumulative sum per channel lane
            cur = np.add.accumulate(
                line.reshape(width, ch), axis=0, dtype=np.uint8
            ).reshape(stride)
        elif f == 2:  # Up
            cur = line + prev  # uint8 add wraps mod 256
        elif f == 3:  # Average
            # bytes indexing: numpy scalar extraction in a hot loop
            # is ~5× slower than bytearray access
            ln, pv = bytearray(line.tobytes()), prev.tobytes()
            for i in range(ch):
                ln[i] = (ln[i] + (pv[i] >> 1)) & 0xFF
            for i in range(ch, stride):
                ln[i] = (ln[i] + ((ln[i - ch] + pv[i]) >> 1)) & 0xFF
            cur = np.frombuffer(bytes(ln), dtype=np.uint8)
        elif f == 4:  # Paeth
            ln, pv = bytearray(line.tobytes()), prev.tobytes()
            for i in range(ch):
                # a = c = 0 → predictor is b
                ln[i] = (ln[i] + pv[i]) & 0xFF
            for i in range(ch, stride):
                a, b, c = ln[i - ch], pv[i], pv[i - ch]
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                ln[i] = (ln[i] + pr) & 0xFF
            cur = np.frombuffer(bytes(ln), dtype=np.uint8)
        else:
            raise ValueError(f"bad PNG filter type {f}")
        out[y] = cur
        prev = out[y]
    return out.tobytes()


def _image_features(w: int, h: int, ch: int, px: bytes) -> list[float]:
    """Decoded pixels → FEATURE_DIM pooled features, deterministic:
    [w, h normalized, mean R/G/B/A, luma std, 3×3 grid-pooled luma]."""
    import numpy as np

    arr = np.frombuffer(px, dtype=np.uint8).reshape(h, w, ch)
    arr = arr.astype(np.float64) / 255.0
    if ch == 1:
        r = g = b = arr[:, :, 0]
        a = np.ones_like(r)
    elif ch == 2:
        r = g = b = arr[:, :, 0]
        a = arr[:, :, 1]
    elif ch == 3:
        r, g, b = arr[:, :, 0], arr[:, :, 1], arr[:, :, 2]
        a = np.ones_like(r)
    else:
        r, g, b, a = (arr[:, :, i] for i in range(4))
    luma = 0.299 * r + 0.587 * g + 0.114 * b
    feats = [
        min(w, 4096) / 4096.0,
        min(h, 4096) / 4096.0,
        float(r.mean()), float(g.mean()), float(b.mean()), float(a.mean()),
        float(luma.std()),
    ]
    for rows in np.array_split(luma, 3, axis=0):
        for cell in np.array_split(rows, 3, axis=1):
            feats.append(float(cell.mean()) if cell.size else 0.0)
    return feats[:FEATURE_DIM]


def _stub_features(data: bytes) -> list[float]:
    digest = hashlib.sha256(data).digest()
    return [b / 255.0 for b in digest[:FEATURE_DIM]]


def _decode_image(payload: bytes) -> list[float] | None:
    """PNG and baseline JPEG → REAL decode (``decode_png``,
    ``jpeg.decode_jpeg``) → pooled features. A PNG or JPEG that fails
    to decode (corrupt, truncated, palette/16-bit/interlaced PNG,
    progressive JPEG or sampling factors >2) yields NULL features —
    per-row error isolation; one bad image in a 10¹²-doc corpus must
    not fail the whole extract job. Every other payload gets the
    deterministic sha256 stub."""
    data = payload or b""
    if data.startswith(_PNG_SIG):
        try:
            return _image_features(*decode_png(data))
        except Exception:
            return None
    if data.startswith(_JPEG_SIG):
        from kgap_spark.functions.jpeg import decode_jpeg

        try:
            return _image_features(*decode_jpeg(data))
        except Exception:
            return None
    return _stub_features(data)


def _decode_audio(payload: bytes) -> list[float]:
    """Every audio payload gets the deterministic sha256 stub, salted
    with ``b"audio:"`` so the same bytes as image and as audio give
    different features."""
    return _stub_features(b"audio:" + (payload or b""))


def _decode_video(payload: bytes) -> list[float] | None:
    """AVI (MJPEG / BI_RGB-24) → REAL decode (``video.decode_avi``
    samples ≤4 evenly-spaced frames; MJPEG frames reuse
    ``jpeg.decode_jpeg``) → temporally pooled features; a recognized
    AVI that fails to decode yields NULL features. Non-AVI payloads
    fall through to the image pipeline (PNG, JPEG or the stub)."""
    data = payload or b""
    if data[:4] == b"RIFF" and data[8:12] == b"AVI ":
        from kgap_spark.functions.video import decode_avi, video_features

        try:
            return video_features(*decode_avi(data), dim=FEATURE_DIM)
        except Exception:
            return None
    return _decode_image(payload)


_DECODERS = {"image": _decode_image, "audio": _decode_audio, "video": _decode_video}

FEATURES_SCHEMA = (
    "media_id string, kind string, n_bytes long, features array<double>"
)


def extract_features(media: DataFrame, batch_hint: int = 1024) -> DataFrame:
    """media table → (media_id, kind, n_bytes, features).

    mapInPandas: each Arrow batch is decoded in one Python call;
    feature extraction is per-row *inside* the vectorized batch loop —
    the sanctioned shape for opaque-binary work (payloads can't be
    expressed as Catalyst expressions). Partition sizing upstream
    controls memory: payload bytes live in the Arrow batch, so callers
    repartition such that rows_per_partition × avg_payload fits the
    executor (see session.ARROW_BATCH_ROWS)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                _DECODERS.get(kind, _decode_image)(payload)
                for kind, payload in zip(pdf["kind"], pdf["payload"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [len(p or b"") for p in pdf["payload"]],
                    "features": feats,
                }
            )

    # project to exactly the columns run() touches BEFORE the Python
    # boundary (guide: Spark cannot see inside an opaque function and
    # would ship mime/meta/etc. through Arrow both ways for nothing)
    return media.select("media_id", "kind", "payload").mapInPandas(
        run, schema=FEATURES_SCHEMA
    )


def frame_sample_plan(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame-sampling *plan*: emits (media_id, frame_idx) rows for
    a downstream decoder, native explode — demonstrates the schema and
    partition shape without decoding (stub container)."""
    from pyspark.sql import functions as F

    return (
        media.filter(F.col("kind") == "video")
        .withColumn(
            "frame_idx",
            F.explode(F.sequence(F.lit(0), F.lit(every_n - 1))),
        )
        .select("media_id", "frame_idx")
    )
