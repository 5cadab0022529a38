"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata.

Every payload, of any kind, gets one deterministic feature rule: the
first ``FEATURE_DIM`` bytes of a sha256 digest of the bytes, scaled to
[0, 1], computed in Catalyst (``sha2``), so no Python worker runs. The
rule is a pure function of the payload, and the
``multimodal_features`` query's DuckDB oracle recomputes it exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
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

FEATURES_SCHEMA = (
    "media_id string, kind string, n_bytes long, features array<double>"
)


def extract_features(media: DataFrame) -> DataFrame:
    """media table → (media_id, kind, n_bytes, features), one native
    projection: feature i is byte i of ``sha256(payload)`` scaled to
    [0, 1]. Audio payloads are hashed behind the prefix ``b"audio:"``;
    a NULL payload hashes as empty bytes and has ``n_bytes`` 0.

    The digest is split into hex pairs by ``regexp_extract_all`` rather
    than indexed inside the ``transform`` lambda: Catalyst inlines an
    outer expression into the lambda body, so indexing would hash the
    payload once per feature."""
    payload = F.coalesce(F.col("payload"), F.lit(b""))
    salted = F.when(
        F.col("kind") == "audio", F.concat(F.lit(b"audio:"), payload)
    ).otherwise(payload)
    hex_pairs = F.regexp_extract_all(
        F.sha2(salted, 256), F.lit("[0-9a-f]{2}"), 0
    )
    return media.select(
        "media_id",
        "kind",
        F.coalesce(F.length("payload"), F.lit(0)).cast("long").alias("n_bytes"),
        F.transform(
            F.slice(hex_pairs, 1, FEATURE_DIM),
            lambda h: F.conv(h, 16, 10).cast("double") / 255.0,
        ).alias("features"),
    )


def frame_sample_plan(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame-sampling *plan*: emits (media_id, frame_idx) rows for
    a downstream decoder, native explode — demonstrates the schema and
    partition shape without decoding (stub container)."""
    return (
        media.filter(F.col("kind") == "video")
        .withColumn(
            "frame_idx",
            F.explode(F.sequence(F.lit(0), F.lit(every_n - 1))),
        )
        .select("media_id", "frame_idx")
    )
