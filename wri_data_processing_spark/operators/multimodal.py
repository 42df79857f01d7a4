"""Multimodal columns (SURVEY.md §2.12 L5): opaque binary + typed metadata.

Pattern: media rides as a ``binary`` column with a typed metadata struct;
decode / feature-extract / resize / frame-sample run through the one Arrow
row map (``map_rows``, operators/row_map.py) so bytes stay in columnar
batches end-to-end (never a row-at-a-time Python UDF). The COG step (steps/step01_cog.py) follows the same
template with raster files.

Codec libraries (PIL/ffmpeg/librosa) are NOT in this container, so decoders
are STUBBED behind injectable callables with a deterministic fake — the
Spark-side plumbing (schema, batch shape, partitioning) is real and tested.
A real deployment swaps ``decoder=`` for the codec of the media_type.

Scale notes: binary payloads dominate partition size — size
spark.sql.files.maxPartitionBytes to ~tens of payloads per task and keep
feature outputs in a SEPARATE table from raw bytes so downstream analytics
never rescans media.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from wri_data_processing_spark.operators.row_map import map_rows

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("media_type", StringType()),  # e.g. image/png, audio/wav
        StructField("payload", BinaryType()),
        StructField(
            "meta",
            StructType(
                [
                    StructField("n_bytes", LongType()),
                    StructField("width", IntegerType()),
                    StructField("height", IntegerType()),
                    StructField("duration_s", DoubleType()),
                ]
            ),
        ),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("media_type", StringType()),
        StructField("digest", StringType()),
        StructField("feature", ArrayType(DoubleType())),
    ]
)

Decoder = Callable[[bytes, str], list[float]]


def fake_decoder(payload: bytes, media_type: str) -> list[float]:
    """DETERMINISTIC STUB decoder (codec libs unavailable here).

    Derives an 8-dim pseudo-feature from a sha256 of the bytes — stable
    across runs/partitions, exercising the exact batch path a real
    image/audio decoder would use. Swap for PIL/librosa in deployment.
    """
    h = hashlib.sha256(payload).digest()
    return [b / 255.0 for b in h[:8]]


def extract_features(media: DataFrame, decoder: Decoder | None = None) -> DataFrame:
    """Decode + featurize each payload through the Arrow row map."""
    dec = decoder or fake_decoder

    def features(media_id: int, media_type: str, payload: bytes) -> list[tuple]:
        try:
            feature = [float(x) for x in dec(payload, media_type)]
        except Exception:
            feature = None  # tolerate-and-log: bad media != dead job
        return [(media_id, media_type, hashlib.sha256(payload).hexdigest(), feature)]

    return map_rows(media.select("media_id", "media_type", "payload"), features, FEATURE_SCHEMA)


def frame_sample(media: DataFrame, every_n_bytes: int = 64, max_frames: int = 16) -> DataFrame:
    """Frame-sampling plumbing: explode each payload into byte-offset "frames".

    Stands in for video frame extraction: 1 row in -> N frame rows out with
    (media_id, frame_idx, frame binary). Pure Spark expressions — substr over
    binary — so sampling stays JVM-side.
    """
    idx = F.sequence(F.lit(0), F.least(
        F.floor((F.length("payload") - 1) / every_n_bytes), F.lit(max_frames - 1)
    ).cast("int"))
    frames = media.select(
        "media_id",
        F.posexplode(idx).alias("frame_idx", "_i"),
        F.col("payload"),
    ).select(
        "media_id",
        "frame_idx",
        F.substring(F.col("payload"), F.col("_i") * every_n_bytes + 1, every_n_bytes).alias(
            "frame"
        ),
    )
    return frames


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Synthesize a media table from documents (testdata has no binary col):
    payload = utf-8 bytes of text, typed metadata populated. Deterministic."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("image/png"))
        .when(F.col("doc_id") % 3 == 1, F.lit("audio/wav"))
        .otherwise(F.lit("video/mp4"))
        .alias("media_type"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.length(F.encode("text", "utf-8")).cast("long").alias("n_bytes"),
            (F.col("doc_id") % 640 + 1).cast("int").alias("width"),
            (F.col("doc_id") % 480 + 1).cast("int").alias("height"),
            (F.col("n_chars") / 100.0).alias("duration_s"),
        ).alias("meta"),
    )
