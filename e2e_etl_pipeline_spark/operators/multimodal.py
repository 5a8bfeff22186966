"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed via Arrow-batched mapInPandas.

The container has no image/audio codecs, so the decode step is a clearly
marked deterministic fake behind `decode_media_stub` (north-star contract:
"STUB the decode step ... make the Spark-side plumbing — schema,
partitioning, UDF signature, batch shape — real and tested"). Swapping the
stub for a real decoder (PIL/torchaudio/ffmpeg) changes ONE function; the
schema, the mapInPandas batch contract, and the partitioning stay identical.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("fake_width", T.IntegerType()),
        T.StructField("fake_height", T.IntegerType()),
        T.StructField("byte_sum_mod", T.LongType()),
    ]
)


def attach_fake_media(documents: DataFrame) -> DataFrame:
    """Build a media table from the documents table: the UTF-8 text bytes
    stand in for an encoded image payload. Pure column expressions."""
    media_type = F.when(F.col("doc_id") % 3 == 0, "image/png").when(
        F.col("doc_id") % 3 == 1, "audio/wav"
    ).otherwise("video/mp4")
    payload = F.encode("text", "utf-8")
    return documents.select(
        "doc_id",
        media_type.alias("media_type"),
        payload.alias("payload"),
        F.length(payload).cast("long").alias("byte_len"),
    )


def decode_media_stub(payload: bytes) -> dict:
    """STUB decoder — deterministic fake in place of a real codec.

    A real implementation would decode the payload (PIL.Image.open /
    soundfile / pyav) and emit true dimensions & features. The fake derives
    stable pseudo-dimensions from the byte content so tests exercise the
    full data path. Raises nothing; for genuinely undecodable input a real
    decoder would surface NULLs, matching this signature.
    """
    n = len(payload)
    byte_sum = sum(payload) if n else 0
    return {
        "fake_width": 64 + (byte_sum % 512),
        "fake_height": 64 + ((byte_sum // 7) % 512),
        "byte_sum_mod": byte_sum % 1_000_003,
    }


def extract_media_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    Arrow ships each partition as pandas batches; the per-batch loop is the
    vectorization boundary. At scale, partition count (not batch size)
    controls parallelism; payload bytes never cross a shuffle.
    """

    _NULL_FEATURES = {"fake_width": None, "fake_height": None, "byte_sum_mod": None}

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # NULL payload -> NULL features (a real decoder surfaces NULLs
            # for undecodable input; fabricating 64x64 dims for a missing
            # payload would be phantom media)
            feats = pdf["payload"].map(
                lambda p: decode_media_stub(bytes(p)) if p is not None else _NULL_FEATURES
            )
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "byte_len": pdf["byte_len"],
                    "fake_width": [f["fake_width"] for f in feats],
                    "fake_height": [f["fake_height"] for f in feats],
                    "byte_sum_mod": [f["byte_sum_mod"] for f in feats],
                }
            )
            yield out

    return media.mapInPandas(_extract, schema=FEATURE_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_off", T.LongType()),
        T.StructField("frame_hex", T.StringType()),
    ]
)


def sample_frames(media: DataFrame, k: int = 4, width: int = 16) -> DataFrame:
    """Evenly-spaced frame sampling over binary payloads via mapInPandas.

    The "decode" is a deterministic byte-window read — frame i covers
    ``width`` bytes at offset ``i * (n - width) // (k - 1)`` (one frame at
    offset 0 when the payload is shorter than a frame) — so the output is
    byte-exactly reproducible by any engine that can hex-render blobs
    (frame_hex is the uppercase hex of the window — DuckDB cannot slice or
    md5 BLOBs directly, but hex() + substr reproduces the same rendering),
    which is what makes the plumbing oracle-checkable end to end
    (queries/llm.py::q_multimodal_frames). A real sampler replaces the
    window read with a container-aware keyframe decode (pyav/ffmpeg); the
    Arrow batch contract, schema, and no-shuffle property stay identical.
    NULL payloads are skipped, matching a decoder surfacing nothing.
    """
    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {c.name: [] for c in FRAME_SCHEMA}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    continue
                b = bytes(payload)
                n = len(b)
                if n < width or k == 1:
                    offsets = [0]
                else:
                    offsets = [i * (n - width) // (k - 1) for i in range(k)]
                for i, off in enumerate(offsets):
                    rows["doc_id"].append(doc_id)
                    rows["frame_idx"].append(i)
                    rows["frame_off"].append(off)
                    rows["frame_hex"].append(b[off : off + width].hex().upper())
            if rows["doc_id"]:
                yield pd.DataFrame(rows)

    return media.mapInPandas(_sample, schema=FRAME_SCHEMA)
