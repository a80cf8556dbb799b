"""Multimodal-column plumbing (SURVEY.md §2.12).

Images/audio/video ride through the engine as opaque ``binary``
columns plus a typed metadata struct. The Spark-side machinery —
schemas, Arrow-batched UDF signatures, partitioning — is real and
tested; the actual codec step is a stub (no image/audio libraries are
installed): each kernel derives deterministic fake output from the
bytes at the spot where a real decoder (PIL/ffmpeg) would run, so
pipelines are end-to-end testable.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "id bigint, media binary, mime string, width int, height int"
)

FEATURE_SCHEMA = (
    "id bigint, mime string, n_bytes bigint, sha256 string, "
    "feat_mean double, feature array<float>"
)


def attach_media(df: DataFrame, id_col: str, payload_col: str, mime: str) -> DataFrame:
    """Wrap an existing column's bytes as a media column with metadata
    (here: text bytes standing in for real image payloads)."""
    return df.select(
        F.col(id_col).cast("bigint").alias("id"),
        F.encode(F.col(payload_col).cast("string"), "UTF-8").alias("media"),
        F.lit(mime).alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
    )


def binary_file_source(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """Read raw files as (path, modificationTime, length, content) —
    Spark's binaryFile source; the ingest path for real image dirs.
    At scale, prefer many-small-file consolidation upstream; this
    reader parallelizes by file."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def extract_features(media_df: DataFrame, dim: int = 8) -> DataFrame:
    """Arrow-batched feature extraction over media bytes via
    ``mapInPandas`` (iterator-of-batches: constant memory per task,
    no per-row Python overhead).

    Stub features: sha256 + length + a ``dim``-sized float vector
    folded from the digest — deterministic, so downstream similarity/
    dedup plumbing is testable without codecs."""
    import pandas as pd

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            medias = pdf["media"]
            digests = [hashlib.sha256(bytes(m)).digest() for m in medias]
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "mime": pdf["mime"],
                    "n_bytes": [len(bytes(m)) for m in medias],
                    "sha256": [d.hex() for d in digests],
                    "feat_mean": [sum(d) / (255.0 * len(d)) for d in digests],
                    "feature": [
                        [b / 255.0 for b in d[:dim]] for d in digests
                    ],
                }
            )

    return media_df.mapInPandas(batches, schema=FEATURE_SCHEMA)


RESIZED_SCHEMA = (
    "id bigint, mime string, width int, height int, media binary"
)


def resize_media(media_df: DataFrame, width: int, height: int) -> DataFrame:
    """Arrow-batched image resize over media bytes (``mapInPandas``).

    The real transform (PIL ``Image.resize`` — decode, resample,
    re-encode) slots in here; the stub emits a deterministic fake
    payload of exactly ``width*height`` bytes folded from a sha256
    stream of the input, so output sizing, schema, and batch shape are
    all real and testable. Output metadata carries the
    new dimensions — downstream consumers never re-measure payloads.
    """
    import pandas as pd

    n_out = width * height

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            out = []
            for m in pdf["media"]:
                buf = b""
                seed = bytes(m)
                while len(buf) < n_out:
                    seed = hashlib.sha256(seed).digest()
                    buf += seed
                out.append(buf[:n_out])
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "mime": pdf["mime"],
                    "width": width,
                    "height": height,
                    "media": out,
                }
            )

    return media_df.mapInPandas(batches, schema=RESIZED_SCHEMA)


FRAME_SCHEMA = (
    "id bigint, mime string, frame_idx int, frame binary"
)


def sample_frames(
    media_df: DataFrame,
    every_n_bytes: int = 64,
    max_frames: int = 4,
) -> DataFrame:
    """Video frame sampling as a 1→N Arrow-batched expansion
    (``mapInPandas`` rows-out ≠ rows-in — the shape a real ffmpeg
    keyframe sampler needs). The stub treats every ``every_n_bytes``
    slice of the payload as a 'frame'; the real decoder slots in
    there. Emits (id, mime, frame_idx, frame)."""
    import pandas as pd

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            ids, mimes, idxs, frames = [], [], [], []
            for rid, mime, m in zip(pdf["id"], pdf["mime"], pdf["media"]):
                data = bytes(m)
                for i in range(min(max_frames, max(1, len(data) // every_n_bytes))):
                    ids.append(rid)
                    mimes.append(mime)
                    idxs.append(i)
                    frames.append(data[i * every_n_bytes:(i + 1) * every_n_bytes])
            yield pd.DataFrame(
                {"id": ids, "mime": mimes, "frame_idx": idxs, "frame": frames}
            )

    return media_df.mapInPandas(batches, schema=FRAME_SCHEMA)
