"""Multimodal columns: opaque binary payloads + typed metadata.

Design (SURVEY.md §2 C5): image/audio/video travel as BinaryType
columns next to typed metadata; decode / feature-extract /
frame-sample run as Arrow-batched Pandas functions over mapInPandas so
each worker touches only its partition's bytes — the bytes NEVER move
through the driver.

Codecs are PLUGGABLE: when PIL / PyAV are importable the real kernels
decode actual media; in this container they are absent, so the
deterministic stand-ins (``fake_image_meta`` / ``fake_frames``) run
through the identical Spark plumbing (schema, partitioning, UDF
signature, Arrow batch shape) and are what the oracle-gated queries
pin (codec="fake" keeps driver rows deterministic even on hosts that
DO have codecs). ``codec="auto"`` upgrades to the real kernel the day
the libraries land, with no plumbing change.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Output schema of the image-decode stage.
IMAGE_META_SCHEMA = "doc_id bigint, n_bytes int, width int, height int, channels int"


def available_codecs() -> dict[str, bool]:
    """Which real codecs this interpreter can import (PIL → image,
    PyAV → video). Checked driver-side when picking a kernel; in
    local mode driver==workers, on a cluster ship the same image."""
    codecs = {}
    try:
        from PIL import Image  # noqa: F401

        codecs["image"] = True
    except ImportError:
        codecs["image"] = False
    try:
        import av  # noqa: F401

        codecs["video"] = True
    except ImportError:
        codecs["video"] = False
    return codecs


def attach_binary(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Model a multimodal table: (id, content: binary). The fixture has
    no real image bytes, so UTF-8 text bytes stand in as the payload."""
    return df.select(F.col(id_col), F.encode(F.col(text_col), "utf-8").alias("content"))


def decode_image_real(content: bytes) -> tuple[int, int, int, int]:
    """Real image decode via PIL → (n_bytes, width, height, channels).

    Raises NotImplementedError when PIL is not importable (this
    container); ``image_meta(codec="auto")`` falls back to the
    deterministic stand-in then.
    """
    import io as _io

    try:
        from PIL import Image
    except ImportError as exc:  # pragma: no cover - PIL absent here
        raise NotImplementedError(
            "image codec (PIL) not available in this environment"
        ) from exc
    with Image.open(_io.BytesIO(content)) as im:  # pragma: no cover
        return len(content), im.width, im.height, len(im.getbands())


def fake_image_meta(content: bytes) -> tuple[int, int, int, int]:
    """Deterministic stand-in decode: metadata derived from the bytes."""
    n = len(content)
    return n, n % 64 + 1, (n * 7) % 64 + 1, 3


def _pick_image_kernel(codec: str):
    if codec == "fake":
        return fake_image_meta
    if codec == "real" or (codec == "auto" and available_codecs()["image"]):
        return decode_image_real
    if codec == "auto":
        return fake_image_meta
    raise ValueError(f"codec must be fake|real|auto, got {codec!r}")


def image_meta(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
    codec: str = "fake",
) -> DataFrame:
    """mapInPandas decode stage: (id, content) -> IMAGE_META_SCHEMA.

    Arrow-batched; one Python worker per partition; output is columnar
    metadata only (the heavy bytes are dropped as early as possible,
    which is what you want when the input is 100 TB of media).
    ``codec``: "fake" (deterministic stand-in — the oracle-gated
    default), "real" (PIL, raises if absent), "auto" (real if
    importable, else fake).
    """
    kernel = _pick_image_kernel(codec)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [kernel(bytes(c)) for c in pdf[content_col]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].values,
                    "n_bytes": [m[0] for m in metas],
                    "width": [m[1] for m in metas],
                    "height": [m[2] for m in metas],
                    "channels": [m[3] for m in metas],
                }
            )

    return df.mapInPandas(decode, IMAGE_META_SCHEMA)


# Output schema of the frame-sampling stage: one row per sampled frame.
FRAME_SCHEMA = "doc_id bigint, frame_no int, frame binary, frame_bytes int"


def decode_frames_real(content: bytes, every_n: int) -> list[bytes]:
    """Real video frame extraction via PyAV → every n-th frame as raw
    RGB bytes. Raises NotImplementedError when PyAV is not importable;
    ``sample_frames(codec="auto")`` falls back to the stand-in."""
    import io as _io

    try:
        import av
    except ImportError as exc:  # pragma: no cover - PyAV absent here
        raise NotImplementedError(
            "video codec (PyAV) not available in this environment"
        ) from exc
    frames: list[bytes] = []  # pragma: no cover
    with av.open(_io.BytesIO(content)) as container:  # pragma: no cover
        for i, frame in enumerate(container.decode(video=0)):
            if i % every_n == 0:
                frames.append(frame.to_ndarray(format="rgb24").tobytes())
    return frames  # pragma: no cover


def fake_frames(content: bytes, every_n: int) -> list[bytes]:
    """Deterministic stand-in: treat the payload as a fixed-size frame
    stream (64-byte 'frames'), keeping every n-th chunk."""
    frames = [content[i : i + 64] for i in range(0, len(content), 64)]
    return frames[::every_n]


def _pick_frame_kernel(codec: str):
    if codec == "fake":
        return fake_frames
    if codec == "real" or (codec == "auto" and available_codecs()["video"]):
        return decode_frames_real
    if codec == "auto":
        return fake_frames
    raise ValueError(f"codec must be fake|real|auto, got {codec!r}")


def sample_frames(
    df: DataFrame,
    every_n: int = 2,
    id_col: str = "doc_id",
    content_col: str = "content",
    codec: str = "fake",
) -> DataFrame:
    """mapInPandas frame-sampling stage: (id, content) → FRAME_SCHEMA.

    A flat-map in Arrow batches — one input video row fans out to its
    sampled frames, bytes stay worker-local. At 100 TB the input is
    repartitioned by size (maxPartitionBytes) so a few giant videos
    don't skew tasks; output rows carry small frames + metadata, ready
    for a downstream embed/score stage. ``codec`` as in image_meta.
    """
    kernel = _pick_frame_kernel(codec)

    def explode_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, nos, frames = [], [], []
            for doc_id, content in zip(pdf[id_col], pdf[content_col]):
                for i, fr in enumerate(kernel(bytes(content), every_n)):
                    ids.append(doc_id)
                    nos.append(i)
                    frames.append(fr)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "frame_no": nos,
                    "frame": frames,
                    "frame_bytes": [len(f) for f in frames],
                }
            )

    return df.mapInPandas(explode_frames, FRAME_SCHEMA)
