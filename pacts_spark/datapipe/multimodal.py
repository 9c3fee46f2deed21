"""Multimodal columns: images/audio/video as opaque binary + typed metadata.

The container has no image/audio codecs, so the DEFAULT decode is a
deterministic stub — the Spark-side plumbing (schema, Arrow batch shape,
mapInPandas iterator contract, partition sizing) is real and tested.
``extract_features(..., decoder="pillow")`` switches to a real
import-guarded image decode (grayscale resize + mean-pool) that falls
back to the stub per-worker when PIL is absent; audio/video decoders
slot into the same seam.

Design: decode/feature-extract runs in ``mapInPandas`` so one Python
worker processes a whole Arrow batch of binary blobs at once; batch size
is bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch`` (set in
session.py) so blob batches fit executor memory. Metadata stays in typed
columns so filters on (modality, width, duration) prune BEFORE any decode.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("modality", T.StringType()),  # image | audio | video
        T.StructField("content", T.BinaryType()),   # opaque encoded bytes
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),    # image/video
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),  # audio/video
    ]
)

FEATURE_SCHEMA = (
    "media_id long, modality string, n_bytes int, sha256 string, "
    "feature array<float>"
)


def _decode_stub(blob: bytes, modality: str, dim: int = 8) -> np.ndarray:
    """Deterministic fake decode/feature-extract: sha256 → fixed-dim float
    vector in [0,1). Replace with a real decoder in production.

    raise NotImplementedError here if a hard failure is preferred over the
    deterministic fake.
    """
    h = hashlib.sha256(modality.encode() + (blob or b"")).digest()
    return np.frombuffer(h[: dim * 4], dtype=np.uint32).astype(np.float32) / np.float32(
        2**32
    )


def _decode_pillow(blob: bytes, modality: str, dim: int = 8) -> np.ndarray:
    """Real image decode when pillow is importable in the worker: decode
    → grayscale → dim×dim resize → column-mean pool into ``dim`` floats
    in [0,1]. Non-image modalities and undecodable blobs fall back to the
    deterministic stub (same shape/dtype), so one corrupt blob degrades
    one row, never the batch. Caller guarantees PIL is importable."""
    import io

    from PIL import Image

    if modality != "image" or not blob:
        return _decode_stub(blob, modality, dim)
    try:
        img = Image.open(io.BytesIO(blob)).convert("L").resize((dim, dim))
        return (np.asarray(img, dtype=np.float32) / np.float32(255.0)).mean(axis=0)
    except Exception:  # noqa: BLE001 — corrupt blob → stub feature
        return _decode_stub(blob, modality, dim)


def extract_features(df: DataFrame, dim: int = 8, decoder: str = "stub") -> DataFrame:
    """mapInPandas decode + feature extraction over Arrow batches.

    One iterator call per Arrow batch (NOT per row); per-batch vectorized
    post-processing. The output schema is fixed so downstream joins/ANN
    over ``feature`` are planneable.

    ``decoder``: ``"stub"`` (default — deterministic sha256 features, the
    oracled contract output) or ``"pillow"`` — real image decode when PIL
    imports IN THE WORKER, import-guarded with per-batch stub fallback so
    the same job runs on codec-less clusters (like this sandbox)
    unchanged. n_bytes/sha256 are decode-independent either way.
    """
    if decoder not in ("stub", "pillow"):
        raise ValueError(f"unknown decoder: {decoder!r}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        decode = _decode_stub
        if decoder == "pillow":
            try:
                import PIL.Image  # noqa: F401 — worker-side availability probe

                decode = _decode_pillow
            except ImportError:
                decode = _decode_stub
        for pdf in batches:
            # NULL blob → NULL features (poisoned-fixture parity): a
            # missing medium must stay distinguishable from a genuinely
            # EMPTY one (b'' keeps n_bytes=0 + sha256-of-empty + stub
            # feature) — the twin's octet_length/sha256 NULL-propagate
            feats = [
                None if c is None else decode(c, m, dim).tolist()
                for c, m in zip(pdf["content"], pdf["modality"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "modality": pdf["modality"],
                    "n_bytes": [
                        None if c is None else len(c) for c in pdf["content"]
                    ],
                    "sha256": [
                        None if c is None else hashlib.sha256(c).hexdigest()
                        for c in pdf["content"]
                    ],
                    "feature": feats,
                }
            )

    return df.mapInPandas(run, FEATURE_SCHEMA)
