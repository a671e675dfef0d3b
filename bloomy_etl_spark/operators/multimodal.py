"""Multimodal (image/audio/video) column plumbing.

Media are opaque ``binary`` payloads + a typed metadata struct — the same
posture the reference takes for raster bands (download bytes, decode
per-granule; ``/root/reference/core/processor.py:96-180``), generalized:

  * storage schema: ``(media_id, kind, payload BINARY, meta STRUCT)``;
  * decode runs as an Arrow-batched ``mapInPandas`` stage, one task per
    partition, bytes never touch the driver;
  * the actual codec call sits behind ``_decode_payload`` — real codecs
    (PIL/librosa/av) are not in this container, so decode falls back to a
    deterministic byte-statistics fake, clearly marked. The Spark-side
    plumbing (schema, batching, partitioning) is real and tested.

Scale: payloads dominate size, so partitioning is by byte budget —
``repartition`` on a size-bucketed key keeps Arrow batches bounded
(``spark.sql.execution.arrow.maxRecordsPerBatch`` guards the rest).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as STypes

MEDIA_SCHEMA = STypes.StructType(
    [
        STypes.StructField("media_id", STypes.LongType()),
        STypes.StructField("kind", STypes.StringType()),  # image | audio | video
        STypes.StructField("payload", STypes.BinaryType()),
        STypes.StructField(
            "meta",
            STypes.StructType(
                [
                    STypes.StructField("width", STypes.IntegerType()),
                    STypes.StructField("height", STypes.IntegerType()),
                    STypes.StructField("channels", STypes.IntegerType()),
                    STypes.StructField("sample_rate", STypes.IntegerType()),
                    STypes.StructField("n_frames", STypes.IntegerType()),
                    STypes.StructField("format", STypes.StringType()),
                ]
            ),
        ),
    ]
)


def _decode_payload(payload: bytes, kind: str, codec: str = "auto") -> dict:
    """Decode step. ``codec="auto"`` tries the real codec first — PIL for
    images (decoded-pixel statistics over the luminance plane); audio
    (soundfile) and video (av) hang off the same seam — and falls back to
    the deterministic byte-statistics stub when the codec is missing
    (this container) or the payload does not parse. ``codec="stub"``
    FORCES the byte statistics — environment-independent, which is what
    the oracle-checked q37 pins (its DuckDB oracle replicates exactly
    these formulas in SQL); the stats keys are identical either way, so
    downstream schemas never change with the environment."""
    digest = hashlib.sha256(payload).digest()
    if codec == "auto" and kind == "image":  # pragma: no cover - PIL absent here
        try:
            import io

            from PIL import Image

            arr = np.asarray(Image.open(io.BytesIO(payload)).convert("L"))
            return {
                "byte_mean": float(arr.sum(dtype=np.int64)) / max(arr.size, 1),
                "byte_entropy_proxy": np.unique(arr).size / 256.0,
                "content_hash": digest.hex()[:16],
            }
        except ImportError:
            pass  # no codec in this deployment -> byte-domain stats
        except Exception:
            pass  # undecodable payload -> byte-domain stats
    arr = np.frombuffer(payload, dtype=np.uint8)
    n = max(arr.size, 1)
    return {
        "byte_mean": float(arr.sum(dtype=np.int64)) / n,
        "byte_entropy_proxy": np.unique(arr).size / 256.0,
        "content_hash": digest.hex()[:16],
    }


DECODED_SCHEMA = (
    "media_id long, kind string, n_bytes long, byte_mean double, "
    "byte_entropy_proxy double, content_hash string"
)


def decode_stats(media: DataFrame, codec: str = "auto") -> DataFrame:
    """Per-item decode → summary stats. Arrow-batched; constant memory per
    task regardless of corpus size."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # column-wise zip, not iterrows(): iterrows materializes a Series
        # per row (~100x the cost of the stats themselves); the per-item
        # work below is numpy C loops + one sha256 call.
        for pdf in batches:
            out = []
            for media_id, kind, payload in zip(
                pdf["media_id"].to_numpy(), pdf["kind"], pdf["payload"]
            ):
                payload = bytes(payload)
                stats = _decode_payload(payload, kind, codec)
                out.append(
                    {
                        "media_id": media_id,
                        "kind": kind,
                        "n_bytes": len(payload),
                        **stats,
                    }
                )
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema=DECODED_SCHEMA)
