"""Multimodal columns: opaque binary payloads + typed metadata, processed in
Arrow batches (training-data pipeline requirement).

The crawl's payload is the image, and the image path is fully real
(pure-numpy codecs in datagen.images): decode to features, resize, and
embed for the ANN store.  The media table keeps a ``modality`` column;
decode_image_features and resize_images read only ``modality == 'image'``
rows, so other payloads in the same table are skipped.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..datagen import images as im

# media fact table: one opaque payload + typed metadata per row
MEDIA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("modality", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

IMAGE_FEATURES = (
    "media_id string, modality string, w int, h int, mean_r double, "
    "mean_g double, mean_b double, phash long"
)


def decode_image_features(media: DataFrame) -> DataFrame:
    """Real path: decode image payloads (png/bmp/fake-jpeg), emit dimensions,
    channel means and a perceptual hash.  mapInPandas so one partition
    processes many rows per Arrow batch — no per-row Python dispatch."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                fmt = (r.meta or {}).get("fmt", "png")
                px = im.decode(fmt, bytes(r.payload))
                out.append(
                    {
                        "media_id": r.media_id,
                        "modality": r.modality,
                        "w": px.shape[1],
                        "h": px.shape[0],
                        "mean_r": float(px[..., 0].mean()),
                        "mean_g": float(px[..., 1].mean()),
                        "mean_b": float(px[..., 2].mean()),
                        "phash": im.phash64(px),
                    }
                )
            yield pd.DataFrame(out)

    return media.filter(F.col("modality") == "image").mapInPandas(
        run, schema=IMAGE_FEATURES
    )


IMAGE_EMBEDDING_DIM = 64


def embed_images(images: DataFrame, grid: int = 4, batch_size: int = 128) -> DataFrame:
    """Deterministic 64-dim visual embedding over fetched images
    (schema.IMAGES rows): per-cell channel means on a grid×grid tiling —
    grid² cells × (gray, R, G, B) = 64 dims at grid=4, each in [0,1].  The
    honest stand-in for a learned visual encoder (this container ships no
    model runtime); the Spark-side contract is the real thing: decode in
    Arrow batches (mapInPandas, no per-row dispatch), fixed dimension
    matching the ANN plane geometry (queries.ANN_DIM), bigint key.  This is
    the bridge from the crawl's image output to the ANN store
    (ann_store.append_lsh_vectors / streaming.index_maintenance): vec_id =
    xxhash64(image_id) — at 10^10 images birthday collisions merge a few
    ids in the INDEX (acceptable: an index candidate list may over-return;
    exact verify keys stay URL-derived, see frontier.dedup_image_urls)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for start in range(0, len(pdf), batch_size):
                out = []
                for r in pdf.iloc[start : start + batch_size].itertuples(index=False):
                    px = im.decode(r.fmt, bytes(r.bytes)).astype(np.float64) / 255.0
                    h, w = px.shape[0], px.shape[1]
                    ys = (np.arange(grid + 1) * h) // grid
                    xs = (np.arange(grid + 1) * w) // grid
                    feats: list[float] = []
                    for ch in (px.mean(axis=2), px[..., 0], px[..., 1], px[..., 2]):
                        for gy in range(grid):
                            for gx in range(grid):
                                cell = ch[ys[gy] : ys[gy + 1], xs[gx] : xs[gx + 1]]
                                feats.append(
                                    float(cell.mean()) if cell.size else float(ch.mean())
                                )
                    out.append({"image_id": r.image_id, "embedding": feats})
                yield pd.DataFrame(out)

    emb = images.select("image_id", "bytes", "fmt").mapInPandas(
        run, schema="image_id string, embedding array<float>"
    )
    return emb.select(F.xxhash64("image_id").alias("vec_id"), "embedding")


def resize_images(media: DataFrame, w: int, h: int) -> DataFrame:
    """Re-encode image payloads at a new size (box resample, PNG out) —
    the preprocessing step a vision-training pipeline runs at scale."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                fmt = (r.meta or {}).get("fmt", "png")
                px = im.decode(fmt, bytes(r.payload))
                ys = (np.arange(h) * px.shape[0] // h).astype(int)
                xs = (np.arange(w) * px.shape[1] // w).astype(int)
                small = px[np.ix_(ys, xs)]
                out.append(
                    {
                        "media_id": r.media_id,
                        "modality": "image",
                        "payload": im.encode_png(small),
                        "meta": {"fmt": "png", "w": str(w), "h": str(h)},
                    }
                )
            yield pd.DataFrame(out)

    return media.filter(F.col("modality") == "image").mapInPandas(run, schema=MEDIA)
