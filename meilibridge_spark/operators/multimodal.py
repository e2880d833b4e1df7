"""Multimodal columns: image/audio/video as opaque binary + typed
metadata, with decode/feature-extraction as Arrow-batched mapInPandas.

The container has no image/audio libraries, so the DECODE step is
stubbed (NotImplementedError behind ``real_decode=True``, deterministic
byte-level features otherwise) while everything Spark-side — schema,
partitioning, UDF signature, batch shape — is real and tested, per the
round brief.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from meilibridge_spark.session import trim_importer_cache

ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_s", T.DoubleType(), True),
                    T.StructField("fmt", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

_KINDS = ["image", "audio", "video"]
_FMTS = {"image": "png", "audio": "wav", "video": "mp4"}

FEATURE_SCHEMA = (
    "asset_id long, kind string, n_bytes long, digest string, "
    "feat array<float>"
)


def synth_assets(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Deterministic fake asset table from a text corpus: payload =
    utf-8 bytes of the text (an opaque blob as far as the pipeline is
    concerned), kind cycles by id, metadata derived from sizes."""
    kind = F.element_at(
        F.array(*[F.lit(k) for k in _KINDS]), (F.col(id_col) % 3 + 1).cast("int")
    )
    fmt = F.element_at(
        F.array(*[F.lit(_FMTS[k]) for k in _KINDS]), (F.col(id_col) % 3 + 1).cast("int")
    )
    n = F.length(F.col(text_col))
    return docs.select(
        F.col(id_col).cast("long").alias("asset_id"),
        kind.alias("kind"),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        F.struct(
            (n % 1920).cast("int").alias("width"),
            (n % 1080).cast("int").alias("height"),
            (n / 100.0).alias("duration_s"),
            fmt.alias("fmt"),
        ).alias("meta"),
    )


def extract_features(assets: DataFrame, real_decode: bool = False) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    real_decode=True is the production slot for PIL/ffmpeg-style
    decoders — unavailable in this container, so it raises; the default
    path computes deterministic byte-level features (size, md5 digest,
    an 8-dim feature from digest bytes) with the same batch shape a
    real decoder would use."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        trim_importer_cache()
        for pdf in batches:
            if pdf.empty:
                continue
            if real_decode:
                raise NotImplementedError(
                    "real image/audio/video decoding requires PIL/ffmpeg, "
                    "not present in this container; use real_decode=False"
                )
            payloads = [bytes(p) if p is not None else b"" for p in pdf["payload"]]
            digests = [hashlib.md5(p).hexdigest() for p in payloads]
            feats = [
                (
                    np.frombuffer(bytes.fromhex(d), dtype=np.uint8)[:8].astype(
                        np.float32
                    )
                    / 255.0
                ).tolist()
                for d in digests
            ]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [len(p) for p in payloads],
                    "digest": digests,
                    "feat": feats,
                }
            )

    return assets.mapInPandas(run, schema=FEATURE_SCHEMA)


def resize_plan(
    assets: DataFrame, target_w: int = 224, target_h: int = 224
) -> DataFrame:
    """Aspect-preserving resize planning for image assets: the output
    dimensions that fit (width, height) into (target_w, target_h) ->
    (asset_id, width, height, out_w, out_h). Pure Catalyst arithmetic
    over the typed metadata — the dimension math never needs the
    pixels, so at 100 TB the plan stage prunes to the metadata columns
    only. Degenerate metadata (w/h <= 0) maps to the full target box."""
    w = F.col("meta.width").cast("double")
    h = F.col("meta.height").cast("double")
    scale = F.least(F.lit(float(target_w)) / w, F.lit(float(target_h)) / h)
    ok = (w > 0) & (h > 0)
    out_w = F.when(
        ok, F.greatest(F.lit(1), F.floor(w * scale).cast("int"))
    ).otherwise(F.lit(target_w))
    out_h = F.when(
        ok, F.greatest(F.lit(1), F.floor(h * scale).cast("int"))
    ).otherwise(F.lit(target_h))
    return assets.filter(F.col("kind") == "image").select(
        "asset_id",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        out_w.cast("int").alias("out_w"),
        out_h.cast("int").alias("out_h"),
    )


RESIZED_SCHEMA = (
    "asset_id long, out_w int, out_h int, n_bytes long, resized_digest string"
)


def resize_images(
    assets: DataFrame,
    target_w: int = 224,
    target_h: int = 224,
    real_decode: bool = False,
) -> DataFrame:
    """Arrow-batched image resize over binary payloads: the pixel work
    is the gated decode slot (PIL absent in this container -> raises
    under real_decode=True); the default path emits a deterministic
    stand-in (payload digest salted with the planned dimensions) with
    the same batch shape and schema a real resizer would use. The
    dimension plan is computed JVM-side (resize_plan) and joined to the
    payloads, so only image rows reach Python."""
    planned = assets.join(
        resize_plan(assets, target_w, target_h).select(
            "asset_id", "out_w", "out_h"
        ),
        "asset_id",
    ).select("asset_id", "payload", "out_w", "out_h")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        trim_importer_cache()
        for pdf in batches:
            if pdf.empty:
                continue
            if real_decode:
                raise NotImplementedError(
                    "real image resizing requires PIL, not present in "
                    "this container; use real_decode=False"
                )
            payloads = [
                bytes(p) if p is not None else b"" for p in pdf["payload"]
            ]
            digests = [
                hashlib.md5(
                    p + f":{w}x{h}".encode()
                ).hexdigest()
                for p, w, h in zip(payloads, pdf["out_w"], pdf["out_h"])
            ]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "out_w": pdf["out_w"],
                    "out_h": pdf["out_h"],
                    "n_bytes": [len(p) for p in payloads],
                    "resized_digest": digests,
                }
            )

    return planned.mapInPandas(run, schema=RESIZED_SCHEMA)


def frame_sample_plan(assets: DataFrame, every_s: float = 1.0) -> DataFrame:
    """Video frame-sampling plan: one row per (asset, frame_ts) —
    demonstrates the explode-side of multimodal processing without a
    decoder. JVM-only (sequence + explode)."""
    n_frames = F.greatest(
        F.lit(1), F.floor(F.col("meta.duration_s") / F.lit(every_s)).cast("int")
    )
    return (
        assets.filter(F.col("kind") == "video")
        .select(
            "asset_id",
            F.explode(
                F.sequence(F.lit(0), n_frames - 1)
            ).alias("frame_idx"),
        )
        .withColumn("frame_ts_s", F.col("frame_idx") * F.lit(every_s))
    )
