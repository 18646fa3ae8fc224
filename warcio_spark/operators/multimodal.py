"""Multimodal column operators: image/audio/video as opaque binary columns
with typed metadata.

The image codec is an OPTIONAL dependency, handled exactly like the
reference treats brotli (warcio/bufferedreaders.py:25-36): PIL is imported
at module load when present and ``decode_image`` uses it; otherwise the
deterministic stub (``_decode_image_stub``) keeps the Spark-side plumbing
(schemas, Arrow batch shapes, mapInPandas signatures, partitioning) real
and tested. This sandbox has no codecs, so goldens pin the stub path.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

try:  # pragma: no cover - optional codec, absent in this sandbox
    from PIL import Image as _PILImage  # noqa: N812

    HAS_PIL = True
except ImportError:
    _PILImage = None
    HAS_PIL = False

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("mime", T.StringType(), True),
        T.StructField("data", T.BinaryType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("features", T.ArrayType(T.FloatType()), True),
    ]
)


def _decode_image_pil(data: bytes):
    """Real decode via PIL: (width, height, channels, 16-dim feature) where
    the feature is a 4x4 mean-luminance grid in [-1, 1] — the same shape
    the stub emits, so downstream schemas/consumers are codec-agnostic.
    Undecodable blobs return None (NULL feature row), never fail the task."""
    import io

    try:
        img = _PILImage.open(io.BytesIO(data))
        img.load()
    except Exception:
        return None
    w, h = img.size
    c = len(img.getbands())
    g = np.asarray(img.convert("L").resize((4, 4)), dtype=np.float32)
    feat = ((g / 255.0) * 2 - 1).flatten().tolist()
    return w, h, c, feat


def decode_image(data: bytes, codec: str = "auto"):
    """Codec entry point. ``codec``:

    - ``"auto"``: PIL when importable, the deterministic stub otherwise
      (optional-dependency contract mirroring the reference's brotli
      handling) — right for exploratory use;
    - ``"stub"`` / ``"pil"`` / ``"ppm"``: pin the codec explicitly.
      Anything whose output is compared across environments (the pinned
      multimodal_features golden, determinism tests) MUST pin: with
      "auto", an ambient PIL install silently flips the semantics of
      synthetic non-image blobs from fake-decode to NULL. ``"ppm"`` is
      the dependency-free builtin (binary P5/P6 netpbm): a REAL pixel
      decode — same (w, h, c, 4x4-luma feature) contract as PIL — so the
      real-decode path stays executable where PIL isn't installed."""
    if data is None or len(data) == 0:
        return None
    if codec == "pil" or (codec == "auto" and HAS_PIL):
        return _decode_image_pil(bytes(data))
    if codec == "ppm":
        return _decode_image_ppm(bytes(data))
    return _decode_image_stub(data)


def _luma_grid_feature(gray: np.ndarray) -> list:
    """4x4 mean-luminance grid in [-1, 1] from a (h, w) float array — the
    shared feature contract of every real codec (PIL resizes; here each
    cell averages its pixel block, identical for block-aligned sizes)."""
    h, w = gray.shape
    ys = np.linspace(0, h, 5, dtype=np.int64)
    xs = np.linspace(0, w, 5, dtype=np.int64)
    out = []
    for i in range(4):
        for j in range(4):
            cell = gray[ys[i]:max(ys[i + 1], ys[i] + 1),
                        xs[j]:max(xs[j + 1], xs[j] + 1)]
            out.append(float((cell.mean() / 255.0) * 2 - 1))
    return out


def _decode_image_ppm(data: bytes):
    """Dependency-free real decode of binary netpbm (P5 gray / P6 RGB) to
    the shared (w, h, channels, feature) tuple — header parse + raster
    view in :func:`_parse_netpbm`, feature = the 4x4 luma grid. Non-netpbm
    or malformed blobs return None — same NULL-row contract as PIL."""
    parsed = _parse_netpbm(data)
    if parsed is None:
        return None
    w, h, c, gray = parsed
    return w, h, c, _luma_grid_feature(gray)


def _parse_netpbm(data: bytes):
    """netpbm header+raster parse -> (w, h, channels, gray float array),
    whitespace/comment tolerant; None on anything malformed."""
    if not data.startswith((b"P5", b"P6")):
        return None
    try:
        fields = []
        i = 2
        while len(fields) < 3:
            while i < len(data) and data[i:i + 1].isspace():
                i += 1
            if data[i:i + 1] == b"#":  # comment to end of line
                while i < len(data) and data[i:i + 1] != b"\n":
                    i += 1
                continue
            j = i
            while j < len(data) and not data[j:j + 1].isspace():
                j += 1
            fields.append(int(data[i:j]))
            i = j
        i += 1  # single whitespace after maxval per spec
        w, h, maxval = fields
        if w <= 0 or h <= 0 or maxval <= 0 or maxval > 255:
            # zero/negative dims would yield an empty raster whose cell
            # means are NaN — malformed headers take the NULL-row contract
            return None
        c = 3 if data.startswith(b"P6") else 1
        raster = np.frombuffer(data, dtype=np.uint8, count=w * h * c,
                               offset=i).astype(np.float32)
        raster *= 255.0 / maxval
        if c == 3:
            px = raster.reshape(h, w, 3)
            gray = (
                0.299 * px[:, :, 0] + 0.587 * px[:, :, 1]
                + 0.114 * px[:, :, 2]
            )
        else:
            gray = raster.reshape(h, w)
        return w, h, c, gray
    except (ValueError, IndexError):
        return None


def _decode_image_stub(data: bytes):
    """Deterministic fake decode: derives (w, h, c, 16-dim feature) from the
    bytes — the no-codec fallback keeping plumbing testable in this sandbox.
    """
    if data is None or len(data) == 0:
        return None
    h = np.frombuffer(
        np.array([len(data)], dtype=np.int64).tobytes() + data[:64].ljust(64, b"\0"),
        dtype=np.uint8,
    )
    rng_base = int(h.sum())
    w, ht, c = 16 + rng_base % 640, 16 + (rng_base // 7) % 480, 3
    feat = ((h[:16].astype(np.float32) / 255.0) * 2 - 1).tolist()
    return w, ht, c, feat


def image_features(media: DataFrame, batch_hint: int = 256,
                   codec: str = "auto") -> DataFrame:
    """Decode + feature-extract images via mapInPandas (Arrow batches of
    binary cells — the real shape a codec UDF runs at). The kind filter is
    JVM-side, BEFORE the Arrow hop: non-image rows (audio/video blobs — the
    bulk of a multimodal table's bytes) never cross into Python.
    ``codec`` as in :func:`decode_image` — pin it for reproducible output."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                decoded = decode_image(
                    bytes(data) if data is not None else None, codec=codec
                )
                if decoded is None:
                    rows.append(
                        {"media_id": mid, "width": None, "height": None,
                         "channels": None, "features": None}
                    )
                else:
                    w, h, c, feat = decoded
                    rows.append(
                        {"media_id": mid, "width": w, "height": h,
                         "channels": c, "features": feat}
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in IMAGE_FEATURES_SCHEMA.fields]
            )

    return (
        media.filter(F.col("kind") == "image")
        .select("media_id", "data")
        .mapInPandas(run, IMAGE_FEATURES_SCHEMA)
    )


def synth_media(spark, n: int, partitions: int = 4) -> DataFrame:
    """Deterministic fake media table for tests."""
    base = spark.range(0, n, 1, partitions)
    return base.select(
        F.col("id").alias("media_id"),
        F.when(F.pmod("id", F.lit(3)) == 0, "image")
        .when(F.pmod("id", F.lit(3)) == 1, "audio")
        .otherwise("video")
        .alias("kind"),
        F.lit("application/octet-stream").alias("mime"),
        F.encode(F.concat(F.lit("media-bytes-"), F.col("id").cast("string")), "utf-8")
        .alias("data"),
        F.create_map(
            F.lit("duration_sec"), (F.pmod("id", F.lit(30)) + 1).cast("string")
        ).alias("meta"),
    )
