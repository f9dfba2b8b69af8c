"""Multimodal (image) column operators.

Media is carried as an opaque ``BINARY`` column plus typed metadata —
the model the reference applies to raster tile bytes
(``/root/reference/src/pmtiles.rs:21-34``: an XYZ tile is compressed
bytes until a decoder turns it into pixels). Here the same pattern
serves a webtext training pipeline: decode / feature-extract / resize
implemented as Arrow-batched ``mapInPandas`` kernels so the
Spark-side plumbing (schema, partitioning, batch shape) is real and
tested at scale.

The codec step is REAL for every image format a stdlib
implementation can honestly cover: ``sources/png.py`` (the codec
that also decodes PMTiles tiles), ``sources/jpeg.py`` (baseline JFIF,
huffman + DCT) and ``sources/webp.py`` + ``sources/vp8.py`` (lossless
VP8L AND lossy VP8 intra, RFC 6386). Any other blob falls back to the
deterministic digest-derived fake — disclosed, one branch, same plan
shape.

Scale notes:
- media bytes never pass through a shuffle — all kernels are narrow
  (mapInPandas over the scan partitioning); aggregations happen on
  the small typed-metadata output, never on the blobs;
- column pruning matters: callers must select the media column only
  in decode stages (Parquet never reads it otherwise);
- per-batch memory is bounded by
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` — set it low
  (e.g. 64) for multi-MB media blobs.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_JPEG_SIG = b"\xff\xd8\xff"

# deterministic PNG-media geometry/content formulas (shared with the
# DuckDB oracle via png_media_*_sql below): greyscale w×h where
#   w = doc_id % 24 + 8,  h = (doc_id * 7) % 16 + 8,
#   v(px, py) = (px * 5 + py * 11 + doc_id) % 256
PNG_W_MOD, PNG_W_OFF = 24, 8
PNG_H_MOD, PNG_H_OFF = 16, 8

# deterministic JPEG-media formulas: greyscale w×h, BLOCK-constant —
# every 8×8 tile holds one value
#   w = doc_id % 21 + 12,  h = (doc_id * 7) % 19 + 12,
#   v(px, py) = ((px // 8) * 5 + (py // 8) * 11 + doc_id) % 256
# encoded at quality=100 (all-ones quant): a constant block's DC is
# the integral 8*(v-128) and every AC is 0, so the decode is
# BIT-EXACT and the DuckDB oracle re-derives it in closed form
# (sources/jpeg.py module docstring spells out the argument).
JPEG_W_MOD, JPEG_W_OFF = 21, 12
JPEG_H_MOD, JPEG_H_OFF = 19, 12

# deterministic WebP-media formulas: greyscale w×h,
#   w = doc_id % 19 + 9,  h = (doc_id * 7) % 17 + 9,
#   v(px, py) = (px * 3 + py * 7 + doc_id) % 256
# encoded as lossless VP8L (sources/webp.py) — decode is bit-exact by
# construction, so the oracle re-derives it in closed form
WEBP_W_MOD, WEBP_W_OFF = 19, 9
WEBP_H_MOD, WEBP_H_OFF = 17, 9


def with_media(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Attach a deterministic synthetic ``media BINARY`` column (a
    fake image blob: 4-byte magic + utf-8 payload). Pure Column
    exprs — reproducible in the DuckDB oracle as
    ``encode('IMG0' || text)``."""
    return docs.withColumn(
        "media", F.encode(F.concat(F.lit("IMG0"), F.col(text_col)), "UTF-8")
    )


def _digest_features(digest: "pd.Series") -> dict[str, "pd.Series"]:
    """THE deterministic fake-decode formula, in one place (pandas
    vectorized): (width, height, mean_luma) derived from the md5
    digest so tests and the DuckDB oracle can reproduce it exactly.
    Both the batch kernel and the single-item API route through
    this."""
    return {
        "width": digest.str.slice(0, 4).apply(int, base=16) % 1024 + 1,
        "height": digest.str.slice(4, 8).apply(int, base=16) % 1024 + 1,
        "mean_luma": digest.str.slice(8, 10).apply(int, base=16),
    }


def _is_webp(media: bytes) -> bool:
    return media[:4] == b"RIFF" and media[8:12] == b"WEBP"


def _decode_image(media: bytes):
    """Decode PNG, JPEG, or WebP bytes → uint8 ndarray, or None if
    the blob is not an image this engine decodes."""
    if media[:8] == _PNG_SIG:
        from georaster_spark.sources.png import decode_png

        return decode_png(media)
    if media[:3] == _JPEG_SIG:
        from georaster_spark.sources.jpeg import decode_jpeg

        return decode_jpeg(media)
    if _is_webp(media):
        from georaster_spark.sources.webp import decode_webp

        return decode_webp(media)
    return None


def _decode_bytes(media: bytes) -> tuple[int, int, int]:
    """Decode media bytes → (width, height, mean_luma).

    PNG, JPEG, and WebP (VP8L lossless + VP8 lossy) blobs decode for
    real (stdlib codecs,
    ``sources/png.py`` / ``sources/jpeg.py`` / ``sources/webp.py``):
    mean_luma is the integer mean of all samples. Any other format
    falls back to the deterministic digest fake (disclosed stub).
    """
    arr = _decode_image(bytes(media))
    if arr is not None:
        return int(arr.shape[1]), int(arr.shape[0]), int(arr.sum() // arr.size)
    h = hashlib.md5(media).hexdigest()
    f = _digest_features(pd.Series([h]))
    return int(f["width"][0]), int(f["height"][0]), int(f["mean_luma"][0])


def png_media_col(id_col: str = "doc_id"):
    """Arrow-batched generator of REAL greyscale PNG blobs from the
    deterministic formula above — the engine's stand-in for reading
    image bytes off object storage (content must be reproducible so
    the DuckDB oracle can derive decode results in closed form)."""
    import numpy as np
    from pyspark.sql import types as T

    from georaster_spark.sources.png import encode_png

    @F.pandas_udf(T.BinaryType())
    def _gen(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            i = int(i)
            w = i % PNG_W_MOD + PNG_W_OFF
            h = (i * 7) % PNG_H_MOD + PNG_H_OFF
            py, px = np.mgrid[0:h, 0:w]
            out.append(encode_png(((px * 5 + py * 11 + i) % 256).astype(np.uint8)))
        return pd.Series(out)

    return _gen(F.col(id_col))


def with_png_media(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a real PNG ``media BINARY`` column."""
    return docs.withColumn("media", png_media_col(id_col))


def jpeg_media_col(id_col: str = "doc_id"):
    """Arrow-batched generator of REAL baseline-JPEG blobs: greyscale
    block-constant images at quality 100, so decode output is exact
    and closed-form (constants documented at the top of the module)."""
    import numpy as np
    from pyspark.sql import types as T

    from georaster_spark.sources.jpeg import encode_jpeg

    @F.pandas_udf(T.BinaryType())
    def _gen(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            i = int(i)
            w = i % JPEG_W_MOD + JPEG_W_OFF
            h = (i * 7) % JPEG_H_MOD + JPEG_H_OFF
            py, px = np.mgrid[0:h, 0:w]
            img = ((px // 8) * 5 + (py // 8) * 11 + i) % 256
            out.append(encode_jpeg(img.astype(np.uint8), quality=100))
        return pd.Series(out)

    return _gen(F.col(id_col))


def with_jpeg_media(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a real JPEG ``media BINARY`` column."""
    return docs.withColumn("media", jpeg_media_col(id_col))


def webp_media_col(id_col: str = "doc_id"):
    """Arrow-batched generator of REAL lossless-WebP (VP8L) blobs
    from the deterministic formula above — exact by construction."""
    import numpy as np
    from pyspark.sql import types as T

    from georaster_spark.sources.webp import encode_webp_lossless

    @F.pandas_udf(T.BinaryType())
    def _gen(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            i = int(i)
            w = i % WEBP_W_MOD + WEBP_W_OFF
            h = (i * 7) % WEBP_H_MOD + WEBP_H_OFF
            py, px = np.mgrid[0:h, 0:w]
            out.append(
                encode_webp_lossless(
                    ((px * 3 + py * 7 + i) % 256).astype(np.uint8),
                    method="subtract-green",
                )
            )
        return pd.Series(out)

    return _gen(F.col(id_col))


def with_webp_media(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a real lossless-WebP ``media BINARY`` column."""
    return docs.withColumn("media", webp_media_col(id_col))


def with_mixed_media(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a format-heterogeneous media column the way a real lake
    would carry one: ids cycle PNG / JPEG / WebP by ``id % 3``. The
    decode kernels dispatch on magic bytes, never on the id."""
    return docs.withColumn(
        "media",
        F.when(F.col(id_col) % 3 == 0, png_media_col(id_col))
        .when(F.col(id_col) % 3 == 1, jpeg_media_col(id_col))
        .otherwise(webp_media_col(id_col)),
    )


def decode_image_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, kind, n_bytes, width, height, mean_luma, digest) via an
    Arrow-batched ``mapInPandas`` kernel — the heavy media column is
    consumed inside the partition and never shuffled. ``kind`` is
    dispatched from magic bytes: png/jpeg/webp rows carry a REAL
    decode, other formats the disclosed digest fake (kind='other')."""
    schema = (
        f"{id_col} long, kind string, n_bytes long, width long, "
        "height long, mean_luma long, digest string"
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # the digest is per-item (as a real codec would be), but
            # everything derived from it is pandas-vectorized; image
            # rows then overwrite the fake with a REAL decode
            blobs = pdf["media"].map(bytes)
            digest = blobs.map(lambda b: hashlib.md5(b).hexdigest())
            out = pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "kind": "other",
                    "n_bytes": blobs.str.len().astype("int64"),
                    **_digest_features(digest),
                    "digest": digest,
                }
            )
            is_img = blobs.map(
                lambda b: b[:8] == _PNG_SIG or b[:3] == _JPEG_SIG or _is_webp(b)
            ).to_numpy()
            if is_img.any():
                decoded = [_decode_image(b) for b in blobs[is_img]]
                out.loc[is_img, "kind"] = [
                    "png"
                    if b[:8] == _PNG_SIG
                    else ("jpeg" if b[:3] == _JPEG_SIG else "webp")
                    for b in blobs[is_img]
                ]
                out.loc[is_img, "width"] = [a.shape[1] for a in decoded]
                out.loc[is_img, "height"] = [a.shape[0] for a in decoded]
                out.loc[is_img, "mean_luma"] = [
                    int(a.sum() // a.size) for a in decoded
                ]
            yield out

    return df.select(id_col, "media").mapInPandas(kernel, schema=schema)


def downsample_image(df: DataFrame, factor: int = 2, id_col: str = "doc_id") -> DataFrame:
    """REAL image resize: decode (PNG/JPEG), 2×2 integer box-average
    downsample (crop to even dims first — keeps the arithmetic
    closed-form for the oracle: out[oy, ox] = (a+b+c+d) // 4 over
    exact uint8 sums), emit (id, width, height, mean_luma) of the
    RESIZED pixels. One narrow Arrow kernel; blobs never shuffle.
    Non-image blobs are passed through the digest fake (disclosed)."""
    if factor != 2:
        raise ValueError("only factor-2 box downsample implemented")
    schema = f"{id_col} long, width long, height long, mean_luma long"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for i, media in zip(pdf[id_col], pdf["media"]):
                arr = _decode_image(bytes(media))
                if arr is None:  # disclosed fallback, same as decode
                    w, h, m = _decode_bytes(bytes(media))
                    rows.append((int(i), w // 2, h // 2, m))
                    continue
                h2, w2 = arr.shape[0] // 2, arr.shape[1] // 2
                a = arr[: h2 * 2, : w2 * 2].astype(np.int64)
                small = (
                    a[0::2, 0::2] + a[1::2, 0::2] + a[0::2, 1::2] + a[1::2, 1::2]
                ) // 4
                rows.append(
                    (int(i), w2, h2, int(small.sum() // max(small.size, 1)))
                )
            yield pd.DataFrame(rows, columns=[id_col, "width", "height", "mean_luma"])

    return df.select(id_col, "media").mapInPandas(kernel, schema=schema)

