"""Multimodal operator tests: binary media plumbing (schema, batch
shape, determinism) with the stubbed decode."""

from __future__ import annotations

import hashlib

import pytest

from georaster_spark.operators.multimodal import (
    decode_image_features,
    downsample_image,
    with_media,
)


@pytest.fixture(scope="module")
def media_docs(spark):
    rows = [(i, f"doc {i} body " + "x" * (i * 7 % 50)) for i in range(40)]
    return with_media(spark.createDataFrame(rows, "doc_id long, text string"))


def test_media_is_binary_and_deterministic(media_docs):
    f = media_docs.schema["media"]
    assert f.dataType.typeName() == "binary"
    a = media_docs.select("doc_id", "media").orderBy("doc_id").collect()
    b = media_docs.select("doc_id", "media").orderBy("doc_id").collect()
    assert a == b
    assert bytes(a[0]["media"]).startswith(b"IMG0")


def test_decode_image_features_matches_local_stub(media_docs):
    out = {r["doc_id"]: r for r in decode_image_features(media_docs).collect()}
    rows = media_docs.select("doc_id", "media").collect()
    assert len(out) == len(rows)
    for r in rows:
        b = bytes(r["media"])
        h = hashlib.md5(b).hexdigest()
        got = out[r["doc_id"]]
        assert got["kind"] == "other"  # IMG0 is not a decodable image
        assert got["n_bytes"] == len(b)
        assert got["width"] == 1 + int(h[0:4], 16) % 1024
        assert got["height"] == 1 + int(h[4:8], 16) % 1024
        assert got["mean_luma"] == int(h[8:10], 16)
        assert got["digest"] == h
        assert 1 <= got["width"] <= 1024 and 1 <= got["height"] <= 1024


def test_downsample_is_a_real_box_average(spark):
    """4x4 PNG with known values → the 2x2 output must hold the exact
    integer box means, verified against numpy."""
    import numpy as np

    from georaster_spark.sources.png import encode_png

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (6, 8), dtype=np.uint8)
    a = img.astype(np.int64)
    small = (a[0::2, 0::2] + a[1::2, 0::2] + a[0::2, 1::2] + a[1::2, 1::2]) // 4
    df = spark.createDataFrame(
        [(1, bytearray(encode_png(img)))], "doc_id long, media binary"
    )
    r = downsample_image(df).collect()[0]
    assert (r["width"], r["height"]) == (4, 3)
    assert r["mean_luma"] == int(small.sum() // small.size)


def test_downsample_mixed_formats_and_fallback(spark):
    """PNG and JPEG rows downsample from real decodes; a non-image
    blob takes the disclosed digest fallback with halved geometry."""
    import numpy as np

    from georaster_spark.operators.multimodal import _decode_bytes
    from georaster_spark.sources.jpeg import encode_jpeg
    from georaster_spark.sources.png import encode_png

    png = encode_png(np.full((8, 10), 50, np.uint8))
    jpg = encode_jpeg(np.full((16, 24), 77, np.uint8), quality=100)
    fake = b"IMG0opaque"
    df = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(jpg)), (3, bytearray(fake))],
        "doc_id long, media binary",
    )
    rows = {r["doc_id"]: r for r in downsample_image(df).collect()}
    assert (rows[1]["width"], rows[1]["height"], rows[1]["mean_luma"]) == (5, 4, 50)
    assert (rows[2]["width"], rows[2]["height"], rows[2]["mean_luma"]) == (12, 8, 77)
    w, h, m = _decode_bytes(fake)
    assert (rows[3]["width"], rows[3]["height"], rows[3]["mean_luma"]) == (
        w // 2,
        h // 2,
        m,
    )


def test_decode_bytes_png_is_a_real_decode():
    """Hand-checked: 3x2 greyscale [[10,20,30],[40,50,60]] → width 3,
    height 2, mean 210 // 6 = 35 — decoded from actual PNG bytes."""
    import numpy as np

    from georaster_spark.operators.multimodal import _decode_bytes
    from georaster_spark.sources.png import encode_png

    png = encode_png(np.array([[10, 20, 30], [40, 50, 60]], np.uint8))
    assert _decode_bytes(png) == (3, 2, 35)


def test_decode_image_features_mixes_real_and_fake(spark):
    """PNG and JPEG rows decode for real (magic-byte dispatch);
    non-image rows keep the disclosed digest fake — all in the same
    kernel pass."""
    import hashlib

    import numpy as np

    from georaster_spark.operators.multimodal import decode_image_features
    from georaster_spark.sources.jpeg import encode_jpeg
    from georaster_spark.sources.png import encode_png

    png = encode_png(np.full((4, 7), 9, np.uint8))
    jpg = encode_jpeg(np.full((8, 16), 33, np.uint8), quality=100)
    fake = b"IMG0hello"
    df = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(fake)), (3, bytearray(jpg))],
        "doc_id long, media binary",
    )
    rows = {r["doc_id"]: r for r in decode_image_features(df).collect()}
    assert rows[1]["kind"] == "png"
    assert (rows[1]["width"], rows[1]["height"], rows[1]["mean_luma"]) == (7, 4, 9)
    assert rows[1]["digest"] == hashlib.md5(png).hexdigest()
    assert rows[2]["kind"] == "other"
    h = hashlib.md5(fake).hexdigest()
    assert rows[2]["width"] == int(h[0:4], 16) % 1024 + 1
    assert rows[2]["mean_luma"] == int(h[8:10], 16)
    assert rows[3]["kind"] == "jpeg"
    assert (rows[3]["width"], rows[3]["height"], rows[3]["mean_luma"]) == (16, 8, 33)


def test_with_jpeg_media_formula_roundtrip(spark):
    """Generated JPEG geometry/content matches the shared formula for
    a hand-picked id: doc_id=25 → w = 25 % 21 + 12 = 16, h = 175 % 19
    + 12 = 16; tile (bx=1, by=0) = (1*5 + 0*11 + 25) % 256 = 30 — and
    the quality-100 block-constant decode is BIT-exact."""
    import numpy as np

    from georaster_spark.operators.multimodal import with_jpeg_media
    from georaster_spark.sources.jpeg import decode_jpeg

    df = with_jpeg_media(spark.createDataFrame([(25,)], "doc_id long"))
    arr = decode_jpeg(bytes(df.collect()[0]["media"]))
    assert arr.shape == (16, 16)
    assert arr[0, 8] == 30  # pixel in tile (1, 0)
    py, px = np.mgrid[0:16, 0:16]
    assert np.array_equal(arr, ((px // 8) * 5 + (py // 8) * 11 + 25) % 256)


def test_with_png_media_formula_roundtrip(spark):
    """Generated PNG geometry matches the shared formula for a
    hand-picked id: doc_id=25 → w = 25 % 24 + 8 = 9, h = 175 % 16 + 8
    = 23; pixel (2,3) = (2*5 + 3*11 + 25) % 256 = 68."""
    from georaster_spark.operators.multimodal import with_png_media
    from georaster_spark.sources.png import decode_png

    df = with_png_media(spark.createDataFrame([(25,)], "doc_id long"))
    blob = bytes(df.collect()[0]["media"])
    arr = decode_png(blob)
    assert arr.shape == (23, 9)
    assert arr[3, 2] == 68


def test_mixed_media_includes_webp(spark):
    """The id%3==2 rows carry real VP8L blobs; the feature kernel
    sniffs them by RIFF magic and decodes them exactly (hand-checked
    doc_id=5: w = 5 % 19 + 9 = 14, h = 35 % 17 + 9 = 10,
    mean = sum((px*3 + py*7 + 5) % 256) // 140)."""
    import numpy as np

    from georaster_spark.operators.multimodal import (
        decode_image_features,
        with_mixed_media,
    )

    df = spark.createDataFrame([(3,), (4,), (5,)], "doc_id long")
    rows = {r["doc_id"]: r for r in decode_image_features(with_mixed_media(df)).collect()}
    assert rows[3]["kind"] == "png"
    assert rows[4]["kind"] == "jpeg"
    assert rows[5]["kind"] == "webp"
    py, px = np.mgrid[0:10, 0:14]
    v = (px * 3 + py * 7 + 5) % 256
    assert (rows[5]["width"], rows[5]["height"]) == (14, 10)
    assert rows[5]["mean_luma"] == int(v.sum() // v.size)


def test_downsample_webp_is_exact(spark):
    """Lossless WebP resize: 2x2 box means recomputed from the array."""
    import numpy as np

    from georaster_spark.operators.multimodal import downsample_image
    from georaster_spark.sources.webp import encode_webp_lossless

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (9, 13), dtype=np.uint8)
    blob = encode_webp_lossless(img, method="predictor")
    df = spark.createDataFrame([(1, bytearray(blob))], "doc_id long, media binary")
    r = downsample_image(df).collect()[0]
    a = np.stack([img] * 3, -1)[:8, :12].astype(np.int64)
    small = (a[0::2, 0::2] + a[1::2, 0::2] + a[0::2, 1::2] + a[1::2, 1::2]) // 4
    assert (r["width"], r["height"]) == (6, 4)
    assert r["mean_luma"] == int(small.sum() // small.size)

