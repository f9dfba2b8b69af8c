"""In-repo TIFF decode matrix: files written by ``write_tiff`` over every
sample type, compression, predictor and samples-per-pixel it supports,
plus a sparse strip and a GDAL_NODATA file, decoded by ONE
``pixels_df`` call and compared pixel by pixel with the arrays written;
the integer files also by ONE ``decimal_pixels_df`` call, exactly.

``write_tiff`` writes strips only, so tiled files are decoded only by
the reference fixtures' tests; ``chunk_descriptors``' grid over tiled
and stripped images is pinned here without Spark, on headers built in
memory. The header stages (``chunk_plan_df``, ``file_meta_df``,
``register_files_df``) are checked here over an overview pyramid, a
planar file and a file with no geotransform."""

from __future__ import annotations

import itertools
import zlib
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pytest

from georaster_spark.session import local_df
from georaster_spark.sources.geotiff import (
    COMPRESSION_DEFLATE,
    COMPRESSION_LZW,
    COMPRESSION_NONE,
    TiffFile,
    TiffImage,
    _pixel_batch,
    chunk_descriptors,
    chunk_plan_df,
    decimal_pixels_df,
    decode_chunk_bytes,
    file_meta_df,
    file_meta_rows,
    open_tiff,
    pixels_df,
    write_tiff,
)
from georaster_spark.sources.raster_catalog import (
    entries_from_files,
    raster_meta_df,
    register_files_df,
)

DTYPES = ["u8", "u16", "u32", "u64", "i8", "i16", "i32", "i64", "f32", "f64"]
COMPRESSIONS = {"none": COMPRESSION_NONE, "deflate": COMPRESSION_DEFLATE, "lzw": COMPRESSION_LZW}
H, W, RPS = 7, 9, 3  # three strips, the last one short


def _sample(rng, dtype: str, spp: int) -> np.ndarray:
    np_dt = np.dtype({"u": "u", "i": "i", "f": "f"}[dtype[0]] + str(int(dtype[1:]) // 8))
    shape = (H, W, spp)
    if dtype[0] == "f":
        arr = rng.normal(0, 1e3, shape).astype(np_dt)
        arr[1, 2, :] = np.nan
        return arr
    # integers stay inside 2^53, where DOUBLE values are exact
    info = np.iinfo(np_dt)
    lo, hi = max(int(info.min), -(2**52)), min(int(info.max), 2**52)
    return rng.integers(lo, hi, shape, endpoint=True).astype(np_dt)


def _header(width, height, spp, planar, tile=None, rows_per_strip=None):
    """A one-image TIFF header built in memory (no file behind it)."""
    tw, th = tile or (None, None)
    cw, ch = (tw, th) if tile else (width, min(rows_per_strip or height, height))
    n = -(-width // cw) * -(-height // ch) * (spp if planar else 1)
    img = TiffImage(
        width=width, height=height, bits=[8] * spp, formats=[1] * spp, spp=spp,
        planar=planar, compression=COMPRESSION_NONE, photometric=2 if spp == 3 else 1,
        rows_per_strip=rows_per_strip, tile_w=tw, tile_h=th,
        offsets=[100 * (k + 1) for k in range(n)], byte_counts=[10 + k for k in range(n)],
    )
    return TiffFile("/data/scene.tif", "<", [img], None, None, None, None, None, None)


@pytest.mark.parametrize(
    "width, height, spp, planar, tile, rps",
    [
        (4, 4, 3, False, (2, 2), None),  # tiled, chunky, exact
        (5, 3, 3, True, (2, 2), None),  # tiled, planar, ragged width and height
        (5, 4, 1, False, (2, 2), None),  # tiled, ragged width only
        (4, 5, 3, True, (4, 2), None),  # tiled, one tile across, ragged height
        (3, 4, 3, False, None, 2),  # strips, chunky, exact
        (3, 5, 3, True, None, 2),  # strips, planar, short last strip
        (6, 5, 1, False, None, 4),  # strips, short last strip
        (3, 2, 3, False, None, 8),  # RowsPerStrip beyond the height: one strip
        (3, 2, 1, False, None, None),  # no RowsPerStrip tag: one strip
    ],
)
def test_chunk_descriptors_grid(width, height, spp, planar, tile, rps):
    """Each chunk's grid position, band run, stored extent (tiles
    padded, a short last strip not) and valid extent, walked as the
    TIFF6 layout stores them: band run, then rows, then columns."""
    tf = _header(width, height, spp, planar, tile, rps)
    cw, ch = tile or (width, min(rps or height, height))
    want = []
    for run in range(spp if planar else 1):
        for y0 in range(0, height, ch):
            for x0 in range(0, width, cw):
                h = min(ch, height - y0)
                stored_h = ch if tile else h
                want.append((run, x0, y0, cw, stored_h, min(cw, width - x0), h))
    got = chunk_descriptors(tf)
    cols = ("band_run", "x0", "y0", "stored_w", "stored_h", "w", "h")
    assert [tuple(d[c] for c in cols) for d in got] == want
    assert [d["chunk"] for d in got] == list(range(len(want)))
    assert [(d["offset"], d["nbytes"]) for d in got] == list(
        zip(tf.images[0].offsets, tf.images[0].byte_counts)
    )
    assert {(d["raster_id"], d["spp"], d["dtype"]) for d in got} == {
        ("scene", 1 if planar else spp, "u8")
    }


def test_chunk_descriptors_ragged_planar_tiles_pinned():
    """A 5x3 planar RGB image in 2x2 tiles: 3 x 2 tiles a band, the last
    of band 2 padded to 1x1 valid pixel; one offset too many raises, and
    so does an offset or byte-count list short of the grid, chunky or
    planar, instead of dropping chunks."""
    got = chunk_descriptors(_header(5, 3, 3, True, (2, 2)))
    assert len(got) == 18
    last = got[-1]
    assert (last["band_run"], last["x0"], last["y0"]) == (2, 4, 2)
    assert (last["stored_w"], last["stored_h"], last["w"], last["h"]) == (2, 2, 1, 1)
    tf = _header(5, 3, 3, True, (2, 2))
    tf.images[0].offsets.append(9999)
    tf.images[0].byte_counts.append(1)
    with pytest.raises(ValueError, match="19 chunk offsets and 19 byte counts .* 3 band runs x 6 = 18"):
        chunk_descriptors(tf)
    for planar, n in ((False, 4), (True, 12)):  # 4x4 RGB in 2x2 tiles
        short_offsets = _header(4, 4, 3, planar, (2, 2))
        short_offsets.images[0].offsets.pop()
        with pytest.raises(ValueError, match=f"/data/scene.tif: {n - 1} chunk offsets and {n} byte counts"):
            chunk_descriptors(short_offsets)
        short_counts = _header(4, 4, 3, planar, (2, 2))
        short_counts.images[0].byte_counts.pop()
        with pytest.raises(ValueError, match=f"{n} chunk offsets and {n - 1} byte counts .* = {n} chunks"):
            chunk_descriptors(short_counts)


@pytest.fixture(scope="module")
def matrix(tmp_path_factory):
    """{raster_id: (path, expected (H, W, spp) float array, NaN = NULL)}"""
    d = tmp_path_factory.mktemp("tiff_matrix")
    rng = np.random.default_rng(7)
    files = {}
    for dtype, (cname, comp), spp in itertools.product(DTYPES, COMPRESSIONS.items(), (1, 3)):
        for pred in (1, 3) if dtype[0] == "f" else (1, 2):
            rid = f"{dtype}_{cname}_p{pred}_s{spp}"
            arr = _sample(rng, dtype, spp)
            path = str(d / f"{rid}.tif")
            write_tiff(path, arr, dtype, rows_per_strip=RPS, compression=comp, predictor=pred)
            files[rid] = (path, arr.astype(np.float64))

    # GDAL sparse layout: the all-zero middle strip stores no payload
    arr = np.arange(1, H * W + 1, dtype=np.uint16).reshape(H, W, 1)
    arr[RPS : 2 * RPS] = 0
    path = str(d / "sparse.tif")
    write_tiff(path, arr, "u16", rows_per_strip=RPS, compression=COMPRESSION_DEFLATE, sparse_value=0)
    want = arr.astype(np.float64)
    want[RPS : 2 * RPS] = np.nan
    files["sparse"] = (path, want)

    # GDAL_NODATA sentinel, applied at decode
    arr = np.arange(H * W, dtype=np.int16).reshape(H, W, 1) % 11 - 5
    path = str(d / "nodata.tif")
    write_tiff(path, arr, "i16", rows_per_strip=RPS, nodata=-5)
    want = arr.astype(np.float64)
    want[arr == -5] = np.nan
    files["nodata"] = (path, want)
    return files


def _rows(spark, files, chunk_partitions):
    paths = [p for p, _ in files.values()]
    df = pixels_df(spark, paths, chunk_partitions=chunk_partitions, apply_nodata=True)
    return df, sorted(df.collect(), key=lambda r: (r.raster_id, r.band, r.y, r.x))


def test_decode_matrix_matches_written_arrays(spark, matrix):
    df, rows = _rows(spark, matrix, None)
    assert df.schema.simpleString() == (
        "struct<raster_id:string,image_idx:int,band:int,x:int,y:int,value:double>"
    )
    got: dict[str, np.ndarray] = {rid: np.full(a.shape, -1.0) for rid, (_, a) in matrix.items()}
    for r in rows:
        assert r.image_idx == 0
        got[r.raster_id][r.y, r.x, r.band] = np.nan if r.value is None else r.value
    assert len(rows) == sum(a.size for _, a in matrix.values())
    for rid, (_, want) in matrix.items():
        np.testing.assert_array_equal(got[rid], want, err_msg=rid)
    # NaN and sparse pixels come back as NULL, not as a NaN double
    assert not any(r.value is not None and np.isnan(r.value) for r in rows)
    assert sum(r.value is None for r in rows if r.raster_id == "sparse") == RPS * W


def test_chunk_partitions_split_gives_identical_rows(spark, matrix):
    _, one = _rows(spark, matrix, None)
    df, split = _rows(spark, matrix, 3)
    assert split == one
    # one Python stage over the (path, k, n) table: no shuffle
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan and "Exchange" not in plan


def test_paths_dataframe_gives_identical_rows(spark, matrix):
    """The scale form: a catalog DataFrame with a ``path`` column."""
    _, want = _rows(spark, matrix, None)
    catalog = local_df(spark, [(rid, p) for rid, (p, _) in matrix.items()], "rid string, path string")
    for n in (None, 3):
        df = pixels_df(spark, catalog, chunk_partitions=n, apply_nodata=True)
        got = sorted(df.collect(), key=lambda r: (r.raster_id, r.band, r.y, r.x))
        assert got == want, n


def test_decimal_decode_matrix_is_exact(spark, matrix):
    """The exact path over every integer file (spp 1 and 3, predictor
    1 and 2, none/Deflate/LZW) and the sparse strip (NULL): one Arrow
    stage over the path table, values equal to the written integers."""
    ints = {rid: v for rid, v in matrix.items() if rid[0] in "ui" or rid == "sparse"}
    df = decimal_pixels_df(spark, [p for p, _ in ints.values()])
    assert df.schema.simpleString() == (
        "struct<raster_id:string,image_idx:int,band:int,x:int,y:int,value:decimal(20,0)>"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1 and "MapInPandas" not in plan
    assert "LocalTableScan" in plan and "Exchange" not in plan
    rows = df.collect()
    assert len(rows) == sum(a.size for _, a in ints.values())
    got = {(r.raster_id, r.band, r.y, r.x): r.value for r in rows}
    for rid, (_, want) in ints.items():
        for (y, x, b), v in np.ndenumerate(want):
            # the written integers stay inside 2^53, so the float copy is exact
            assert got[(rid, b, y, x)] == (None if np.isnan(v) else Decimal(int(v))), (rid, b, y, x)


def test_big_endian_chunks_explode_exactly():
    """A big-endian (``MM``) file's chunks keep the file's byte order on
    the exact path; the explode still gives the exact DECIMAL(20,0)
    values. ``write_tiff`` writes little-endian files only, so the
    chunks are built here: u64 above 2^53 (no predictor, no
    compression) and i16 spp 3 with predictor 2 and Deflate."""
    decimal = pa.schema(
        [("raster_id", pa.string()), ("image_idx", pa.int32()), ("band", pa.int32()),
         ("x", pa.int32()), ("y", pa.int32()), ("value", pa.decimal128(20, 0))]
    )
    u64 = np.array([[2**64 - 1, 2**53 + 1, 0], [2**63, 2**60 + 7, 12345]], np.uint64)[..., None]
    i16 = np.arange(-9, 9, dtype=np.int16).reshape(2, 3, 3) * 1000
    deltas = i16.copy()
    deltas[:, 1:] = i16[:, 1:] - i16[:, :-1]  # predictor 2, wraps in int16
    cases = [
        (u64, u64.astype(">u8").tobytes(), "u64", COMPRESSION_NONE, 1),
        (i16, zlib.compress(deltas.astype(">i2").tobytes()), "i16", COMPRESSION_DEFLATE, 2),
    ]
    for want, raw, dtype, comp, pred in cases:
        h, w, spp = want.shape
        desc = {
            "chunk": 0, "nbytes": len(raw), "compression": comp, "predictor": pred,
            "dtype": dtype, "byte_order": ">", "spp": spp,
            "stored_h": h, "stored_w": w, "h": h, "w": w,
        }
        arr = decode_chunk_bytes(raw, desc, as_float=False)
        if pred == 1:  # nothing re-computed the samples: the file's order survives
            assert arr.dtype.byteorder == ">"
        batch = _pixel_batch(arr, "mm", 0, 0, 4, 2, decimal)
        got = {(r["band"], r["y"], r["x"]): r["value"] for r in batch.to_pylist()}
        assert got == {
            (b, 2 + y, 4 + x): Decimal(int(v)) for (y, x, b), v in np.ndenumerate(want)
        }, dtype


def test_header_stages_equal_scalar_rows(spark, tmp_path):
    """``chunk_plan_df`` and ``file_meta_df`` over in-repo files (an
    overview pyramid with GDAL_NODATA, a planar u8 file and a file with
    no geotransform) equal ``chunk_descriptors`` / ``file_meta_rows``
    row for row, NULLs included; each is one Arrow stage over the path
    list, with no pandas stage."""
    rng = np.random.default_rng(11)
    base = rng.integers(0, 60000, (9, 10), endpoint=True).astype(np.uint16)
    planar = rng.integers(0, 255, (5, 6, 3), endpoint=True).astype(np.uint8)
    paths = [str(tmp_path / f) for f in ("pyramid.tif", "planar.tif", "bare.tif")]
    write_tiff(
        paths[0], base, "u16", pixel_scale=(0.5, -0.25), origin=(7.0, 47.0), rows_per_strip=4,
        overviews=[base[::2, ::2], base[::4, ::4]], compression=COMPRESSION_DEFLATE, nodata=0,
    )
    write_tiff(paths[1], planar, "u8", pixel_scale=(2.0, -2.0), origin=(-180.0, 90.0),
               rows_per_strip=2, planar=True)
    write_tiff(paths[2], rng.normal(0, 1, (3, 4)).astype(np.float32), "f32")

    plan_df = chunk_plan_df(spark, paths)
    meta_df = file_meta_df(spark, paths)
    for df in (plan_df, meta_df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInArrow") == 1 and "MapInPandas" not in plan, plan
    cols = plan_df.columns
    want = [
        tuple(d[c] for c in cols) for p in paths for d in chunk_descriptors(open_tiff(p))
    ]
    assert sorted(map(tuple, plan_df.collect())) == sorted(want)
    assert {w[cols.index("band_run")] for w in want if w[1] == "planar"} == {0, 1, 2}
    assert {w[cols.index("nodata")] for w in want} == {"0", None}
    # the distributed and the driver-side catalog agree, geometry defaults included
    assert sorted(map(tuple, register_files_df(spark, paths).collect())) == sorted(
        map(tuple, raster_meta_df(spark, entries_from_files(paths)).collect())
    )
    want = [r for p in paths for r in file_meta_rows(p)]
    got = meta_df.collect()
    assert sorted(map(tuple, got), key=lambda r: (r[1], r[2])) == sorted(
        want, key=lambda r: (r[1], r[2])
    )
    assert len(got) == 5
    bare = [r for r in got if r.raster_id == "bare"]
    assert [r.origin_x for r in bare] == [None] and [r.px_y_e9 for r in bare] == [None]
    assert {r.planar for r in got if r.raster_id == "planar"} == {True}
    # the planar file decodes to the array written
    px = pixels_df(spark, [paths[1]]).collect()
    assert len(px) == planar.size
    assert all(planar[r.y, r.x, r.band] == r.value for r in px)
