"""Deterministic synthetic data generators (FIXTURES.md).

Everything is closed-form (no RNG state): the same rows can be
re-derived in Spark (Column exprs over ``spark.range``), in DuckDB
oracle SQL (``range()``), in NumPy, and by hand — which is what makes
the driver's value-hash oracle comparisons possible.

Generators:
- ``documents_df`` — Common-Crawl-style pages per BASELINE.json
  input_hint: (url, warc_ts, html, text, lang). ``text`` is the
  byte-identity invariant column.
- ``geocode_*`` — the deterministic doc→(lon,lat) rule, with a
  20% hot-cell pin to exercise skew/salting (FIXTURES.md §1).
- ``polygons`` — 50 rectangles + L-shaped concave polygons tiling
  the doc box; every polygon also carries a rectangle decomposition
  so the DuckDB oracle can express exact membership as box tests.
- raster fixtures mirroring the reference test matrix
  (``/root/reference/tests/geotiff.rs``, FIXTURES.md §2).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from georaster_spark.grid import RasterGeometry
from georaster_spark.session import local_df

# ------------------------------------------------------------------ docs

LANGS = ["en", "de", "fr", "es", "it"]


def documents_df(spark: SparkSession, n: int) -> DataFrame:
    """Synthetic web-page table per input_hint schema, built from
    ``spark.range`` with pure Column exprs (scales to any n without
    driver-side materialization) over max(8, n / 250k) partitions."""
    df = spark.range(0, n, 1, max(8, n // 250_000))
    i = F.col("id")
    text = F.format_string("doc %d cell %d", i, i % 1024)
    return df.select(
        F.format_string("https://site%d.example/p/%d", i % 997, i).alias("url"),
        (F.lit("2025-01-01 00:00:00").cast("timestamp") + F.make_interval(secs=i.cast("double"))).alias("warc_ts"),
        F.concat(F.lit("<html><body>"), text, F.lit("</body></html>")).cast("binary").alias("html"),
        text.alias("text"),
        F.element_at(F.array(*[F.lit(l) for l in LANGS]), (i % 5 + 1).cast("int")).alias("lang"),
        i.alias("doc_seq"),  # generation index; real pipelines derive it from url
    )


# --------------------------------------------------------------- geocode

# lat/lon derivation constants (FIXTURES.md §1): Knuth multiplicative
# constant spreads doc ids over the [45,47]×[7,9] box; 20% of rows
# (i % 5 == 0) pin to a 0.01°×0.01° hot box to exercise salting.
_LAT_MUL, _LON_MUL, _MOD = 2654435761, 40503, 100000
HOT_LAT0, HOT_LON0, HOT_SZ = 46.0, 7.5, 0.01


def geocode_cols(i: Column) -> tuple[Column, Column]:
    """(lon, lat) Column exprs from a document's generation index."""
    hot = (i % 5) == 0
    lat_cold = 45.0 + ((i * _LAT_MUL) % _MOD).cast("double") / _MOD * 2.0
    lon_cold = 7.0 + ((i * _LON_MUL) % _MOD).cast("double") / _MOD * 2.0
    lat_hot = HOT_LAT0 + ((i * 13) % 997).cast("double") / 997.0 * HOT_SZ
    lon_hot = HOT_LON0 + ((i * 7919) % 997).cast("double") / 997.0 * HOT_SZ
    lon = F.when(hot, lon_hot).otherwise(lon_cold)
    lat = F.when(hot, lat_hot).otherwise(lat_cold)
    return lon, lat


def geocode_sql(i: str) -> tuple[str, str]:
    """The same rule as DuckDB-compatible SQL fragments."""
    lon = (
        f"(CASE WHEN ({i}) % 5 = 0 THEN {HOT_LON0} + (({i}) * 7919) % 997 / 997.0 * {HOT_SZ} "
        f"ELSE 7.0 + (({i}) * {_LON_MUL}) % {_MOD} / {_MOD}.0 * 2.0 END)"
    )
    lat = (
        f"(CASE WHEN ({i}) % 5 = 0 THEN {HOT_LAT0} + (({i}) * 13) % 997 / 997.0 * {HOT_SZ} "
        f"ELSE 45.0 + (({i}) * {_LAT_MUL}) % {_MOD} / {_MOD}.0 * 2.0 END)"
    )
    return lon, lat


def geocode_np(i: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    i = i.astype(np.int64)
    hot = (i % 5) == 0
    lat = np.where(hot, HOT_LAT0 + (i * 13) % 997 / 997.0 * HOT_SZ,
                   45.0 + (i * _LAT_MUL) % _MOD / float(_MOD) * 2.0)
    lon = np.where(hot, HOT_LON0 + (i * 7919) % 997 / 997.0 * HOT_SZ,
                   7.0 + (i * _LON_MUL) % _MOD / float(_MOD) * 2.0)
    return lon, lat


# -------------------------------------------------------------- polygons


@dataclass(frozen=True)
class Polygon:
    poly_id: str
    ring: np.ndarray  # (k, 2) float64, open ring (last→first implied)
    # exact rectangle decomposition (xmin, ymin, xmax, ymax) — used by
    # the DuckDB oracle; the ENGINE never reads it (ray-cast only).
    rects: tuple[tuple[float, float, float, float], ...] = field(default=())

    @property
    def bbox(self) -> tuple[float, float, float, float]:
        return (
            float(self.ring[:, 0].min()),
            float(self.ring[:, 1].min()),
            float(self.ring[:, 0].max()),
            float(self.ring[:, 1].max()),
        )


def _rect(pid: str, x0: float, y0: float, x1: float, y1: float) -> Polygon:
    ring = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]], dtype=np.float64)
    return Polygon(pid, ring, ((x0, y0, x1, y1),))


def _lshape(pid: str, x0: float, y0: float, x1: float, y1: float) -> Polygon:
    """L-shape = cell box minus its top-right quadrant (concave)."""
    xm, ym = (x0 + x1) / 2, (y0 + y1) / 2
    ring = np.array(
        [[x0, y0], [x1, y0], [x1, ym], [xm, ym], [xm, y1], [x0, y1]], dtype=np.float64
    )
    return Polygon(pid, ring, ((x0, y0, x1, ym), (x0, ym, xm, y1)))


# boundary nudge: doc coords are multiples of 2e-5 off the box corner;
# +1e-6 keeps every polygon edge strictly off every doc point, so
# open/closed boundary conventions can't cause engine/oracle drift.
_EPS = 1e-6


def polygons() -> list[Polygon]:
    polys: list[Polygon] = []
    j = 0
    # 25 rectangles + 20 L-shapes on a 5×5 grid over [7,9]×[45,47]
    for gy in range(5):
        for gx in range(5):
            x0 = 7.0 + gx * 0.4 + _EPS
            y0 = 45.0 + gy * 0.4 + _EPS
            if (gx + gy) % 2 == 0 or j >= 45:
                polys.append(_rect(f"poly{j}", x0, y0, x0 + 0.38, y0 + 0.38))
            else:
                polys.append(_lshape(f"poly{j}", x0, y0, x0 + 0.38, y0 + 0.38))
            j += 1
    # 5 small rectangles overlapping the hot cell
    for k in range(5):
        x0 = HOT_LON0 + k * 0.002 + _EPS
        y0 = HOT_LAT0 + _EPS
        polys.append(_rect(f"poly{j + k}", x0, y0, x0 + 0.003, y0 + HOT_SZ - 2 * _EPS))
    return polys


def polygon_rects_sql() -> str:
    """DuckDB VALUES table of the exact rectangle decomposition:
    (poly_id, xmin, ymin, xmax, ymax). Oracle point-in-polygon is
    EXISTS(point in any rect of the poly)."""
    rows = []
    for p in polygons():
        for (x0, y0, x1, y1) in p.rects:
            rows.append(f"('{p.poly_id}', {x0!r}, {y0!r}, {x1!r}, {y1!r})")
    return "(VALUES " + ", ".join(rows) + ") AS polyrects(poly_id, xmin, ymin, xmax, ymax)"


# ------------------------------------------------------- raster fixtures


def array_to_tiles_df(
    spark: SparkSession,
    raster_id: str,
    geom: RasterGeometry,
    arr: np.ndarray,
) -> DataFrame:
    """NumPy array → ``tiles`` DataFrame (image 0), reproducing the reference's
    chunk layout exactly (``TileAttributes``, ``src/geotiff.rs:433-517``):

    - ``arr`` is (h, w) for single band, (h, w, bands) otherwise;
    - planar layout stores one band per chunk run (spp=1), chunky
      interleaves samples within the chunk (spp=bands);
    - chunks exclude padding: last-column chunks have row stride
      ``tile_w - pad_right``, last-row chunks have ``tile_h -
      pad_down`` rows.
    """
    from georaster_spark.operators.raster import TILES_SCHEMA

    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, nb = arr.shape
    assert (h, w, nb) == (geom.height, geom.width, geom.bands)
    rows = []
    spp = geom.spp()
    for run in range(nb // spp):  # a planar image has one band run per band
        for tr in range(geom.tiles_down):
            for tc in range(geom.tiles_across):
                y0, x0 = tr * geom.tile_h, tc * geom.tile_w
                pr, pd = geom.get_padding(tr * geom.tiles_across + tc)
                block = arr[y0 : y0 + geom.tile_h - pd, x0 : x0 + geom.tile_w - pr, run : run + spp]
                rows.append((raster_id, 0, run, tc, tr, pr, pd, block.astype(np.float64).ravel().tolist()))
    return local_df(spark, rows, TILES_SCHEMA)


# ---- fixture fills (FIXTURES.md §2) ----


def fixture_world400() -> tuple[RasterGeometry, np.ndarray]:
    """small_world.tif analog: 400×200 RGB8 planar, strip h=20,
    origin (−180, 90), pixel (0.9, −0.9). V_band(x,y)=(x+2y+37b)%256."""
    geom = RasterGeometry(
        width=400, height=200, tile_w=400, tile_h=20,
        origin_x=-180.0, origin_y=90.0, px_sz_x=0.9, px_sz_y=-0.9,
        bands=3, planar=True,
    )
    y, x = np.mgrid[0:200, 0:400]
    arr = np.stack([(x + 2 * y + 37 * b) % 256 for b in range(3)], axis=-1)
    return geom, arr.astype(np.float64)


def fixture_strips1x9() -> tuple[RasterGeometry, np.ndarray]:
    """incomplete_strips.tiff analog: 1×9 Gray8, rows_per_strip=5
    (short last strip). V(x,y) = 20*y (tests/geotiff.rs:544-547)."""
    geom = RasterGeometry(width=1, height=9, tile_w=1, tile_h=5)
    y = np.arange(9).reshape(9, 1)
    return geom, (20 * y).astype(np.float64)


def fixture_sat200() -> tuple[RasterGeometry, np.ndarray]:
    """sat.tif analog: 200×200 RGB8 chunky, single padded 512×512 tile
    (pad_right=312, pad_down=312) — exercises the padded-stride math."""
    geom = RasterGeometry(
        width=200, height=200, tile_w=512, tile_h=512,
        origin_x=2747994.2968, origin_y=1205137.2435,
        px_sz_x=1.8898895579756552, px_sz_y=-1.8898895306859578,
        bands=3, planar=False,
    )
    y, x = np.mgrid[0:200, 0:200]
    arr = np.stack([(x * 3 + y * 7 + b * 31) % 256 for b in range(3)], axis=-1)
    return geom, arr.astype(np.float64)


def fixture_f32nan128() -> tuple[RasterGeometry, np.ndarray]:
    """f32nan_data.tif analog: 128×128 F32, identity geotransform,
    V(x,y)=frac(|sin(x*131+y)|) with V(0,0) forced NaN."""
    geom = RasterGeometry(width=128, height=128, tile_w=128, tile_h=16)
    y, x = np.mgrid[0:128, 0:128]
    arr = np.abs(np.sin(x * 131.0 + y)) % 1.0
    arr[0, 0] = np.nan
    return geom, arr.astype(np.float64)


def fixture_byte20(dtype: str = "u8") -> tuple[RasterGeometry, np.ndarray]:
    """byte/int16/int32/float32 .tif analogs: 20×20 single band,
    origin (440720, 3751320), pixel (60, −60), constant fill 107."""
    geom = RasterGeometry(
        width=20, height=20, tile_w=20, tile_h=20,
        origin_x=440720.0, origin_y=3751320.0, px_sz_x=60.0, px_sz_y=-60.0,
    )
    return geom, np.full((20, 20), 107.0)


DTM_GEOM = RasterGeometry(
    width=5000, height=5000, tile_w=512, tile_h=512,
    origin_x=4250000.0, origin_y=2700000.0, px_sz_x=10.0, px_sz_y=-10.0,
)

# golden anchors (examples/geotiff_dtm.rs:108-115): pixel(0,0)=636;
# max over window (2500,3000,100,100) = 2161.
DTM_PEAK_X, DTM_PEAK_Y, DTM_PEAK_V = 2550, 3050, 2161
DTM_ORIGIN_V = 636


def dtm_value_cols(x: Column, y: Column) -> Column:
    """Closed-form DTM fill: base in [600,1999] < 2161, with the golden
    peak and origin values forced. Pure Column algebra."""
    base = F.lit(600) + (x * 73 + y * 179) % 1400
    return (
        F.when((x == DTM_PEAK_X) & (y == DTM_PEAK_Y), F.lit(DTM_PEAK_V))
        .when((x == 0) & (y == 0), F.lit(DTM_ORIGIN_V))
        .otherwise(base)
        .cast("int")
    )


def dtm_pixels_df(spark: SparkSession, partitions: int = 32) -> DataFrame:
    """The 5000×5000 DTM as a pixels DataFrame (25M rows, generated
    executor-side from ``spark.range`` — nothing materializes on the
    driver)."""
    n = DTM_GEOM.width
    df = spark.range(0, n * n, 1, partitions)
    x = (F.col("id") % n).cast("int")
    y = (F.col("id") / n).cast("int")
    return df.select(
        F.lit("dtm5000").alias("raster_id"),
        F.lit(0).alias("image_idx"),
        F.lit(0).alias("band"),
        x.alias("x"),
        y.alias("y"),
        dtm_value_cols(x, y).cast("double").alias("value"),
    )


# --------------------------------------------------- xyz tile fixture

XYZ_Z = 12  # zoom of the PMTiles golden test (src/pmtiles.rs:96-103)
XYZ_TILE_SIZE = 32


def xyz_fixture_range() -> tuple[int, int, int, int]:
    """Inclusive tile ranges (x0, x1, y0, y1) at XYZ_Z covering the
    doc geocode box [7,9)×[45,47): floor tiling makes the lon-9 /
    lat-45 edge tiles the inclusive maxima."""
    from georaster_spark.cells import tile_xy

    x0, _ = tile_xy(7.0, 46.0, XYZ_Z)
    x1, _ = tile_xy(9.0, 46.0, XYZ_Z)
    _, y0 = tile_xy(8.0, 47.0, XYZ_Z)
    _, y1 = tile_xy(8.0, 45.0, XYZ_Z)
    return x0, x1, y0, y1


def _xyz_rgb(xt, yt, px, py):
    """Closed-form RGB fill per tile pixel — same arithmetic drives
    the Spark Columns and the DuckDB SQL."""
    r = (xt * 3 + yt * 5 + px * 7 + py) % 256
    g = (xt + yt * 11 + px + py * 3) % 256
    b = (xt * 13 + yt + px * 5 + py * 7) % 256
    return r, g, b


def xyz_tile_pixels_df(spark: SparkSession) -> DataFrame:
    """Deterministic XYZ raster-tile table over the doc box — the
    engine's stand-in for a PMTiles archive (tiles are data, fetch is a
    join). One row per tile, as the reference fetches and decodes one
    tile (``src/pmtiles.rs:37-51``): ``cell`` plus a row-major
    ``XYZ_TILE_SIZE²`` ``array<int>`` per band (``r``, ``g``, ``b``;
    pixel (px, py) at ``py * XYZ_TILE_SIZE + px``) with the ``_xyz_rgb``
    fill."""
    from georaster_spark.cells import _XSHIFT, _ZSHIFT

    x0, x1, y0, y1 = xyz_fixture_range()
    nx, ts = x1 - x0 + 1, XYZ_TILE_SIZE
    ti = F.col("id")
    xt = F.lit(x0) + ti % nx
    yt = F.lit(y0) + F.floor(ti / nx).cast("long")
    pixel = F.sequence(F.lit(0), F.lit(ts * ts - 1))

    def band(k: int) -> Column:
        """Band k of every pixel, row-major."""
        return F.transform(pixel, lambda i: _xyz_rgb(xt, yt, i % ts, F.floor(i / ts))[k].cast("int"))

    return spark.range(nx * (y1 - y0 + 1)).select(
        (F.lit(XYZ_Z).cast("long") * _ZSHIFT + xt * _XSHIFT + yt).alias("cell"),
        band(0).alias("r"),
        band(1).alias("g"),
        band(2).alias("b"),
    )


def xyz_tile_pixels_sql() -> str:
    """The same tiles as DuckDB SQL, one row per (cell, px, py) pixel:
    the oracle's form."""
    from georaster_spark.cells import _XSHIFT, _ZSHIFT

    x0, x1, y0, y1 = xyz_fixture_range()
    ts, nx = XYZ_TILE_SIZE, x1 - x0 + 1
    npx = ts * ts
    n = nx * (y1 - y0 + 1) * npx
    xt = f"({x0} + (range // {npx}) % {nx})"
    yt = f"({y0} + range // {npx} // {nx})"
    px = f"(range % {npx} % {ts})"
    py = f"(range % {npx} // {ts})"
    r, g, b = _xyz_rgb_sql(xt, yt, px, py)
    return f"""
    SELECT CAST({XYZ_Z} AS BIGINT) * {_ZSHIFT} + {xt} * {_XSHIFT} + {yt} AS cell,
           CAST({px} AS INT) AS px, CAST({py} AS INT) AS py,
           CAST({r} AS INT) AS r, CAST({g} AS INT) AS g, CAST({b} AS INT) AS b
    FROM range({n})
    """


def _xyz_rgb_sql(xt: str, yt: str, px: str, py: str) -> tuple[str, str, str]:
    return (
        f"(({xt} * 3 + {yt} * 5 + {px} * 7 + {py}) % 256)",
        f"(({xt} + {yt} * 11 + {px} + {py} * 3) % 256)",
        f"(({xt} * 13 + {yt} + {px} * 5 + {py} * 7) % 256)",
    )


def world400_pixels_sql() -> str:
    """The world400 fixture's per-band pixel values as DuckDB SQL
    (band formula of ``fixture_world400``: V_band = (x + 2y + 37b) % 256)."""
    return """
    SELECT CAST(range % 400 AS INT) AS x, CAST(range // 400 AS INT) AS y,
           CAST((range % 400 + 2 * (range // 400)) % 256 AS INT) AS r,
           CAST((range % 400 + 2 * (range // 400) + 37) % 256 AS INT) AS g,
           CAST((range % 400 + 2 * (range // 400) + 74) % 256 AS INT) AS b
    FROM range(80000)
    """


def dtm_pixels_sql() -> str:
    """DuckDB-equivalent generator for the same 25M pixels."""
    n = DTM_GEOM.width
    return f"""
    SELECT CAST(range % {n} AS INT) AS x, CAST(range // {n} AS INT) AS y,
           CAST(CASE WHEN range % {n} = {DTM_PEAK_X} AND range // {n} = {DTM_PEAK_Y} THEN {DTM_PEAK_V}
                     WHEN range = 0 THEN {DTM_ORIGIN_V}
                     ELSE 600 + ((range % {n}) * 73 + (range // {n}) * 179) % 1400 END AS DOUBLE) AS value
    FROM range({n * n})
    """


# ------------------------------------------------- pmtiles archive fixture
# Engine-written PMTiles v3 archive re-expressing the reference's
# ch-nw.pmtiles tests (src/pmtiles.rs:84-133) against real archive
# bytes: 512x512 terrarium-style RGB tiles around z12 (2128, 1438),
# with the Chasseral anchor pixel carrying RGB (134, 62, 135) so
# get_pixel_at(12, (7.059309, 47.133037)).height() reproduces the
# golden 1598.5294117647063 exactly. Content elsewhere is the shared
# closed-form _xyz_rgb fill so the DuckDB oracle derives every
# aggregate independently (no pinned regression goldens).

PMTILES_TILE_SIZE = 512  # reference tile width golden (src/pmtiles.rs:96-103)
PMTILES_FORMULA_RANGE = (2127, 2129, 1437, 1439)  # inclusive x0,x1,y0,y1 at z12
PMTILES_ANCHOR = (2128, 1438, 163, 230, 134, 62, 135)  # xt,yt,px,py,r,g,b
PMTILES_Z0_SIZE = 64
PMTILES_CONST_TILES = [(2120, 1430), (2121, 1430)]  # identical bytes, consecutive ids: one run
PMTILES_CONST_SIZE = 128
PMTILES_CONST_RGB = (0, 80, 120)


def _pmtiles_tile_array(xt: int, yt: int, size: int) -> "np.ndarray":
    py, px = np.mgrid[0:size, 0:size]
    r, g, b = _xyz_rgb(xt, yt, px, py)
    arr = np.stack([r, g, b], axis=-1).astype(np.uint8)
    ax, ay, apx, apy, ar, ag, ab = PMTILES_ANCHOR
    if (xt, yt) == (ax, ay) and size > max(apx, apy):
        arr[apy, apx] = (ar, ag, ab)
    return arr


def fixture_pmtiles_tiles() -> dict[tuple[int, int, int], bytes]:
    """All fixture tiles as PNG bytes, keyed by (z, x, y)."""
    from georaster_spark.sources.png import encode_png

    x0, x1, y0, y1 = PMTILES_FORMULA_RANGE
    tiles: dict[tuple[int, int, int], bytes] = {}
    for xt in range(x0, x1 + 1):
        for yt in range(y0, y1 + 1):
            tiles[(12, xt, yt)] = encode_png(
                _pmtiles_tile_array(xt, yt, PMTILES_TILE_SIZE)
            )
    tiles[(0, 0, 0)] = encode_png(_pmtiles_tile_array(0, 0, PMTILES_Z0_SIZE))
    const = np.full(
        (PMTILES_CONST_SIZE, PMTILES_CONST_SIZE, 3),
        PMTILES_CONST_RGB,
        np.uint8,
    )
    const_png = encode_png(const)
    for xt, yt in PMTILES_CONST_TILES:
        tiles[(12, xt, yt)] = const_png
    return tiles


def fixture_pmtiles_path() -> str:
    """Write (idempotently, atomically) the fixture archive into the
    shared synth-fixture dir and return its path."""
    import os
    import tempfile

    from georaster_spark.sources.pmtiles import write_pmtiles

    d = os.path.join(tempfile.gettempdir(), "georaster_synth_ingest")
    os.makedirs(d, exist_ok=True)
    # a new archive layout takes a new name, so no cached older file is reused
    p = os.path.join(d, "chnw_synth_runs.pmtiles")
    if not os.path.exists(p):
        tmp = f"{p}.tmp.{os.getpid()}"
        write_pmtiles(tmp, fixture_pmtiles_tiles())
        os.replace(tmp, p)
    return p


def pmtiles_tile_stats_sql() -> str:
    """Independent DuckDB derivation of the per-tile decode stats:
    the same closed-form fill evaluated with generate_series — no
    column is pinned from the engine's own decode."""
    x0, x1, y0, y1 = PMTILES_FORMULA_RANGE
    ax, ay, apx, apy, ar, ag, ab = PMTILES_ANCHOR
    ts = PMTILES_TILE_SIZE
    cr, cg, cb = PMTILES_CONST_RGB
    cs = PMTILES_CONST_SIZE
    z0s = PMTILES_Z0_SIZE
    fr, fg, fb = _xyz_rgb_sql("t.x", "t.y", "p.px", "p.py")
    anchor_case = f"t.x = {ax} AND t.y = {ay} AND p.px = {apx} AND p.py = {apy}"
    tvals = ", ".join(
        f"({xt}, {yt})" for xt in range(x0, x1 + 1) for yt in range(y0, y1 + 1)
    )
    cvals = ", ".join(f"({xt}, {yt})" for xt, yt in PMTILES_CONST_TILES)
    a_r, a_g, a_b = _xyz_rgb_sql("t.x", "t.y", str(apx), str(apy))
    return f"""
    SELECT 12 AS z, t.x AS x, t.y AS y, {ts} AS width, {ts} AS height,
           {ts * ts} AS n_px,
           sum(CASE WHEN {anchor_case} THEN {ar} ELSE {fr} END) AS sum_r,
           sum(CASE WHEN {anchor_case} THEN {ag} ELSE {fg} END) AS sum_g,
           sum(CASE WHEN {anchor_case} THEN {ab} ELSE {fb} END) AS sum_b,
           max(CASE WHEN t.x = {ax} AND t.y = {ay} THEN {ar} ELSE {a_r} END) AS anchor_r,
           max(CASE WHEN t.x = {ax} AND t.y = {ay} THEN {ag} ELSE {a_g} END) AS anchor_g,
           max(CASE WHEN t.x = {ax} AND t.y = {ay} THEN {ab} ELSE {a_b} END) AS anchor_b
    FROM (VALUES {tvals}) AS t(x, y)
    CROSS JOIN (SELECT range % {ts} AS px, range // {ts} AS py
                FROM range({ts * ts})) AS p
    GROUP BY t.x, t.y
    UNION ALL
    SELECT 0, 0, 0, {z0s}, {z0s}, {z0s * z0s},
           sum({fr}), sum({fg}), sum({fb}), NULL, NULL, NULL
    FROM (VALUES (0, 0)) AS t(x, y)
    CROSS JOIN (SELECT range % {z0s} AS px, range // {z0s} AS py
                FROM range({z0s * z0s})) AS p
    UNION ALL
    SELECT 12, t.x, t.y, {cs}, {cs}, {cs * cs},
           {cs * cs} * {cr}, {cs * cs} * {cg}, {cs * cs} * {cb},
           NULL, NULL, NULL
    FROM (VALUES {cvals}) AS t(x, y)
    """


# -------------------------------------------- WebP-tiled PMTiles fixture
# The reference decodes tile blobs via image::with_guessed_format
# (src/pmtiles.rs:30-32) — PNG *or* WebP, per tile, ignoring the
# archive's tile_type byte. This fixture is a MIXED archive: the same
# closed-form _xyz_rgb fill as the PNG fixture, but even-(x+y) tiles
# are PNG while odd tiles are lossless-WebP, rotating through the
# VP8L transforms (subtract-green / predictor / literal), plus a
# palette-coded constant tile pair (identical bytes -> dedup run) and
# a subtract-green z0 overview. Every aggregate is re-derived by the
# DuckDB oracle from the formula — nothing is pinned from the decode.
WEBP_TILE_SIZE = 128
WEBP_Z0_SIZE = 64
WEBP_ANCHOR_PX, WEBP_ANCHOR_PY = 101, 67
_WEBP_METHODS = ("subtract-green", "predictor", "literal", "color")


def fixture_webp_pmtiles_tiles() -> dict[tuple[int, int, int], bytes]:
    from georaster_spark.sources.png import encode_png
    from georaster_spark.sources.webp import encode_webp_lossless

    x0, x1, y0, y1 = PMTILES_FORMULA_RANGE
    tiles: dict[tuple[int, int, int], bytes] = {}
    k = 0
    for xt in range(x0, x1 + 1):
        for yt in range(y0, y1 + 1):
            arr = _pmtiles_tile_array(xt, yt, WEBP_TILE_SIZE)
            if (xt + yt) % 2 == 0:
                tiles[(12, xt, yt)] = encode_png(arr)
            else:
                tiles[(12, xt, yt)] = encode_webp_lossless(
                    arr, method=_WEBP_METHODS[k % len(_WEBP_METHODS)]
                )
                k += 1
    tiles[(0, 0, 0)] = encode_webp_lossless(
        _pmtiles_tile_array(0, 0, WEBP_Z0_SIZE), method="subtract-green"
    )
    const = np.full(
        (WEBP_TILE_SIZE, WEBP_TILE_SIZE, 3), PMTILES_CONST_RGB, np.uint8
    )
    const_webp = encode_webp_lossless(const, method="palette")
    for xt, yt in PMTILES_CONST_TILES:
        tiles[(12, xt, yt)] = const_webp
    return tiles


def fixture_webp_pmtiles_path() -> str:
    """Write (idempotently, atomically) the mixed PNG/WebP archive."""
    import os
    import tempfile

    from georaster_spark.sources.pmtiles import write_pmtiles

    d = os.path.join(tempfile.gettempdir(), "georaster_synth_ingest")
    os.makedirs(d, exist_ok=True)
    # a new archive layout takes a new name, so no cached older file is reused
    p = os.path.join(d, "chnw_synth_webp_runs.pmtiles")
    if not os.path.exists(p):
        tmp = f"{p}.tmp.{os.getpid()}"
        write_pmtiles(tmp, fixture_webp_pmtiles_tiles())
        os.replace(tmp, p)
    return p


def pmtiles_webp_tile_stats_sql() -> str:
    """DuckDB derivation of the WebP-archive per-tile decode stats
    from the same closed-form fill — independent of the VP8L/PNG
    decoders entirely."""
    x0, x1, y0, y1 = PMTILES_FORMULA_RANGE
    ts = WEBP_TILE_SIZE
    z0s = WEBP_Z0_SIZE
    apx, apy = WEBP_ANCHOR_PX, WEBP_ANCHOR_PY
    cr, cg, cb = PMTILES_CONST_RGB
    fr, fg, fb = _xyz_rgb_sql("t.x", "t.y", "p.px", "p.py")
    a_r, a_g, a_b = _xyz_rgb_sql("t.x", "t.y", str(apx), str(apy))
    tvals = ", ".join(
        f"({xt}, {yt})" for xt in range(x0, x1 + 1) for yt in range(y0, y1 + 1)
    )
    cvals = ", ".join(f"({xt}, {yt})" for xt, yt in PMTILES_CONST_TILES)
    return f"""
    SELECT 12 AS z, t.x AS x, t.y AS y, {ts} AS width, {ts} AS height,
           {ts * ts} AS n_px,
           sum({fr}) AS sum_r, sum({fg}) AS sum_g, sum({fb}) AS sum_b,
           max({a_r}) AS anchor_r, max({a_g}) AS anchor_g, max({a_b}) AS anchor_b
    FROM (VALUES {tvals}) AS t(x, y)
    CROSS JOIN (SELECT range % {ts} AS px, range // {ts} AS py
                FROM range({ts * ts})) AS p
    GROUP BY t.x, t.y
    UNION ALL
    SELECT 0, 0, 0, {z0s}, {z0s}, {z0s * z0s},
           sum({fr}), sum({fg}), sum({fb}), NULL, NULL, NULL
    FROM (VALUES (0, 0)) AS t(x, y)
    CROSS JOIN (SELECT range % {z0s} AS px, range // {z0s} AS py
                FROM range({z0s * z0s})) AS p
    UNION ALL
    SELECT 12, t.x, t.y, {ts}, {ts}, {ts * ts},
           {ts * ts} * {cr}, {ts * ts} * {cg}, {ts * ts} * {cb},
           {cr}, {cg}, {cb}
    FROM (VALUES {cvals}) AS t(x, y)
    """


# ----------------------------------------------------------- warc

# Closed-form Common-Crawl-style WARC shards: the SAME url/text/html/
# lang/warc_ts formulas as ``documents_df`` (input_hint schema), so a
# DuckDB oracle can re-derive every extracted field from ``range()``
# without touching the archive bytes — byte-identical extracted text
# per url is then proven by the value-hash compare.
WARC_N_DOCS = 600
WARC_N_FILES = 3
WARC_EPOCH0 = 1735689600  # 2025-01-01T00:00:00Z, documents_df's base ts


def warc_doc_fields(i: int) -> tuple[str, int, bytes, str]:
    """(url, ts_s, html, lang) for generation index ``i`` — pure
    Python twin of the ``documents_df`` Column exprs."""
    url = f"https://site{i % 997}.example/p/{i}"
    text = f"doc {i} cell {i % 1024}"
    html = f"<html><body>{text}</body></html>".encode("ascii")
    lang = LANGS[i % 5]
    return url, WARC_EPOCH0 + i, html, lang


def synth_warc_records(lo: int, hi: int, shard: int):
    """Record stream for one shard: a ``warcinfo`` header record,
    then per doc a ``request`` + ``response`` pair (the reader must
    filter types, as on real crawls)."""
    import time as _time

    from georaster_spark.sources.warc import http_response_bytes

    def iso(ts: int) -> str:
        return _time.strftime("%Y-%m-%dT%H:%M:%SZ", _time.gmtime(ts))

    yield (
        "warcinfo",
        {
            "WARC-Date": iso(WARC_EPOCH0),
            "WARC-Record-ID": f"<urn:uuid:{shard:032x}>",
            "Content-Type": "application/warc-fields",
        },
        b"software: georaster-spark synth crawler\r\n",
    )
    for i in range(lo, hi):
        url, ts, html, lang = warc_doc_fields(i)
        date = iso(ts)
        yield (
            "request",
            {
                "WARC-Date": date,
                "WARC-Target-URI": url,
                "WARC-Record-ID": f"<urn:uuid:{2 * i + 1:032x}>",
                "Content-Type": "application/http; msgtype=request",
            },
            f"GET /p/{i} HTTP/1.1\r\nHost: site{i % 997}.example\r\n\r\n".encode(),
        )
        yield (
            "response",
            {
                "WARC-Date": date,
                "WARC-Target-URI": url,
                "WARC-Record-ID": f"<urn:uuid:{2 * i + 2:032x}>",
                "WARC-Identified-Content-Language": lang,
                "Content-Type": "application/http; msgtype=response",
            },
            http_response_bytes(html),
        )


def fixture_warc_paths() -> list[str]:
    """Write (idempotently, atomically) the WARC shards + CDX sidecars
    into the shared synth-fixture dir and return the shard paths."""
    import os
    import tempfile

    from georaster_spark.sources.warc import write_warc

    d = os.path.join(tempfile.gettempdir(), "georaster_synth_ingest")
    os.makedirs(d, exist_ok=True)
    per = WARC_N_DOCS // WARC_N_FILES
    paths = []
    for s in range(WARC_N_FILES):
        p = os.path.join(d, f"synth-{s:05d}.warc.gz")
        if not (os.path.exists(p) and os.path.exists(p + ".cdx.jsonl")):
            tmp = f"{p}.tmp.{os.getpid()}"
            write_warc(tmp, synth_warc_records(s * per, (s + 1) * per, s))
            os.replace(tmp + ".cdx.jsonl", p + ".cdx.jsonl")
            os.replace(tmp, p)
        paths.append(p)
    return paths
