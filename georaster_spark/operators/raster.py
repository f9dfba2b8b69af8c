"""Raster operators: tiles↔pixels, point/window reads, rasterize,
overview pyramid.

Re-expresses the reference's access paths over DataFrames:

- ``tiles_to_pixels`` ↔ chunk decode + ``Pixels`` iteration
  (``src/geotiff.rs:293-363``) — a ``mapInArrow`` that hands each
  chunk row's ``data`` slice, as NumPy, to ``geotiff._pixel_batch``,
  the one chunk→pixel explode (GeoTIFF ``pixels_df`` and
  ``decimal_pixels_df`` call it too); no iterator state machine
  survives, ordering is not part of the value contract (tests sort
  by (y, x); FIXTURES.md §4.3).
- ``read_pixel`` ↔ ``read_pixel(x, y)`` (``src/geotiff.rs:163-176``):
  out-of-bounds yields NULL/no row, never an error.
- ``window_from_tiles`` ↔ ``pixels(x0, y0, w, h)`` with chunk pruning:
  the tile-range filter is the DataFrame analog of "decode only the
  chunks the window touches" (``src/geotiff.rs:354-363``) and prunes
  at the Parquet partition level when tiles are stored partitioned by
  (tile_row, tile_col).
- ``rasterize`` / ``pixels_to_tiles`` ↔ the inverse path (engine op
  E7): bin world points onto a grid, assemble per-tile arrays with
  the reference's padded-stride layout (``src/geotiff.rs:506-516``).
  A chunk row has the one layout of ``TileAttributes``
  (``src/geotiff.rs:433-517``): planar chunks hold one band, chunky
  multi-band chunks hold all samples interleaved, with ``band`` 0.
- ``build_overview`` ↔ COG overview pyramid (``data/Makefile:39``,
  used in ``examples/http_dtm.rs:55-60``): 2×2 aggregate cascade;
  ``pick_overview`` is the query router (SURVEY.md O5).

Scale notes: decode/assemble are narrow per-tile operations — they
parallelize per chunk and never shuffle; rasterize shuffles once on
the (tile, pixel) key, which is the minimum possible (it's the
aggregation key). All group keys include raster_id/image_idx (and
band, where a band is its own chunk) so plans hold for multi-raster
catalogs.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, IntegerType, StructField, StructType

from georaster_spark.grid import RasterGeometry
from georaster_spark.session import local_df
from georaster_spark.sources.geotiff import PIXELS_SCHEMA, _pixel_batch

TILES_SCHEMA = (
    "raster_id string, image_idx int, band int, tile_col int, tile_row int, "
    "pad_right int, pad_down int, data array<double>"
)


def tiles_to_pixels(tiles: DataFrame, geom: RasterGeometry) -> DataFrame:
    """Decode chunk rows into (x, y, band, value) pixel rows, one Arrow
    batch per chunk.

    Chunky multi-sample chunks (spp>1) emit one row per sample with
    ``band`` = sample index; planar chunks carry their band already.
    NaN values become NULL (NoData ↔ NULL, FIXTURES.md §4.2).
    """
    spp = geom.spp()
    tile_w, tile_h = geom.tile_w, geom.tile_h
    schema = to_arrow_schema(DataType.fromDDL(PIXELS_SCHEMA))
    keys = ["raster_id", "image_idx", "band", "tile_col", "tile_row", "pad_right", "pad_down"]

    def decode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            data = batch.column("data")
            # offsets index the unsliced child, so they hold for a slice too
            flat = data.values.to_numpy(zero_copy_only=False)
            offsets = data.offsets.to_numpy()
            for i, r in enumerate(batch.select(keys).to_pylist()):
                th, tw = tile_h - r["pad_down"], tile_w - r["pad_right"]
                vals = flat[offsets[i] : offsets[i + 1]]
                if vals.size != th * tw * spp:
                    raise ValueError(
                        f"chunk ({r['tile_col']},{r['tile_row']}) has {vals.size} values,"
                        f" expected {th * tw * spp}"
                    )
                yield _pixel_batch(
                    vals.reshape(th, tw, spp), r["raster_id"], r["image_idx"],
                    r["band"] if spp == 1 else 0,
                    r["tile_col"] * tile_w, r["tile_row"] * tile_h, schema,
                )

    return tiles.mapInArrow(decode, schema=PIXELS_SCHEMA)


def pixels_to_tiles(pixels: DataFrame, geom: RasterGeometry) -> DataFrame:
    """Assemble pixel rows into padded-stride chunk rows (inverse of
    ``tiles_to_pixels``; engine op E7 sink side). Missing pixels are
    NaN (NULL once decoded again). One shuffle, on the natural chunk
    key. A planar or single-band chunk holds one band; a chunky
    multi-band chunk holds its samples interleaved, ``(h, w, spp)``,
    in one row with ``band`` 0 — the layout ``tiles_to_pixels`` reads."""
    tile_w, tile_h = geom.tile_w, geom.tile_h
    spp = geom.spp()
    tile_col, tile_row = geom.tile_col_row_cols(F.col("x"), F.col("y"))
    keyed = pixels.withColumns({"tile_col": tile_col, "tile_row": tile_row})

    def assemble(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        raster_id, image_idx, tc, tr = key[0], key[1], key[-2], key[-1]
        pr, pdn = geom.get_padding(tr * geom.tiles_across + tc)
        arr = np.full((tile_h - pdn, tile_w - pr, spp), np.nan)
        xs = pdf["x"].to_numpy(np.int64) - tc * tile_w
        ys = pdf["y"].to_numpy(np.int64) - tr * tile_h
        samples = 0 if spp == 1 else pdf["band"].to_numpy(np.int64)
        arr[ys, xs, samples] = pdf["value"].to_numpy(np.float64)
        return pd.DataFrame(
            {
                "raster_id": [raster_id],
                "image_idx": [image_idx],
                "band": [key[2] if spp == 1 else 0],
                "tile_col": [tc],
                "tile_row": [tr],
                "pad_right": [pr],
                "pad_down": [pdn],
                "data": [arr.ravel().tolist()],
            }
        )

    band = ["band"] if spp == 1 else []
    return keyed.groupBy("raster_id", "image_idx", *band, "tile_col", "tile_row").applyInPandas(
        assemble, schema=TILES_SCHEMA
    )


def read_pixel(tiles: DataFrame, geom: RasterGeometry, x: int, y: int, band: int = 0) -> DataFrame:
    """Point lookup: prune to exactly one chunk, decode it, extract.

    OOB → 0 rows (callers treat as NULL/NoData, matching
    ``src/geotiff.rs:164-167``).
    """
    if not (0 <= x < geom.width and 0 <= y < geom.height):
        return local_df(tiles.sparkSession, [], PIXELS_SCHEMA)
    tc, tr = x // geom.tile_w, y // geom.tile_h
    chunk_band = band if geom.planar else 0
    one = tiles.where(
        (F.col("tile_col") == tc) & (F.col("tile_row") == tr) & (F.col("band") == chunk_band)
    )
    px = tiles_to_pixels(one, geom)
    return px.where((F.col("x") == x) & (F.col("y") == y) & (F.col("band") == band))


def window_from_tiles(
    tiles: DataFrame, geom: RasterGeometry, x0: int, y0: int, w: int, h: int,
    band: int | None = None,
) -> DataFrame:
    """Window scan with chunk pruning — decode only touched tiles."""
    x1 = min(x0 + w, geom.width)
    y1 = min(y0 + h, geom.height)
    if x1 <= x0 or y1 <= y0:
        return local_df(tiles.sparkSession, [], PIXELS_SCHEMA)
    pruned = tiles.where(
        F.col("tile_col").between(x0 // geom.tile_w, (x1 - 1) // geom.tile_w)
        & F.col("tile_row").between(y0 // geom.tile_h, (y1 - 1) // geom.tile_h)
    )
    if band is not None and geom.planar:
        pruned = pruned.where(F.col("band") == band)
    px = tiles_to_pixels(pruned, geom)
    out = px.where(geom.window_filter(F.col("x"), F.col("y"), x0, y0, w, h))
    if band is not None:
        out = out.where(F.col("band") == band)
    return out


def crop(pixels: DataFrame, x0: int, y0: int, w: int, h: int) -> DataFrame:
    """Crop workload (``examples/crop.rs:13-29``): clip a pixel window
    and rebase coordinates to the crop origin — the output raster's
    (0,0) is the window's top-left (``crop.rs:28``: ``put_pixel(x -
    x0, y - y0)``). Compose with ``pixels_to_tiles`` on a w×h
    geometry to materialize the crop as a new tiled raster."""
    return pixels.where(
        F.col("x").between(x0, x0 + w - 1) & F.col("y").between(y0, y0 + h - 1)
    ).select(
        "raster_id",
        "image_idx",
        "band",
        (F.col("x") - x0).cast("int").alias("x"),
        (F.col("y") - y0).cast("int").alias("y"),
        "value",
    )


# ascii ramp of examples/img2ascii.rs:58 (10 chars; index 9 duplicated
# in the reference's ramp on purpose)
ASCII_RAMP = " .:-=+░▒▓▓"


def grey_to_ascii_cols(luminance: Column) -> Column:
    """``grey2ascii`` (``examples/img2ascii.rs:56-62``): ramp char at
    round((len-1) * luminance). Character-based substring, so the
    multi-byte ramp chars index correctly in both Spark and DuckDB."""
    idx = F.round(luminance * F.lit(float(len(ASCII_RAMP) - 1)), 0).cast("int")
    return F.substring(F.lit(ASCII_RAMP), idx + F.lit(1), F.lit(1))


def rgb_to_ascii_cols(r: Column, g: Column, b: Column) -> Column:
    """``rgb2ascii`` (``examples/img2ascii.rs:64-67``): inverted
    average luma, then the grey ramp."""
    lum = (F.lit(255.0) - (r + g + b).cast("double") / F.lit(3.0)) / F.lit(255.0)
    return grey_to_ascii_cols(lum)


def ascii_lines(chars: DataFrame) -> DataFrame:
    """Assemble per-pixel ``(x, y, ch)`` chars into one text line per raster row —
    the img2ascii sink (``examples/img2ascii.rs:45-52``). collect_list
    is unordered; the (x, char) structs are array_sorted so the line
    is deterministic regardless of physical row order."""
    return chars.groupBy("y").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("x", "ch"))),
                lambda e: e["ch"],
            ),
            "",
        ).alias("line")
    )


def xyz_lookup(points: DataFrame, tiles: DataFrame, z: int, tile_size: int) -> DataFrame:
    """World→value via the XYZ tile pyramid — the engine form of
    ``get_pixel_at(z, coord)`` (``src/pmtiles.rs:37-51``):

    1. cell-encode each point's ``lon``/``lat`` at zoom z
       (``tms.tile``, ``:43``) in a Project;
    2. one ``mapInArrow`` that drops points with a null ``lon`` or
       ``lat``, takes each distinct cell's bounds from
       ``cells.cell_bounds`` and snaps to the per-tile linear
       geotransform with the top-origin y-flip (``coord_to_pixel``,
       ``:53-69``; flip at ``:67``) and ``.round()`` (half away from
       zero, ``pmtiles.round_half_away``), keeping only points with
       ``0 <= px, py < tile_size``. Every column of ``points`` crosses
       into this Arrow worker, so select what the caller needs first;
    3. an equi-join on ``cell`` alone to ``tiles`` (one row per tile:
       ``cell`` plus row-major ``tile_size²`` ``r``/``g``/``b`` arrays;
       only those four columns are read, so ``pmtiles.tiles_df`` rows
       feed it as they are) — the "tile fetch" — then each band
       indexed at ``py * tile_size + px``.

    Returns the ``points`` columns plus ``cell``, ``px``, ``py`` and
    ``r``, ``g``, ``b`` (int). A missing tile or a ``px``/``py``
    outside the tile yields NO row (the reference errors on missing
    tiles, ``:28`` — we diverge to empty-result semantics, assertable,
    like OOB reads). So does a tile whose bands do not hold
    ``tile_size²`` pixels: it is filtered out before the join, while
    ``pmtiles.get_pixel_at`` samples such a tile at its own width.
    The keys are computed once, in the kernel, so no predicate on
    them reaches below the cell-encode Project.
    """
    from georaster_spark import cells
    from georaster_spark.sources.pmtiles import round_half_away

    ts = float(tile_size)

    def locate(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            lon, lat = batch.column("lon"), batch.column("lat")
            batch = batch.filter(pc.and_(lon.is_valid(), lat.is_valid()))
            lon = batch.column("lon").to_numpy(zero_copy_only=False)
            lat = batch.column("lat").to_numpy(zero_copy_only=False)
            tile_cells, inv = np.unique(batch.column("cell").to_numpy(zero_copy_only=False), return_inverse=True)
            bounds = np.array([cells.cell_bounds(int(c)) for c in tile_cells]).reshape(-1, 4)
            lon0, lat0, lon1, lat1 = bounds[inv].T
            px = round_half_away((lon - lon0) / ((lon1 - lon0) / ts))
            py = round_half_away((lat1 - lat) / ((lat1 - lat0) / ts))
            keep = (px >= 0) & (px < ts) & (py >= 0) & (py < ts)
            yield (
                batch.filter(pa.array(keep))
                .append_column("px", pa.array(px[keep].astype(np.int32)))
                .append_column("py", pa.array(py[keep].astype(np.int32)))
            )

    pts = points.withColumn("cell", cells.cell_encode_cols(F.col("lon"), F.col("lat"), z))
    located = pts.mapInArrow(
        locate, StructType([*pts.schema, StructField("px", IntegerType()), StructField("py", IntegerType())])
    )
    pixel = F.col("py") * tile_size + F.col("px")
    sized = tiles.select("cell", "r", "g", "b").where(F.size("r") == tile_size * tile_size)
    return located.join(sized, ["cell"]).select(
        "cell", "px", "py",
        *(c for c in points.columns if c != "cell"),
        *(F.col(b)[pixel].alias(b) for b in ("r", "g", "b")),
    )


def assemble_rgb(pixels: DataFrame) -> DataFrame:
    """Pivot per-band rows into an RGB(A) array per pixel — the
    DataFrame analog of ``raster_value`` sample assembly
    (``src/geotiff.rs:365-418``)."""
    return (
        pixels.groupBy("raster_id", "image_idx", "x", "y")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("band", "value"))),
                lambda e: e["value"].cast("int"),
            ).alias("rgba")
        )
    )


def rasterize(
    points: DataFrame,
    geom: RasterGeometry,
    lon: Column,
    lat: Column,
    value: Column,
    agg: str = "count",
) -> DataFrame:
    """Vector→raster: world points binned onto the pixel grid via the
    forward geotransform (R8 math), aggregated per pixel into image 0,
    band 0 of raster ``rasterized``. The single
    shuffle is the groupBy on the pixel key — minimal by construction.
    """
    px, py = geom.world_to_pixel_cols(lon, lat)
    binned = (
        points.select(px.alias("x"), py.alias("y"), value.alias("v"))
        .where(
            (F.col("x") >= 0) & (F.col("x") < geom.width)
            & (F.col("y") >= 0) & (F.col("y") < geom.height)
        )
    )
    agg_col = {
        "count": F.count("v"),
        "max": F.max("v"),
        "min": F.min("v"),
        "sum": F.sum("v"),
        "avg": F.avg("v"),
    }[agg]
    return binned.groupBy("x", "y").agg(agg_col.cast("double").alias("value")).select(
        F.lit("rasterized").alias("raster_id"),
        F.lit(0).alias("image_idx"),
        F.lit(0).alias("band"),
        "x",
        "y",
        "value",
    )


def zonal_stats(
    pixels: DataFrame,
    zones: list[tuple[str, int, int, int, int]],
    block: int = 256,
) -> DataFrame:
    """Zonal statistics: per-zone count/min/max/sum/mean over pixel
    windows — the raster analog of the polygon cover join (E3/E4
    pattern applied to pixel space).

    ``zones``: [(zone_id, x0, y0, w, h)] pixel-space rectangles,
    possibly overlapping. Naive plan is a non-equi range join (BNLJ —
    quadratic, dies at scale); instead each zone is expanded onto the
    coarse ``block`` grid it touches, the (block, zone) index is
    broadcast, pixels equi-join on their own block id, and the exact
    bounds check filters JVM-side. One shuffle: the final per-zone
    aggregate.
    """
    idx_rows = []
    for zid, x0, y0, w, h in zones:
        if w <= 0 or h <= 0:
            continue
        for by in range(y0 // block, (y0 + h - 1) // block + 1):
            for bx in range(x0 // block, (x0 + w - 1) // block + 1):
                idx_rows.append((bx, by, zid, x0, y0, x0 + w - 1, y0 + h - 1))
    spark = pixels.sparkSession
    idx = local_df(
        spark,
        idx_rows,
        "bx int, by int, zone_id string, zx0 int, zy0 int, zx1 int, zy1 int",
    )
    keyed = pixels.withColumn("bx", (F.col("x") / block).cast("int")).withColumn(
        "by", (F.col("y") / block).cast("int")
    )
    cand = keyed.join(F.broadcast(idx), ["bx", "by"]).where(
        F.col("x").between(F.col("zx0"), F.col("zx1"))
        & F.col("y").between(F.col("zy0"), F.col("zy1"))
    )
    v = F.col("value")
    return cand.groupBy("zone_id").agg(
        F.count(v).alias("n_px"),
        F.min(v).alias("min_v"),
        F.max(v).alias("max_v"),
        F.sum(v).alias("sum_v"),
        F.avg(v).alias("mean_v"),
    )


def build_overview(
    pixels: DataFrame, factor: int = 2, agg: str = "max", image_idx: int = 1
) -> DataFrame:
    """One pyramid level: aggregate factor×factor pixel blocks.

    Mirrors COG overviews (``data/Makefile:39``); a cascade of these
    gives the full pyramid. image_idx increments per level, smallest
    last — the reference's convention (``examples/img2ascii.rs:17``).
    """
    agg_col = {"max": F.max, "min": F.min, "avg": F.avg, "sum": F.sum}[agg]("value")
    return (
        pixels.groupBy(
            "raster_id",
            "band",
            (F.col("x") / factor).cast("int").alias("x"),
            (F.col("y") / factor).cast("int").alias("y"),
        )
        .agg(agg_col.cast("double").alias("value"))
        .select(
            "raster_id",
            F.lit(image_idx).alias("image_idx"),
            "band",
            "x",
            "y",
            "value",
        )
    )


def overview_cascade(
    pixels: DataFrame, geom: RasterGeometry, levels: int, agg: str = "max"
) -> list[tuple[int, RasterGeometry, DataFrame]]:
    """Full pyramid: [(image_idx, geometry, pixels_df), ...] with
    image_idx 0 = full resolution."""
    out = [(0, geom, pixels)]
    cur = pixels
    for i in range(1, levels + 1):
        cur = build_overview(cur, 2, agg, image_idx=i)
        out.append((i, geom.overview(i), cur))
    return out


def pick_overview(
    cascade: list[tuple[int, RasterGeometry, DataFrame]], max_pixels: int
) -> tuple[int, RasterGeometry, DataFrame]:
    """Query router (SURVEY.md O5): coarsest level whose full extent
    still has ≥ max_pixels — i.e. the cheapest level that can answer
    at the requested detail; falls back to the coarsest."""
    for idx, g, df in cascade:
        if g.width * g.height <= max_pixels:
            return idx, g, df
    return cascade[-1]


def _halo_exploded(pixels: DataFrame, tile: int) -> DataFrame:
    """Shared stage 1 of the tile-halo stencils, over ``x, y, value``
    pixel rows: assign each pixel to its own ``tile×tile`` block plus
    a halo copy into adjacent blocks when it sits on the 1-px block
    border (≤4 targets at corners, 1 typically — duplication
    1 + ~4/tile). Output columns:
    ``_tx,_ty`` block key, ``_x,_y,_v`` pixel. NULL values (NoData)
    are dropped here — a NoData cell behaves exactly like a missing
    neighbor (n_nb excludes it), instead of poisoning the NumPy sums
    with NaN."""
    pixels = pixels.where(F.col("value").isNotNull())
    x, y = F.col("x"), F.col("y")
    tx, ty = F.floor(x / tile), F.floor(y / tile)
    # pmod, not %: Spark's % keeps the dividend's sign, which would
    # mis-place halo copies for negative pixel coordinates
    lx, ly = F.pmod(x, F.lit(tile)), F.pmod(y, F.lit(tile))
    targets = []
    for dx in (-1, 0, 1):
        cx = F.lit(True) if dx == 0 else (lx == (0 if dx < 0 else tile - 1))
        for dy in (-1, 0, 1):
            cy = F.lit(True) if dy == 0 else (ly == (0 if dy < 0 else tile - 1))
            targets.append(
                F.when(
                    cx & cy,
                    F.struct(
                        (tx + dx).cast("long").alias("tx"),
                        (ty + dy).cast("long").alias("ty"),
                    ),
                )
            )
    return pixels.select(
        F.explode(F.array_compact(F.array(*targets))).alias("_t"),
        x.cast("long").alias("_x"),
        y.cast("long").alias("_y"),
        F.col("value").cast("double").alias("_v"),
    ).select(F.col("_t.tx").alias("_tx"), F.col("_t.ty").alias("_ty"), "_x", "_y", "_v")


def _halo_stencil(pixels: DataFrame, tile: int, schema: str, stencil) -> DataFrame:
    """Stage 2 of the tile-halo stencils: one groupBy on the block key
    of ``_halo_exploded``, and per block the dense ``(tile + 2)²`` grid
    of the block plus its 1-px halo: values ``V`` and presence ``M``.
    ``stencil(V, M)`` returns the ``tile×tile`` mask of the owned
    pixels to emit and a dict of ``tile×tile`` output grids, named as
    in ``schema`` after its ``x, y``."""
    T = tile

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        gx = int(pdf["_tx"].iloc[0]) * T - 1  # grid covers block + 1px halo
        gy = int(pdf["_ty"].iloc[0]) * T - 1
        ix = pdf["_x"].to_numpy() - gx
        iy = pdf["_y"].to_numpy() - gy
        V = np.zeros((T + 2, T + 2))
        M = np.zeros((T + 2, T + 2), dtype=bool)
        V[iy, ix] = pdf["_v"].to_numpy(dtype=np.float64)
        M[iy, ix] = True
        own, grids = stencil(V, M)
        oy, ox = np.nonzero(own)
        return pd.DataFrame(
            {
                "x": (gx + 1 + ox).astype(np.int64),
                "y": (gy + 1 + oy).astype(np.int64),
                **{name: grid[own] for name, grid in grids.items()},
            }
        )

    return _halo_exploded(pixels, tile).groupBy("_tx", "_ty").applyInPandas(kernel, schema=schema)


def _window(A: np.ndarray, dx: int, dy: int) -> np.ndarray:
    """The block view of a halo grid shifted by (dx, dy)."""
    T = A.shape[0] - 2
    return A[1 + dy : T + 1 + dy, 1 + dx : T + 1 + dx]


def focal_stats_halo(pixels: DataFrame, tile: int = 256) -> DataFrame:
    """3×3 focal (neighborhood) statistics via tile-halo exchange —
    the canonical distributed stencil.

    Per output pixel: count / sum / min / max over the up-to-9 cells
    of its 3×3 window that are PRESENT in the input (missing
    neighbors — image edge, nodata holes, crop boundary — are simply
    ignored, mirroring the reference's bounds-clipped window scans,
    ``src/geotiff.rs:316-318``).

    Scale design: a naive formulation ships every pixel to 9
    neighbor positions (9× shuffle volume) or self-joins the pixel
    table on a range predicate. Here each pixel is shuffled ~once:
    it is assigned to its own ``tile×tile`` block, plus a HALO copy
    into adjacent blocks only when it sits on the 1-px block border
    (duplication factor 1 + ~4/tile). One groupBy on the block key,
    then a NumPy dense-stencil kernel per block emits only the
    block's owned pixels — so blocks compute independently and the
    shuffle volume is ~1.02× the input at tile=256. Larger stencils
    only widen the halo; the plan shape is unchanged.
    """

    def stencil(V: np.ndarray, M: np.ndarray):
        S = np.zeros((tile, tile))
        C = np.zeros((tile, tile), dtype=np.int64)
        MN = np.full((tile, tile), np.inf)
        MX = np.full((tile, tile), -np.inf)
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                Vw, Mw = _window(V, dx, dy), _window(M, dx, dy)
                S += np.where(Mw, Vw, 0.0)
                C += Mw
                MN = np.minimum(MN, np.where(Mw, Vw, np.inf))
                MX = np.maximum(MX, np.where(Mw, Vw, -np.inf))
        return _window(M, 0, 0), {"n_nb": C, "sum_v": S, "min_v": MN, "max_v": MX}

    return _halo_stencil(
        pixels, tile, "x long, y long, n_nb long, sum_v double, min_v double, max_v double", stencil
    )


def horn_gradients_halo(pixels: DataFrame, tile: int = 256) -> DataFrame:
    """Horn 3×3 gradient NUMERATORS via the same tile-halo exchange
    as ``focal_stats_halo`` (one ~1.02× shuffle, per-block NumPy
    stencil).

    Emits, per pixel whose full 3×3 window is present (n_nb == 9):

      gx_num = (NE + 2·E + SE) − (NW + 2·W + SW)
      gy_num = (SW + 2·S + SE) − (NW + 2·N + NE)

    with north = smaller y (the raster row axis points south, as in
    the reference's negative ``pixel_size_y`` convention,
    ``src/geotiff.rs:109``). dz/dx = gx_num / (8·cellsize); the
    division and downstream trig (slope/aspect/hillshade) are left to
    the caller's Column algebra so the numerators stay integer-exact
    for integer rasters — which lets a cross-engine oracle hash them
    exactly. Edge pixels (incomplete window) are not emitted,
    matching GDAL's default edge behavior for hillshade.
    """

    def stencil(V: np.ndarray, M: np.ndarray):
        GX = np.zeros((tile, tile))
        GY = np.zeros((tile, tile))
        C = np.zeros((tile, tile), dtype=np.int64)
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                Vw, Mw = _window(V, dx, dy), _window(M, dx, dy)
                wx = dx * (2 if dy == 0 else 1)
                wy = dy * (2 if dx == 0 else 1)
                if wx:
                    GX += wx * np.where(Mw, Vw, 0.0)
                if wy:
                    GY += wy * np.where(Mw, Vw, 0.0)
                C += Mw
        return _window(M, 0, 0) & (C == 9), {"gx_num": GX, "gy_num": GY}

    return _halo_stencil(pixels, tile, "x long, y long, gx_num double, gy_num double", stencil)


# D8 neighbor ring in ESRI code order (E=1 clockwise to NE=128); the
# raster row axis points south (north = smaller y, the reference's
# negative pixel_size_y convention, src/geotiff.rs:109), so S is dy=+1.
D8_NEIGHBORS = (
    (1, 0, 1),  # E
    (1, 1, 2),  # SE
    (0, 1, 4),  # S
    (-1, 1, 8),  # SW
    (-1, 0, 16),  # W
    (-1, -1, 32),  # NW
    (0, -1, 64),  # N
    (1, -1, 128),  # NE
)


def d8_flow_halo(pixels: DataFrame, tile: int = 256) -> DataFrame:
    """D8 flow direction (O'Callaghan & Mark 1984; ESRI codes) via
    the same tile-halo exchange as the other 3×3 stencils — one
    ~1.02× shuffle, per-block NumPy kernel.

    Each full-window pixel flows toward the neighbor with the
    steepest positive DROP-over-distance, ``(z_c − z_n) / dist`` with
    dist 1 straight / √2 diagonal. The comparison is done on the
    EXACT integer key ``drop² · (2 if straight else 1)`` (from
    squaring ``s > d/√2``), so the argmax is bit-identical in any
    engine — no irrational arithmetic. Ties take the smallest code
    (E before SE before S …); a cell with no positive drop is a
    sink/flat, code 0. Emits per pixel: ``d8`` code, ``n_down``
    (count of downslope neighbors), ``drop_v`` (the winning drop,
    integer for integer rasters). Edge pixels (incomplete window)
    are not emitted, as in hillshade.
    """

    def stencil(V: np.ndarray, M: np.ndarray):
        center = _window(V, 0, 0)
        n_down = np.zeros((tile, tile), dtype=np.int64)
        best_key = np.zeros((tile, tile))
        best_code = np.zeros((tile, tile), dtype=np.int64)
        best_drop = np.zeros((tile, tile))
        for dx, dy, code in D8_NEIGHBORS:
            Vw, Mw = _window(V, dx, dy), _window(M, dx, dy)
            drop = center - Vw
            down = Mw & (drop > 0)
            n_down += down
            key = np.where(down, drop * drop * (2 if dx == 0 or dy == 0 else 1), 0.0)
            upd = key > best_key  # strict: earlier (smaller) code wins ties
            best_key = np.where(upd, key, best_key)
            best_code = np.where(upd, code, best_code)
            best_drop = np.where(upd, drop, best_drop)
        C = sum(_window(M, dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1))
        full = _window(M, 0, 0) & (C == 9)
        return full, {"d8": best_code, "n_down": n_down, "drop_v": best_drop.astype(np.int64)}

    return _halo_stencil(pixels, tile, "x long, y long, d8 long, n_down long, drop_v long", stencil)


def _d8_cells_edges(flow: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(cells, edges) for the interior D8 flow graph: one edge per
    non-sink cell toward its D8 target, CLOSED over the emitted set
    (a target on the boundary — not emitted, window incomplete there —
    terminates the path). Both frames are eagerly localCheckpoint'ed,
    NOT persist'ed (ADVICE r4): downstream joins reuse the cached
    blocks, and ContextCleaner collects them as soon as the result
    DataFrame is dropped — a CacheManager persist() here leaked
    session-lifetime blocks on every invocation (bench calls these
    operators repeatedly)."""
    code_dx = {c: dx for dx, _, c in D8_NEIGHBORS}
    code_dy = {c: dy for _, dy, c in D8_NEIGHBORS}
    dx = F.element_at(
        F.create_map(*[F.lit(v) for c in code_dx for v in (c, code_dx[c])]),
        F.col("d8").cast("int"),
    )
    dy = F.element_at(
        F.create_map(*[F.lit(v) for c in code_dy for v in (c, code_dy[c])]),
        F.col("d8").cast("int"),
    )
    base = flow.select("x", "y", "d8").localCheckpoint(eager=True)
    cells = base.select("x", "y")
    edges = (
        base.where(F.col("d8") > 0)
        .select("x", "y", (F.col("x") + dx).alias("tx"), (F.col("y") + dy).alias("ty"))
        .join(
            cells.select(F.col("x").alias("tx"), F.col("y").alias("ty")),
            ["tx", "ty"],
        )
        .localCheckpoint(eager=True)
    )
    return cells, edges


def d8_accumulation_k(flow: DataFrame, k: int = 4) -> DataFrame:
    """k-step D8 flow accumulation: for every cell, how many cells'
    flow paths reach it within ≤ k steps (the bounded form of
    O'Callaghan & Mark's contributing-area count; each upstream cell
    counts once). Input is :func:`d8_flow_halo` output; edges exist
    only between emitted (full-window) cells, sinks (code 0) emit
    none, and paths leaving the emitted set simply stop — so the
    semantics are closed over the interior flow graph.

    Plan shape: out-degree is exactly 1, so the j-step frontier is
    ONE equi-join of the (j−1)-step frontier against the edge list on
    the cell key — k fixed joins, each linear in live paths, no
    driver state; the frontier only SHRINKS (paths that hit a sink or
    the boundary drop out). The union of per-step arrivals is a
    single groupBy count. This is the fixed-iteration house pattern
    with an exactly-unrollable SQL twin. FULL
    accumulation needs O(max path length) peeling rounds or an
    Euler-tour doubling — out of scope for a catalog query; at 100 TB
    you'd run this same plan with localCheckpoint every few rounds
    until the frontier empties.
    """
    cells, edges = _d8_cells_edges(flow)
    frontier = edges.select(F.col("x").alias("ux"), F.col("y").alias("uy"), "tx", "ty")
    arrivals = [frontier.select("tx", "ty")]
    for _ in range(1, k):
        frontier = (
            frontier.join(
                edges.select(
                    F.col("x").alias("tx"),
                    F.col("y").alias("ty"),
                    F.col("tx").alias("nx"),
                    F.col("ty").alias("ny"),
                ),
                ["tx", "ty"],
            )
            .select("ux", "uy", F.col("nx").alias("tx"), F.col("ny").alias("ty"))
        )
        arrivals.append(frontier.select("tx", "ty"))
    acc = arrivals[0]
    for extra in arrivals[1:]:
        acc = acc.unionByName(extra)
    acc = acc.groupBy("tx", "ty").agg(F.count(F.lit(1)).alias("acc"))
    return (
        cells.join(
            acc,
            (F.col("x") == F.col("tx")) & (F.col("y") == F.col("ty")),
            "left",
        )
        .select(
            F.col("x").cast("long").alias("x"),
            F.col("y").cast("long").alias("y"),
            F.coalesce(F.col("acc"), F.lit(0)).cast("long").alias(f"acc{k}"),
        )
    )


D8_MAX_ROUNDS = 100_000  # d8_accumulation's cycle guard


def d8_accumulation(flow: DataFrame) -> DataFrame:
    """FULL D8 flow accumulation (contributing-area count,
    O'Callaghan & Mark 1984): for every cell, how many other cells'
    flow paths reach it in ANY number of steps — the fixpoint form of
    :func:`d8_accumulation_k`, same closed-interior edge semantics.

    Plan shape: out-degree is exactly 1 and every edge drops strictly
    in elevation (d8_flow_halo emits an edge only for a positive
    drop), so the flow graph is a DAG and the frontier of live paths
    STRICTLY SHRINKS every round — iterate `frontier ⋈ edges` until
    it empties (the connected-components driver-loop pattern).
    Each round is eagerly ``localCheckpoint``-ed: lineage stays flat
    across rounds, the emptiness probe reads materialized blocks, and
    ContextCleaner reclaims every round's blocks when the result is
    dropped. Driver state is O(1) — one DataFrame handle per round,
    never row data. Total work is linear in the transitive-closure
    size (the sum of all path lengths), which is also the output's
    information content — no algorithm that counts every upstream
    cell exactly does less. At 100 TB the round count is the longest
    flow path; runs would batch rounds between checkpoints exactly as
    here, and the shuffle each round carries only LIVE paths, which
    on real terrain decay geometrically (most paths hit a sink or the
    boundary quickly).
    """
    cells, edges = _d8_cells_edges(flow)
    step = edges.select(
        F.col("x").alias("tx"),
        F.col("y").alias("ty"),
        F.col("tx").alias("nx"),
        F.col("ty").alias("ny"),
    ).localCheckpoint(eager=True)
    frontier = edges.select("tx", "ty").localCheckpoint(eager=True)
    arrivals = [frontier]
    rounds = 0
    while not frontier.isEmpty():
        rounds += 1
        if rounds > D8_MAX_ROUNDS:  # cycle guard: a DAG input terminates
            raise RuntimeError(
                f"d8_accumulation did not converge in {D8_MAX_ROUNDS} rounds"
            )
        frontier = (
            frontier.join(step, ["tx", "ty"])
            .select(F.col("nx").alias("tx"), F.col("ny").alias("ty"))
            .localCheckpoint(eager=True)
        )
        arrivals.append(frontier)
    acc = arrivals[0]
    for extra in arrivals[1:-1]:  # last frontier is empty
        acc = acc.unionByName(extra)
    acc = acc.groupBy("tx", "ty").agg(F.count(F.lit(1)).alias("acc"))
    return (
        cells.join(
            acc,
            (F.col("x") == F.col("tx")) & (F.col("y") == F.col("ty")),
            "left",
        )
        .select(
            F.col("x").cast("long").alias("x"),
            F.col("y").cast("long").alias("y"),
            F.coalesce(F.col("acc"), F.lit(0)).cast("long").alias("acc"),
        )
    )


def resample_bilinear(
    pixels: DataFrame,
    src_x0: int,
    src_y0: int,
    src_w: int,
    src_h: int,
    dst_w: int,
    dst_h: int,
) -> DataFrame:
    """Bilinear resampling of a source pixel window (``x, y, value``
    pixel rows) onto a dst_w×dst_h target grid (pixel-center convention: target pixel (i, j) samples
    source coords ``src_x0 + (i + 0.5) * scale - 0.5``).

    Scale shape: the target grid is GENERATED executor-side
    (spark.range — nothing on the driver), each target pixel explodes
    into its 4 corner references with bilinear weights, and ONE
    equi-join against the pixel table gathers the values, followed by
    one partial-aggregated groupBy — no range join, no per-row
    Python, and the pixel table shuffles once on its natural (x, y)
    key. The inverse direction of the overview cascade
    (``build_overview``'s 2×2 aggregate); together they mirror the
    reference's multi-resolution pyramid access (COG overviews,
    ``src/geotiff.rs:94-98``) with arbitrary ratios.
    """
    spark = pixels.sparkSession
    sx_scale = src_w / dst_w
    sy_scale = src_h / dst_h
    grid = spark.range(dst_w * dst_h).select(
        (F.col("id") % dst_w).cast("int").alias("i"),
        (F.col("id") / dst_w).cast("int").alias("j"),
    )
    sx = src_x0 + (F.col("i") + 0.5) * sx_scale - 0.5
    sy = src_y0 + (F.col("j") + 0.5) * sy_scale - 0.5
    g = grid.select(
        "i",
        "j",
        F.floor(sx).cast("long").alias("x0"),
        F.floor(sy).cast("long").alias("y0"),
        (sx - F.floor(sx)).alias("fx"),
        (sy - F.floor(sy)).alias("fy"),
    )
    corners = g.select(
        "i",
        "j",
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("x0") + dx).alias("x"),
                        (F.col("y0") + dy).alias("y"),
                        (
                            ((1.0 - F.col("fx")) if dx == 0 else F.col("fx"))
                            * ((1.0 - F.col("fy")) if dy == 0 else F.col("fy"))
                        ).alias("w"),
                    )
                    for dx in (0, 1)
                    for dy in (0, 1)
                ]
            )
        ).alias("c"),
    ).select(
        "i", "j", F.col("c.x").alias("x"), F.col("c.y").alias("y"), F.col("c.w").alias("w")
    ).where(
        # a zero-weight corner contributes nothing; dropping it also
        # guarantees every surviving group has sum(w) > 0, so the
        # renormalizing division can never hit ANSI-mode 0/0
        F.col("w") > 0
    )
    # NULL (NoData) source pixels act like absent corners: the
    # remaining weights renormalize (same rule as the halo stencils)
    src = pixels.where(F.col("value").isNotNull()).select(
        F.col("x").cast("long").alias("x"),
        F.col("y").cast("long").alias("y"),
        F.col("value").cast("double").alias("v"),
    )
    # renormalize by the sum of MATCHED weights: corners that fall
    # outside the source window (upsampling edges) or on raster holes
    # would otherwise silently underweight the result. For interior
    # pixels all 4 corners match and sum(w) == 1 exactly (the weights
    # are complementary), so this is the identity there.
    return (
        corners.join(src, ["x", "y"])
        .groupBy("i", "j")
        .agg(
            (F.sum(F.col("w") * F.col("v")) / F.sum("w")).alias("v"),
            F.count(F.lit(1)).alias("n_src"),
        )
    )
