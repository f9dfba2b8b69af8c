"""Raster catalog — the engine's analog of the reference's
open/inspect surface (R1/R2: ``GeoTiffReader::open`` walking all
IFDs into ``ImageInfo``s, ``src/geotiff.rs:44-91``).

Registration happens once per raster: geometry + dtype metadata
become rows of the ``raster_meta`` table (one row per image level,
COG overviews included — ``seek_to_image`` ≙ ``image_idx`` filter).
Schema is inferred at registration then fixed, mirroring the
reference's header-decode-at-open model (``src/geotiff.rs:255-289``).

Every entry's geometry is a ``grid.RasterGeometry``: ``geotiff.
geometry_of`` for a file's image, the overview geometry for a pyramid
level, a fixture's own for the synthetic rasters. A ``raster_meta`` row
takes its chunk grid, padding and samples per pixel from it, and a file
without a geotransform takes its defaults.

At scale ``raster_meta`` is a tiny broadcast-able dimension; every
pixel/tile query plans against it driver-side (overview routing,
tile enumeration) without touching the big tables.
"""

from __future__ import annotations

from dataclasses import dataclass, fields

from pyspark.sql import DataFrame, SparkSession

from georaster_spark.grid import RasterGeometry
from georaster_spark.session import local_df
from georaster_spark.sources.geotiff import file_meta_df, geometry_of, open_tiff, raster_id_of

META_SCHEMA = (
    "raster_id string, image_idx int, width int, height int, "
    "tile_w int, tile_h int, origin_x double, origin_y double, "
    "px_sz_x double, px_sz_y double, dtype string, bands int, "
    "planar boolean, spp int, tiles_across int, tiles_down int, "
    "pad_right int, pad_down int"
)


@dataclass(frozen=True)
class RasterEntry:
    raster_id: str
    image_idx: int
    geom: RasterGeometry
    dtype: str


def meta_row(e: RasterEntry) -> tuple:
    g = e.geom
    return (
        e.raster_id, e.image_idx, g.width, g.height, g.tile_w, g.tile_h,
        float(g.origin_x), float(g.origin_y), float(g.px_sz_x), float(g.px_sz_y),
        e.dtype, g.bands, g.planar, g.spp(), g.tiles_across, g.tiles_down,
        g.padding_right, g.padding_down,
    )


def raster_meta_df(spark: SparkSession, entries: list[RasterEntry]) -> DataFrame:
    """The ``raster_meta`` catalog table (R2 inspect surface)."""
    return local_df(spark, [meta_row(e) for e in entries], META_SCHEMA)


def entries_from_files(paths: list[str]) -> list[RasterEntry]:
    """Real-file registration (R1): parse actual TIFF headers (all
    IFDs — COG overviews become image_idx rows) into catalog entries.
    Mirrors ``GeoTiffReader::open`` walking IFDs into ImageInfos
    (``src/geotiff.rs:44-91``) with bytes, not specs.

    Driver-side convenience for a handful of files; the scale path is
    ``register_files_df`` (executor-side header kernel). Both take each
    image's geometry from ``geotiff.geometry_of`` and its raster_id from
    ``geotiff.raster_id_of``, so they can never diverge."""
    out = []
    for p in paths:
        tf = open_tiff(p)
        out += [
            RasterEntry(raster_id_of(p), idx, geometry_of(tf, idx), img.dtype())
            for idx, img in enumerate(tf.images)
        ]
    return out


def register_files_df(spark: SparkSession, paths) -> DataFrame:
    """Distributed registration: the ``raster_meta`` table emitted by
    the executor-side header kernel — zero driver-side file opens, so
    a million-file lake registers as one narrow Arrow stage
    (``session.map_rows``). A file without a geotransform gets
    ``RasterGeometry``'s defaults in place of ``file_meta_df``'s NULLs.
    ``paths`` may be a list or a DataFrame with a ``path`` column."""
    defaults = {
        f.name: f.default
        for f in fields(RasterGeometry)
        if f.name in ("origin_x", "origin_y", "px_sz_x", "px_sz_y")
    }
    cols = [c.split()[0] for c in META_SCHEMA.split(", ")]
    return file_meta_df(spark, paths).selectExpr(
        *[f"coalesce({c}, {defaults[c]!r}d) AS {c}" if c in defaults else c for c in cols]
    )


def fixture_entries() -> list[RasterEntry]:
    """All synthetic fixtures (FIXTURES.md §2) + the DTM pyramid: the
    registration a real deployment would do at raster-ingest time."""
    from georaster_spark.datagen import (
        DTM_GEOM,
        fixture_byte20,
        fixture_f32nan128,
        fixture_sat200,
        fixture_strips1x9,
        fixture_world400,
    )

    # overview pyramid levels (2x cascade, reference data/Makefile:39)
    out = [RasterEntry("dtm5000", idx, DTM_GEOM.overview(idx), "u16") for idx in range(5)]
    for name, fx, dtype in [
        ("world400", fixture_world400, "rgb8"),
        ("strips1x9", fixture_strips1x9, "u8"),
        ("sat200", fixture_sat200, "rgb8"),
        ("f32nan128", fixture_f32nan128, "f32"),
        ("byte20", fixture_byte20, "u8"),
    ]:
        geom, _ = fx()
        out.append(RasterEntry(name, 0, geom, dtype))
    return out
