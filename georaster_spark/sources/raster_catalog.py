"""Raster catalog — the engine's analog of the reference's
open/inspect surface (R1/R2: ``GeoTiffReader::open`` walking all
IFDs into ``ImageInfo``s, ``src/geotiff.rs:44-91``).

Registration happens once per raster: geometry + dtype metadata
become rows of the ``raster_meta`` table (one row per image level,
COG overviews included — ``seek_to_image`` ≙ ``image_idx`` filter).
Schema is inferred at registration then fixed, mirroring the
reference's header-decode-at-open model (``src/geotiff.rs:255-289``).

At scale ``raster_meta`` is a tiny broadcast-able dimension; every
pixel/tile query plans against it driver-side (overview routing,
tile enumeration) without touching the big tables.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from georaster_spark.grid import RasterGeometry
from georaster_spark.session import local_df

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

    @property
    def spp(self) -> int:
        # samples-per-pixel rule (reference src/geotiff.rs:138-150):
        # planar ⇒ 1, else band count
        return 1 if self.geom.planar else self.geom.bands


def meta_row(e: RasterEntry) -> tuple:
    g = e.geom
    return (
        e.raster_id, e.image_idx, g.width, g.height, g.tile_w, g.tile_h,
        float(g.origin_x), float(g.origin_y), float(g.px_sz_x), float(g.px_sz_y),
        e.dtype, g.bands, g.planar, e.spp, g.tiles_across, g.tiles_down,
        (g.tile_w - g.width % g.tile_w) % g.tile_w,
        (g.tile_h - g.height % g.tile_h) % g.tile_h,
    )


def raster_meta_df(spark: SparkSession, entries: list[RasterEntry]) -> DataFrame:
    """The ``raster_meta`` catalog table (R2 inspect surface)."""
    return local_df(spark, [meta_row(e) for e in entries], META_SCHEMA)


def _entry_from_meta_row(row: tuple) -> RasterEntry:
    """RasterEntry from a ``FILE_META_SCHEMA`` tuple (shared row
    builder — the same geometry defaults as ``geometry_of``)."""
    (rid, _path, idx, width, height, tile_w, tile_h, ox, oy, psx, psy,
     dtype, bands, planar, *_rest) = row
    return RasterEntry(
        rid,
        idx,
        RasterGeometry(
            width=width, height=height, tile_w=tile_w, tile_h=tile_h,
            origin_x=(0.0 if ox is None else ox),
            origin_y=(0.0 if oy is None else oy),
            px_sz_x=(1.0 if psx is None else psx),
            px_sz_y=(1.0 if psy is None else psy),
            bands=bands, planar=planar,
        ),
        dtype,
    )


def entries_from_files(paths: list[str]) -> list[RasterEntry]:
    """Real-file registration (R1): parse actual TIFF headers (all
    IFDs — COG overviews become image_idx rows) into catalog entries.
    Mirrors ``GeoTiffReader::open`` walking IFDs into ImageInfos
    (``src/geotiff.rs:44-91``) with bytes, not specs.

    Driver-side convenience for a handful of files; the scale path is
    ``register_files_df`` (executor-side header kernel). Both route
    through ``geotiff.file_meta_rows`` so they can never diverge."""
    from georaster_spark.sources.geotiff import file_meta_rows

    return [_entry_from_meta_row(r) for p in paths for r in file_meta_rows(p)]


def register_files_df(spark: SparkSession, paths) -> DataFrame:
    """Distributed registration: the ``raster_meta`` table emitted by
    the executor-side header kernel — zero driver-side file opens, so
    a million-file lake registers as one narrow Arrow stage
    (``session.map_rows``).
    ``paths`` may be a list or a DataFrame with a ``path`` column."""
    from georaster_spark.sources.geotiff import file_meta_df

    defaults = {  # geometry defaults of geometry_of / _entry_from_meta_row
        "origin_x": "coalesce(origin_x, 0.0d) AS origin_x",
        "origin_y": "coalesce(origin_y, 0.0d) AS origin_y",
        "px_sz_x": "coalesce(px_sz_x, 1.0d) AS px_sz_x",
        "px_sz_y": "coalesce(px_sz_y, 1.0d) AS px_sz_y",
    }
    cols = [c.split()[0] for c in META_SCHEMA.split(", ")]
    return file_meta_df(spark, paths).selectExpr(
        *[defaults.get(c, c) for c in cols]
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

    out = [RasterEntry("dtm5000", 0, DTM_GEOM, "u16")]
    # overview pyramid levels (2x cascade, reference data/Makefile:39)
    g = DTM_GEOM
    for idx in range(1, 5):
        f = 1 << idx
        out.append(
            RasterEntry(
                "dtm5000",
                idx,
                RasterGeometry(
                    width=-(-g.width // f), height=-(-g.height // f),
                    tile_w=g.tile_w, tile_h=g.tile_h,
                    origin_x=g.origin_x, origin_y=g.origin_y,
                    px_sz_x=g.px_sz_x * f, px_sz_y=g.px_sz_y * f,
                    bands=g.bands, planar=g.planar,
                ),
                "u16",
            )
        )
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
