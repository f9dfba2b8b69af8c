"""Raster grid geometry — geotransform + tile ("chunk") math.

``RasterGeometry`` is the engine's one home of the reference's
``TileAttributes`` (``src/geotiff.rs:433-517``): the chunk grid,
edge padding, samples per pixel, the 2^k overview geometry and the
geotransform defaults live here and nowhere else. Its readers: the
TIFF source (``geotiff.geometry_of`` builds it from a header, and
``chunk_descriptors`` lays each file's chunks on its grid), the raster
catalog (``raster_catalog.meta_row`` and ``register_files_df``), the
raster operators (``tiles_to_pixels``, ``pixels_to_tiles``,
``overview_cascade``) and the synthetic fixtures.

It mirrors the semantics (NOT the code) of the reference's
``GeoTiffReader`` geotransform accessors and ``TileAttributes``:

- world↔pixel affine: ``px = round((x - origin_x)/px_sz_x)``,
  ``x = px*px_sz_x + origin_x`` (reference ``src/geotiff.rs:231-252``;
  golden round-trips in ``tests/geotiff.rs:504-524``).
- tile index: ``band_offset + (y//th)*tiles_across + (x//tw)``
  (``src/geotiff.rs:489-503``). Planar images offset chunks by
  ``(image_height // tile_h) * band`` — note the reference uses FLOOR
  division here (``src/geotiff.rs:495-498``), not ceil; we mirror the
  quirk exactly so tile assignments match.
- in-chunk offset: ``((y % th) * (tw - pad_right) + (x % tw)) * spp``
  — right-edge padding shrinks the row stride
  (``src/geotiff.rs:506-516``; the 0.2.0 bugfix, ``CHANGELOG.md:15``).
- padding: right/bottom padding only on the last tile column/row;
  ``pad = (t - dim % t) % t`` (``src/geotiff.rs:463-486``).

Everything is exposed twice: as plain-Python scalar methods (driver
-side planning, tests) and as pure Column expressions (JVM-side,
whole-stage-codegen'd — the scale path; no UDFs anywhere here).
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import Column
from pyspark.sql import functions as F


def _ceil_div(a: int, b: int) -> int:
    return -(-a // b)


def _padding(dim: int, tile: int) -> int:
    return (tile - dim % tile) % tile


@dataclass(frozen=True)
class RasterGeometry:
    """Static geometry of one raster image (one IFD / overview level).

    ``px_sz_y`` is normally negative (north-up rasters, reference
    ``src/geotiff.rs:109``). The field defaults are the geometry of a
    raster without a geotransform (origin 0, pixel size 1).
    """

    width: int
    height: int
    tile_w: int
    tile_h: int
    origin_x: float = 0.0
    origin_y: float = 0.0
    px_sz_x: float = 1.0
    px_sz_y: float = 1.0
    bands: int = 1
    planar: bool = False

    # ---- grid shape ------------------------------------------------
    @property
    def tiles_across(self) -> int:
        return _ceil_div(self.width, self.tile_w)

    @property
    def tiles_down(self) -> int:
        return _ceil_div(self.height, self.tile_h)

    @property
    def tiles_per_band(self) -> int:
        """Chunks in one band run (a planar image stores one run per band)."""
        return self.tiles_across * self.tiles_down

    @property
    def padding_right(self) -> int:
        return _padding(self.width, self.tile_w)

    @property
    def padding_down(self) -> int:
        return _padding(self.height, self.tile_h)

    def spp(self) -> int:
        """Samples per pixel stored per chunk: planar ⇒ 1, else bands.

        Reference ``src/geotiff.rs:138-150`` (Gray=1, RGB=3, RGBA=4).
        """
        return 1 if self.planar else self.bands

    def overview(self, level: int) -> RasterGeometry:
        """The 2^level overview (COG pyramid, reference
        ``data/Makefile:39``): width and height ceil-divided by 2^level,
        pixel size times 2^level; origin, chunk size and bands kept."""
        f = 1 << level
        return replace(
            self,
            width=_ceil_div(self.width, f), height=_ceil_div(self.height, f),
            px_sz_x=self.px_sz_x * f, px_sz_y=self.px_sz_y * f,
        )

    # ---- scalar (driver-side) mirrors -------------------------------
    def get_padding(self, tile_index: int) -> tuple[int, int]:
        """(pad_right, pad_down) for a chunk index within one band run."""
        row = tile_index // self.tiles_across
        col = tile_index % self.tiles_across
        pr = self.padding_right if col == self.tiles_across - 1 else 0
        pd = self.padding_down if row == self.tiles_down - 1 else 0
        return pr, pd

    def tile_index(self, x: int, y: int, band: int = 0) -> int:
        if not (0 <= x < self.width and 0 <= y < self.height):
            raise IndexError(f"pixel ({x},{y}) out of bounds {self.width}x{self.height}")
        band_offset = (self.height // self.tile_h) * band if self.planar else 0
        return band_offset + (y // self.tile_h) * self.tiles_across + (x // self.tile_w)

    def tile_offset(self, tile_index: int, x: int, y: int) -> int:
        pr, _ = self.get_padding(tile_index % self.tiles_per_band)
        w = self.tile_w - pr
        return ((y % self.tile_h) * w + (x % self.tile_w)) * self.spp()

    def world_to_pixel(self, wx: float, wy: float) -> tuple[int, int]:
        import math

        px = (wx - self.origin_x) / self.px_sz_x
        py = (wy - self.origin_y) / self.px_sz_y
        # round half away from zero, like Rust f64::round
        return int(math.floor(px + 0.5) if px >= 0 else math.ceil(px - 0.5)), int(
            math.floor(py + 0.5) if py >= 0 else math.ceil(py - 0.5)
        )

    def pixel_to_world(self, px: int, py: int) -> tuple[float, float]:
        return px * self.px_sz_x + self.origin_x, py * self.px_sz_y + self.origin_y

    # ---- Column expressions (executor-side, codegen) -----------------
    def world_to_pixel_cols(self, wx: Column, wy: Column) -> tuple[Column, Column]:
        """Forward geotransform as pure Column algebra (no UDF).

        F.round uses HALF_UP (away from zero), matching Rust's
        f64::round for both signs.
        """
        px = F.round((wx - F.lit(self.origin_x)) / F.lit(self.px_sz_x), 0).cast("int")
        py = F.round((wy - F.lit(self.origin_y)) / F.lit(self.px_sz_y), 0).cast("int")
        return px, py

    def pixel_to_world_cols(self, px: Column, py: Column) -> tuple[Column, Column]:
        wx = px.cast("double") * F.lit(self.px_sz_x) + F.lit(self.origin_x)
        wy = py.cast("double") * F.lit(self.px_sz_y) + F.lit(self.origin_y)
        return wx, wy

    def tile_index_cols(self, x: Column, y: Column, band: Column | None = None) -> Column:
        """Chunk index — this IS the engine's partitioner for rasters."""
        base = (y / F.lit(self.tile_h)).cast("long") * F.lit(self.tiles_across) + (
            x / F.lit(self.tile_w)
        ).cast("long")
        if self.planar and band is not None:
            base = base + F.lit(self.height // self.tile_h) * band.cast("long")
        return base

    def tile_col_row_cols(self, x: Column, y: Column) -> tuple[Column, Column]:
        return (x / F.lit(self.tile_w)).cast("int"), (y / F.lit(self.tile_h)).cast("int")

    def tile_offset_cols(self, x: Column, y: Column) -> Column:
        """In-chunk flat offset honoring the shrunken right-edge stride."""
        tile_col = (x / F.lit(self.tile_w)).cast("int")
        pr = F.when(
            tile_col == F.lit(self.tiles_across - 1), F.lit(self.padding_right)
        ).otherwise(F.lit(0))
        w = F.lit(self.tile_w) - pr
        return ((y % F.lit(self.tile_h)) * w + (x % F.lit(self.tile_w))) * F.lit(self.spp())

    def window_filter(self, x: Column, y: Column, x0: int, y0: int, w: int, h: int) -> Column:
        """Window-scan predicate (reference ``pixels(x,y,w,h)``).

        Clipped by image bounds like the reference
        (``src/geotiff.rs:316-318``). Intentional divergence: a
        zero-size window yields 0 rows, not the origin pixel
        (FIXTURES.md §4.1).
        """
        x1 = min(x0 + w, self.width)
        y1 = min(y0 + h, self.height)
        return (x >= F.lit(x0)) & (x < F.lit(x1)) & (y >= F.lit(y0)) & (y < F.lit(y1))
