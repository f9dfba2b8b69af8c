"""Grid math golden tests — re-expressions of the reference's
geotransform and tiling assertions (tests/geotiff.rs, see each test).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from georaster_spark.datagen import fixture_strips1x9, fixture_world400, fixture_sat200
from georaster_spark.grid import RasterGeometry


WORLD400 = fixture_world400()[0]


class TestGeotransform:
    def test_world_to_pixel_golden(self):
        """tests/geotiff.rs:504-524 (small_world.tif round trips)."""
        g = WORLD400
        assert g.world_to_pixel(0.0, 0.0) == (200, 100)
        assert g.pixel_to_world(200, 100) == (0.0, 0.0)
        assert g.world_to_pixel(-90.0, 45.0) == (100, 50)
        assert g.pixel_to_world(100, 50) == (-90.0, 45.0)

    def test_column_exprs_match_scalar(self, spark):
        """Round-trip property over the whole grid (Column form)."""
        g = WORLD400
        df = spark.range(0, 400 * 200).select(
            (F.col("id") % 400).cast("int").alias("px"),
            (F.col("id") / 400).cast("int").alias("py"),
        )
        wx, wy = g.pixel_to_world_cols(F.col("px"), F.col("py"))
        df = df.withColumn("wx", wx).withColumn("wy", wy)
        rx, ry = g.world_to_pixel_cols(F.col("wx"), F.col("wy"))
        bad = df.where((rx != F.col("px")) | (ry != F.col("py"))).count()
        assert bad == 0

    def test_column_golden_points(self, spark):
        g = WORLD400
        df = spark.createDataFrame([(0.0, 0.0), (-90.0, 45.0)], "wx double, wy double")
        px, py = g.world_to_pixel_cols(F.col("wx"), F.col("wy"))
        rows = df.select(px.alias("px"), py.alias("py")).collect()
        assert [(r.px, r.py) for r in rows] == [(200, 100), (100, 50)]


class TestTileMath:
    def test_padding(self):
        """Padding only on last col/row (src/geotiff.rs:469-486)."""
        g = fixture_sat200()[0]  # 200x200, tile 512 -> single padded tile
        assert g.tiles_across == 1 and g.tiles_down == 1
        assert g.get_padding(0) == (312, 312)

        s = fixture_strips1x9()[0]  # 1x9, strip 5 -> short last strip
        assert s.tiles_down == 2
        assert s.get_padding(0) == (0, 0)
        assert s.get_padding(1) == (0, 1)

    def test_tile_index_chunky(self):
        g = RasterGeometry(width=100, height=50, tile_w=32, tile_h=16)
        assert g.tiles_across == 4 and g.tiles_down == 4
        assert g.tile_index(0, 0) == 0
        assert g.tile_index(33, 0) == 1
        assert g.tile_index(0, 16) == 4
        assert g.tile_index(99, 49) == 15

    def test_tile_index_planar_floor_quirk(self):
        """Planar band offset uses FLOOR(height/tile_h) — the
        reference quirk at src/geotiff.rs:495-498."""
        g = RasterGeometry(width=10, height=9, tile_w=10, tile_h=5, bands=2, planar=True)
        # floor(9/5) = 1 (NOT tiles_down=2)
        assert g.tile_index(0, 0, band=1) == 1
        assert g.tile_index(0, 5, band=0) == 1  # collides — quirk preserved

    def test_tile_offset_padded_stride(self):
        """The 0.2.0 padded-offset bugfix (src/geotiff.rs:506-516,
        CHANGELOG.md:15): right padding shrinks the row stride."""
        g = fixture_sat200()[0]
        # stride = 512-312 = 200, spp = 3
        assert g.tile_offset(0, 0, 0) == 0
        assert g.tile_offset(0, 1, 0) == 3
        assert g.tile_offset(0, 0, 1) == 200 * 3
        assert g.tile_offset(0, 199, 199) == (199 * 200 + 199) * 3

    def test_column_tile_exprs_match_scalar(self, spark):
        g = RasterGeometry(width=100, height=50, tile_w=32, tile_h=16)
        df = spark.range(0, 100 * 50).select(
            (F.col("id") % 100).cast("int").alias("x"),
            (F.col("id") / 100).cast("int").alias("y"),
        )
        idx = g.tile_index_cols(F.col("x"), F.col("y"))
        off = g.tile_offset_cols(F.col("x"), F.col("y"))
        rows = df.select("x", "y", idx.alias("i"), off.alias("o")).collect()
        for r in rows:
            assert r.i == g.tile_index(r.x, r.y), (r.x, r.y)
            assert r.o == g.tile_offset(g.tile_index(r.x, r.y), r.x, r.y), (r.x, r.y)


class TestOverviewGeometry:
    """The 2^k overview geometry of ``overview_cascade`` and of the
    catalog's DTM pyramid, pinned to the figures of the halving each
    used to spell for itself."""

    def test_overview_cascade_geometries(self, spark):
        from georaster_spark.operators.raster import overview_cascade

        g = RasterGeometry(
            width=401, height=199, tile_w=64, tile_h=20, origin_x=-180.0, origin_y=90.0,
            px_sz_x=0.9, px_sz_y=-0.9, bands=3, planar=True,
        )
        px = spark.range(1).selectExpr(
            "'r' AS raster_id", "0 AS band", "0 AS x", "0 AS y", "1.0d AS value"
        )
        cascade = overview_cascade(px, g, levels=4)
        assert [i for i, _, _ in cascade] == [0, 1, 2, 3, 4]
        assert [(c.width, c.height, c.px_sz_x, c.px_sz_y) for _, c, _ in cascade] == [
            (401, 199, 0.9, -0.9),
            (201, 100, 1.8, -1.8),
            (101, 50, 3.6, -3.6),
            (51, 25, 7.2, -7.2),
            (26, 13, 14.4, -14.4),
        ]
        for _, c, _ in cascade:
            assert (c.tile_w, c.tile_h, c.origin_x, c.origin_y, c.bands, c.planar) == (
                64, 20, -180.0, 90.0, 3, True,
            )

    def test_fixture_entries_rows(self):
        from georaster_spark.sources.raster_catalog import fixture_entries, meta_row

        assert [meta_row(e) for e in fixture_entries()] == [
            ("dtm5000", 0, 5000, 5000, 512, 512, 4250000.0, 2700000.0, 10.0, -10.0,
             "u16", 1, False, 1, 10, 10, 120, 120),
            ("dtm5000", 1, 2500, 2500, 512, 512, 4250000.0, 2700000.0, 20.0, -20.0,
             "u16", 1, False, 1, 5, 5, 60, 60),
            ("dtm5000", 2, 1250, 1250, 512, 512, 4250000.0, 2700000.0, 40.0, -40.0,
             "u16", 1, False, 1, 3, 3, 286, 286),
            ("dtm5000", 3, 625, 625, 512, 512, 4250000.0, 2700000.0, 80.0, -80.0,
             "u16", 1, False, 1, 2, 2, 399, 399),
            ("dtm5000", 4, 313, 313, 512, 512, 4250000.0, 2700000.0, 160.0, -160.0,
             "u16", 1, False, 1, 1, 1, 199, 199),
            ("world400", 0, 400, 200, 400, 20, -180.0, 90.0, 0.9, -0.9,
             "rgb8", 3, True, 1, 1, 10, 0, 0),
            ("strips1x9", 0, 1, 9, 1, 5, 0.0, 0.0, 1.0, 1.0,
             "u8", 1, False, 1, 1, 2, 0, 1),
            ("sat200", 0, 200, 200, 512, 512, 2747994.2968, 1205137.2435,
             1.8898895579756552, -1.8898895306859578, "rgb8", 3, False, 3, 1, 1, 312, 312),
            ("f32nan128", 0, 128, 128, 128, 16, 0.0, 0.0, 1.0, 1.0,
             "f32", 1, False, 1, 1, 8, 0, 0),
            ("byte20", 0, 20, 20, 20, 20, 440720.0, 3751320.0, 60.0, -60.0,
             "u8", 1, False, 1, 1, 1, 0, 0),
        ]
