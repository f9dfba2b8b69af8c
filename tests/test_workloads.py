"""Reference example-workload parity: crop (examples/crop.rs),
img2ascii (examples/img2ascii.rs), and the PMTiles world→value tile
pyramid lookup (src/pmtiles.rs:37-69) with its golden height."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from georaster_spark import cells
from georaster_spark.datagen import array_to_tiles_df, fixture_world400
from georaster_spark.functions.decode import terrarium_height
from georaster_spark.operators import raster as R


class TestCrop:
    def test_crop_rebases_and_preserves_values(self, spark):
        # 10×8 raster with value = 100*y + x: crop 5x4+3+2 must rebase
        # to origin (crop.rs:28) and carry the source values
        px = spark.range(80).select(
            F.lit("r").alias("raster_id"),
            F.lit(0).alias("image_idx"),
            F.lit(0).alias("band"),
            (F.col("id") % 10).cast("int").alias("x"),
            (F.col("id") / 10).cast("int").alias("y"),
            ((F.col("id") / 10).cast("int") * 100 + F.col("id") % 10).cast("double").alias("value"),
        )
        out = R.crop(px, 3, 2, 5, 4).collect()
        assert len(out) == 20
        for r in out:
            assert 0 <= r["x"] < 5 and 0 <= r["y"] < 4
            assert r["value"] == (r["y"] + 2) * 100 + (r["x"] + 3)

    def test_crop_clips_at_image_edge(self, spark):
        px = spark.range(9).select(
            F.lit("r").alias("raster_id"), F.lit(0).alias("image_idx"),
            F.lit(0).alias("band"),
            (F.col("id") % 3).cast("int").alias("x"),
            (F.col("id") / 3).cast("int").alias("y"),
            F.col("id").cast("double").alias("value"),
        )
        # window extends past the 3×3 image: only in-image pixels emit
        assert R.crop(px, 2, 2, 5, 5).count() == 1


class TestImg2Ascii:
    def test_grey_ramp_goldens(self, spark):
        # grey2ascii (img2ascii.rs:56-62): index = round(9 * lum)
        df = spark.createDataFrame(
            [(0.0,), (1.0,), (0.5,), (0.04,)], "lum double"
        ).select(R.grey_to_ascii_cols(F.col("lum")).alias("ch"))
        assert [r["ch"] for r in df.collect()] == [" ", "▓", "+", " "]

    def test_rgb_is_inverted_luma(self, spark):
        # rgb2ascii (img2ascii.rs:64-67): avg = 255 - (r+g+b)/3 —
        # black pixels render DARK (densest glyph), white blank
        df = spark.createDataFrame(
            [(0, 0, 0), (255, 255, 255)], "r int, g int, b int"
        ).select(R.rgb_to_ascii_cols(F.col("r"), F.col("g"), F.col("b")).alias("ch"))
        assert [r["ch"] for r in df.collect()] == ["▓", " "]

    def test_world400_lines(self, spark):
        geom, arr = fixture_world400()
        tiles = array_to_tiles_df(spark, "world400", geom, arr)
        rgb = R.assemble_rgb(R.tiles_to_pixels(tiles, geom))
        chars = rgb.select(
            "x", "y",
            R.rgb_to_ascii_cols(F.col("rgba")[0], F.col("rgba")[1], F.col("rgba")[2]).alias("ch"),
        )
        lines = {r["y"]: r["line"] for r in R.ascii_lines(chars).collect()}
        assert len(lines) == 200 and all(len(v) == 400 for v in lines.values())
        # spot-check one pixel against the scalar formula
        x, y = 17, 3
        s = sum((x + 2 * y + 37 * b) % 256 for b in range(3))
        idx = round((255.0 - s / 3.0) / 255.0 * 9)
        assert lines[y][x] == R.ASCII_RAMP[idx]


class TestXyzLookup:
    """src/pmtiles.rs:37-69 semantics + the golden height."""

    Z, TS = 12, 512
    CHASSERAL = (7.059309, 47.133037)  # src/pmtiles.rs:96-103
    GOLDEN_H = 1598.5294117647063  # src/pmtiles.rs:121-133

    def _tile(self, spark, xt: int, yt: int, rgb=(134, 62, 135), ts: int = TS):
        """One constant-fill ts×ts tile row: (cell, r, g, b) with
        row-major band arrays."""
        cell = cells.zxy_to_cell(self.Z, xt, yt)
        return spark.range(1).select(
            F.lit(cell).alias("cell"),
            *(F.array_repeat(F.lit(v), ts * ts).alias(b) for v, b in zip(rgb, "rgb")),
        )

    def test_pmtiles_golden_height(self, spark):
        lon, lat = self.CHASSERAL
        pts = spark.createDataFrame([(lon, lat)], "lon double, lat double")
        out = R.xyz_lookup(pts, self._tile(spark, 2128, 1438), self.Z, self.TS)
        rows = out.withColumn(
            "h", terrarium_height(F.col("r"), F.col("g"), F.col("b"))
        ).collect()
        assert len(rows) == 1
        assert rows[0]["h"] == pytest.approx(self.GOLDEN_H, abs=1e-9)

    def test_pixel_address_matches_scalar_formula(self, spark):
        lon, lat = self.CHASSERAL
        pts = spark.createDataFrame([(lon, lat)], "lon double, lat double")
        row = R.xyz_lookup(pts, self._tile(spark, 2128, 1438), self.Z, self.TS).collect()[0]
        lon0, lat0, lon1, lat1 = cells.cell_bounds(cells.zxy_to_cell(self.Z, 2128, 1438))
        assert row["px"] == round((lon - lon0) / ((lon1 - lon0) / self.TS))
        assert row["py"] == round((lat1 - lat) / ((lat1 - lat0) / self.TS))
        assert (row["px"], row["py"]) == (163, 230)

    def test_half_pixel_boundaries_match_oracle(self, spark):
        """Probes on a half-pixel boundary of tile z12 (2128, 1438), and
        one ulp either side, on both axes, get the px/py that the
        DuckDB oracle's expressions (round half away from zero) give on
        the same doubles; a probe that rounds to px == tile_size or
        py == tile_size yields no row. A lon lands exactly on x.5; no
        lat does (one ulp of lat moves y by ~4e-12 pixels), so the lat
        probes are the double nearest x.5 and its two neighbours."""
        import duckdb
        import pandas as pd

        from georaster_spark.datagen import XYZ_TILE_SIZE as ts
        from georaster_spark.queries import _xyz_locate_sql

        cell = cells.zxy_to_cell(self.Z, 2128, 1438)
        lon0, lat0, lon1, lat1 = cells.cell_bounds(cell)

        def fx(v: float) -> float:
            return (v - lon0) / ((lon1 - lon0) / ts)

        def fy(v: float) -> float:
            return (lat1 - v) / ((lat1 - lat0) / ts)

        def around_half(f, v0: float, v1: float, j: int) -> list[float]:
            """The double between v0 and v1 nearest to f == j + 0.5, and
            its two neighbours."""
            v = v0 + (j + 0.5) / ts * (v1 - v0)
            near = [v + i * np.spacing(v) for i in range(-64, 65)]
            mid = min(range(len(near)), key=lambda i: abs(f(near[i]) - (j + 0.5)))
            return near[mid - 1 : mid + 2]

        lon_c, lat_c = lon0 + 10.25 / ts * (lon1 - lon0), lat1 - 10.25 / ts * (lat1 - lat0)
        on_x = [around_half(fx, lon0, lon1, j) for j in (6, ts - 1)]
        on_y = [around_half(fy, lat1, lat0, j) for j in (6, ts - 1)]
        assert [fx(v[1]) for v in on_x] == [6.5, ts - 0.5]  # half-to-even would give 6
        probes = [(u, lat_c) for v in on_x for u in v] + [(lon_c, u) for v in on_y for u in v]
        pdf = pd.DataFrame(probes, columns=["lon", "lat"]).reset_index(names="id")

        c, px, py = _xyz_locate_sql()
        want = duckdb.sql(f"SELECT id, cell, {px} AS px, {py} AS py FROM (SELECT *, {c} AS cell FROM pdf)").df()
        assert (want["cell"] == cell).all()
        # both sides of each boundary, and the right/bottom edge
        assert {6, 7, ts - 1, ts} <= set(want["px"]) and {6, 7, ts - 1, ts} <= set(want["py"])
        got = R.xyz_lookup(spark.createDataFrame(pdf), self._tile(spark, 2128, 1438, ts=ts), self.Z, ts)
        inside = want[(want["px"] < ts) & (want["py"] < ts)]
        assert {(r["id"], r["px"], r["py"]) for r in got.collect()} == {
            (int(r.id), int(r.px), int(r.py)) for r in inside.itertuples()
        }

    def test_missing_tile_yields_no_row(self, spark):
        # invalid_tiles analog (src/pmtiles.rs:107-119): the archive
        # has no tile for the probed cell ⇒ empty result, not an error
        pts = spark.createDataFrame([(0.5, 0.5)], "lon double, lat double")
        out = R.xyz_lookup(pts, self._tile(spark, 2128, 1438), self.Z, self.TS)
        assert out.count() == 0


class TestZonalStats:
    def test_overlap_and_bounds(self, spark):
        # 8×8 raster, value = y*8+x; two overlapping zones + one
        # off-raster zone (must be absent from the result)
        px = spark.range(64).select(
            F.lit("r").alias("raster_id"), F.lit(0).alias("image_idx"),
            F.lit(0).alias("band"),
            (F.col("id") % 8).cast("int").alias("x"),
            (F.col("id") / 8).cast("int").alias("y"),
            F.col("id").cast("double").alias("value"),
        )
        zones = [("a", 0, 0, 4, 4), ("b", 2, 2, 4, 4), ("off", 100, 100, 5, 5)]
        got = {r["zone_id"]: r for r in R.zonal_stats(px, zones, block=4).collect()}
        assert set(got) == {"a", "b"}
        assert got["a"]["n_px"] == 16 and got["b"]["n_px"] == 16
        assert got["a"]["min_v"] == 0.0 and got["a"]["max_v"] == 27.0
        assert got["b"]["min_v"] == 18.0 and got["b"]["max_v"] == 45.0
        # overlap pixels (2..3, 2..3) count in BOTH zones: sums are
        # the closed-form window totals, each including the overlap
        assert got["a"]["sum_v"] == sum(y * 8 + x for y in range(4) for x in range(4))
        assert got["b"]["sum_v"] == sum(y * 8 + x for y in range(2, 6) for x in range(2, 6))


def test_idw_grid_matches_independent_numpy(spark):
    """Every interpolated cell equals an independent NumPy IDW with
    the same e9-quantized inverse-square weights; cells nearest a
    sample point are dominated by that point's value."""
    import numpy as np

    from georaster_spark.queries import (
        GRID64,
        IDW_R2,
        IDW_W_SCALE,
        POIS,
        q_idw_grid,
    )

    got = {(r.i, r.j): (r.n_pts, r.idw_e6) for r in q_idw_grid(spark, "").collect()}
    pts = [(plon, plat, 100 + 7 * i) for i, (_p, plon, plat) in enumerate(POIS)]
    ox, oy, px = GRID64["origin_x"], GRID64["origin_y"], GRID64["px"]
    expect = {}
    for i in range(64):
        for j in range(64):
            cx, cy = ox + (i + 0.5) * px, oy - (j + 0.5) * px
            num = den = n = 0
            for plon, plat, pv in pts:
                d2 = (cx - plon) ** 2 + (cy - plat) ** 2
                if d2 <= IDW_R2:
                    w = int(np.round(1.0 / max(d2, 0.000001) * IDW_W_SCALE))
                    num += w * pv
                    den += w
                    n += 1
            if den > 0:
                expect[(i, j)] = (n, int(np.round(num / den * 1e6)))
    assert got == expect
    # dominance: the cell center nearest POI 0 interpolates to ~its value
    plon, plat, pv = pts[0]
    i0 = int(round((plon - ox) / px - 0.5))
    j0 = int(round((oy - plat) / px - 0.5))
    assert abs(got[(i0, j0)][1] / 1e6 - pv) < 5.0
