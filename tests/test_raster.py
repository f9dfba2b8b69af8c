"""Raster operator tests — the reference's integration matrix
(tests/geotiff.rs) re-expressed as DataFrame assertions."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from georaster_spark.datagen import (
    DTM_GEOM,
    array_to_tiles_df,
    dtm_pixels_df,
    fixture_byte20,
    fixture_f32nan128,
    fixture_sat200,
    fixture_strips1x9,
    fixture_world400,
)
from georaster_spark.functions.decode import (
    format_value,
    mapbox_height,
    terrarium_height,
    try_cast_f64,
    try_cast_i64,
    try_cast_u64,
)
from georaster_spark.operators.raster import (
    assemble_rgb,
    build_overview,
    overview_cascade,
    pick_overview,
    pixels_to_tiles,
    rasterize,
    read_pixel,
    tiles_to_pixels,
    window_from_tiles,
)


@pytest.fixture(scope="module")
def world400(spark):
    geom, arr = fixture_world400()
    return geom, arr, array_to_tiles_df(spark, "world400", geom, arr)


class TestDecode:
    def test_strips1x9_value_property(self, spark):
        """incomplete_strips: V == 20*y for every pixel
        (tests/geotiff.rs:544-547) — the padded-strip regression."""
        geom, arr = fixture_strips1x9()
        tiles = array_to_tiles_df(spark, "strips", geom, arr)
        px = tiles_to_pixels(tiles, geom).collect()
        assert len(px) == 9
        for r in px:
            assert r.value == 20 * r.y, (r.x, r.y)

    def test_world400_per_band_reads(self, spark, world400):
        """small_world per-band pixel reads (tests/geotiff.rs:237-250)
        against the closed-form fill V=(x+2y+37b)%256."""
        geom, arr, tiles = world400
        for (x, y) in [(0, 0), (399, 199), (30, 30)]:
            for b in range(3):
                rows = read_pixel(tiles, geom, x, y, band=b).collect()
                assert len(rows) == 1
                assert rows[0].value == (x + 2 * y + 37 * b) % 256

    def test_world400_window_per_band(self, spark, world400):
        """2x2 window at (30,30) per band (tests/geotiff.rs:257-289)."""
        geom, arr, tiles = world400
        for b in range(3):
            rows = window_from_tiles(tiles, geom, 30, 30, 2, 2, band=b).collect()
            got = sorted((r.y, r.x, r.value) for r in rows)
            want = sorted(
                (y, x, float((x + 2 * y + 37 * b) % 256))
                for y in (30, 31)
                for x in (30, 31)
            )
            assert got == want

    def test_oob_read_is_empty(self, spark, world400):
        """OOB → NoData/no row, not an error (src/geotiff.rs:164-167)."""
        geom, arr, tiles = world400
        assert read_pixel(tiles, geom, 400, 100).count() == 0
        assert read_pixel(tiles, geom, 100, 200).count() == 0

    def test_empty_window_yields_zero_rows(self, spark, world400):
        """Intentional divergence from tests/geotiff.rs:53-55
        (FIXTURES.md §4.1)."""
        geom, arr, tiles = world400
        assert window_from_tiles(tiles, geom, 0, 0, 0, 0).count() == 0

    def test_empty_window_divergence_holds_for_catalog_crop(self, spark, world400):
        """The DIVERGENCE ON RECORD, pinned at the operator the
        catalog's `crop` entry calls (SURVEY §7.6): the reference's
        pixels(0,0,0,0) yields the ORIGIN PIXEL once
        (/root/reference/tests/geotiff.rs:53-55 — `Some((0, 0))`);
        this engine's crop of a zero-size window yields ZERO rows.
        A refactor that silently adopts the reference quirk (or grows
        any other w=0/h=0 behavior) fails here, not in an oracle."""
        from georaster_spark.operators.raster import crop

        geom, arr, tiles = world400
        px = window_from_tiles(tiles, geom, 0, 0, 8, 8)
        assert crop(px, 0, 0, 0, 0).count() == 0
        # and the divergence is ONLY about the degenerate window — a
        # 1x1 window at the same origin yields exactly the origin
        # pixel (once per band), agreeing with the reference
        one = crop(px, 0, 0, 1, 1)
        assert one.count() == px.where("x = 0 and y = 0").count() > 0
        assert one.select("x", "y").distinct().collect()[0][:2] == (0, 0)

    def test_sat200_chunky_rgb(self, spark):
        """sat.tif: chunky spp=3 single padded 512x512 tile; RGB
        tuples at both corners (tests/geotiff.rs:437-466)."""
        geom, arr = fixture_sat200()
        tiles = array_to_tiles_df(spark, "sat200", geom, arr)
        px = window_from_tiles(tiles, geom, 198, 198, 2, 2)
        rgb = {(r.x, r.y): r.rgba for r in assemble_rgb(px).collect()}
        for (x, y), got in rgb.items():
            want = [(x * 3 + y * 7 + b * 31) % 256 for b in range(3)]
            assert got == want
        assert set(rgb) == {(198, 198), (199, 198), (198, 199), (199, 199)}

    def test_f32nan_nan_becomes_null(self, spark):
        geom, arr = fixture_f32nan128()
        tiles = array_to_tiles_df(spark, "f32nan", geom, arr)
        rows = window_from_tiles(tiles, geom, 0, 0, 1, 1).collect()
        assert len(rows) == 1 and rows[0].value is None

    @pytest.mark.parametrize(
        "fixture",
        [fixture_world400, fixture_sat200],  # planar; chunky, one padded tile
        ids=["world400", "sat200"],
    )
    def test_roundtrip_pixels_tiles(self, spark, fixture):
        """tiles → pixels → tiles is the identity on data layout: a
        chunky chunk comes back as one interleaved row, not a row per
        band."""
        geom, arr = fixture()
        tiles = array_to_tiles_df(spark, fixture.__name__, geom, arr)
        px = tiles_to_pixels(tiles, geom)
        back = pixels_to_tiles(px, geom)
        a = {
            (r.band, r.tile_col, r.tile_row): (r.pad_right, r.pad_down, tuple(r.data))
            for r in tiles.collect()
        }
        b = {
            (r.band, r.tile_col, r.tile_row): (r.pad_right, r.pad_down, tuple(r.data))
            for r in back.collect()
        }
        assert a == b

    def test_tiles_to_pixels_is_one_arrow_stage(self, spark, world400):
        """The chunk explode is one Arrow kernel; NaN→NULL happens in it,
        not in a projection after it."""
        geom, arr, tiles = world400
        plan = tiles_to_pixels(tiles, geom)._jdf.queryExecution().executedPlan().toString()
        assert "MapInArrow" in plan and "MapInPandas" not in plan and "isnan" not in plan


class TestDtm:
    def test_goldens(self, spark):
        """examples/geotiff_dtm.rs:108-115: pixel(0,0)=636; max over
        window (2500,3000,100,100) = 2161."""
        px = dtm_pixels_df(spark, partitions=16)
        g = DTM_GEOM
        origin = px.where((F.col("x") == 0) & (F.col("y") == 0)).collect()
        assert origin[0].value == 636.0
        wmax = (
            px.where(g.window_filter(F.col("x"), F.col("y"), 2500, 3000, 100, 100))
            .agg(F.max("value").alias("m"))
            .collect()[0]
            .m
        )
        assert wmax == 2161.0

    def test_overview_router(self, spark):
        """COG pyramid analog (examples/http_dtm.rs:55-60): the max
        survives a max-cascade and the router picks a coarse level."""
        geom, arr = fixture_world400()
        # single-band variant for the cascade
        from georaster_spark.grid import RasterGeometry

        g1 = RasterGeometry(width=400, height=200, tile_w=400, tile_h=20)
        tiles = array_to_tiles_df(spark, "w", g1, arr[:, :, 0])
        px = tiles_to_pixels(tiles, g1)
        cascade = overview_cascade(px, g1, levels=3, agg="max")
        assert [c[1].width for c in cascade] == [400, 200, 100, 50]
        idx, gg, df = pick_overview(cascade, max_pixels=6000)
        assert (gg.width, gg.height) == (100, 50)
        full_max = px.agg(F.max("value")).collect()[0][0]
        ov_max = df.agg(F.max("value")).collect()[0][0]
        assert full_max == ov_max


class TestRasterize:
    def test_rasterize_counts(self, spark):
        """Vector→raster binning uses exactly the R8 rounding rule."""
        from georaster_spark.grid import RasterGeometry

        g = RasterGeometry(
            width=10, height=10, tile_w=10, tile_h=10,
            origin_x=0.0, origin_y=10.0, px_sz_x=1.0, px_sz_y=-1.0,
        )
        pts = spark.createDataFrame(
            [(2.2, 7.9, 1.0), (2.4, 7.8, 2.0), (9.6, 0.2, 3.0), (-5.0, 5.0, 4.0)],
            "lon double, lat double, v double",
        )
        out = rasterize(pts, g, F.col("lon"), F.col("lat"), F.col("v"), agg="count")
        got = {(r.x, r.y): r.value for r in out.collect()}
        # (2.2,7.9)->(2,2) and (2.4,7.8)->(2,2); (9.6,0.2)->(10,10)
        # rounds OOB and is dropped; (-5,5) is dropped.
        assert got == {(2, 2): 2.0}


class TestValueFunctions:
    def test_terrarium_golden(self, spark):
        """height(Rgb8(134,65,215)) == 1601.843137254902
        (src/lib.rs:202)."""
        df = spark.createDataFrame([(134, 65, 215)], "r int, g int, b int")
        v = df.select(
            terrarium_height(F.col("r"), F.col("g"), F.col("b")).alias("h")
        ).collect()[0].h
        assert v == pytest.approx(1601.843137254902, abs=1e-12)

    def test_mapbox_golden(self, spark):
        """PMTiles Chasseral golden 1598.5294117647063
        (src/pmtiles.rs:121-133): find the RGB encoding then decode."""
        # mapbox: (r*65536+g*256+b)/10 - 10000 = 1598.5294117647063
        # => r*65536+g*256+b = 115985.294... not integral — the golden
        # comes from TERRARIUM-encoded tiles decoded via height();
        # verify the terrarium encode/decode closes over that value.
        h = 1598.5294117647063
        v = h + 32768.0
        r = int(v // 256)
        g = int(v % 256)
        b = round((v - r * 256 - g) * 255)
        df = spark.createDataFrame([(r, g, b)], "r int, g int, b int")
        got = df.select(
            terrarium_height(F.col("r"), F.col("g"), F.col("b")).alias("h")
        ).collect()[0].h
        assert got == pytest.approx(h, abs=1e-9)

    def test_mapbox_formula(self, spark):
        df = spark.createDataFrame([(1, 134, 160)], "r int, g int, b int")
        got = df.select(mapbox_height(F.col("r"), F.col("g"), F.col("b")).alias("h")).collect()[0].h
        assert got == pytest.approx((65536 + 134 * 256 + 160) / 10 - 10000, abs=1e-9)

    def test_height_of_nodata_is_null(self, spark):
        df = spark.createDataFrame([(None, None, None)], "r int, g int, b int")
        assert df.select(terrarium_height(F.col("r"), F.col("g"), F.col("b")).alias("h")).collect()[0].h is None

    def test_try_casts(self, spark):
        """TryFrom semantics (src/lib.rs:75-124, tests :184-196):
        float family → i64/u64 is None; NoData (NULL) never converts;
        signed family → u64 is None (u64::try_from has only unsigned
        arms); u64 → i64 is None (i64::try_from has no U64 arm)."""
        df = spark.createDataFrame(
            [(107.0,), (-3.0,), (None,)], "value double"
        )
        rows = df.select(
            try_cast_i64(F.col("value"), "i32").alias("i_ok"),
            try_cast_i64(F.col("value"), "f32").alias("i_bad"),
            try_cast_i64(F.col("value"), "u64").alias("i_u64"),
            try_cast_u64(F.col("value"), "u32").alias("u_ok"),
            try_cast_u64(F.col("value"), "i32").alias("u_signed"),
            try_cast_f64(F.col("value"), "f32").alias("f"),
        ).collect()
        assert [r.i_ok for r in rows] == [107, -3, None]
        assert [r.i_bad for r in rows] == [None, None, None]
        assert [r.i_u64 for r in rows] == [None, None, None]
        # negative under an unsigned dtype is unrepresentable in the
        # reference's type system — here it means corrupt storage, NULLed
        assert [r.u_ok for r in rows] == [107, None, None]
        assert [r.u_signed for r in rows] == [None, None, None]
        assert [r.f for r in rows] == [107.0, -3.0, None]

    def test_u64_decimal_full_range(self, spark):
        """DECIMAL(20,0) path is exact above 2^63 (SURVEY §7 risk 3)."""
        from decimal import Decimal

        from georaster_spark.functions.decode import try_cast_u64_decimal

        big = 2**64 - 1
        df = spark.createDataFrame(
            [(Decimal(big),), (Decimal(2**53 + 1),)], "value decimal(20,0)"
        )
        rows = df.select(
            try_cast_u64_decimal(F.col("value"), "u64").alias("d"),
            try_cast_u64_decimal(F.col("value"), "i64").alias("signed_is_null"),
        ).collect()
        assert [int(r.d) for r in rows] == [big, 2**53 + 1]
        assert [r.signed_is_null for r in rows] == [None, None]

    def test_format_value(self, spark):
        """Display analog (src/lib.rs:53-73)."""
        df = spark.createDataFrame([(107.0,), (None,)], "value double")
        rows = df.select(format_value(F.col("value")).alias("s")).collect()
        assert rows[0].s == "107.0"
        assert rows[1].s == "<NoData>"


class TestStrictCasts:
    """Strict conversion forms raise like the reference's ValueRange
    errors (src/lib.rs:75-124; try_ forms NULL instead)."""

    def test_strict_i64_ok_and_raises(self, spark):
        from pyspark.sql.utils import PythonException

        from georaster_spark.functions.decode import cast_i64_strict, cast_u64_strict

        df = spark.createDataFrame([(5.0,), (-3.0,)], "v double")
        ok = df.select(cast_i64_strict(F.col("v"), "i32").alias("x")).collect()
        assert sorted(r["x"] for r in ok) == [-3, 5]
        # float family -> error at execution
        with pytest.raises(Exception, match="ValueRange"):
            df.select(cast_i64_strict(F.col("v"), "f32").alias("x")).collect()
        # u64 -> i64 error (no U64 arm in i64::try_from, src/lib.rs:89-105)
        with pytest.raises(Exception, match="ValueRange"):
            df.select(cast_i64_strict(F.col("v"), "u64").alias("x")).collect()
        # signed family -> u64 error (only unsigned arms, src/lib.rs:75-88)
        with pytest.raises(Exception, match="ValueRange"):
            df.select(cast_u64_strict(F.col("v"), "i32").alias("x")).collect()
        # unsigned -> u64 ok for non-negative values
        pos = spark.createDataFrame([(5.0,), (107.0,)], "v double")
        uok = pos.select(cast_u64_strict(F.col("v"), "u32").alias("x")).collect()
        assert sorted(r["x"] for r in uok) == [5, 107]
        # negative under an unsigned dtype = corrupt storage -> error
        with pytest.raises(Exception, match="ValueRange.*corrupt"):
            df.select(cast_u64_strict(F.col("v"), "u32").alias("x")).collect()
        # NoData -> error
        nd = spark.createDataFrame([(None,)], "v double")
        with pytest.raises(Exception, match="ValueRange"):
            nd.select(cast_i64_strict(F.col("v"), "i32").alias("x")).collect()
        with pytest.raises(Exception, match="ValueRange"):
            nd.select(cast_u64_strict(F.col("v"), "u32").alias("x")).collect()


class TestFocalStats:
    def test_focal_stats_hand_checked(self, spark):
        """3×3 focal over a 2×2 block + one isolated pixel — every
        aggregate derived by hand (center pixel included in its own
        neighborhood; absent neighbors ignored)."""
        from georaster_spark.operators.raster import focal_stats_halo

        pts = [(0, 0, 1.0), (1, 0, 2.0), (0, 1, 3.0), (1, 1, 4.0), (3, 3, 10.0)]
        px = spark.createDataFrame(pts, "x int, y int, value double")
        out = {(r.x, r.y): r for r in focal_stats_halo(px, tile=2).collect()}
        assert set(out) == {(0, 0), (1, 0), (0, 1), (1, 1), (3, 3)}
        for k in [(0, 0), (1, 0), (0, 1), (1, 1)]:
            r = out[k]
            assert (r.n_nb, r.sum_v, r.min_v, r.max_v) == (4, 10.0, 1.0, 4.0)
        r = out[(3, 3)]
        assert (r.n_nb, r.sum_v, r.min_v, r.max_v) == (1, 10.0, 10.0, 10.0)

    @pytest.mark.parametrize(
        "tile,x0,step",
        [
            (8, -5, 7),  # negative coords (pmod halo placement), sparse
            (3, 0, 5),  # tiny blocks: almost every pixel is a border pixel
            (64, 0, 3),  # block larger than the extent: no halo at all
        ],
    )
    def test_focal_halo_equals_explode(self, spark, tile, x0, step):
        """Tile-halo kernel == the 9×-explode JVM formulation on
        sparse rasters with holes, across block-size regimes and
        negative coordinates."""
        from georaster_spark.operators.raster import focal_stats_halo

        pts = [
            (x, y, float((x * 7 + y * 13) % 29))
            for x in range(x0, x0 + 25)
            for y in range(-3, 17)
            if (x * 3 + y * 5) % step != 0
        ]
        px = spark.createDataFrame(pts, "x int, y int, value double")
        halo = sorted(map(tuple, focal_stats_halo(px, tile=tile).collect()))
        ref = sorted(map(tuple, focal_stats_explode(px).collect()))
        assert len(halo) == len(pts)
        assert halo == ref


def focal_stats_explode(pixels, x_col: str = "x", y_col: str = "y", v_col: str = "value"):
    """Reference formulation of ``focal_stats_halo``: every pixel
    contributes itself to all 9 neighbor positions (9× shuffle), one
    groupBy on the position, then an inner join back onto the pixel
    set to keep only positions that actually exist. 100% JVM/codegen
    — used as the equality oracle in tests and viable when the 9×
    shuffle is cheaper than a Python kernel (small rasters)."""
    x, y = F.col(x_col), F.col(y_col)
    contrib = pixels.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        (x + dx).cast("long").alias("cx"),
                        (y + dy).cast("long").alias("cy"),
                    )
                    for dx in (-1, 0, 1)
                    for dy in (-1, 0, 1)
                ]
            )
        ).alias("_t"),
        F.col(v_col).cast("double").alias("_v"),
    )
    agg = contrib.groupBy(
        F.col("_t.cx").alias("x"), F.col("_t.cy").alias("y")
    ).agg(
        F.count("_v").alias("n_nb"),
        F.sum("_v").alias("sum_v"),
        F.min("_v").alias("min_v"),
        F.max("_v").alias("max_v"),
    )
    present = pixels.select(x.cast("long").alias("x"), y.cast("long").alias("y"))
    return agg.join(present, ["x", "y"])


class TestHornGradients:
    def test_hand_checked_ramp_and_flat(self, spark):
        """v = x planar ramp: the single full-window pixel gets
        gx_num = (NE + 2E + SE) - (NW + 2W + SW) = 8, gy_num = 0;
        a constant raster gets zero gradients."""
        from georaster_spark.operators.raster import horn_gradients_halo

        ramp = spark.createDataFrame(
            [(x, y, float(x)) for x in range(3) for y in range(3)],
            "x int, y int, value double",
        )
        out = horn_gradients_halo(ramp, tile=2).collect()
        assert len(out) == 1
        r = out[0]
        assert (r.x, r.y, r.gx_num, r.gy_num) == (1, 1, 8.0, 0.0)

        flat = spark.createDataFrame(
            [(x, y, 5.0) for x in range(3) for y in range(3)],
            "x int, y int, value double",
        )
        f = horn_gradients_halo(flat, tile=2).collect()[0]
        assert (f.gx_num, f.gy_num) == (0.0, 0.0)

    def test_incomplete_windows_are_skipped(self, spark):
        """A hole in the 3x3 window suppresses the center pixel (GDAL
        edge behavior): removing one corner leaves no emitted rows."""
        from georaster_spark.operators.raster import horn_gradients_halo

        pts = [(x, y, 1.0) for x in range(3) for y in range(3) if (x, y) != (0, 0)]
        df = spark.createDataFrame(pts, "x int, y int, value double")
        assert horn_gradients_halo(df, tile=2).count() == 0




class TestResampleBilinear:
    def test_2x2_to_1x1_is_the_mean(self, spark):
        """dst pixel center maps to the exact middle of a 2x2 source:
        all four weights are 0.25, the result is the plain mean."""
        from georaster_spark.operators.raster import resample_bilinear

        px = spark.createDataFrame(
            [(0, 0, 1.0), (1, 0, 2.0), (0, 1, 3.0), (1, 1, 4.0)],
            "x int, y int, value double",
        )
        out = resample_bilinear(px, 0, 0, 2, 2, 1, 1).collect()
        assert len(out) == 1
        r = out[0]
        assert (r.i, r.j, r.n_src, r.v) == (0, 0, 4, 2.5)

    def test_4x4_to_2x2_matches_numpy(self, spark):
        """Arbitrary 4x4 source onto 2x2: every value equals a
        hand-rolled NumPy bilinear with the same pixel-center rule."""
        import numpy as np

        from georaster_spark.operators.raster import resample_bilinear

        V = np.arange(16, dtype=np.float64).reshape(4, 4) ** 2  # y-major
        pts = [(x, y, float(V[y, x])) for x in range(4) for y in range(4)]
        px = spark.createDataFrame(pts, "x int, y int, value double")
        got = {(r.i, r.j): r.v for r in resample_bilinear(px, 0, 0, 4, 4, 2, 2).collect()}
        for i in range(2):
            for j in range(2):
                sx, sy = (i + 0.5) * 2.0 - 0.5, (j + 0.5) * 2.0 - 0.5
                x0, y0 = int(np.floor(sx)), int(np.floor(sy))
                fx, fy = sx - x0, sy - y0
                exp = (
                    V[y0, x0] * (1 - fx) * (1 - fy)
                    + V[y0, x0 + 1] * fx * (1 - fy)
                    + V[y0 + 1, x0] * (1 - fx) * fy
                    + V[y0 + 1, x0 + 1] * fx * fy
                )
                assert got[(i, j)] == pytest.approx(exp, abs=1e-12)

    def test_identity_ratio_reproduces_source(self, spark):
        """dst grid == src grid: fx = fy = 0 so every output equals
        its source pixel exactly."""
        from georaster_spark.operators.raster import resample_bilinear

        pts = [(x, y, float(x * 10 + y)) for x in range(3) for y in range(3)]
        px = spark.createDataFrame(pts, "x int, y int, value double")
        got = {(r.i, r.j): (r.v, r.n_src) for r in resample_bilinear(px, 0, 0, 3, 3, 3, 3).collect()}
        for x in range(3):
            for y in range(3):
                v, n = got[(x, y)]
                assert v == float(x * 10 + y) and n >= 1


    def test_upsample_edges_renormalize(self, spark):
        """Upsampling a constant raster must stay constant at the
        EDGES too: corners falling outside the source window drop out
        of the weighted sum and the remaining weights renormalize."""
        from georaster_spark.operators.raster import resample_bilinear

        px = spark.createDataFrame(
            [(x, y, 10.0) for x in range(2) for y in range(2)],
            "x int, y int, value double",
        )
        out = resample_bilinear(px, 0, 0, 2, 2, 4, 4).collect()
        assert len(out) == 16
        assert all(r.v == 10.0 for r in out)


def test_stencils_treat_null_as_missing_neighbor(spark):
    """NULL (NoData) pixels behave exactly like absent neighbors in
    every halo-stencil op — they reduce n_nb / renormalize weights
    instead of poisoning the NumPy sums with NaN."""
    from georaster_spark.operators.raster import (
        focal_stats_halo,
        horn_gradients_halo,
        resample_bilinear,
    )

    pts = [(x, y, 2.0) for x in range(3) for y in range(3)]
    px = spark.createDataFrame(pts, "x int, y int, value double").withColumn(
        "value", F.when((F.col("x") == 0) & (F.col("y") == 0), None).otherwise(F.col("value"))
    )
    f = {(r.x, r.y): r for r in focal_stats_halo(px, tile=2).collect()}
    assert (0, 0) not in f  # the NoData cell emits no row of its own
    assert f[(1, 1)].n_nb == 8 and f[(1, 1)].sum_v == 16.0
    # Horn: the (1,1) window is incomplete (8 of 9 present) -> skipped
    assert horn_gradients_halo(px, tile=2).count() == 0
    # resample: a corner on the NoData cell renormalizes, not NaN
    out = {(r.i, r.j): r.v for r in resample_bilinear(px, 0, 0, 3, 3, 3, 3).collect()}
    assert (0, 0) not in out  # only corner was the NoData pixel
    assert all(v == 2.0 for v in out.values())


class TestSlopeAspect:
    def test_hand_checked_ramps_and_flat(self, spark):
        """v = x ramp: gx_num = 8 (hand-derived in TestHornGradients)
        so dz/dx = 8/80 = 0.1, dz/dy = 0 -> slope =
        degrees(atan(0.1)) = 5.7106°, aspect = 450 -
        degrees(atan2(0, -0.1)) = 450 - 180 = 270 (downslope due
        west). v = y ramp: gy_num = 8 -> aspect = 450 -
        degrees(atan2(0.1, -0.0)) = 450 - 90 = 360 -> folds to 0.
        Flat raster: slope 0, aspect sentinel -1."""
        from georaster_spark.operators.raster import horn_gradients_halo
        from georaster_spark.queries import _slope_aspect_select

        def run(vals):
            df = spark.createDataFrame(
                [(x, y, float(vals(x, y))) for x in range(3) for y in range(3)],
                "x int, y int, value double",
            )
            r = _slope_aspect_select(horn_gradients_halo(df, tile=2)).collect()
            assert len(r) == 1
            return r[0].slope_e4, r[0].aspect_e4

        assert run(lambda x, y: x) == (57106, 2700000)
        assert run(lambda x, y: y) == (57106, 0)
        assert run(lambda x, y: 5) == (0, -10000)


# ---------------------------------------------------------- D8 flow


def _d8_one(spark, grid, tile=2):
    """Run d8_flow_halo on a tiny 3x3 grid; only the center pixel has
    a full window. tile=2 forces real halo exchange across blocks."""
    from georaster_spark.operators.raster import d8_flow_halo

    rows = [
        (x, y, float(v))
        for y, line in enumerate(grid)
        for x, v in enumerate(line)
    ]
    px = spark.createDataFrame(rows, "x int, y int, value double")
    out = d8_flow_halo(px, tile=tile).collect()
    assert len(out) == 1 and (out[0]["x"], out[0]["y"]) == (1, 1)
    return out[0]


def test_d8_steepest_drop_wins(spark):
    """Hand-computed: E drop 4 (key 32) beats S drop 3 (key 18),
    SW drop 2 (key 4), SE drop 1 (key 1); 4 downslope neighbors."""
    r = _d8_one(spark, [[9, 8, 7], [6, 5, 1], [3, 2, 4]])
    assert (r["d8"], r["n_down"], r["drop_v"]) == (1, 4, 4)


def test_d8_tie_takes_smallest_code(spark):
    """E and S both drop 2 (equal key 8): E (code 1) wins."""
    r = _d8_one(spark, [[9, 9, 9], [9, 5, 3], [9, 3, 9]])
    assert (r["d8"], r["n_down"], r["drop_v"]) == (1, 2, 2)


def test_d8_straight_beats_larger_diagonal_drop(spark):
    """Distance matters: straight drop 3 (3/1) beats diagonal drop 4
    (4/sqrt2 ~ 2.83) — integer keys 18 > 16."""
    r = _d8_one(spark, [[9, 9, 9], [9, 5, 2], [9, 9, 1]])
    assert (r["d8"], r["n_down"], r["drop_v"]) == (1, 2, 3)


def test_d8_sink_is_zero(spark):
    """A local minimum has no downslope neighbor: code 0."""
    r = _d8_one(spark, [[9, 8, 7], [6, 5, 6], [7, 8, 9]])
    assert (r["d8"], r["n_down"], r["drop_v"]) == (0, 0, 0)


def test_d8_random_grid_matches_scalar_reference_across_halo(spark):
    """Property check: a 20x16 random integer grid at tile=4 (25
    blocks, so most full-window pixels sit on or near a block border
    and depend on halo copies) vs a scalar D8 reference. Small value
    range forces ties (smallest code must win) and flats (code 0)."""
    import random

    from georaster_spark.operators.raster import D8_NEIGHBORS, d8_flow_halo

    rng = random.Random(31)
    W, H = 20, 16
    grid = [[rng.randrange(6) for _ in range(W)] for _ in range(H)]
    want = {}
    for y in range(1, H - 1):
        for x in range(1, W - 1):
            zc = grid[y][x]
            best_key, best_code, best_drop, n_down = 0.0, 0, 0, 0
            for dx, dy, code in D8_NEIGHBORS:
                drop = zc - grid[y + dy][x + dx]
                if drop > 0:
                    n_down += 1
                    key = drop * drop * (2 if dx == 0 or dy == 0 else 1)
                    if key > best_key:
                        best_key, best_code, best_drop = key, code, drop
            want[(x, y)] = (best_code, n_down, best_drop)
    px = spark.createDataFrame(
        [
            (x, y, float(v))
            for y, line in enumerate(grid)
            for x, v in enumerate(line)
        ],
        "x int, y int, value double",
    )
    got = {
        (r["x"], r["y"]): (r["d8"], r["n_down"], r["drop_v"])
        for r in d8_flow_halo(px, tile=4).collect()
    }
    assert got == want


def test_d8_accumulation_k_matches_scalar_reference(spark):
    """k-step flow accumulation on the same random-grid setup as the
    D8 property test, vs a scalar reference that walks every interior
    cell's (unique, cycle-free) flow path up to k steps. Paths that
    reach a boundary (non-emitted) cell stop there; sinks contribute
    nothing downstream of themselves."""
    import random

    from georaster_spark.operators.raster import (
        D8_NEIGHBORS,
        d8_accumulation_k,
        d8_flow_halo,
    )

    rng = random.Random(47)
    W, H, K = 20, 16, 4
    grid = [[rng.randrange(6) for _ in range(W)] for _ in range(H)]
    interior = {(x, y) for y in range(1, H - 1) for x in range(1, W - 1)}
    succ = {}
    for x, y in interior:
        zc = grid[y][x]
        best_key, best = 0.0, None
        for dx, dy, code in D8_NEIGHBORS:
            drop = zc - grid[y + dy][x + dx]
            if drop > 0:
                key = drop * drop * (2 if dx == 0 or dy == 0 else 1)
                if key > best_key:
                    best_key, best = key, (x + dx, y + dy)
        if best is not None and best in interior:
            succ[(x, y)] = best
    want = {c: 0 for c in interior}
    for c in interior:
        cur = c
        for _ in range(K):
            if cur not in succ:
                break
            cur = succ[cur]
            want[cur] += 1
    px = spark.createDataFrame(
        [
            (x, y, float(v))
            for y, line in enumerate(grid)
            for x, v in enumerate(line)
        ],
        "x int, y int, value double",
    )
    flow = d8_flow_halo(px, tile=4)
    got = {
        (r["x"], r["y"]): r[f"acc{K}"]
        for r in d8_accumulation_k(flow, k=K).collect()
    }
    assert got == want
    # sanity: accumulation actually flows (some cell gathers >= 3)
    assert max(got.values()) >= 3


def test_d8_accumulation_fixpoint_matches_scalar_reference(spark):
    """FULL (fixpoint) flow accumulation on the random-grid setup, vs
    a scalar reference that walks every interior cell's unique flow
    path to termination (sink or boundary). Strictly positive drops
    make the path cycle-free, so the walk — and the operator's
    driver loop — always terminates. Also asserts the fixpoint
    result dominates the k-bounded one and they agree wherever every
    path segment is short."""
    import random

    from georaster_spark.operators.raster import (
        D8_NEIGHBORS,
        d8_accumulation,
        d8_accumulation_k,
        d8_flow_halo,
    )

    rng = random.Random(53)
    W, H = 20, 16
    grid = [[rng.randrange(6) for _ in range(W)] for _ in range(H)]
    interior = {(x, y) for y in range(1, H - 1) for x in range(1, W - 1)}
    succ = {}
    for x, y in interior:
        zc = grid[y][x]
        best_key, best = 0.0, None
        for dx, dy, code in D8_NEIGHBORS:
            drop = zc - grid[y + dy][x + dx]
            if drop > 0:
                key = drop * drop * (2 if dx == 0 or dy == 0 else 1)
                if key > best_key:
                    best_key, best = key, (x + dx, y + dy)
        if best is not None and best in interior:
            succ[(x, y)] = best
    want = {c: 0 for c in interior}
    for c in interior:
        cur = c
        while cur in succ:
            cur = succ[cur]
            want[cur] += 1
    px = spark.createDataFrame(
        [
            (x, y, float(v))
            for y, line in enumerate(grid)
            for x, v in enumerate(line)
        ],
        "x int, y int, value double",
    )
    flow = d8_flow_halo(px, tile=4)
    got = {(r["x"], r["y"]): r["acc"] for r in d8_accumulation(flow).collect()}
    assert got == want
    got_k = {
        (r["x"], r["y"]): r["acc2"]
        for r in d8_accumulation_k(flow, k=2).collect()
    }
    assert all(got[c] >= got_k[c] for c in got)
    # sanity: at least one path is longer than 2 steps, so the
    # fixpoint genuinely adds arrivals beyond the k-bounded form
    assert sum(got.values()) > sum(got_k.values())
