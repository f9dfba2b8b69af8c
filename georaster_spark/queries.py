"""Query catalog — every implemented operator as a (Spark, oracle-SQL)
pair for the driver's DuckDB correctness harness.

Rules that keep the value-hash comparison honest:
- identical arithmetic TEXT on both sides (same constant spelling,
  same operation order) so IEEE doubles agree bit-for-bit;
- every float output rounded (6-9 decimals) before hashing;
- every aggregate/computed column aliased identically;
- integer outputs CAST to BIGINT on both sides (DuckDB counts are
  int64; Spark ints would hash-mismatch on schema).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from georaster_spark import cells
from georaster_spark.datagen import (
    DTM_GEOM,
    dtm_pixels_df,
    dtm_pixels_sql,
    geocode_cols,
    geocode_sql,
    polygon_rects_sql,
    polygons,
)
from georaster_spark.functions.decode import mapbox_height, terrarium_height
from georaster_spark.functions.geo import haversine_sql
from georaster_spark.operators import raster as R
from georaster_spark.operators.knn import knn_join
from georaster_spark.operators.spatial_join import pip_join, salted_cell_counts

RES = 11
KNN_QUERIES = [("q0", 7.5, 46.0), ("q1", 8.0, 46.0), ("q2", 6.95, 44.95)]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def docs_geocoded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Testdata documents + the deterministic geocode (E2). doc_id is
    the generation index."""
    d = _t(spark, sf_dir, "documents")
    lon, lat = geocode_cols(F.col("doc_id"))
    return d.withColumn("lon", lon).withColumn("lat", lat)


def _geo_cte() -> str:
    lon, lat = geocode_sql("doc_id")
    return f"SELECT doc_id, text, lang, source, n_chars, {lon} AS lon, {lat} AS lat FROM documents"


# =====================================================================
# spatial / raster
# =====================================================================


def q_geocode_cells(spark, sf_dir):
    d = docs_geocoded(spark, sf_dir)
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round(F.col("lon") * 1000000000.0, 0).cast("long").alias("lon_e9"),
        F.round(F.col("lat") * 1000000000.0, 0).cast("long").alias("lat_e9"),
        cells.cell_encode_cols(F.col("lon"), F.col("lat"), RES).alias("cell"),
    )


def sql_geocode_cells():
    return f"""
    WITH g AS ({_geo_cte()})
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(round(lon * 1000000000.0, 0) AS BIGINT) AS lon_e9,
           CAST(round(lat * 1000000000.0, 0) AS BIGINT) AS lat_e9,
           {cells.cell_encode_sql('lon', 'lat', RES)} AS cell
    FROM g
    """


def q_coord_interop(spark, sf_dir):
    """R27 external coordinate interop (reference src/geo.rs:19-140):
    every encoding conversion the reference ships — lat-first
    constructor (Coordinate::new, geo.rs:38-43), x-first tuple
    (geo.rs:46-52), [f64;2] array (geo.rs:55-61), geo-crate Coord
    round trip (geo.rs:64-99) — lifted to struct<x,y> Column
    converters, plus the two interchange TEXT forms a lakehouse
    actually meets (WKT point, GeoJSON point), built and re-parsed
    through e6-quantized BIGINTs so the bytes are engine-exact.
    Zero-shuffle: one codegen projection over the geocoded docs; the
    oracle replays the identical build→parse chain in DuckDB.
    Struct-routing identities (new(lat,lon) == from_xy(lon,lat) ==
    from_array([lon,lat])) are hand-checked in tests/test_coord.py
    with the reference doctest's own values (50.013, 160.423)."""
    from georaster_spark.functions import geo as G

    d = docs_geocoded(spark, sf_dir)
    x_e6 = F.round(F.col("lon") * 1000000.0, 0).cast("long")
    y_e6 = F.round(F.col("lat") * 1000000.0, 0).cast("long")
    c = G.coord_new(latitude=F.col("lat"), longitude=F.col("lon"))
    arr = G.coord_to_array(c)
    wkt = G.wkt_point_e6(x_e6, y_e6)
    gj = G.geojson_point_e6(x_e6, y_e6)
    wx = G.parse_point_e6(wkt, G.WKT_POINT_RE, 1)
    wy = G.parse_point_e6(wkt, G.WKT_POINT_RE, 2)
    gx = G.parse_point_e6(gj, G.GEOJSON_POINT_RE, 1)
    gy = G.parse_point_e6(gj, G.GEOJSON_POINT_RE, 2)
    rt_ok = (wx == x_e6) & (wy == y_e6) & (gx == x_e6) & (gy == y_e6)
    # the struct/array routing participates in the plan (c/arr feed
    # x_e6 recomputation) so a field-order regression breaks values,
    # not just the unit tests
    x_e6_via_struct = F.round(c["x"] * 1000000.0, 0).cast("long")
    y_e6_via_array = F.round(arr[1] * 1000000.0, 0).cast("long")
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        x_e6_via_struct.alias("x_e6"),
        y_e6_via_array.alias("y_e6"),
        wx.alias("wkt_x_e6"),
        wy.alias("wkt_y_e6"),
        gx.alias("gj_x_e6"),
        gy.alias("gj_y_e6"),
        F.length(wkt).cast("long").alias("wkt_len"),
        F.length(gj).cast("long").alias("gj_len"),
        rt_ok.cast("long").alias("rt_ok"),
    )


def sql_coord_interop():
    from georaster_spark.functions import geo as G

    wkt = G.wkt_point_e6_sql("x_e6", "y_e6")
    gj = G.geojson_point_e6_sql("x_e6", "y_e6")
    wx = G.parse_point_e6_sql("wkt", G.WKT_POINT_RE, 1)
    wy = G.parse_point_e6_sql("wkt", G.WKT_POINT_RE, 2)
    gx = G.parse_point_e6_sql("gj", G.GEOJSON_POINT_RE, 1)
    gy = G.parse_point_e6_sql("gj", G.GEOJSON_POINT_RE, 2)
    return f"""
    WITH g AS ({_geo_cte()}),
    q AS (
      SELECT doc_id,
             CAST(round(lon * 1000000.0, 0) AS BIGINT) AS x_e6,
             CAST(round(lat * 1000000.0, 0) AS BIGINT) AS y_e6
      FROM g
    ),
    t AS (SELECT doc_id, x_e6, y_e6, {wkt} AS wkt, {gj} AS gj FROM q)
    SELECT CAST(doc_id AS BIGINT) AS doc_id, x_e6, y_e6,
           {wx} AS wkt_x_e6, {wy} AS wkt_y_e6,
           {gx} AS gj_x_e6, {gy} AS gj_y_e6,
           CAST(length(wkt) AS BIGINT) AS wkt_len,
           CAST(length(gj) AS BIGINT) AS gj_len,
           CAST({wx} = x_e6 AND {wy} = y_e6 AND {gx} = x_e6 AND {gy} = y_e6 AS BIGINT) AS rt_ok
    FROM t
    """


def q_cell_hist(spark, sf_dir):
    d = docs_geocoded(spark, sf_dir)
    d = d.withColumn("cell", cells.cell_encode_cols(F.col("lon"), F.col("lat"), 8))
    return salted_cell_counts(d)


def sql_cell_hist():
    return f"""
    WITH g AS ({_geo_cte()})
    SELECT {cells.cell_encode_sql('lon', 'lat', 8)} AS cell, CAST(count(*) AS BIGINT) AS n_docs
    FROM g GROUP BY 1
    """


def q_cell_parent_rollup(spark, sf_dir):
    d = docs_geocoded(spark, sf_dir)
    cell = cells.cell_encode_cols(F.col("lon"), F.col("lat"), RES)
    parent = cells.cell_parent_cols(cell)
    return d.groupBy(parent.alias("parent_cell")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


def sql_cell_parent_rollup():
    c = cells.cell_encode_sql("lon", "lat", RES)
    Z, X = 1 << 58, 1 << 29
    return f"""
    WITH g AS ({_geo_cte()}), cc AS (SELECT {c} AS cell FROM g)
    SELECT (cell // {Z} - 1) * {Z} + (cell % {Z} // {X} // 2) * {X} + (cell % {X} // 2) AS parent_cell,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM cc GROUP BY 1
    """


def q_pip_join(spark, sf_dir):
    d = docs_geocoded(spark, sf_dir)
    out = pip_join(d, polygons(), RES)
    return out.select(F.col("doc_id").cast("long").alias("doc_id"), "poly_id")


def sql_pip_join():
    return f"""
    WITH g AS ({_geo_cte()})
    SELECT CAST(g.doc_id AS BIGINT) AS doc_id, polyrects.poly_id AS poly_id
    FROM g JOIN {polygon_rects_sql()}
      ON g.lon > polyrects.xmin AND g.lon < polyrects.xmax
     AND g.lat > polyrects.ymin AND g.lat < polyrects.ymax
    """


def q_knn(spark, sf_dir):
    d = docs_geocoded(spark, sf_dir)
    out = knn_join(d, KNN_QUERIES, k=5, doc_key="doc_id")
    return out.select(
        "query_id", F.col("doc_id").cast("long").alias("doc_id"), F.col("rank").cast("long").alias("rank")
    )


def sql_knn():
    vals = ", ".join(f"('{q}', {lon!r}, {lat!r})" for q, lon, lat in KNN_QUERIES)
    hav = haversine_sql("g.lon", "g.lat", "q.qlon", "q.qlat")
    return f"""
    WITH g AS ({_geo_cte()}), q(query_id, qlon, qlat) AS (VALUES {vals})
    SELECT query_id, CAST(doc_id AS BIGINT) AS doc_id, CAST(rank AS BIGINT) AS rank FROM (
      SELECT q.query_id, g.doc_id,
             row_number() OVER (PARTITION BY q.query_id ORDER BY {hav}, g.doc_id) AS rank
      FROM g CROSS JOIN q
    ) WHERE rank <= 5
    """


POIS = [(f"poi{i}", 7.1 + (i % 8) * 0.25, 45.1 + (i // 8) * 0.45) for i in range(40)]

DWITHIN_M = 2000.0


def q_dwithin_pairs(spark, sf_dir):
    """ST_DWithin self-join (operators/spatial_join.py
    within_distance_pairs): all doc pairs within 2 km via the
    neighbor-cell equi-join rewrite — exercises the hot-cell skew
    path (20% of docs share one cell)."""
    from georaster_spark.operators.spatial_join import within_distance_pairs

    d = docs_geocoded(spark, sf_dir)
    out = within_distance_pairs(d, DWITHIN_M, res=12, max_abs_lat=47.2)
    return out.select(
        F.col("key_a").cast("long").alias("doc_a"),
        F.col("key_b").cast("long").alias("doc_b"),
        F.round(F.col("dist_m") * 1000.0, 0).cast("long").alias("dist_mm"),
    )


def sql_dwithin_pairs():
    hav = haversine_sql("a.lon", "a.lat", "b.lon", "b.lat")
    return f"""
    WITH g AS ({_geo_cte()})
    SELECT CAST(a.doc_id AS BIGINT) AS doc_a, CAST(b.doc_id AS BIGINT) AS doc_b,
           CAST(round({hav} * 1000.0, 0) AS BIGINT) AS dist_mm
    FROM g a JOIN g b ON a.doc_id < b.doc_id
    WHERE {hav} <= {DWITHIN_M!r}
    """


def q_knn_table(spark, sf_dir):
    """Table-scale kNN (operators/knn.py knn_table_join): every doc's
    3 nearest POIs from one Arrow kernel that probes a sorted per-cell
    candidate index, exact all-POI fallback for boundary cases — equals
    brute force."""
    from georaster_spark.operators.knn import knn_table_join

    d = docs_geocoded(spark, sf_dir)
    out = knn_table_join(d, POIS, k=3, res=9, ring=1)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "poi_id",
        F.col("rank").cast("long").alias("rank"),
    )


def sql_knn_table():
    vals = ", ".join(f"('{pid}', {plon!r}, {plat!r})" for pid, plon, plat in POIS)
    hav = haversine_sql("g.lon", "g.lat", "p.plon", "p.plat")
    return f"""
    WITH g AS ({_geo_cte()}), p(poi_id, plon, plat) AS (VALUES {vals})
    SELECT CAST(doc_id AS BIGINT) AS doc_id, poi_id, CAST(rank AS BIGINT) AS rank FROM (
      SELECT g.doc_id, p.poi_id,
             row_number() OVER (PARTITION BY g.doc_id ORDER BY {hav}, p.poi_id) AS rank
      FROM g CROSS JOIN p
    ) WHERE rank <= 3
    """


def q_dtm_window_max(spark, sf_dir):
    px = dtm_pixels_df(spark, partitions=32)
    return px.agg(
        F.max(
            F.when(
                F.col("x").between(2500, 2599) & F.col("y").between(3000, 3099),
                F.col("value"),
            )
        ).cast("long").alias("window_max"),
        F.max(F.when((F.col("x") == 0) & (F.col("y") == 0), F.col("value")))
        .cast("long")
        .alias("origin_value"),
    )


def sql_dtm_window_max():
    return f"""
    WITH px AS ({dtm_pixels_sql()})
    SELECT CAST(max(CASE WHEN x BETWEEN 2500 AND 2599 AND y BETWEEN 3000 AND 3099 THEN value END) AS BIGINT) AS window_max,
           CAST(max(CASE WHEN x = 0 AND y = 0 THEN value END) AS BIGINT) AS origin_value
    FROM px
    """


def q_dtm_overview_max(spark, sf_dir):
    """Overview-pyramid query (examples/http_dtm.rs:55-60 analog):
    the max-aggregate answered from the 2x overview level."""
    px = dtm_pixels_df(spark, partitions=32)
    ov = R.build_overview(px, factor=2, agg="max", image_idx=1)
    return ov.where(
        F.col("x").between(1250, 1299) & F.col("y").between(1500, 1549)
    ).agg(F.max("value").cast("long").alias("window_max"))


def sql_dtm_overview_max():
    # max over a 2x2-max overview window == max over the aligned
    # full-res window (the windows are block-aligned by construction)
    return f"""
    WITH px AS ({dtm_pixels_sql()})
    SELECT CAST(max(CASE WHEN x BETWEEN 2500 AND 2599 AND y BETWEEN 3000 AND 3099 THEN value END) AS BIGINT) AS window_max
    FROM px
    """


def q_tile_assignment(spark, sf_dir):
    """North-rule gate: tile assignments must match — chunk index and
    padded in-chunk offset for every pixel of the golden window."""
    g = DTM_GEOM
    px = dtm_pixels_df(spark, partitions=32).where(
        g.window_filter(F.col("x"), F.col("y"), 2500, 3000, 100, 100)
    )
    return px.select(
        "x",
        "y",
        g.tile_index_cols(F.col("x"), F.col("y")).cast("long").alias("tile_idx"),
        g.tile_offset_cols(F.col("x"), F.col("y")).cast("long").alias("tile_offset"),
    )


def sql_tile_assignment():
    g = DTM_GEOM
    ta, tw, th = g.tiles_across, g.tile_w, g.tile_h
    pr = g.padding_right
    return f"""
    WITH px AS ({dtm_pixels_sql()})
    SELECT x, y,
           CAST(y // {th} * {ta} + x // {tw} AS BIGINT) AS tile_idx,
           CAST((y % {th}) * ({tw} - CASE WHEN x // {tw} = {ta - 1} THEN {pr} ELSE 0 END) + x % {tw} AS BIGINT) AS tile_offset
    FROM px
    WHERE x BETWEEN 2500 AND 2599 AND y BETWEEN 3000 AND 3099
    """


ZONES = [
    ("golden", 2500, 3000, 100, 100),
    ("west", 0, 0, 1000, 5000),
    ("overlap", 2400, 2900, 400, 400),
    ("strip", 0, 4000, 5000, 100),
    ("tiny", 0, 0, 1, 1),
]


def q_zonal_stats(spark, sf_dir):
    """Zonal statistics over the DTM (operators/raster.py
    zonal_stats): per-zone count/min/max/sum/mean via the
    block-cover broadcast join — overlapping zones multiply
    candidates, never rows of the raster."""
    px = dtm_pixels_df(spark, partitions=32)
    out = R.zonal_stats(px, ZONES, block=512)
    return out.select(
        "zone_id",
        F.col("n_px").cast("long").alias("n_px"),
        F.col("min_v").cast("long").alias("min_v"),
        F.col("max_v").cast("long").alias("max_v"),
        F.col("sum_v").cast("long").alias("sum_v"),
        F.round(F.col("sum_v") / F.col("n_px") * 1000000.0, 0)
        .cast("long")
        .alias("mean_e6"),
    )


def sql_zonal_stats():
    vals = ", ".join(
        f"('{z}', {x0}, {y0}, {x0 + w - 1}, {y0 + h - 1})" for z, x0, y0, w, h in ZONES
    )
    return f"""
    WITH px AS ({dtm_pixels_sql()}),
    zones(zone_id, zx0, zy0, zx1, zy1) AS (VALUES {vals}),
    agg AS (
      SELECT zone_id, CAST(count(value) AS BIGINT) AS n_px,
             CAST(min(value) AS BIGINT) AS min_v, CAST(max(value) AS BIGINT) AS max_v,
             CAST(sum(value) AS BIGINT) AS sum_v
      FROM px JOIN zones ON px.x BETWEEN zx0 AND zx1 AND px.y BETWEEN zy0 AND zy1
      GROUP BY zone_id
    )
    SELECT zone_id, n_px, min_v, max_v, sum_v,
           CAST(round(sum_v / n_px * 1000000.0, 0) AS BIGINT) AS mean_e6
    FROM agg
    """


GRID64 = dict(origin_x=7.0, origin_y=47.0, px=2.0 / 64.0)


def q_rasterize_grid(spark, sf_dir):
    from georaster_spark.grid import RasterGeometry

    g = RasterGeometry(
        width=64, height=64, tile_w=64, tile_h=64,
        origin_x=GRID64["origin_x"], origin_y=GRID64["origin_y"],
        px_sz_x=GRID64["px"], px_sz_y=-GRID64["px"],
    )
    d = docs_geocoded(spark, sf_dir)
    out = R.rasterize(d, g, F.col("lon"), F.col("lat"), F.col("doc_id"), agg="count")
    return out.select("x", "y", F.col("value").cast("long").alias("n_docs"))


def sql_rasterize_grid():
    px = GRID64["px"]
    return f"""
    WITH g AS ({_geo_cte()}),
    binned AS (
      SELECT CAST(round((lon - {GRID64['origin_x']!r}) / {px!r}, 0) AS INT) AS x,
             CAST(round((lat - {GRID64['origin_y']!r}) / {-px!r}, 0) AS INT) AS y
      FROM g
    )
    SELECT x, y, CAST(count(*) AS BIGINT) AS n_docs
    FROM binned WHERE x >= 0 AND x < 64 AND y >= 0 AND y < 64
    GROUP BY x, y
    """


IDW_R2 = 0.04  # radius² in degrees² (0.2°)
IDW_W_SCALE = 1000000000.0  # weight quantization (e9)


def q_idw_grid(spark, sf_dir):
    """Inverse-distance-weighted interpolation of the 40 POI sample
    points onto the 64×64 grid (geostatistics gridding: v(c) =
    Σ wᵢvᵢ / Σ wᵢ, wᵢ = 1/d², points within 0.2°). Scale shape: the
    sample points are a LITERAL broadcast array and the whole
    evaluation is F.aggregate Column algebra over the executor-
    generated grid — zero joins, zero shuffles, pure codegen map
    stage (model scoring shape). Weights are quantized to e9 integers
    before summing, so both weighted sums are exact integer
    arithmetic and the result hashes identically cross-engine (same
    trick as ann_pq)."""
    vals = [(plon, plat, 100 + 7 * i) for i, (_pid, plon, plat) in enumerate(POIS)]
    pts = F.array(
        *[
            F.struct(
                F.lit(px).alias("px"), F.lit(py).alias("py"), F.lit(pv).alias("pv")
            )
            for px, py, pv in vals
        ]
    )
    n, px_sz = 64, GRID64["px"]
    grid = spark.range(n * n).select(
        (F.col("id") % n).cast("long").alias("i"),
        (F.col("id") / n).cast("long").alias("j"),
    )
    cx = GRID64["origin_x"] + (F.col("i") + 0.5) * px_sz
    cy = GRID64["origin_y"] - (F.col("j") + 0.5) * px_sz

    def d2(p):
        return (cx - p["px"]) * (cx - p["px"]) + (cy - p["py"]) * (cy - p["py"])

    def w(p):
        # greatest(d2, 1e-6): an exact point-on-center hit (d2 == 0)
        # must stay finite — the capped weight (1e15) dominates every
        # non-hit weight (<= ~1e13) so the cell returns ~the sample
        # value, and both engines compute the same finite integer
        # instead of Spark inf-casting vs DuckDB raising
        return F.when(
            d2(p) <= IDW_R2,
            F.round(
                1.0 / F.greatest(d2(p), F.lit(0.000001)) * IDW_W_SCALE, 0
            ).cast("long"),
        ).otherwise(F.lit(0).cast("long"))

    zero = F.lit(0).cast("long")
    num = F.aggregate(pts, zero, lambda acc, p: acc + w(p) * p["pv"])
    den = F.aggregate(pts, zero, lambda acc, p: acc + w(p))
    n_pts = F.aggregate(
        pts, zero, lambda acc, p: acc + F.when(d2(p) <= IDW_R2, 1).otherwise(0)
    )
    return (
        grid.select(
            "i",
            "j",
            n_pts.alias("n_pts"),
            num.alias("num"),
            den.alias("den"),
        )
        .where(F.col("den") > 0)
        .select(
            "i",
            "j",
            "n_pts",
            F.round(F.col("num").cast("double") / F.col("den") * 1000000.0, 0)
            .cast("long")
            .alias("idw_e6"),
        )
    )


def sql_idw_grid():
    vals = ", ".join(
        f"({plon!r}, {plat!r}, {100 + 7 * i})"
        for i, (_pid, plon, plat) in enumerate(POIS)
    )
    ox, oy, px = GRID64["origin_x"], GRID64["origin_y"], GRID64["px"]
    d2 = "((cx - px) * (cx - px) + (cy - py) * (cy - py))"
    return f"""
    WITH g AS (
      SELECT CAST(range % 64 AS BIGINT) AS i, CAST(range // 64 AS BIGINT) AS j,
             {ox!r} + (range % 64 + 0.5e0) * {px!r} AS cx,
             {oy!r} - (range // 64 + 0.5e0) * {px!r} AS cy
      FROM range(4096)
    ),
    p(px, py, pv) AS (VALUES {vals}),
    w AS (
      SELECT i, j, pv,
             CAST(round(1.0e0 / greatest({d2}, 0.000001e0) * {IDW_W_SCALE!r}, 0) AS BIGINT) AS w
      FROM g, p WHERE {d2} <= {IDW_R2!r}
    )
    SELECT i, j, CAST(count(*) AS BIGINT) AS n_pts,
           CAST(round(CAST(sum(w * pv) AS DOUBLE) / sum(w) * 1000000.0, 0) AS BIGINT) AS idw_e6
    FROM w GROUP BY 1, 2
    """


def q_band_math(spark, sf_dir):
    """Map algebra over a multi-band raster: normalized band
    difference (NDVI-shaped) per pixel — pure Column arithmetic after
    the per-band pivot, entirely inside codegen."""
    from georaster_spark.datagen import array_to_tiles_df, fixture_world400

    geom, arr = fixture_world400()
    tiles = array_to_tiles_df(spark, "world400", geom, arr)
    rgb = R.assemble_rgb(R.tiles_to_pixels(tiles, geom))
    r, g = F.col("rgba")[0].cast("double"), F.col("rgba")[1].cast("double")
    return rgb.select(
        "x",
        "y",
        F.round((g - r) / (g + r) * 1000000.0, 0).cast("long").alias("ndvi_e6"),
    )


def sql_band_math():
    from georaster_spark.datagen import world400_pixels_sql

    return f"""
    WITH px AS ({world400_pixels_sql()})
    SELECT x, y,
           CAST(round((CAST(g AS DOUBLE) - CAST(r AS DOUBLE)) / (CAST(g AS DOUBLE) + CAST(r AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS ndvi_e6
    FROM px
    """


def q_flow_direction(spark, sf_dir):
    """D8 flow direction over the DTM crop (operators/raster.py
    d8_flow_halo): steepest positive drop-over-distance among the 8
    neighbors, compared on the exact integer key drop²·(2|1) so the
    argmax is engine-bit-identical; ties → smallest ESRI code, no
    downslope → 0 (sink). Same tile-halo plan as focal/hillshade —
    ONE block-key Exchange into the NumPy kernel (~1.02× halo
    duplication at tile=64). The oracle re-derives the argmax with a
    row_number over the 8-neighbor self-join."""
    return R.d8_flow_halo(_dtm_crop(spark), tile=64)


def sql_flow_direction():
    code = (
        "CASE WHEN dx = 1 AND dy = 0 THEN 1 WHEN dx = 1 AND dy = 1 THEN 2"
        " WHEN dx = 0 AND dy = 1 THEN 4 WHEN dx = -1 AND dy = 1 THEN 8"
        " WHEN dx = -1 AND dy = 0 THEN 16 WHEN dx = -1 AND dy = -1 THEN 32"
        " WHEN dx = 0 AND dy = -1 THEN 64 ELSE 128 END"
    )
    return f"""
    WITH px AS ({dtm_pixels_sql()}),
    c AS ({_dtm_crop_sql()}),
    e AS (
      SELECT a.x, a.y, b.x - a.x AS dx, b.y - a.y AS dy, a.value - b.value AS drop
      FROM c a JOIN c b
        ON b.x BETWEEN a.x - 1 AND a.x + 1 AND b.y BETWEEN a.y - 1 AND a.y + 1
       AND NOT (b.x = a.x AND b.y = a.y)
    ),
    k AS (
      SELECT x, y, {code} AS code, drop,
             CASE WHEN drop > 0
                  THEN drop * drop * (CASE WHEN dx = 0 OR dy = 0 THEN 2 ELSE 1 END)
             END AS key
      FROM e
    ),
    agg AS (
      SELECT x, y, count(*) AS n_all,
             sum(CASE WHEN drop > 0 THEN 1 ELSE 0 END) AS n_down
      FROM e GROUP BY 1, 2
    ),
    w AS (
      SELECT x, y, code, drop, key FROM (
        SELECT x, y, code, drop, key,
               row_number() OVER (PARTITION BY x, y ORDER BY key DESC NULLS LAST, code ASC) AS rn
        FROM k
      ) WHERE rn = 1
    )
    SELECT CAST(a.x AS BIGINT) AS x, CAST(a.y AS BIGINT) AS y,
           CAST(CASE WHEN w.key IS NULL THEN 0 ELSE w.code END AS BIGINT) AS d8,
           CAST(a.n_down AS BIGINT) AS n_down,
           CAST(CASE WHEN w.key IS NULL THEN 0 ELSE w.drop END AS BIGINT) AS drop_v
    FROM agg a JOIN w USING (x, y)
    WHERE a.n_all = 8
    """


# k-step D8 accumulation (scalar reference:
# tests/test_raster.py::test_d8_accumulation_k_matches_scalar_
# reference). The iterate-to-fixpoint contributing-area form is
# flow_accum_fix below.
FLOW_ACC_K = 4


def q_flow_accum(spark, sf_dir):
    """k-step D8 flow accumulation over the DTM crop
    (operators/raster.py d8_accumulation_k on d8_flow_halo output):
    per cell, the number of cells whose flow paths arrive within
    ≤ k = 4 steps — the fixed-iteration (exactly SQL-unrollable)
    form of the contributing-area count, same house pattern as
    pagerank. Out-degree 1 ⇒ each step is ONE equi-join on the cell
    key and the frontier only shrinks; edges are closed over the
    emitted interior so the semantics are engine-exact."""
    flow = R.d8_flow_halo(_dtm_crop(spark), tile=64)
    return R.d8_accumulation_k(flow, k=FLOW_ACC_K)


def sql_flow_accum():
    dxc = (
        "CASE d8 WHEN 1 THEN 1 WHEN 2 THEN 1 WHEN 4 THEN 0 WHEN 8 THEN -1"
        " WHEN 16 THEN -1 WHEN 32 THEN -1 WHEN 64 THEN 0 ELSE 1 END"
    )
    dyc = (
        "CASE d8 WHEN 1 THEN 0 WHEN 2 THEN 1 WHEN 4 THEN 1 WHEN 8 THEN 1"
        " WHEN 16 THEN 0 WHEN 32 THEN -1 WHEN 64 THEN -1 ELSE -1 END"
    )
    flow = sql_flow_direction().strip()
    steps = [
        "s1 AS (SELECT x AS ux, y AS uy, tx, ty FROM edges)"
    ] + [
        f"s{j} AS (SELECT s.ux, s.uy, e.tx, e.ty FROM s{j - 1} s"
        f" JOIN edges e ON e.x = s.tx AND e.y = s.ty)"
        for j in range(2, FLOW_ACC_K + 1)
    ]
    arr = " UNION ALL ".join(
        f"SELECT tx, ty FROM s{j}" for j in range(1, FLOW_ACC_K + 1)
    )
    return f"""
    WITH flow AS MATERIALIZED ({flow}),
    cells AS MATERIALIZED (SELECT x, y FROM flow),
    e0 AS (
      SELECT x, y, x + {dxc} AS tx, y + {dyc} AS ty FROM flow WHERE d8 > 0
    ),
    edges AS MATERIALIZED (
      SELECT e0.x, e0.y, e0.tx, e0.ty
      FROM e0 JOIN cells t ON t.x = e0.tx AND t.y = e0.ty
    ),
    {", ".join(steps)},
    arr AS ({arr}),
    acc AS (SELECT tx, ty, count(*) AS a FROM arr GROUP BY 1, 2)
    SELECT CAST(c.x AS BIGINT) AS x, CAST(c.y AS BIGINT) AS y,
           CAST(coalesce(acc.a, 0) AS BIGINT) AS acc{FLOW_ACC_K}
    FROM cells c LEFT JOIN acc ON acc.tx = c.x AND acc.ty = c.y
    """


def q_flow_accum_fix(spark, sf_dir):
    """FULL D8 flow accumulation to fixpoint (operators/raster.py
    d8_accumulation): the contributing-area count of O'Callaghan &
    Mark 1984 — per cell, how many other cells' flow paths reach it
    in ANY number of steps, the un-bounded form of flow_accum. Out-
    degree 1 + strictly-descending edges make the interior flow graph
    a DAG, so the live-path frontier strictly shrinks; the driver
    loop iterates `frontier ⋈ edges` with an eager localCheckpoint
    per round (a connected-components driver loop) until the frontier
    empties — 7 rounds on this crop (frontier 37k → 26k → … → 29 →
    0). The oracle is the same closure via DuckDB WITH RECURSIVE.
    Semantics anchor: the reference's DTM workload grid
    (examples/geotiff_dtm.rs:99-115) lifted to hydrology."""
    flow = R.d8_flow_halo(_dtm_crop(spark), tile=64)
    return R.d8_accumulation(flow)


def sql_flow_accum_fix():
    dxc = (
        "CASE d8 WHEN 1 THEN 1 WHEN 2 THEN 1 WHEN 4 THEN 0 WHEN 8 THEN -1"
        " WHEN 16 THEN -1 WHEN 32 THEN -1 WHEN 64 THEN 0 ELSE 1 END"
    )
    dyc = (
        "CASE d8 WHEN 1 THEN 0 WHEN 2 THEN 1 WHEN 4 THEN 1 WHEN 8 THEN 1"
        " WHEN 16 THEN 0 WHEN 32 THEN -1 WHEN 64 THEN -1 ELSE -1 END"
    )
    flow = sql_flow_direction().strip()
    # AS MATERIALIZED: DuckDB otherwise INLINES these CTEs into the
    # recursive member, recomputing the whole flow-direction pipeline
    # (8-neighbor self-join + window) on EVERY iteration — 124 s vs
    # ~4 s for the identical result.
    return f"""
    WITH RECURSIVE flow AS MATERIALIZED ({flow}),
    cells AS MATERIALIZED (SELECT x, y FROM flow),
    e0 AS (
      SELECT x, y, x + {dxc} AS tx, y + {dyc} AS ty FROM flow WHERE d8 > 0
    ),
    edges AS MATERIALIZED (
      SELECT e0.x, e0.y, e0.tx, e0.ty
      FROM e0 JOIN cells t ON t.x = e0.tx AND t.y = e0.ty
    ),
    walk(tx, ty) AS (
      SELECT tx, ty FROM edges
      UNION ALL
      SELECT e.tx, e.ty FROM walk w JOIN edges e ON e.x = w.tx AND e.y = w.ty
    ),
    acc AS (SELECT tx, ty, count(*) AS a FROM walk GROUP BY 1, 2)
    SELECT CAST(c.x AS BIGINT) AS x, CAST(c.y AS BIGINT) AS y,
           CAST(coalesce(acc.a, 0) AS BIGINT) AS acc
    FROM cells c LEFT JOIN acc ON acc.tx = c.x AND acc.ty = c.y
    """


FOCAL_X0, FOCAL_Y0, FOCAL_W = 2450, 2950, 200


def _dtm_crop(spark):
    """The shared 200×200 DTM crop every stencil/resample query runs
    on (focal window at (2450, 2950))."""
    return dtm_pixels_df(spark, partitions=32).where(
        F.col("x").between(FOCAL_X0, FOCAL_X0 + FOCAL_W - 1)
        & F.col("y").between(FOCAL_Y0, FOCAL_Y0 + FOCAL_W - 1)
    ).select("x", "y", "value")


def _dtm_crop_sql() -> str:
    """The same crop as a DuckDB CTE body."""
    x1, y1 = FOCAL_X0 + FOCAL_W - 1, FOCAL_Y0 + FOCAL_W - 1
    return f"""
      SELECT x, y, value FROM px
      WHERE x BETWEEN {FOCAL_X0} AND {x1} AND y BETWEEN {FOCAL_Y0} AND {y1}
    """


def q_focal_stats(spark, sf_dir):
    """3×3 focal (neighborhood) statistics over a DTM crop via
    tile-halo exchange (operators/raster.py focal_stats_halo) — the
    canonical distributed stencil: each pixel shuffles ~once (halo
    copies only for block-border pixels, ~1.06× duplication at
    tile=64, ~1.02× at 256), one groupBy on the block key, NumPy
    dense stencil per block — vs the naive 9× explode shuffle or a
    range self-join. Crop edges exercise the missing-neighbor path
    (n_nb of 4/6/9), mirroring the reference's bounds-clipped window
    scans (src/geotiff.rs:316-318) lifted to a neighborhood op.
    Equality against the 9×-explode JVM form is asserted in
    tests/test_raster.py on sparse rasters with holes."""
    out = R.focal_stats_halo(_dtm_crop(spark), tile=64)
    return out.select(
        "x",
        "y",
        "n_nb",
        F.round(F.col("sum_v"), 0).cast("long").alias("sum_v"),
        F.round(F.col("min_v"), 0).cast("long").alias("min_v"),
        F.round(F.col("max_v"), 0).cast("long").alias("max_v"),
        F.round(F.col("sum_v") / F.col("n_nb") * 1000000.0, 0)
        .cast("long")
        .alias("mean_e6"),
    )


def sql_focal_stats():
    x1, y1 = FOCAL_X0 + FOCAL_W - 1, FOCAL_Y0 + FOCAL_W - 1
    return f"""
    WITH px AS ({dtm_pixels_sql()}),
    c AS (
      SELECT x, y, value FROM px
      WHERE x BETWEEN {FOCAL_X0} AND {x1} AND y BETWEEN {FOCAL_Y0} AND {y1}
    )
    SELECT CAST(a.x AS BIGINT) AS x, CAST(a.y AS BIGINT) AS y,
           CAST(count(*) AS BIGINT) AS n_nb,
           CAST(round(sum(b.value), 0) AS BIGINT) AS sum_v,
           CAST(round(min(b.value), 0) AS BIGINT) AS min_v,
           CAST(round(max(b.value), 0) AS BIGINT) AS max_v,
           CAST(round(sum(b.value) / count(*) * 1000000.0, 0) AS BIGINT) AS mean_e6
    FROM c a JOIN c b
      ON b.x BETWEEN a.x - 1 AND a.x + 1 AND b.y BETWEEN a.y - 1 AND a.y + 1
    GROUP BY a.x, a.y
    """


def q_hillshade(spark, sf_dir):
    """Hillshade over the DTM crop (GDAL-style Horn method, azimuth
    315°, altitude 45°): gradient NUMERATORS come from the tile-halo
    stencil kernel (operators/raster.py horn_gradients_halo — same
    ~1.02× shuffle as focal_stats), integer-exact so the oracle
    hashes them exactly; the division and trig (slope/aspect/shading)
    run as Column algebra with identical expression text in the
    DuckDB twin, rounded e4 to absorb cross-engine libm ulps. Edge
    pixels with incomplete 3×3 windows are skipped (GDAL default)."""
    g = R.horn_gradients_halo(_dtm_crop(spark), tile=64)
    dzdx = F.col("gx_num") / 80.0  # 8 * cellsize(10 m)
    dzdy = F.col("gy_num") / 80.0
    slope = F.atan(F.sqrt(dzdx * dzdx + dzdy * dzdy))
    aspect = F.atan2(dzdy, -dzdx)
    zen, az = F.radians(F.lit(45.0)), F.radians(F.lit(315.0))
    hs = 255.0 * (
        F.cos(zen) * F.cos(slope) + F.sin(zen) * F.sin(slope) * F.cos(az - aspect)
    )
    return g.select(
        "x",
        "y",
        F.round(F.col("gx_num"), 0).cast("long").alias("gx_num"),
        F.round(F.col("gy_num"), 0).cast("long").alias("gy_num"),
        F.round(hs * 10000.0, 0).cast("long").alias("hillshade_e4"),
    )


def sql_hillshade():
    slope = (
        "atan(sqrt((gx_num / 80.0e0) * (gx_num / 80.0e0)"
        " + (gy_num / 80.0e0) * (gy_num / 80.0e0)))"
    )
    aspect = "atan2(gy_num / 80.0e0, -(gx_num / 80.0e0))"
    hs = (
        f"255.0e0 * (cos(radians(45.0e0)) * cos({slope})"
        f" + sin(radians(45.0e0)) * sin({slope})"
        f" * cos(radians(315.0e0) - {aspect}))"
    )
    return f"""
    WITH px AS ({dtm_pixels_sql()}),
    c AS ({_dtm_crop_sql()}),
    g AS (
      SELECT a.x, a.y,
             sum((b.x - a.x) * (CASE WHEN b.y = a.y THEN 2 ELSE 1 END) * b.value) AS gx_num,
             sum((b.y - a.y) * (CASE WHEN b.x = a.x THEN 2 ELSE 1 END) * b.value) AS gy_num,
             count(*) AS n_nb
      FROM c a JOIN c b
        ON b.x BETWEEN a.x - 1 AND a.x + 1 AND b.y BETWEEN a.y - 1 AND a.y + 1
      GROUP BY 1, 2
    )
    SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
           CAST(round(gx_num, 0) AS BIGINT) AS gx_num,
           CAST(round(gy_num, 0) AS BIGINT) AS gy_num,
           CAST(round({hs} * 10000.0, 0) AS BIGINT) AS hillshade_e4
    FROM g WHERE n_nb = 9
    """


def q_slope_aspect(spark, sf_dir):
    """Slope/aspect terrain derivatives over the DTM crop — the two
    scalar products the hillshade composes (see q_hillshade),
    surfaced as their own rasters. Same tile-halo Horn gradient
    kernel (operators/raster.py horn_gradients_halo: one block-key
    Exchange, ~1.02x halo duplication at tile=64); everything after
    the integer-exact gradient numerators is Column algebra in
    WholeStageCodegen. Conventions: slope in degrees; aspect as
    compass azimuth degrees clockwise from north in [0, 360) via
    az = 450 - degrees(atan2(dzdy, -dzdx)) folded into range; flat
    cells (both numerators zero) map to -1. e4 rounding absorbs
    cross-engine libm ulps, as in hillshade."""
    return _slope_aspect_select(R.horn_gradients_halo(_dtm_crop(spark), tile=64))


def _slope_aspect_select(g: DataFrame) -> DataFrame:
    """slope/aspect Column math over Horn gradient numerators —
    factored out so tests can hand-check it on tiny synthetic ramps
    independently of the DTM fixture."""
    dzdx = F.col("gx_num") / 80.0  # 8 * cellsize(10 m)
    dzdy = F.col("gy_num") / 80.0
    slope = F.degrees(F.atan(F.sqrt(dzdx * dzdx + dzdy * dzdy)))
    comp = 450.0 - F.degrees(F.atan2(dzdy, -dzdx))
    az = F.when(comp >= 360.0, comp - 360.0).otherwise(comp)
    flat = (F.col("gx_num") == 0) & (F.col("gy_num") == 0)
    aspect = F.when(flat, F.lit(-1.0)).otherwise(az)
    return g.select(
        "x",
        "y",
        F.round(slope * 10000.0, 0).cast("long").alias("slope_e4"),
        F.round(aspect * 10000.0, 0).cast("long").alias("aspect_e4"),
    )


def sql_slope_aspect():
    slope = (
        "degrees(atan(sqrt((gx_num / 80.0e0) * (gx_num / 80.0e0)"
        " + (gy_num / 80.0e0) * (gy_num / 80.0e0))))"
    )
    comp = "450.0e0 - degrees(atan2(gy_num / 80.0e0, -(gx_num / 80.0e0)))"
    az = f"CASE WHEN {comp} >= 360.0e0 THEN {comp} - 360.0e0 ELSE {comp} END"
    aspect = f"CASE WHEN gx_num = 0 AND gy_num = 0 THEN -1.0e0 ELSE {az} END"
    return f"""
    WITH px AS ({dtm_pixels_sql()}),
    c AS ({_dtm_crop_sql()}),
    g AS (
      SELECT a.x, a.y,
             sum((b.x - a.x) * (CASE WHEN b.y = a.y THEN 2 ELSE 1 END) * b.value) AS gx_num,
             sum((b.y - a.y) * (CASE WHEN b.x = a.x THEN 2 ELSE 1 END) * b.value) AS gy_num,
             count(*) AS n_nb
      FROM c a JOIN c b
        ON b.x BETWEEN a.x - 1 AND a.x + 1 AND b.y BETWEEN a.y - 1 AND a.y + 1
      GROUP BY 1, 2
    )
    SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
           CAST(round({slope} * 10000.0, 0) AS BIGINT) AS slope_e4,
           CAST(round(({aspect}) * 10000.0, 0) AS BIGINT) AS aspect_e4
    FROM g WHERE n_nb = 9
    """


RS_DST = 128  # resample target grid (source window is FOCAL 200x200)


def q_resample_bilinear(spark, sf_dir):
    """Bilinear resampling of the DTM crop onto a 128×128 grid
    (operators/raster.py resample_bilinear) — arbitrary-ratio
    downsampling, the inverse direction of the 2×2 overview cascade:
    the target grid generates executor-side, each target pixel
    explodes into its 4 weighted corner references, ONE equi-join
    gathers the source values, one partial-aggregated groupBy sums —
    no range join, no Python. The scale ratio 200/128 = 25/16 is
    exact binary, so the fractional weights are bit-identical in both
    engines and the e6-rounded values hash exactly."""
    out = R.resample_bilinear(
        _dtm_crop(spark),
        src_x0=FOCAL_X0,
        src_y0=FOCAL_Y0,
        src_w=FOCAL_W,
        src_h=FOCAL_W,
        dst_w=RS_DST,
        dst_h=RS_DST,
    )
    return out.select(
        F.col("i").cast("long").alias("i"),
        F.col("j").cast("long").alias("j"),
        F.col("n_src").cast("long").alias("n_src"),
        F.round(F.col("v") * 1000000.0, 0).cast("long").alias("bilinear_e6"),
    )


def sql_resample_bilinear():
    scale = FOCAL_W / RS_DST
    n = RS_DST * RS_DST
    return f"""
    WITH px AS ({dtm_pixels_sql()}),
    c AS ({_dtm_crop_sql()}),
    g AS (
      SELECT CAST(range % {RS_DST} AS BIGINT) AS i,
             CAST(range // {RS_DST} AS BIGINT) AS j,
             {FOCAL_X0} + (range % {RS_DST} + 0.5e0) * {scale!r} - 0.5e0 AS sx,
             {FOCAL_Y0} + (range // {RS_DST} + 0.5e0) * {scale!r} - 0.5e0 AS sy
      FROM range({n})
    ),
    gg AS (
      SELECT i, j, CAST(floor(sx) AS BIGINT) AS x0, CAST(floor(sy) AS BIGINT) AS y0,
             sx - floor(sx) AS fx, sy - floor(sy) AS fy
      FROM g
    ),
    corners AS (
      SELECT i, j, x0 + d.dx AS x, y0 + d.dy AS y,
             (CASE WHEN d.dx = 0 THEN 1.0e0 - fx ELSE fx END)
             * (CASE WHEN d.dy = 0 THEN 1.0e0 - fy ELSE fy END) AS w
      FROM gg, (VALUES (0, 0), (1, 0), (0, 1), (1, 1)) d(dx, dy)
    )
    SELECT i, j, CAST(count(*) AS BIGINT) AS n_src,
           CAST(round(sum(w * value) / sum(w) * 1000000.0, 0) AS BIGINT) AS bilinear_e6
    FROM corners JOIN c USING (x, y)
    WHERE w > 0.0e0
    GROUP BY 1, 2
    """


def q_terrarium_decode(spark, sf_dir):
    df = spark.range(0, 4096).select(
        F.col("id").alias("i"),
        (F.col("id") % 256).cast("int").alias("r"),
        (F.col("id") * 7 % 256).cast("int").alias("g"),
        (F.col("id") * 13 % 256).cast("int").alias("b"),
    )
    return df.select(
        "i",
        F.round(terrarium_height(F.col("r"), F.col("g"), F.col("b")) * 1000000.0, 0)
        .cast("long")
        .alias("terrarium_um"),
        F.round(mapbox_height(F.col("r"), F.col("g"), F.col("b")) * 1000000.0, 0)
        .cast("long")
        .alias("mapbox_um"),
    )


def sql_terrarium_decode():
    return """
    SELECT range AS i,
           CAST(round(((range % 256) * 256.0 + (range * 7 % 256) + (range * 13 % 256) / 255.0 - 32768.0) * 1000000.0, 0) AS BIGINT) AS terrarium_um,
           CAST(round((((range % 256) * 65536.0 + (range * 7 % 256) * 256.0 + (range * 13 % 256)) / 10.0 - 10000.0) * 1000000.0, 0) AS BIGINT) AS mapbox_um
    FROM range(4096)
    """


def q_crop(spark, sf_dir):
    """Crop workload (examples/crop.rs): clip the golden DTM window,
    rebase to the crop origin, and re-tile for the output raster
    (100×100, tile 64 — exercises the writer's chunk-index math on a
    fresh geometry)."""
    from georaster_spark.grid import RasterGeometry

    out_geom = RasterGeometry(width=100, height=100, tile_w=64, tile_h=64)
    px = dtm_pixels_df(spark, partitions=32)
    cropped = R.crop(px, 2500, 3000, 100, 100)
    return cropped.select(
        "x",
        "y",
        F.col("value").cast("long").alias("value"),
        out_geom.tile_index_cols(F.col("x"), F.col("y")).cast("long").alias("out_tile"),
    )


def sql_crop():
    return f"""
    WITH px AS ({dtm_pixels_sql()})
    SELECT CAST(x - 2500 AS INT) AS x, CAST(y - 3000 AS INT) AS y,
           CAST(value AS BIGINT) AS value,
           CAST((y - 3000) // 64 * 2 + (x - 2500) // 64 AS BIGINT) AS out_tile
    FROM px
    WHERE x BETWEEN 2500 AND 2599 AND y BETWEEN 3000 AND 3099
    """


def q_img2ascii(spark, sf_dir):
    """img2ascii workload (examples/img2ascii.rs): full scan of the
    world400 RGB fixture through the real decode path (tiles →
    pixels → RGB assembly), inverted-luma ramp, one text line per
    raster row."""
    from georaster_spark.datagen import array_to_tiles_df, fixture_world400

    geom, arr = fixture_world400()
    tiles = array_to_tiles_df(spark, "world400", geom, arr)
    px = R.tiles_to_pixels(tiles, geom)
    rgb = R.assemble_rgb(px)
    chars = rgb.select(
        "x",
        "y",
        R.rgb_to_ascii_cols(
            F.col("rgba")[0], F.col("rgba")[1], F.col("rgba")[2]
        ).alias("ch"),
    )
    return R.ascii_lines(chars).select(F.col("y").cast("long").alias("y"), "line")


def sql_img2ascii():
    from georaster_spark.datagen import world400_pixels_sql

    ramp = R.ASCII_RAMP
    lum = "(255.0 - (r + g + b) / 3.0) / 255.0"
    ch = f"substring('{ramp}', CAST(round({lum} * 9.0, 0) AS INT) + 1, 1)"
    return f"""
    WITH px AS ({world400_pixels_sql()})
    SELECT CAST(y AS BIGINT) AS y, string_agg({ch}, '' ORDER BY x) AS line
    FROM px GROUP BY y
    """


def q_xyz_lookup(spark, sf_dir):
    """World→value via the XYZ tile pyramid (src/pmtiles.rs:37-51):
    geocoded docs probed against a synthetic tile archive of one row
    per tile — cell encode, per-tile y-flip geotransform, tile join on
    ``cell``, pixel picked from the tile's band arrays, terrarium
    height decode. Only ``doc_id, lon, lat`` enter the lookup's Arrow
    kernel, so the documents scan still prunes text/html."""
    from georaster_spark.datagen import XYZ_TILE_SIZE, XYZ_Z, xyz_tile_pixels_df

    d = docs_geocoded(spark, sf_dir).select("doc_id", "lon", "lat")
    out = R.xyz_lookup(d, xyz_tile_pixels_df(spark), XYZ_Z, XYZ_TILE_SIZE)
    h = terrarium_height(F.col("r"), F.col("g"), F.col("b"))
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "cell",
        F.col("px").cast("long").alias("px"),
        F.col("py").cast("long").alias("py"),
        F.col("r").cast("long").alias("r"),
        F.round(h * 1000000.0, 0).cast("long").alias("height_um"),
    )


def _xyz_locate_sql() -> tuple[str, str, str]:
    """(cell, px, py) of the XYZ lookup as DuckDB SQL over ``lon`` and
    ``lat`` columns: the oracle's spelling of ``raster.xyz_lookup``'s
    keys (``px``/``py`` read a ``cell`` column)."""
    from georaster_spark.cells import cell_zxy_sql, tile_bounds_sql
    from georaster_spark.datagen import XYZ_TILE_SIZE, XYZ_Z

    _, xe, ye = cell_zxy_sql("cell")
    lon0, _lat0, lon1, lat1 = tile_bounds_sql(xe, ye, XYZ_Z)
    ts = float(XYZ_TILE_SIZE)
    return (
        cells.cell_encode_sql("lon", "lat", XYZ_Z),
        f"CAST(round((lon - {lon0}) / (({lon1} - {lon0}) / {ts!r}), 0) AS INT)",
        f"CAST(round(({lat1} - lat) / (({lat1} - {_lat0}) / {ts!r}), 0) AS INT)",
    )


def sql_xyz_lookup():
    from georaster_spark.datagen import xyz_tile_pixels_sql

    cell, px, py = _xyz_locate_sql()
    return f"""
    WITH g AS ({_geo_cte()}),
    pts AS (SELECT doc_id, lon, lat, {cell} AS cell FROM g),
    loc AS (SELECT doc_id, cell, {px} AS px, {py} AS py FROM pts),
    tp AS ({xyz_tile_pixels_sql()})
    SELECT CAST(doc_id AS BIGINT) AS doc_id, cell,
           CAST(px AS BIGINT) AS px, CAST(py AS BIGINT) AS py,
           CAST(r AS BIGINT) AS r,
           CAST(round(((r * 256.0 + g + b / 255.0) - 32768.0) * 1000000.0, 0) AS BIGINT) AS height_um
    FROM loc JOIN tp USING (cell, px, py)
    """


# dtype panels mirror the reference's per-target TryFrom arms
# (src/lib.rs:75-124): signed sources never convert to u64 (regardless
# of sign); u64 never converts to i64; floats convert only to f64.
CAST_SIGNED_DTYPES = ["i16", "i32"]
CAST_UNSIGNED_DTYPES = ["u8", "u32", "u64"]
CAST_FLOAT_DTYPES = ["f32", "f64"]
CAST_INT_DTYPES = CAST_SIGNED_DTYPES + CAST_UNSIGNED_DTYPES


def q_value_casts(spark, sf_dir):
    """Checked-cast + Display coverage (R17/R20, src/lib.rs:53-124):
    per-dtype sample values through try_cast_i64/u64/f64 and
    format_value. k=9 is NoData (NULL): never converts, renders
    '<NoData>'. Float families refuse integer casts (no F32→i64 arm);
    signed families refuse u64 (only U8/U16/U32/U64 arms exist);
    u64 refuses i64 (no U64 arm, it may exceed i64::MAX)."""
    from georaster_spark.functions.decode import (
        format_value,
        try_cast_f64,
        try_cast_i64,
        try_cast_u64,
    )

    frames = []
    for dtype in CAST_INT_DTYPES + CAST_FLOAT_DTYPES:
        base = spark.range(10)
        if dtype in CAST_UNSIGNED_DTYPES:
            v = F.col("id") * 37  # unsigned storage is never negative
        else:
            v = F.col("id") * 37 - 128
        if dtype in CAST_FLOAT_DTYPES:
            v = v.cast("double") + F.lit(0.25)
        value = F.when(F.col("id") != 9, v)
        frames.append(
            base.select(
                F.lit(dtype).alias("dtype"),
                F.col("id").alias("k"),
                try_cast_i64(value, dtype).alias("as_i64"),
                try_cast_u64(value, dtype).alias("as_u64"),
                F.round(try_cast_f64(value, dtype) * 1000000.0, 0)
                .cast("long")
                .alias("as_f64_e6"),
                format_value(value).alias("disp"),
            )
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


def sql_value_casts():
    parts = []
    for dtype in CAST_SIGNED_DTYPES:
        parts.append(f"""
        SELECT '{dtype}' AS dtype, range AS k,
               CASE WHEN range != 9 THEN range * 37 - 128 END AS as_i64,
               CAST(NULL AS BIGINT) AS as_u64,
               CAST(CASE WHEN range != 9 THEN round((range * 37 - 128) * 1000000.0, 0) END AS BIGINT) AS as_f64_e6,
               CASE WHEN range = 9 THEN '<NoData>' ELSE CAST(range * 37 - 128 AS VARCHAR) END AS disp
        FROM range(10)""")
    for dtype in CAST_UNSIGNED_DTYPES:
        as_i64 = (
            "CAST(NULL AS BIGINT)"
            if dtype == "u64"
            else "CASE WHEN range != 9 THEN range * 37 END"
        )
        parts.append(f"""
        SELECT '{dtype}' AS dtype, range AS k,
               {as_i64} AS as_i64,
               CASE WHEN range != 9 THEN range * 37 END AS as_u64,
               CAST(CASE WHEN range != 9 THEN round((range * 37) * 1000000.0, 0) END AS BIGINT) AS as_f64_e6,
               CASE WHEN range = 9 THEN '<NoData>' ELSE CAST(range * 37 AS VARCHAR) END AS disp
        FROM range(10)""")
    for dtype in CAST_FLOAT_DTYPES:
        v = "(CAST(range * 37 - 128 AS DOUBLE) + 0.25)"
        parts.append(f"""
        SELECT '{dtype}' AS dtype, range AS k,
               CAST(NULL AS BIGINT) AS as_i64, CAST(NULL AS BIGINT) AS as_u64,
               CAST(CASE WHEN range != 9 THEN round({v} * 1000000.0, 0) END AS BIGINT) AS as_f64_e6,
               CASE WHEN range = 9 THEN '<NoData>' ELSE CAST({v} AS VARCHAR) END AS disp
        FROM range(10)""")
    return " UNION ALL ".join(parts)


def q_raster_info(spark, sf_dir):
    """The reference's `info` workload (examples/info.rs): inspect the
    raster catalog — one row per registered image level (COG
    overviews included), schema fixed at registration (R1/R2)."""
    from georaster_spark.sources.raster_catalog import fixture_entries, raster_meta_df

    return raster_meta_df(spark, fixture_entries())


def sql_raster_info():
    from georaster_spark.sources.raster_catalog import fixture_entries, meta_row

    def lit(v):
        if isinstance(v, str):
            return f"'{v}'"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, float):
            # e-notation forces DuckDB's direct-to-DOUBLE parse path;
            # plain decimals route through DECIMAL and double-round
            s = repr(v)
            return s if "e" in s else s + "e0"
        return repr(v)

    rows = []
    for e in fixture_entries():
        rows.append("(" + ", ".join(lit(v) for v in meta_row(e)) + ")")
    return f"""
    SELECT raster_id, CAST(image_idx AS INT) AS image_idx, CAST(width AS INT) AS width,
           CAST(height AS INT) AS height, CAST(tile_w AS INT) AS tile_w,
           CAST(tile_h AS INT) AS tile_h, CAST(origin_x AS DOUBLE) AS origin_x,
           CAST(origin_y AS DOUBLE) AS origin_y, CAST(px_sz_x AS DOUBLE) AS px_sz_x,
           CAST(px_sz_y AS DOUBLE) AS px_sz_y, dtype, CAST(bands AS INT) AS bands,
           planar, CAST(spp AS INT) AS spp, CAST(tiles_across AS INT) AS tiles_across,
           CAST(tiles_down AS INT) AS tiles_down, CAST(pad_right AS INT) AS pad_right,
           CAST(pad_down AS INT) AS pad_down
    FROM (VALUES {', '.join(rows)})
      AS t(raster_id, image_idx, width, height, tile_w, tile_h, origin_x, origin_y,
           px_sz_x, px_sz_y, dtype, bands, planar, spp, tiles_across, tiles_down,
           pad_right, pad_down)
    """


# real-file ingestion (R1's actual semantics): parse the reference's
# own TIFF fixture bytes — header/IFD walk, GeoTIFF tags, Deflate
# chunks — through the one-stage Spark decode in sources/geotiff.py.
# small_world_pct excluded: palette rasters are unsupported in the
# reference too (tests/geotiff.rs:307-308).
TIFF_DIR = "/root/reference/data/tiff"
TIFF_INGEST_FILES = [
    "byte.tif",
    "f32nan_data.tif",
    "float32.tif",
    "float64.tif",
    "incomplete_strips.tiff",
    "int16.tif",
    "int32.tif",
    "rgbsmall.tif",
    "sat.tif",
    "sat_multiband.tif",
    "small_world.tif",
    "utm.tif",
]

# (file, width, height, bands, origin_x_e6, origin_y_e6, px_x_e9,
#  py_e9, geo_params, n_px, n_nodata, sum_v_e3). Metadata columns are
# the reference's OWN test assertions (tests/geotiff.rs byte:58-75,
# rgbsmall:129-143, small_world:225-233, sat:424-436, utm:315-326,
# f32nan:6-16); the three aggregate columns of the REFERENCE files
# are pinned from the first verified decode (HALF_UP per-pixel
# rounding, the engine-wide rule). The two synth_* rows' aggregates
# are closed-form; sql_raster_ingest derives them in SQL instead of
# reading them from here (see its docstring).
TIFF_INGEST_GOLDEN = [
    ("byte", 20, 20, 1, 440720000000, 3751320000000, 60000000000, -60000000000, "NAD27 / UTM zone 11N|", 400, 0, 50706000),
    ("f32nan_data", 128, 128, 1, 0, 0, 1000000000, 1000000000, None, 16384, 8957, 102819350),
    ("float32", 20, 20, 1, 440720000000, 3751320000000, 60000000000, -60000000000, "NAD27 / UTM zone 11N|", 400, 0, 50706000),
    ("float64", 20, 20, 1, 440720000000, 3751320000000, 60000000000, -60000000000, "NAD27 / UTM zone 11N|", 400, 0, 50706000),
    ("incomplete_strips", 1, 9, 1, None, None, None, None, None, 9, 0, 720000),
    ("int16", 20, 20, 1, 440720000000, 3751320000000, 60000000000, -60000000000, "NAD27 / UTM zone 11N|", 400, 0, 50706000),
    ("int32", 20, 20, 1, 440720000000, 3751320000000, 60000000000, -60000000000, "NAD27 / UTM zone 11N|", 400, 0, 50706000),
    ("rgbsmall", 50, 50, 3, -44840320, -22932584, 3432000, -3432000, "WGS 84|", 7500, 0, 460094000),
    ("sat", 200, 200, 3, 2747994296800, 1205137243500, 1889889558, -1889889531, "CH1903+ / LV95|CH1903+|", 120000, 0, 8096673000),
    ("sat_multiband", 200, 200, 3, 2747994296800, 1205137243500, 1889889558, -1889889531, "CH1903+ / LV95|CH1903+|", 120000, 0, 8096673000),
    ("small_world", 400, 200, 3, -180000000, 90000000, 900000000, -900000000, "WGS 84|", 240000, 0, 13229691000),
    ("utm", 512, 512, 1, 440720000000, 3751320000000, 60000000000, -60000000000, "UTM    11 S E000|", 262144, 0, 27298436000),
    # deterministic engine-written fixtures covering decode paths the
    # reference files don't ship: LZW + predictor-2, and BigTIFF with
    # GDAL-style sparse strips (offset/bytecount 0 -> NoData)
    ("synth_lzw_pred", 50, 40, 1, 1000000000, 2000000000, 5000000000, -5000000000, None, 2000, 0, 254288000),
    ("synth_big_sparse", 20, 30, 1, None, None, None, None, None, 600, 400, -9800000),
]


def _synth_ingest_paths() -> list[str]:
    """Write (idempotently) the two synthetic ingest fixtures into a
    temp dir and return their paths. Content is closed-form, so the
    pinned TIFF_INGEST_GOLDEN rows hold for every (re)write."""
    import os
    import tempfile

    import numpy as np

    from georaster_spark.sources.geotiff import COMPRESSION_LZW, write_tiff

    d = os.path.join(tempfile.gettempdir(), "georaster_synth_ingest")
    os.makedirs(d, exist_ok=True)

    def place(name, write):
        # write-once + atomic rename: concurrent harnesses (bench +
        # check_oracle) share this dir, and a truncating rewrite
        # would race an executor mid-read
        p = os.path.join(d, name)
        if not os.path.exists(p):
            tmp = f"{p}.tmp.{os.getpid()}"
            write(tmp)
            os.replace(tmp, p)
        return p

    y, x = np.mgrid[0:40, 0:50]
    p1 = place(
        "synth_lzw_pred.tif",
        lambda p: write_tiff(
            p, ((x * 7 + y * 13) % 256).astype(np.uint8), "u8",
            pixel_scale=(5.0, -5.0), origin=(1000.0, 2000.0),
            rows_per_strip=16, compression=COMPRESSION_LZW, predictor=2,
        ),
    )
    y2, x2 = np.mgrid[0:30, 0:20]
    arr2 = (x2 * 3 + y2 * 5 - 100).astype(np.int16)
    arr2[10:] = 0
    p2 = place(
        "synth_big_sparse.tif",
        lambda p: write_tiff(p, arr2, "i16", rows_per_strip=10, bigtiff=True, sparse_value=0),
    )
    return [p1, p2]


def q_raster_ingest(spark, sf_dir):
    """Real TIFF byte ingestion (R1, src/geotiff.rs:44-81,255-289):
    per-file metadata from the header walk joined to per-file pixel
    aggregates from the distributed chunk-decode plan. BOTH sides run
    executor-side kernels — the driver never opens a file (metadata
    comes from ``file_meta_df``, the distributed registration path);
    the metadata side is a dozen rows (broadcast); the aggregate side
    is one partial-aggregated groupBy on raster_id."""
    from georaster_spark.sources.geotiff import file_meta_df, pixels_df

    paths = [f"{TIFF_DIR}/{n}" for n in TIFF_INGEST_FILES] + _synth_ingest_paths()
    agg = (
        pixels_df(spark, paths)
        .groupBy("raster_id")
        .agg(
            F.count(F.lit(1)).alias("n_px"),
            F.count(F.when(F.col("value").isNull(), 1)).alias("n_nodata"),
            F.sum(F.round(F.col("value") * 1000.0, 0).cast("long")).alias("sum_v_e3"),
        )
    )
    meta = (
        file_meta_df(spark, paths)
        .where(F.col("image_idx") == 0)
        .select(
            F.col("raster_id").alias("file"),
            F.col("width").cast("long"),
            F.col("height").cast("long"),
            F.col("bands").cast("long"),
            "origin_x_e6", "origin_y_e6", "px_x_e9", "px_y_e9", "geo_params",
        )
    )
    return (
        F.broadcast(meta)
        .join(agg, meta.file == agg.raster_id)
        .select(
            "file", "width", "height", "bands", "origin_x_e6", "origin_y_e6",
            "px_x_e9", "px_y_e9", "geo_params",
            F.col("n_px").cast("long").alias("n_px"),
            F.col("n_nodata").cast("long").alias("n_nodata"),
            "sum_v_e3",
        )
    )


def sql_raster_ingest():
    """Reference-file rows come from TIFF_INGEST_GOLDEN: metadata
    columns are the reference's own test assertions; their three
    aggregate columns are REGRESSION PINS (first verified decode —
    no second TIFF reader exists here to derive them). The two
    synthetic fixtures' aggregates, by contrast, are derived by
    DuckDB itself from the closed-form generator expressions in
    ``_synth_ingest_paths`` — a decode bug cannot satisfy them."""

    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        return repr(v)

    rows = ", ".join(
        "(" + ", ".join(lit(v) for v in row) + ")"
        for row in TIFF_INGEST_GOLDEN
        if not row[0].startswith("synth_")
    )
    return f"""
    SELECT file, CAST(width AS BIGINT) AS width, CAST(height AS BIGINT) AS height,
           CAST(bands AS BIGINT) AS bands, CAST(origin_x_e6 AS BIGINT) AS origin_x_e6,
           CAST(origin_y_e6 AS BIGINT) AS origin_y_e6, CAST(px_x_e9 AS BIGINT) AS px_x_e9,
           CAST(px_y_e9 AS BIGINT) AS px_y_e9, geo_params, CAST(n_px AS BIGINT) AS n_px,
           CAST(n_nodata AS BIGINT) AS n_nodata, CAST(sum_v_e3 AS BIGINT) AS sum_v_e3
    FROM (VALUES {rows})
      AS t(file, width, height, bands, origin_x_e6, origin_y_e6, px_x_e9, px_y_e9,
           geo_params, n_px, n_nodata, sum_v_e3)
    UNION ALL
    -- synth_lzw_pred: value(x, y) = (7x + 13y) mod 256 over 50x40,
    -- u8, no NoData; geotransform literals are the write() inputs
    SELECT 'synth_lzw_pred', 50, 40, 1, 1000000000, 2000000000,
           5000000000, -5000000000, NULL,
           CAST(count(*) AS BIGINT),
           CAST(0 AS BIGINT),
           CAST(1000 * sum((x.range * 7 + y.range * 13) % 256) AS BIGINT)
    FROM range(50) x, range(40) y
    UNION ALL
    -- synth_big_sparse: value(x, y) = 3x + 5y - 100 for y < 10 over
    -- 20x30, i16; rows y >= 10 are zero -> written sparse -> NoData
    SELECT 'synth_big_sparse', 20, 30, 1, NULL, NULL, NULL, NULL, NULL,
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN y.range >= 10 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(1000 * sum(CASE WHEN y.range < 10
                           THEN x.range * 3 + y.range * 5 - 100 END) AS BIGINT)
    FROM range(20) x, range(30) y
    """


def q_pmtiles_ingest(spark, sf_dir):
    """Real PMTiles v3 archive ingestion (R21, src/pmtiles.rs:14-51):
    directory walk + ranged tile reads + stdlib PNG decode, all
    executor-side (one mapInArrow stage, ``pmtiles.tiles_df``; no
    driver file opens), projected to per-tile stats.
    The anchor pixel (163, 230) of tile z12 (2128, 1438) carries the
    reference's Chasseral golden — anchor_um is its terrarium height
    in µm: round(1598.5294117647063e6) (src/pmtiles.rs:121-133).
    Every aggregate is derived independently by the oracle from the
    closed-form tile fill (no pinned decode output)."""
    from georaster_spark.datagen import PMTILES_ANCHOR, fixture_pmtiles_path
    from georaster_spark.sources.pmtiles import tile_stats_df

    df = tile_stats_df(spark, [fixture_pmtiles_path()], *PMTILES_ANCHOR[2:4])
    h_um = F.round(
        (
            F.col("anchor_r") * 256.0
            + F.col("anchor_g")
            + F.col("anchor_b") / 255.0
            - 32768.0
        )
        * 1000000.0,
        0,
    ).cast("long")
    return df.select(
        "z", "x", "y", "width", "height", "n_px", "sum_r", "sum_g", "sum_b",
        h_um.alias("anchor_um"),
    )


def sql_pmtiles_ingest():
    from georaster_spark.datagen import pmtiles_tile_stats_sql

    h_um = (
        "CAST(round((anchor_r * 256.0 + anchor_g + anchor_b / 255.0 - 32768.0)"
        " * 1000000.0, 0) AS BIGINT)"
    )
    return f"""
    WITH stats AS ({pmtiles_tile_stats_sql()})
    SELECT CAST(z AS BIGINT) AS z, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
           CAST(width AS BIGINT) AS width, CAST(height AS BIGINT) AS height,
           CAST(n_px AS BIGINT) AS n_px, CAST(sum_r AS BIGINT) AS sum_r,
           CAST(sum_g AS BIGINT) AS sum_g, CAST(sum_b AS BIGINT) AS sum_b,
           {h_um} AS anchor_um
    FROM stats
    """


def q_pmtiles_webp_ingest(spark, sf_dir):
    """Mixed-format PMTiles ingestion: the archive interleaves PNG and
    lossless-WebP (VP8L) tiles over the same closed-form fill, and the
    decode kernel sniffs each tile's bytes exactly like the
    reference's ``with_guessed_format().decode()``
    (src/pmtiles.rs:30-32). The WebP tiles rotate through the VP8L
    transforms (subtract-green / predictor / literal / palette), so a
    hash match here proves the pure-stdlib VP8L decoder
    (sources/webp.py) pixel-exact against an oracle that never runs
    it — DuckDB recomputes every sum from the fill formula."""
    from georaster_spark.datagen import (
        WEBP_ANCHOR_PX,
        WEBP_ANCHOR_PY,
        fixture_webp_pmtiles_path,
    )
    from georaster_spark.sources.pmtiles import tile_stats_df

    df = tile_stats_df(
        spark,
        [fixture_webp_pmtiles_path()],
        anchor_px=WEBP_ANCHOR_PX,
        anchor_py=WEBP_ANCHOR_PY,
    )
    return df.select(
        "z", "x", "y", "width", "height", "n_px",
        "sum_r", "sum_g", "sum_b", "anchor_r", "anchor_g", "anchor_b",
    )


def q_warc_ingest(spark, sf_dir):
    """Common-Crawl-style WARC ingestion (sources/warc.py): three
    .warc.gz shards with per-record gzip members + CDX sidecars parse
    through the two-stage split planner (split_bytes=16 KiB → every
    shard fans out to many byte-range tasks, exercising the intra-file
    parallelism a 1 GB crawl shard needs). request/warcinfo records
    are filtered; the page text is EXTRACTED from the decoded HTTP
    payload bytes, so a hash match proves byte-identical extracted
    text per url (the north-rule invariant) against an oracle that
    re-derives every field from the closed-form generator without
    ever touching the archives."""
    from georaster_spark.datagen import fixture_warc_paths
    from georaster_spark.sources.warc import body_text, warc_records_df

    recs = warc_records_df(spark, fixture_warc_paths(), split_bytes=16384)
    text = body_text(F.col("payload"))
    return recs.where(F.col("rec_type") == "response").select(
        "url",
        F.col("ts_s").cast("long").alias("ts_s"),
        "lang",
        F.col("http_status").cast("long").alias("http_status"),
        F.col("payload_len").cast("long").alias("n_bytes"),
        text.alias("text"),
        F.conv(F.substring(F.md5(text), 1, 15), 16, 10)
        .cast("long")
        .alias("text_h"),
    )


def sql_warc_ingest():
    """DuckDB re-derives url/ts/lang/bytes/text from range() with the
    same format strings the fixture writer uses — fully independent
    of the WARC/gzip/HTTP parsing under test."""
    from georaster_spark.datagen import LANGS, WARC_EPOCH0, WARC_N_DOCS

    langs = ", ".join(f"'{l}'" for l in LANGS)
    return f"""
    WITH docs AS (
      SELECT CAST(range AS BIGINT) AS i,
             printf('doc %d cell %d', range, range % 1024) AS text
      FROM range({WARC_N_DOCS})
    )
    SELECT printf('https://site%d.example/p/%d', i % 997, i) AS url,
           CAST({WARC_EPOCH0} + i AS BIGINT) AS ts_s,
           list_extract([{langs}], CAST(i % 5 AS INT) + 1) AS lang,
           CAST(200 AS BIGINT) AS http_status,
           CAST(length('<html><body>' || text || '</body></html>') AS BIGINT) AS n_bytes,
           text,
           CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS text_h
    FROM docs
    """


def sql_pmtiles_webp_ingest():
    from georaster_spark.datagen import pmtiles_webp_tile_stats_sql

    return f"""
    WITH stats AS ({pmtiles_webp_tile_stats_sql()})
    SELECT CAST(z AS BIGINT) AS z, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
           CAST(width AS BIGINT) AS width, CAST(height AS BIGINT) AS height,
           CAST(n_px AS BIGINT) AS n_px, CAST(sum_r AS BIGINT) AS sum_r,
           CAST(sum_g AS BIGINT) AS sum_g, CAST(sum_b AS BIGINT) AS sum_b,
           CAST(anchor_r AS BIGINT) AS anchor_r,
           CAST(anchor_g AS BIGINT) AS anchor_g,
           CAST(anchor_b AS BIGINT) AS anchor_b
    FROM stats
    """


def pip_join_hot_counts(spark, sf_dir):
    """Point-in-polygon join under DEGENERATE key skew, then per-
    polygon counts (E5 measured, not just tested): half of all
    documents sit at ONE exact point (7.505, 46.005) — a single cell
    at RES, inside two polygons — so the per-polygon aggregation has
    two keys holding ~50% of the joined rows each. The count is
    ``salted_cell_counts`` keyed on ``poly_id``: a groupBy that
    aggregates map-side, so each hot key crosses its one shuffle as
    at most one partial row per task. The broadcast-cover pip_join
    itself is skew-immune (no shuffle on the cell)."""
    d = _t(spark, sf_dir, "documents")
    lon, lat = geocode_cols(F.col("doc_id"))
    one_pt = F.pmod(F.col("doc_id"), F.lit(2)) == 0
    d = d.withColumn("lon", F.when(one_pt, F.lit(7.505)).otherwise(lon)).withColumn(
        "lat", F.when(one_pt, F.lit(46.005)).otherwise(lat)
    )
    joined = pip_join(d, polygons(), RES)
    counts = salted_cell_counts(joined.select(F.col("poly_id").alias("cell")))
    return counts.select(F.col("cell").alias("poly_id"), "n_docs")


def q_pip_join_hot(spark, sf_dir):
    return pip_join_hot_counts(spark, sf_dir)


def sql_pip_join_hot():
    lon, lat = geocode_sql("doc_id")
    return f"""
    WITH g AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN 7.505 ELSE {lon} END AS lon,
             CASE WHEN doc_id % 2 = 0 THEN 46.005 ELSE {lat} END AS lat
      FROM documents
    )
    SELECT polyrects.poly_id AS poly_id, CAST(count(*) AS BIGINT) AS n_docs
    FROM g JOIN {polygon_rects_sql()}
      ON g.lon > polyrects.xmin AND g.lon < polyrects.xmax
     AND g.lat > polyrects.ymin AND g.lat < polyrects.ymax
    GROUP BY 1
    """


def q_ice_prune(spark, sf_dir):
    """Iceberg-style file skipping, measured end-to-end (E10 +
    sources/icetable.py collect_file_stats/plan_files): orders are
    committed as a snapshot CLUSTERED on order date (disjoint
    per-file date ranges, Iceberg write.sort-order), then a one-year
    range read plans its scan from the manifest's footer stats. The
    function RAISES unless pruning actually dropped files AND (r4)
    unless the TWO-LEVEL manifest skipped whole stat groups — the
    snapshot is written with manifest_group_size=2, so planning reads
    rollup stats for 4 groups and opens only the surviving ones, the
    Iceberg manifest-list behavior that keeps planning itself
    sub-scan at 10^12 rows. Results stay exact because the filter is
    re-applied as a residual predicate."""
    import datetime
    import hashlib
    import os
    import shutil
    import tempfile

    from georaster_spark.sources import icetable

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    # layout key in the cache name: the r4 two-level-manifest rewrite
    # must rebuild, not reuse a flat-manifest table from an older run
    tbl = os.path.join(
        tempfile.gettempdir(),
        "georaster_ice_prune_"
        + hashlib.md5(f"{sf_dir}|groups2".encode()).hexdigest()[:10],
    )
    if not os.path.exists(tbl):
        # write-once + atomic rename, same rule as _synth_ingest_paths:
        # bench.py and check_oracle share this dir, and a truncating
        # rewrite would race a concurrent reader mid-scan (content is
        # deterministic per sf_dir, so reuse is exact)
        tmp = f"{tbl}.tmp.{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        icetable.write_table(
            orders.select(
                "o_orderkey",
                F.to_date("o_orderdate").alias("o_date"),
                "o_totalprice",
            ),
            tmp,
            cluster_by=["o_date"],
            n_files=8,
            manifest_group_size=2,
        )
        try:
            os.replace(tmp, tbl)
        except OSError:  # another process won the rename
            shutil.rmtree(tmp, ignore_errors=True)
    filters = [
        ("o_date", ">=", datetime.date(1996, 1, 1)),
        ("o_date", "<", datetime.date(1997, 1, 1)),
    ]
    plan = icetable.plan_files(tbl, filters)
    if not 0 < len(plan["kept"]) < plan["total"]:
        raise RuntimeError(
            f"file skipping did not engage: kept {len(plan['kept'])}"
            f" of {plan['total']} files"
        )
    if not 0 < plan["groups_read"] < plan["groups_total"]:
        raise RuntimeError(
            "manifest-group skipping did not engage: read "
            f"{plan['groups_read']} of {plan['groups_total']} groups"
        )
    df = icetable.read_table(spark, tbl, filters=filters)
    return df.groupBy(F.date_format("o_date", "yyyy-MM").alias("month")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100.0, 0).cast("long"))
        .cast("long")
        .alias("sum_price_c"),
    )


def sql_ice_prune():
    return """
    SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100.0, 0) AS BIGINT)) AS BIGINT) AS sum_price_c
    FROM orders
    WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
      AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
    GROUP BY 1
    """


def q_ice_merge(spark, sf_dir):
    """Copy-on-write MERGE through the snapshot table layer (E10,
    sources/icetable.py merge_table): a deterministic CDC batch is
    applied to an orders snapshot — upserts (keys %7: price +1000),
    inserts (new keys derived +10M for keys %97: price ×2), then
    deletes (base keys %13) — each as ONE atomic snapshot commit, so
    the committed chain is base→upsert→delete and time travel to any
    pre-merge state still works (RAISED on otherwise, so a green
    driver row is also evidence of the snapshot history). Plan shape:
    the big side anti-joins a broadcastable update key set and
    shuffles at most once on the key. All mutation happens once under
    a temp name + atomic rename; the query itself only reads."""
    import hashlib
    import os
    import shutil
    import tempfile

    from georaster_spark.sources import icetable

    # the cached table embeds the CDC recipe, so the cache key must
    # too — a recipe edit must rebuild, not reuse a stale table
    recipe = "v1:u%7+1000:i%97x2+10M:d%13"
    tbl = os.path.join(
        tempfile.gettempdir(),
        "georaster_ice_merge_"
        + hashlib.md5(f"{sf_dir}|{recipe}".encode()).hexdigest()[:10],
    )
    if not os.path.exists(tbl):
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        base = orders.select(
            "o_orderkey",
            F.to_date("o_orderdate").alias("o_date"),
            "o_totalprice",
        )
        tmp = f"{tbl}.tmp.{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        icetable.write_table(base, tmp, n_files=8)
        upserts = base.where(F.col("o_orderkey") % 7 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + 1000.0
        )
        inserts = base.where(F.col("o_orderkey") % 97 == 0).select(
            (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
            "o_date",
            (F.col("o_totalprice") * 2.0).alias("o_totalprice"),
        )
        icetable.merge_table(
            spark, tmp, upserts.unionByName(inserts), ["o_orderkey"]
        )
        deletes = base.where(F.col("o_orderkey") % 13 == 0).select("o_orderkey")
        icetable.merge_table(spark, tmp, deletes, ["o_orderkey"], delete=True)
        try:
            os.replace(tmp, tbl)
        except OSError:  # another process won the rename
            shutil.rmtree(tmp, ignore_errors=True)
    chain = icetable.committed_chain(tbl)
    if len(chain) != 3:
        raise RuntimeError(f"expected 3 snapshots (base, upsert, delete), got {len(chain)}")
    df = icetable.read_table(spark, tbl)
    return df.groupBy(F.year("o_date").cast("long").alias("yr")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100.0, 0).cast("long"))
        .cast("long")
        .alias("sum_price_c"),
    )


def sql_ice_merge():
    return """
    WITH base AS (
      SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_date, o_totalprice
      FROM orders
    ),
    upd AS (
      SELECT o_orderkey, o_date, o_totalprice + 1000.0e0 AS o_totalprice
      FROM base WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT o_orderkey + 10000000, o_date, o_totalprice * 2.0e0
      FROM base WHERE o_orderkey % 97 = 0
    ),
    merged AS (
      SELECT * FROM base
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
      UNION ALL SELECT * FROM upd
    ),
    final AS (
      SELECT * FROM merged
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM base WHERE o_orderkey % 13 = 0)
    )
    SELECT CAST(year(o_date) AS BIGINT) AS yr,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100.0, 0) AS BIGINT)) AS BIGINT) AS sum_price_c
    FROM final GROUP BY 1
    """


# =====================================================================
# catalog
# =====================================================================

QUERIES = {
    "geocode_cells": q_geocode_cells,
    "coord_interop": q_coord_interop,
    "cell_hist": q_cell_hist,
    "cell_parent_rollup": q_cell_parent_rollup,
    "pip_join": q_pip_join,
    "pip_join_hot": q_pip_join_hot,
    "knn": q_knn,
    "knn_table": q_knn_table,
    "dwithin_pairs": q_dwithin_pairs,
    "dtm_window_max": q_dtm_window_max,
    "dtm_overview_max": q_dtm_overview_max,
    "tile_assignment": q_tile_assignment,
    "zonal_stats": q_zonal_stats,
    "rasterize_grid": q_rasterize_grid,
    "idw_grid": q_idw_grid,
    "band_math": q_band_math,
    "flow_direction": q_flow_direction,
    "flow_accum": q_flow_accum,
    "flow_accum_fix": q_flow_accum_fix,
    "focal_stats": q_focal_stats,
    "hillshade": q_hillshade,
    "slope_aspect": q_slope_aspect,
    "resample_bilinear": q_resample_bilinear,
    "crop": q_crop,
    "img2ascii": q_img2ascii,
    "xyz_lookup": q_xyz_lookup,
    "terrarium_decode": q_terrarium_decode,
    "value_casts": q_value_casts,
    "raster_info": q_raster_info,
    "raster_ingest": q_raster_ingest,
    "pmtiles_ingest": q_pmtiles_ingest,
    "pmtiles_webp_ingest": q_pmtiles_webp_ingest,
    "warc_ingest": q_warc_ingest,
    "ice_prune": q_ice_prune,
    "ice_merge": q_ice_merge,
}

ORACLES = {
    "geocode_cells": sql_geocode_cells(),
    "coord_interop": sql_coord_interop(),
    "cell_hist": sql_cell_hist(),
    "cell_parent_rollup": sql_cell_parent_rollup(),
    "pip_join": sql_pip_join(),
    "pip_join_hot": sql_pip_join_hot(),
    "knn": sql_knn(),
    "knn_table": sql_knn_table(),
    "dwithin_pairs": sql_dwithin_pairs(),
    "dtm_window_max": sql_dtm_window_max(),
    "dtm_overview_max": sql_dtm_overview_max(),
    "tile_assignment": sql_tile_assignment(),
    "zonal_stats": sql_zonal_stats(),
    "rasterize_grid": sql_rasterize_grid(),
    "idw_grid": sql_idw_grid(),
    "band_math": sql_band_math(),
    "flow_direction": sql_flow_direction(),
    "flow_accum": sql_flow_accum(),
    "flow_accum_fix": sql_flow_accum_fix(),
    "focal_stats": sql_focal_stats(),
    "hillshade": sql_hillshade(),
    "slope_aspect": sql_slope_aspect(),
    "resample_bilinear": sql_resample_bilinear(),
    "crop": sql_crop(),
    "img2ascii": sql_img2ascii(),
    "xyz_lookup": sql_xyz_lookup(),
    "terrarium_decode": sql_terrarium_decode(),
    "value_casts": sql_value_casts(),
    "raster_info": sql_raster_info(),
    "raster_ingest": sql_raster_ingest(),
    "pmtiles_ingest": sql_pmtiles_ingest(),
    "pmtiles_webp_ingest": sql_pmtiles_webp_ingest(),
    "warc_ingest": sql_warc_ingest(),
    "ice_prune": sql_ice_prune(),
    "ice_merge": sql_ice_merge(),
}


def flagship(spark: SparkSession, sf_dir: str = "/root/testdata/sf0.001") -> DataFrame:
    """The headline pipeline: geocode → cell encode → point-in-polygon
    join → per-polygon document stats (one broadcast join, one plain
    groupBy — zero big-side shuffles before the final group)."""
    d = docs_geocoded(spark, sf_dir)
    joined = pip_join(d, polygons(), RES)
    return (
        joined.groupBy("poly_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .orderBy("poly_id")
    )
