"""Cell index tests — WebMercatorQuad semantics with the PMTiles
golden anchors (src/pmtiles.rs:96-133)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from georaster_spark import cells


GOLDEN_LON, GOLDEN_LAT = 7.059309, 47.133037  # Chasseral (src/pmtiles.rs:98)


def test_golden_tile():
    """z12 tile (2128, 1438) contains the golden point
    (src/pmtiles.rs:96-103)."""
    assert cells.tile_xy(GOLDEN_LON, GOLDEN_LAT, 12) == (2128, 1438)


def test_pack_roundtrip():
    c = cells.cell_encode_py(GOLDEN_LON, GOLDEN_LAT, 12)
    assert cells.cell_to_zxy(c) == (12, 2128, 1438)


def test_parent_children():
    c = cells.zxy_to_cell(12, 2128, 1438)
    p = cells.cell_parent_py(c)
    assert cells.cell_to_zxy(p) == (11, 1064, 719)
    assert c in cells.cell_children_py(p)
    assert len(cells.cell_children_py(p)) == 4


def test_ring():
    c = cells.zxy_to_cell(5, 10, 10)
    r0 = cells.cell_ring_py(c, 0)
    assert r0 == [c]
    r1 = cells.cell_ring_py(c, 1)
    assert len(r1) == 8
    r2 = cells.cell_ring_py(c, 2)
    assert len(r2) == 16
    assert len(cells.cell_disk_py(c, 2)) == 25


def test_ring_wraps_antimeridian_and_clamps_poles():
    c = cells.zxy_to_cell(3, 0, 0)
    ring = cells.cell_ring_py(c, 1)
    zxy = [cells.cell_to_zxy(r) for r in ring]
    assert (3, 7, 0) in zxy  # x wrapped
    assert all(0 <= y < 8 for _, _, y in zxy)  # y clamped


def test_bounds_contains_point():
    c = cells.cell_encode_py(GOLDEN_LON, GOLDEN_LAT, 12)
    lon0, lat0, lon1, lat1 = cells.cell_bounds(c)
    assert lon0 <= GOLDEN_LON < lon1
    assert lat0 <= GOLDEN_LAT < lat1


def test_column_matches_scalar(spark):
    rng = np.random.default_rng(7)
    lon = rng.uniform(-179.9, 179.9, 500)
    lat = rng.uniform(-84.9, 84.9, 500)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lon, lat)], "lon double, lat double"
    )
    z = 12
    out = df.select(
        cells.cell_encode_cols(F.col("lon"), F.col("lat"), z).alias("c_expr"), "lon", "lat"
    ).collect()
    for r in out:
        assert r.c_expr == cells.cell_encode_py(r.lon, r.lat, z)


def test_parent_cols(spark):
    df = spark.createDataFrame([(GOLDEN_LON, GOLDEN_LAT)], "lon double, lat double")
    c = cells.cell_encode_cols(F.col("lon"), F.col("lat"), 12)
    row = df.select(cells.cell_parent_cols(c).alias("p")).collect()[0]
    assert cells.cell_to_zxy(row.p) == (11, 1064, 719)


def test_morton_key_locality(spark):
    """Morton key of 4 children of one parent are contiguous."""
    kids = cells.cell_children_py(cells.zxy_to_cell(4, 3, 5))
    df = spark.createDataFrame([(c,) for c in kids], "cell long")
    keys = sorted(
        r.k for r in df.select(cells.morton_key_cols(F.col("cell")).alias("k")).collect()
    )
    assert keys == list(range(keys[0], keys[0] + 4))
