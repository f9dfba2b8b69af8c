"""Point-in-polygon join tests — engine vs brute-force Python oracle
(SURVEY.md M4: salted vs unsalted row counts must match)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from georaster_spark.cells import cell_bounds, cell_encode_cols, tile_xy, zxy_to_cell
from georaster_spark.datagen import documents_df, geocode_cols, geocode_np, polygons
from georaster_spark.functions.geo import points_in_ring
from georaster_spark.operators.spatial_join import (
    _segment_intersects_box,
    build_cover,
    pip_join,
    salted_cell_counts,
)

N_DOCS = 1000
RES = 11  # cell ≈ 0.176° lon — several cells per 0.38° polygon


@pytest.fixture(scope="module")
def docs(spark):
    d = documents_df(spark, N_DOCS)
    lon, lat = geocode_cols(F.col("doc_seq"))
    return d.withColumn("lon", lon).withColumn("lat", lat)


def brute_force_membership() -> set[tuple[int, str]]:
    i = np.arange(N_DOCS)
    lon, lat = geocode_np(i)
    out = set()
    for p in polygons():
        inside = points_in_ring(lon, lat, p.ring)
        out.update((int(k), p.poly_id) for k in i[inside])
    return out


def test_cover_is_superset_and_has_full_cells():
    polys = polygons()
    cover = build_cover(polys, RES)
    assert len(cover) > len(polys)  # multiple cells per polygon
    full = [c for c in cover if c[2]]
    assert full, "expected some fully-contained cells"


def scalar_cover(polys, res):
    """The cover one bbox cell at a time: one ``points_in_ring`` call
    on each cell's four corners, then the edge-crossing test."""
    out = []
    for p in polys:
        xmin, ymin, xmax, ymax = p.bbox
        tx0, ty1 = tile_xy(xmin, ymin, res)
        tx1, ty0 = tile_xy(xmax, ymax, res)
        ring = p.ring
        for ty in range(ty0, ty1 + 1):
            for tx in range(tx0, tx1 + 1):
                cell = zxy_to_cell(res, tx, ty)
                lon0, lat0, lon1, lat1 = cell_bounds(cell)
                corners_x = np.array([lon0, lon1, lon1, lon0])
                corners_y = np.array([lat0, lat0, lat1, lat1])
                inside = points_in_ring(corners_x, corners_y, ring)
                full = bool(inside.all()) and not any(
                    _segment_intersects_box(
                        ring[i - 1][0], ring[i - 1][1], ring[i][0], ring[i][1],
                        lon0, lat0, lon1, lat1,
                    )
                    for i in range(len(ring))
                )
                out.append((cell, p.poly_id, full))
    return out


@pytest.mark.parametrize("res", [9, 11, 13])
def test_build_cover_matches_scalar_reference(res):
    polys = polygons()
    got = build_cover(polys, res)
    assert got == scalar_cover(polys, res)
    if res >= RES:  # res 9 cells are too coarse to fit inside a polygon
        assert any(full for *_, full in got)
    if res == RES:
        assert len(got) == 325


def test_pip_join_builds_in_few_jvm_round_trips(spark, docs, monkeypatch):
    """Building the join (no action) stays in a few hundred py4j
    commands: no per-call call-site capture, a one-``F.expr`` ray-cast
    and scalar literals. Memory commands (``m``: JVM object release)
    are not counted."""
    import py4j.clientserver

    send = py4j.clientserver.ClientServerConnection.send_command
    sent = []

    def counting(self, command, *args, **kwargs):
        if not command.startswith("m"):
            sent.append(command)
        return send(self, command, *args, **kwargs)

    polys = polygons()
    monkeypatch.setattr(py4j.clientserver.ClientServerConnection, "send_command", counting)
    pip_join(docs, polys, RES)
    monkeypatch.undo()
    assert 0 < len(sent) <= 300


def test_pip_join_matches_brute_force(spark, docs):
    got = {
        (r.doc_seq, r.poly_id)
        for r in pip_join(docs, polygons(), RES).select("doc_seq", "poly_id").collect()
    }
    want = brute_force_membership()
    assert got == want


def test_pip_join_text_byte_identity(spark, docs):
    """The north_rule invariant: text survives the pipeline
    byte-identically per url."""
    before = {r.url: r.text for r in docs.select("url", "text").collect()}
    joined = pip_join(docs, polygons(), RES)
    after = {r.url: r.text for r in joined.select("url", "text").distinct().collect()}
    for url, text in after.items():
        assert before[url] == text


def test_salted_counts_match_plain(spark, docs):
    """Salted two-level agg ≡ plain groupBy — the E5 row-count gate."""
    d = docs.withColumn("cell", cell_encode_cols(F.col("lon"), F.col("lat"), RES))
    plain = {r.cell: r.n for r in d.groupBy("cell").agg(F.count("*").alias("n")).collect()}
    salted = {r.cell: r.n_docs for r in salted_cell_counts(d, salt_k=8).collect()}
    assert plain == salted


def test_hot_cell_skew_exists(spark, docs):
    """The generator really does produce a hot cell (FIXTURES.md §1),
    so the salting path is exercised, not decorative."""
    d = docs.withColumn("cell", cell_encode_cols(F.col("lon"), F.col("lat"), RES))
    counts = sorted(
        (r.n for r in d.groupBy("cell").agg(F.count("*").alias("n")).collect()),
        reverse=True,
    )
    assert counts[0] >= N_DOCS // 5  # ~20% pinned to the hot box


def test_disk1_cells_col_matches_scalar(spark):
    """Column disk(1) equals cell_disk_py, including the antimeridian
    wrap (x=0) and pole clamp (y=0)."""
    from georaster_spark.cells import cell_disk_py, zxy_to_cell
    from georaster_spark.operators.spatial_join import _disk1_cells_col

    res = 6
    probes = [zxy_to_cell(res, 0, 0), zxy_to_cell(res, 63, 31), zxy_to_cell(res, 17, 63)]
    df = spark.createDataFrame([(c,) for c in probes], "cell long").select(
        "cell", F.sort_array(_disk1_cells_col(F.col("cell"), res)).alias("disk")
    )
    for r in df.collect():
        assert r["disk"] == cell_disk_py(r["cell"], 1)


def test_within_distance_pairs_matches_brute_force(spark, docs):
    import numpy as np

    from georaster_spark.datagen import geocode_np
    from georaster_spark.functions.geo import haversine_np
    from georaster_spark.operators.spatial_join import within_distance_pairs

    docs_k = docs.withColumn("doc_id", F.col("doc_seq"))
    got = {
        (r["key_a"], r["key_b"]) for r in
        within_distance_pairs(docs_k, 2000.0, res=12, max_abs_lat=47.2).collect()
    }
    n = docs.count()
    i = np.arange(n)
    lon, lat = geocode_np(i)
    want = set()
    for a in range(n):
        d = haversine_np(np.full(n - a - 1, lon[a]), np.full(n - a - 1, lat[a]),
                         lon[a + 1:], lat[a + 1:])
        for off in np.nonzero(d <= 2000.0)[0]:
            want.add((a, a + 1 + off))
    assert got == want and len(got) > 100  # hot cell guarantees pairs


def test_within_distance_rejects_too_fine_res(spark, docs):
    import pytest as _pytest

    from georaster_spark.operators.spatial_join import within_distance_pairs

    with _pytest.raises(ValueError, match="coarser res"):
        within_distance_pairs(docs, 50_000.0, res=12)


def test_auto_res_for_distance(spark):
    """auto_res picks the finest res whose disk(1) guarantee holds,
    and the auto-res'd join equals the explicitly-res'd one."""
    from georaster_spark.operators.spatial_join import (
        auto_res_for_distance,
        within_distance_pairs,
    )
    from georaster_spark.queries import DWITHIN_M, docs_geocoded

    res = auto_res_for_distance(DWITHIN_M, max_abs_lat=47.2)
    assert res >= 12  # at least as fine as the hand-picked catalog res
    # one res finer must violate the guarantee the join enforces
    with pytest.raises(ValueError):
        d = docs_geocoded(spark, "/root/testdata/sf0.001")
        within_distance_pairs(d, DWITHIN_M, res=res + 1, max_abs_lat=47.2)
    d = docs_geocoded(spark, "/root/testdata/sf0.001")
    auto = within_distance_pairs(d, DWITHIN_M, max_abs_lat=47.2)  # res omitted
    # auto res uses max_abs_lat=47.2 via the same guard — results must
    # match the hand-picked res=12 exactly
    explicit = within_distance_pairs(d, DWITHIN_M, res=12, max_abs_lat=47.2)
    assert {tuple(r) for r in auto.select("key_a", "key_b").collect()} == {
        tuple(r) for r in explicit.select("key_a", "key_b").collect()
    }


def test_salted_equi_join_equals_plain_join(spark):
    """salted_equi_join == plain inner join on a degenerately skewed
    key (60% of left rows on one key), including duplicate right-side
    keys and left keys with no match."""
    from pyspark.sql import functions as F

    from georaster_spark.operators.spatial_join import salted_equi_join

    left = spark.range(1000).select(
        F.col("id").alias("row_id"),
        F.when(F.col("id") % 5 < 3, F.lit(7)).otherwise(F.col("id") % 40).alias("k"),
    )
    right = spark.createDataFrame(
        [(k, f"v{k}-{j}") for k in list(range(0, 40, 2)) + [7] for j in range(3)],
        "k long, payload string",
    )
    plain = {(r.row_id, r.k, r.payload) for r in left.join(right, "k").collect()}
    salted = {
        (r.row_id, r.k, r.payload)
        for r in salted_equi_join(left, right, "k", salt_key="row_id", salt_k=8).collect()
    }
    assert salted == plain and len(plain) > 1000
    targeted = {
        (r.row_id, r.k, r.payload)
        for r in salted_equi_join(
            left, right, "k", salt_key="row_id", salt_k=8, hot_keys=[7]
        ).collect()
    }
    assert targeted == plain
