"""Point-in-polygon join tests — engine vs brute-force Python oracle
(SURVEY.md M4: per-cell counts must match a Python count)."""

from __future__ import annotations

import re
from collections import Counter

import numpy as np
import pytest
from pyspark.sql import functions as F

from georaster_spark.cells import cell_bounds, cell_encode_cols, cell_to_zxy, tile_xy, zxy_to_cell
from georaster_spark.datagen import Polygon, documents_df, geocode_cols, geocode_np, polygons
from georaster_spark.functions.geo import points_in_ring
from georaster_spark.operators.spatial_join import (
    _cell_local_edges,
    _segment_intersects_box,
    build_cover,
    cover_df,
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


# A document within this many degrees of its cell gets the same
# answer from the cell-local edges as from the whole ring.
MARGIN = 1e-9


def grid_point(res: int, tx: int, ty: int) -> tuple[float, float]:
    """The grid corner (tx, ty): the top-left corner of that cell."""
    lon0, _, _, lat1 = cell_bounds(zxy_to_cell(res, tx, ty))
    return lon0, lat1


def sloped_polygons() -> list[Polygon]:
    """Polygons with sloped edges (the fixture polygons are all
    axis-aligned): a concave 10-point star across lon 0 and the
    equator, a triangle, a triangle across the clamp at the grid's
    top-right corner, and a triangle whose vertices sit half a margin
    off res-9 grid corners (res-9 corners are res-11 and res-13 corners
    too)."""
    k = np.arange(10)
    r = np.where(k % 2 == 0, 0.3, 0.12)
    ang = np.pi / 2 + k * np.pi / 5
    star = np.column_stack([0.05 + r * np.cos(ang), 0.02 + r * np.sin(ang)])
    tri = np.array([[-120.31, 60.2], [-119.77, 60.33], [-120.12, 60.71]])
    clamp = np.array([[179.2, 84.6], [179.97, 86.0], [179.5, 89.5]])
    corners = np.array([grid_point(9, tx, ty) for tx, ty in ((270, 181), (273, 182), (271, 184))])
    near = corners + np.sign(corners - corners.mean(axis=0)) * (MARGIN / 2)
    return [
        Polygon("star", star),
        Polygon("tri", tri),
        Polygon("clamp", clamp),
        Polygon("near_grid", near),
    ]


def probe_points(cell: int, rng: np.random.Generator) -> tuple[np.ndarray, np.ndarray]:
    """Random points in ``cell``, points exactly on its edges and
    corners, and points one ``MARGIN`` outside them; for a cell on the
    grid's border also points beyond the grid, which the encode clamps
    into it."""
    z, tx, ty = cell_to_zxy(cell)
    last = (1 << z) - 1
    lon0, lat0, lon1, lat1 = cell_bounds(cell)
    xs = [lon0 - MARGIN, lon0, *rng.uniform(lon0, lon1, 6), lon1, lon1 + MARGIN]
    ys = [lat0 - MARGIN, lat0, *rng.uniform(lat0, lat1, 6), lat1, lat1 + MARGIN]
    xs += [-185.0] * (tx == 0) + [185.0] * (tx == last)
    ys += [-89.0] * (ty == last) + [89.0] * (ty == 0)
    px, py = np.meshgrid(xs, ys)
    return px.ravel(), py.ravel()


def edge_parity(px: np.ndarray, py: np.ndarray, edges) -> np.ndarray:
    """``points_in_ring``'s even-odd fold over ``(x0, y0, x1, y1)``
    quads, in the operation order of ``ray_cast_edge_cols``."""
    inside = np.zeros(px.shape, dtype=bool)
    for x0, y0, x1, y1 in edges:
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (x1 - x0) * (py - y0) / (y1 - y0) + x0
        inside ^= ((y0 > py) != (y1 > py)) & (px < xint)
    return inside


@pytest.mark.parametrize("res", [9, 11, 13])
def test_cell_local_edges_match_whole_ring(res):
    """For every partial cover row, ``base != fold(kept)`` equals the
    whole-ring fold on random points of the cell, on its edges and
    corners, and one margin outside. A row that keeps no edge and has
    ``base`` false (dropped by ``cover_df``) is thus false on all of
    them."""
    rng = np.random.default_rng(res)
    polys = polygons() + sloped_polygons()
    rings = {p.poly_id: p.ring for p in polys}
    dropped, sloped_rows = 0, 0
    for cell, pid, full in build_cover(polys, res):
        if full:
            continue
        ring = rings[pid]
        base, kept = _cell_local_edges(ring, cell)
        px, py = probe_points(cell, rng)
        got = base != edge_parity(px, py, kept)
        assert np.array_equal(got, points_in_ring(px, py, ring)), (res, pid, cell)
        dropped += not (kept or base)
        sloped_rows += not pid.startswith("poly")
    assert dropped and sloped_rows


def test_cover_df_keeps_cell_local_edges(spark):
    """On the benchmark polygons at res 11 the 19 partial cells that
    no ray crosses into are dropped (325 → 306 rows) and no row keeps
    more than 3 edges."""
    cover, max_v = cover_df(spark, polygons(), RES)
    assert (cover.count(), max_v) == (306, 3)


def test_pip_join_exact_on_cell_edges_and_corners(spark):
    """Docs exactly on cell edges and corners, on polygon vertices that
    sit on cell corners, and a few ulps either side of each (the encode
    can put such a doc a few ulps outside its own cell's bounds), plus
    docs beyond the grid's clamp: ``pip_join`` equals
    ``points_in_ring`` row for row. The FIXTURES.md boundary nudge does
    not apply; one polygon's vertices sit 2 ulps off the corners."""
    n = 1 << RES
    tx0, ty0 = n // 2 + 1, n // 2 - 5  # just east of lon 0, north of the equator
    pts = np.array(
        [[grid_point(RES, tx0 + i, ty0 + j) for i in range(6)] for j in range(6)]
    )
    tri = pts[[5, 3, 0], [0, 4, 1]]
    notch = pts[[0, 0, 5, 5, 3, 3], [0, 4, 4, 3, 3, 0]]
    out = np.sign(tri - tri.mean(axis=0))
    tri_off = np.nextafter(np.nextafter(tri, tri + out * 1.0), tri + out * 1.0)
    clamp = np.array([[179.2, 84.6], [179.97, 86.0], [179.5, 89.5]])
    polys = [Polygon(f"b{k}", ring) for k, ring in enumerate((tri, notch, tri_off, clamp))]

    corners = pts.reshape(-1, 2)
    mid_x = (pts[:, :-1, 0] + pts[:, 1:, 0]) / 2  # on the cells' top and bottom edges
    mid_y = (pts[:-1, :, 1] + pts[1:, :, 1]) / 2  # on their left and right edges
    lon_edges = np.column_stack([mid_x.ravel(), pts[:, :-1, 1].ravel()])
    lat_edges = np.column_stack([pts[:-1, :, 0].ravel(), mid_y.ravel()])
    anchors = np.concatenate([corners, lon_edges, lat_edges, tri_off])
    steps = []
    for a in anchors:
        xs, ys = [a[0]], [a[1]]
        for _ in range(3):
            xs = [np.nextafter(xs[0], -np.inf), *xs, np.nextafter(xs[-1], np.inf)]
            ys = [np.nextafter(ys[0], -np.inf), *ys, np.nextafter(ys[-1], np.inf)]
        steps += [(x, y) for x in xs for y in ys]
    gx, gy = np.meshgrid(np.linspace(179.0, 181.0, 9), np.linspace(84.0, 89.9, 25))
    lon, lat = np.concatenate([steps, np.column_stack([gx.ravel(), gy.ravel()])]).T

    docs = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(lon, lat))],
        "doc_id long, lon double, lat double",
    )
    got = {(r.doc_id, r.poly_id) for r in pip_join(docs, polys, RES).collect()}
    want = {
        (int(i), p.poly_id)
        for p in polys
        for i in np.nonzero(points_in_ring(lon, lat, p.ring))[0]
    }
    assert got == want
    assert {pid for _, pid in want} == {p.poly_id for p in polys}


def test_pip_join_padded_edge_slots_are_inert(spark):
    """A row that keeps fewer edges than the widest row pads with the
    zero edge, which no ray crosses: docs at lon/lat exactly 0.0, -0.0
    and 1–2 ulps either side (the zero edge's own endpoints), and docs
    at lon < 0, 0 < lat < 1 (where a padded edge up from the origin
    would be crossed), give ``points_in_ring``'s answer row for row.
    The polygon's lower-left edge runs through the origin, so the
    origin's cell is partial and keeps 1 of 2 edge slots. Every cover
    column is NOT NULL."""
    ring = np.array([(0.25, -0.5), (0.6, -0.5), (0.6, 0.5), (0.1, 0.5), (-0.15, 0.3)])
    polys = [Polygon("origin", ring)]
    cover, max_v = cover_df(spark, polys, RES)
    assert not [f.name for f in cover.schema.fields if f.nullable]
    kept = {
        cell: len(_cell_local_edges(ring, cell)[1])
        for cell, _, full in build_cover(polys, RES)
        if not full
    }
    assert max_v == 2 and set(kept.values()) == {1, 2}
    assert kept[zxy_to_cell(RES, *tile_xy(0.0, 0.0, RES))] == 1

    tiny = [np.nextafter(np.nextafter(0.0, d), d) for d in (-1.0, 1.0)]
    tiny += [np.nextafter(0.0, -1.0), -0.0, 0.0, np.nextafter(0.0, 1.0)]
    west = np.meshgrid([-0.12, -0.09, -0.06, -0.03, -0.01], [0.02, 0.1, 0.2, 0.28, 0.35, 0.45])
    lon, lat = np.concatenate(
        [np.array([(x, y) for x in tiny for y in tiny]), np.column_stack([w.ravel() for w in west])]
    ).T
    docs = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(lon, lat))],
        "doc_id long, lon double, lat double",
    )
    got = sorted(r.doc_id for r in pip_join(docs, polys, RES).collect())
    want = np.nonzero(points_in_ring(lon, lat, ring))[0].tolist()
    assert got == want
    assert 0 < len(want) < len(lon)


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
    """Per-cell counts equal a Python count of the ``cell`` column —
    the E5 row-count gate — and run in exactly one shuffle: the hot
    cell is aggregated map-side, with no salted second stage."""
    d = docs.withColumn("cell", cell_encode_cols(F.col("lon"), F.col("lat"), RES))
    plain = Counter(r.cell for r in d.select("cell").collect())
    counts = salted_cell_counts(d)
    assert {r.cell: r.n_docs for r in counts.collect()} == plain
    aqe = counts._jdf.queryExecution().executedPlan()
    final = aqe.executedPlan().toString()  # the plan AQE ran, not its initial one
    assert len(re.findall(r"\bExchange hashpartitioning\(", final)) == 1, final


def test_hot_cell_skew_exists(spark, docs):
    """The generator really does produce a hot cell (FIXTURES.md §1),
    so the map-side partial aggregation of ``salted_cell_counts`` is
    exercised, not decorative."""
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
