"""Point-in-polygon spatial join — the engine's flagship operator (E3-E5).

Two-stage plan (the Spark re-expression of the reference's
cell-encode→tile-fetch→local-sample lifecycle, ``src/pmtiles.rs:37-51``):

1. **Cover join** (coarse): each polygon is covered by a set of
   WebMercatorQuad cells at resolution ``res``, built driver-side in
   NumPy as an Arrow ``LocalTableScan`` (``session.local_df``: the
   rows ride in the plan, no pickled RDD is rescanned per action) and
   **broadcast** (the polygon side is always the small side; no
   shuffle). Cells fully inside a polygon are marked ``full`` —
   documents landing there skip the exact test entirely.
2. **Exact ray-cast** (fine): candidates from partial cells run an
   even-odd test as flat Column arithmetic (no Python), parsed from
   one SQL text (``ray_cast_edge_cols``). Each partial cover row
   carries only the polygon edges that a rightward ray from a point
   of its cell can cross, and one ``base`` bit for the edges every
   such ray crosses (the full/partial/empty split of Raster
   Intervals, PAPERS.md); the test is ``full OR (base != fold)``.
   A partial cell that no kept edge crosses is decided whole: full,
   or dropped from the cover, so an empty cell gives no candidates.
   The edges are chosen against the cell bounds widened by a margin,
   so a document a few ulps outside its own cell still gets the
   whole-ring answer. Every edge slot is NOT NULL: a row that keeps
   fewer edges than the widest row pads with the zero edge
   ``(0, 0, 0, 0)``, which no ray crosses, so the fold carries no
   null handling.

Building the plan is itself kept cheap for the driver: the cover's
corner test is one NumPy call per polygon, and the whole join is
built in a few hundred py4j commands (with ``get_spark``'s call-site
capture off), so a warm call's fixed cost stays small next to the
scan it plans.

Skew: hot cells concentrate candidates. The join itself is broadcast
(no shuffle to skew), and the per-cell aggregations after it
(``salted_cell_counts``) aggregate map-side before their one shuffle,
so a hot cell reaches the reducers as at most one partial row per
task. The explicit salt is kept only where partial aggregation cannot
help, on a shuffled equi-join (``salted_equi_join``); AQE skew-join is
the configured backstop.

At 100 TB scale: stage 1 is a map-side-only narrow pass (encode +
broadcast hash join + filter), stage 2 is vectorized compute on the
surviving fraction — the whole join runs without a single shuffle
unless the caller aggregates.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from georaster_spark.cells import cell_bounds, cell_encode_cols, cell_to_zxy, tile_xy, zxy_to_cell
from georaster_spark.datagen import Polygon
from georaster_spark.functions.geo import points_in_ring
from georaster_spark.session import local_df


def _segment_intersects_box(
    x0: float, y0: float, x1: float, y1: float,
    bx0: float, by0: float, bx1: float, by1: float,
) -> bool:
    """Conservative segment-vs-rectangle overlap (used only to decide
    full vs partial cover cells — safe to err toward 'partial')."""
    if max(x0, x1) < bx0 or min(x0, x1) > bx1 or max(y0, y1) < by0 or min(y0, y1) > by1:
        return False
    # axis-aligned or general: test both endpoints in box, else edge
    # crossing via the separating-axis of the segment line
    dx, dy = x1 - x0, y1 - y0
    if dx == 0 and dy == 0:
        return bx0 <= x0 <= bx1 and by0 <= y0 <= by1
    corners = [(bx0, by0), (bx1, by0), (bx1, by1), (bx0, by1)]
    sides = [dx * (cy - y0) - dy * (cx - x0) for cx, cy in corners]
    if all(s > 0 for s in sides) or all(s < 0 for s in sides):
        return False
    return True


def build_cover(polys: list[Polygon], res: int) -> list[tuple[int, str, bool]]:
    """Polygon → cell cover at resolution ``res`` (E3).

    Driver-side NumPy at broadcast-build time. Returns
    ``(cell, poly_id, full)`` rows: the cover is a superset of the
    polygon (bbox cells), so stage 2 can only *remove* candidates —
    no false negatives by construction. ``full=True`` cells are
    entirely inside the polygon (all four corners inside and no
    polygon edge crossing the cell) and skip the exact test. The
    corner test is one ``points_in_ring`` call per polygon over the
    corners of all its bbox cells.
    """
    out: list[tuple[int, str, bool]] = []
    for p in polys:
        xmin, ymin, xmax, ymax = p.bbox
        tx0, ty1 = tile_xy(xmin, ymin, res)  # y grows southward
        tx1, ty0 = tile_xy(xmax, ymax, res)
        ring = p.ring
        cells = [
            zxy_to_cell(res, tx, ty)
            for ty in range(ty0, ty1 + 1)
            for tx in range(tx0, tx1 + 1)
        ]
        bounds = np.array([cell_bounds(c) for c in cells])  # lon0, lat0, lon1, lat1
        corners_in = points_in_ring(
            bounds[:, [0, 2, 2, 0]].ravel(), bounds[:, [1, 1, 3, 3]].ravel(), ring
        ).reshape(-1, 4).all(axis=1)
        for cell, (lon0, lat0, lon1, lat1), all_in in zip(cells, bounds.tolist(), corners_in):
            full = bool(all_in) and not any(
                _segment_intersects_box(
                    ring[i - 1][0], ring[i - 1][1], ring[i][0], ring[i][1],
                    lon0, lat0, lon1, lat1,
                )
                for i in range(len(ring))
            )
            out.append((cell, p.poly_id, full))
    return out


def ray_cast_edge_cols(max_edges: int) -> Column:
    """Even-odd point-in-polygon of the ``lon``/``lat`` columns over
    the FLAT cell-local edge columns of a cover row.

    Expects the joined row to carry the ``base`` parity bit and
    ``x0_j, y0_j, x1_j, y1_j`` double columns (one quad per kept edge,
    padded to ``max_edges`` with the zero edge — see ``cover_df``).
    The fold starts from ``base`` and flips once per kept edge the
    point's rightward ray crosses, so it is ``base != fold(kept
    edges)``. The parity fold is plain scalar arithmetic on flat
    doubles: small expression tree, fully inside WholeStageCodegen.
    Alternatives measured on 48M candidate rows: higher-order
    ``aggregate`` over ARRAY<STRUCT> ~33µs/row (interpreted); unrolled
    ``try_element_at`` worse (codegen fallback); a pandas-UDF kernel
    anti-scaled with cores (Python workers compete with executor
    threads). Flat-column unroll is the one that scales.

    The fold is written as one SQL text and parsed by a single
    ``F.expr``: the same expression as chaining Column operators, in
    one JVM round trip instead of ~100.

    Zero-edge padding: for ``(0, 0, 0, 0)`` both sides of the first
    comparison are ``0.0 > lat``, so the crossing test is false for
    every ``lat`` (±0.0 and NaN included) and the ``AND`` never
    evaluates the division. Kept edges are never horizontal, so their
    divisor is never zero.
    """
    inside = "base"
    for j in range(max_edges):
        x0, y0, x1, y1 = (f"{p}_{j}" for p in ("x0", "y0", "x1", "y1"))
        test = (
            f"((({y0} > lat) != ({y1} > lat))"
            f" AND (lon < ((({x1} - {x0}) * (lat - {y0})) / ({y1} - {y0})) + {x0}))"
        )
        inside = f"({inside} != {test})"
    return F.expr(inside)


# Degrees by which a cell's bounds are widened before any edge is
# pruned. The cell encode (``log(tan + 1/cos)``, ``floor`` on lon) and
# ``cell_bounds`` (``atan`` of an exp-spelled ``sinh``) round
# differently, so a document can sit a few ulps outside its own cell.
# A wider margin only keeps more edges, so it is always safe.
_CELL_MARGIN = 1e-9


def _cell_local_edges(
    ring: np.ndarray, cell: int
) -> tuple[bool, list[tuple[float, float, float, float]]]:
    """``(base, kept)``: the edges of ``ring`` that a rightward ray
    from a point of ``cell`` can cross, as ``(x0, y0, x1, y1)`` quads
    in ring order, and the parity of the edges that every such ray
    crosses.

    Decided against the cell's ``cell_bounds`` widened by
    ``_CELL_MARGIN``; a cell on the grid's border is open on that side,
    because the encode clamps points beyond the grid into it.
    Horizontal edges, edges whose y-span misses the band and edges
    wholly left of the cell are never crossed. An edge wholly right of
    the cell whose y-span strictly contains the band is always
    crossed, so it flips ``base``. For every point within the margin
    of the cell, ``base != fold(kept)`` is the even-odd fold over the
    whole ring, bit for bit.
    """
    z, tx, ty = cell_to_zxy(cell)
    last = (1 << z) - 1
    lon0, lat0, lon1, lat1 = cell_bounds(cell)
    lon0 = -math.inf if tx == 0 else lon0 - _CELL_MARGIN
    lon1 = math.inf if tx == last else lon1 + _CELL_MARGIN
    lat0 = -math.inf if ty == last else lat0 - _CELL_MARGIN
    lat1 = math.inf if ty == 0 else lat1 + _CELL_MARGIN
    base = False
    kept = []
    pts = ring.tolist()
    for (x0, y0), (x1, y1) in zip(pts[-1:] + pts[:-1], pts):
        ylo, yhi = min(y0, y1), max(y0, y1)
        if ylo == yhi or yhi < lat0 or ylo > lat1 or max(x0, x1) < lon0:
            continue
        if min(x0, x1) > lon1 and ylo < lat0 and yhi > lat1:
            base = not base
        else:
            kept.append((x0, y0, x1, y1))
    return base, kept


def cover_df(spark, polys: list[Polygon], res: int) -> tuple[DataFrame, int]:
    """Broadcastable cover index with FLAT cell-local edge columns:
    (cell, poly_id, full, base, x0_0, y0_0, x1_0, y1_0, …).

    A partial row of ``build_cover`` keeps only the edges a ray from
    its cell can cross, and ``base`` holds the parity of the edges
    every such ray crosses (``_cell_local_edges``). A partial row that
    keeps no edge is decided for its whole cell: full when ``base`` is
    true, dropped when it is false, so an empty cell gives no
    candidates. Every column is NOT NULL: a row that keeps fewer
    edges than the widest row (full rows keep none) pads each empty
    slot with the zero edge ``(0, 0, 0, 0)``, which the exact test
    never counts as crossed. The edge columns number the most edges
    any row keeps, so the exact test is unrolled no further. The cover
    is a ``LocalTableScan`` (``local_df``), so shipping it to the
    broadcast costs no Spark job over a Python RDD. Returns (cover,
    max_edges)."""
    rings = {p.poly_id: p.ring for p in polys}
    rows = []
    for cell, pid, full in build_cover(polys, res):
        base, edges = (False, []) if full else _cell_local_edges(rings[pid], cell)
        if not (full or edges):
            if not base:
                continue
            full = True
        rows.append((cell, pid, full, base, edges))
    mv = max((len(edges) for *_, edges in rows), default=0)
    flat = []
    for *row, edges in rows:
        pad = [0.0] * (4 * (mv - len(edges)))
        flat.append((*row, *(v for edge in edges for v in edge), *pad))
    edge_schema = "".join(
        f", {p}_{j} double NOT NULL" for j in range(mv) for p in ("x0", "y0", "x1", "y1")
    )
    schema = (
        "cell long NOT NULL, poly_id string NOT NULL, full boolean NOT NULL,"
        f" base boolean NOT NULL{edge_schema}"
    )
    return local_df(spark, flat, schema), mv


def pip_join(docs: DataFrame, polys: list[Polygon], res: int) -> DataFrame:
    """Point-in-polygon join: docs × polygons → (doc columns, poly_id).
    ``docs`` carries its point as the ``lon``/``lat`` double columns.

    Emits one output row per (document, containing polygon) pair —
    overlapping polygons multiply rows, matching the relational
    semantics the oracle checks. The exact test is ``full OR (base !=
    fold)``: Column algebra over the broadcast cover row's cell-local
    edge columns (JVM, scales linearly with cores).
    """
    spark = docs.sparkSession
    docs_c = docs.withColumn("cell", cell_encode_cols(F.col("lon"), F.col("lat"), res))
    cover, max_v = cover_df(spark, polys, res)
    cand = docs_c.join(F.broadcast(cover), "cell")
    edge_cols = [f"{p}_{j}" for j in range(max_v) for p in ("x0", "y0", "x1", "y1")]
    return cand.where(F.col("full") | ray_cast_edge_cols(max_v)).drop(
        "full", "base", *edge_cols
    )


def _disk1_cells_col(cell: Column, res: int) -> Column:
    """ARRAY of the 9 cells in a cell's Chebyshev disk(1) as pure
    Column algebra — x wraps at the antimeridian, y clamps at the
    poles (out-of-range neighbors dropped via array filter)."""
    from georaster_spark.cells import _XSHIFT, _ZSHIFT, cell_zxy_cols

    n = 1 << res
    _, x, y = cell_zxy_cols(cell)
    entries = []
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            xx = (x + F.lit(dx) + F.lit(n)) % F.lit(n)
            yy = y + F.lit(dy)
            entries.append(
                F.when(
                    (yy >= 0) & (yy < n),
                    F.lit(res).cast("long") * F.lit(_ZSHIFT) + xx * F.lit(_XSHIFT) + yy,
                )
            )
    return F.array_compact(F.array(*entries))


def _min_cell_extent_m(res: int, max_abs_lat: float) -> float:
    """Safe minimum ground extent of a res-cell within the latitude
    band (shared by the join guard and auto-res so the two can never
    drift): lon extent shrinks by cos(lat); mercator cell height
    (deg) also shrinks ~cos(lat). A doc AT max_abs_lat sits in a
    cell whose far edge reaches beyond it — mercator dφ = dy*cos(φ)
    ≤ deg, so max_abs_lat+deg bounds the far edge — and the cos(lat)
    height model is only first-order, so keep a 0.95 margin."""
    import math as _m

    from georaster_spark.functions.geo import EARTH_RADIUS_M

    deg = 360.0 / (1 << res)
    m_per_deg = _m.pi * EARTH_RADIUS_M / 180.0
    lat_edge = min(89.9, max_abs_lat + deg)
    return 0.95 * deg * m_per_deg * _m.cos(_m.radians(lat_edge))


def auto_res_for_distance(d_meters: float, max_abs_lat: float = 85.0) -> int:
    """Finest cell resolution whose disk(1) adjacency guarantee holds
    for ``d_meters`` within the |lat| ≤ max_abs_lat band — the res a
    caller should feed ``within_distance_pairs``. Finer is better
    (smaller candidate sets), so walk down from fine to coarse and
    return the first res that passes the join's own guard."""
    for res in range(24, -1, -1):
        if d_meters <= _min_cell_extent_m(res, max_abs_lat):
            return res
    raise ValueError(f"no resolution satisfies d={d_meters}m at |lat|<={max_abs_lat}")


def within_distance_pairs(
    docs: DataFrame,
    d_meters: float,
    res: int | None = None,
    max_abs_lat: float = 85.0,
) -> DataFrame:
    """All (a < b) ``doc_id`` pairs of ``docs`` whose ``lon``/``lat``
    lie within ``d_meters`` — the ST_DWithin self-join, rewritten from
    a quadratic theta-join into a cell EQUI-join (the only shape that
    scales):

    - left side explodes each doc onto its Chebyshev disk(1) cells
      (9x narrow amplification, no shuffle to build);
    - right side keys by its own cell, so each qualifying pair joins
      on exactly ONE cell (b's) — no post-join dedup needed;
    - exact haversine ≤ d filters candidates JVM-side.

    Correct iff ``d_meters`` ≤ the minimum cell extent at ``res``
    within the data's latitude band (guarded below): any pair within
    d then lies in the same or an adjacent cell. Skewed hot cells
    fall to AQE's skew-join splitting (the join key is the cell).
    """
    from georaster_spark.cells import cell_encode_cols

    if res is None:
        res = auto_res_for_distance(d_meters, max_abs_lat)

    min_extent = _min_cell_extent_m(res, max_abs_lat)
    if d_meters > min_extent:
        raise ValueError(
            f"d={d_meters}m exceeds safe min cell extent {min_extent:.0f}m at res"
            f" {res} for |lat|<={max_abs_lat} — use a coarser res"
        )

    keyed = docs.withColumn("cell", cell_encode_cols(F.col("lon"), F.col("lat"), res))
    left = keyed.select(
        F.col("doc_id").alias("key_a"),
        F.col("lon").alias("lon_a"),
        F.col("lat").alias("lat_a"),
        F.explode(_disk1_cells_col(F.col("cell"), res)).alias("cell"),
    )
    right = keyed.select(
        F.col("doc_id").alias("key_b"),
        F.col("lon").alias("lon_b"),
        F.col("lat").alias("lat_b"),
        "cell",
    )
    from georaster_spark.functions.geo import haversine_cols as _hav

    dist = _hav(F.col("lon_a"), F.col("lat_a"), F.col("lon_b"), F.col("lat_b"))
    return (
        left.join(right, "cell")
        .where(F.col("key_a") < F.col("key_b"))
        .withColumn("dist_m", dist)
        .where(F.col("dist_m") <= F.lit(float(d_meters)))
        .select("key_a", "key_b", "dist_m")
    )


def salted_cell_counts(docs_with_cell: DataFrame) -> DataFrame:
    """Per-cell counts ``(cell, n_docs bigint)`` in one shuffle (E5).

    A plain ``groupBy("cell")``: Spark counts map-side before the
    Exchange, so a hot cell reaches the reducers as at most one
    partial row per task and cannot make a straggler. A salted
    two-level form would add a second shuffle stage for nothing. The
    name is kept for its callers; the explicit salt lives on in
    ``salted_equi_join``, where partial aggregation cannot help.
    """
    return docs_with_cell.groupBy("cell").agg(F.count(F.lit(1)).alias("n_docs"))


def salted_equi_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt_key: str,
    salt_k: int = 16,
    hot_keys: list | None = None,
) -> DataFrame:
    """Explicit skew-salted INNER equi-join on ``key`` (E5's join
    counterpart): the skewed LEFT side gets a deterministic salt in
    [0, salt_k) hashed from ``salt_key``; the RIGHT side is
    replicated ``salt_k`` ways, and the join key becomes
    (key, salt) — a hot key's probe rows land in ``salt_k`` separate
    shuffle partitions instead of one straggler task. The result is
    IDENTICAL to ``left.join(right, key)``: every left row meets each
    matching right row exactly once, through its own salt replica.

    ``hot_keys=None`` salts EVERY key — simple, but it multiplies the
    whole build side's shuffle volume by ``salt_k``, a cost that
    dominates when the build side is large (AQE's runtime skew-split
    then beats it). Pass ``hot_keys`` (from a
    cheap count pre-pass, or known a priori as in pip_join_hot's hot
    cells) to salt ONLY those keys: the cold partition joins plain,
    the hot partition joins salted, and only the hot keys' build rows
    replicate — the form that wins at 100 TB and that also covers
    stages AQE cannot re-plan (stateful/custom kernels).
    """
    salt = F.pmod(F.xxhash64(F.col(salt_key)), F.lit(salt_k)).cast("int")
    if hot_keys is None:
        l_s = left.withColumn("_salt", salt)
        r_s = right.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_k - 1)))
        )
        return l_s.join(r_s, [key, "_salt"]).drop("_salt")
    is_hot = F.col(key).isin(list(hot_keys))
    cold = left.where(~is_hot).join(right.where(~is_hot), key)
    l_hot = left.where(is_hot).withColumn("_salt", salt)
    r_hot = right.where(is_hot).withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_k - 1)))
    )
    hot = l_hot.join(r_hot, [key, "_salt"]).drop("_salt")
    return cold.unionByName(hot)
