"""kNN (engine op E6): exact per query point, cell-ring expansion per row.

``knn_join`` (a few query points): the exact form, one ``mapInArrow``
pass that keeps a haversine top-k per query point in each task; the
driver merges the per-partition results. No index, no shuffle.

``knn_table_join`` (every document): cell-ring expansion. Each POI's
Chebyshev cell-disk becomes a per-cell candidate index with a
ring-boundary distance guarantee, shipped as sorted NumPy arrays
inside one ``mapInArrow`` kernel; lookup, top-k, proof and exact
fallback run per Arrow batch, so the call shuffles and joins nothing.

Generalizes the reference's world→tile→local-sample lookup
(``src/pmtiles.rs:37-51``) from one tile to an expanding disk.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from georaster_spark.cells import cell_bounds, cell_disk_py, cell_encode_cols, cell_encode_py
from georaster_spark.functions.geo import EARTH_RADIUS_M, haversine_np
from georaster_spark.session import local_df


def _disk_boundary_dist_m(cell: int, rings: int) -> float:
    """Lower bound on the distance from a cell's center to anything
    OUTSIDE the disk of ``rings`` rings around it: ``rings`` times the
    cell's minimum extent, minus half a diagonal for the query's own
    offset inside its cell. Conservative by construction."""
    lon0, lat0, lon1, lat1 = cell_bounds(cell)
    # meters per degree at this latitude band
    lat_mid = (lat0 + lat1) / 2
    m_per_deg_lat = math.pi * EARTH_RADIUS_M / 180.0
    m_per_deg_lon = m_per_deg_lat * math.cos(math.radians(lat_mid))
    cell_h = (lat1 - lat0) * m_per_deg_lat
    cell_w = (lon1 - lon0) * m_per_deg_lon
    half_diag = 0.5 * math.hypot(cell_w, cell_h)
    return max(rings * min(cell_w, cell_h) - half_diag, 0.0)


def knn_table_join(
    docs: DataFrame,
    pois: list[tuple[str, float, float]],
    k: int,
    res: int,
    ring: int = 1,
) -> DataFrame:
    """k nearest POIs for EVERY document of ``docs`` (``doc_id``,
    ``lon``, ``lat``) — the table-scale kNN (E6 generalized from
    per-query to per-row, the shape a 100 TB enrichment actually runs).

    Plan: one ``mapInArrow`` NumPy kernel over ``(doc_id, lon, lat,
    cell)``. The driver expands each POI's cell-disk at resolution
    ``res`` into a sorted cell array, a ``-1``-padded candidate matrix
    (one row per cell, at least ``k`` wide) and a per-cell bound
    (``_disk_boundary_dist_m``); they ship inside the kernel.
    Chebyshev symmetry makes the poi→disk index equivalent to probing
    the doc's own disk. Each batch looks its cells up with
    ``searchsorted`` and takes a stable haversine top-k over the
    candidates. A doc whose kth candidate is NOT provably inside the
    searched disk — or with < k candidates, or no index row at all —
    takes the same top-k over all POIs instead, so every doc gets
    exactly the brute-force result.

    Returns (doc_id, poi_id, dist_m, rank); ``doc_id`` keeps its input
    type, ties break on (dist, poi_id); a doc with a null ``lon`` or
    ``lat`` has no rows. No shuffle, no join and no Filter.
    """
    pois = sorted(pois)  # a stable sort on distance then breaks ties on poi_id
    n, kk = len(pois), min(k, len(pois))
    pid = pa.array([p[0] for p in pois], pa.string())
    plon, plat = np.array([p[1:] for p in pois], dtype=np.float64).reshape(n, 2).T
    by_cell: dict[int, list[int]] = {}
    for i, (_, lon, lat) in enumerate(pois):
        for c in cell_disk_py(cell_encode_py(lon, lat, res), ring):
            by_cell.setdefault(c, []).append(i)
    keys = sorted(by_cell)
    # a last sentinel cell stands for every unindexed cell: no candidates, never proven
    cells = np.array(keys + [np.iinfo(np.int64).max], dtype=np.int64)
    cand = np.full((len(cells), max([k] + [len(v) for v in by_cell.values()])), -1, np.int64)
    for row, c in enumerate(keys):
        cand[row, : len(by_cell[c])] = by_cell[c]
    bound = np.array([_disk_boundary_dist_m(c, ring) for c in keys] + [-1.0])
    # fallback rows per block: caps the (rows, POIs) distance matrix
    step = max(1, (1 << 22) // max(n, 1))

    def top(lon: np.ndarray, lat: np.ndarray, idx: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Stable distance sort of each row's POI indexes (-1 = none)."""
        d = haversine_np(lon[:, None], lat[:, None], plon[idx], plat[idx])
        d[idx < 0] = np.inf
        order = np.argsort(d, axis=1, kind="stable")
        return np.take_along_axis(d, order, 1), np.take_along_axis(idx, order, 1)

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            # a doc without a location has no neighbours: drop it here, before a
            # null cell becomes a NaN, and not as a Filter that re-runs the geocode
            lon, lat = batch.column("lon"), batch.column("lat")
            batch = batch.filter(pc.and_(lon.is_valid(), lat.is_valid()))
            lon = batch.column("lon").to_numpy(zero_copy_only=False)
            lat = batch.column("lat").to_numpy(zero_copy_only=False)
            cell = batch.column("cell").to_numpy(zero_copy_only=False)
            row = np.minimum(np.searchsorted(cells, cell), len(cells) - 1)
            row[cells[row] != cell] = len(cells) - 1
            dist, poi = top(lon, lat, cand[row])
            proven = dist[:, k - 1] <= bound[row]  # inf: fewer than k candidates
            dist, poi = dist[:, :kk], poi[:, :kk]
            redo = np.flatnonzero(~proven)
            for s in range(0, len(redo), step):
                r = redo[s : s + step]
                d, p = top(lon[r], lat[r], np.broadcast_to(np.arange(n), (len(r), n)))
                dist[r], poi[r] = d[:, :kk], p[:, :kk]
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id").take(np.repeat(np.arange(batch.num_rows), kk)),
                    pid.take(poi.ravel()),
                    pa.array(dist.ravel()),
                    pa.array(np.tile(np.arange(1, kk + 1, dtype=np.int32), batch.num_rows)),
                ],
                names=["doc_id", "poi_id", "dist_m", "rank"],
            )

    lon, lat = F.col("lon"), F.col("lat")
    doc_t = docs.schema["doc_id"].dataType.simpleString()
    return docs.select("doc_id", "lon", "lat", cell_encode_cols(lon, lat, res).alias("cell")).mapInArrow(
        kernel, f"doc_id {doc_t}, poi_id string, dist_m double, rank int"
    )


def knn_join(
    docs: DataFrame,
    query_points: list[tuple[str, float, float]],
    k: int,
    doc_key: str = "url",
) -> DataFrame:
    """k nearest documents to each query point, exact, in one pass.

    ``query_points``: [(query_id, lon, lat)]. Returns
    (query_id, <doc_key>, dist_m, rank); ``doc_key`` keeps its input
    type, ties break on (dist, doc_key), and a document with a null
    ``lon`` or ``lat`` has no rows. With fewer than k documents every
    document is returned, ranked.

    Plan: one ``mapInArrow`` over (doc_key, lon, lat) keeps a running
    top-k per query point in each task and yields it at the end of the
    partition; the driver merges those |Q|·k rows per partition and
    returns them through ``local_df``. One Spark job, no shuffle, no
    persist; the call is eager.

    The cost is O(N·|Q|) haversines. Every caller in this repo has
    |Q| ≤ 3, where that costs less than a cell encode and a probe. For
    large query SETS use ``knn_table_join``: its per-cell disk index
    and ring-boundary proof touch only nearby candidates.
    """
    ids = {qid: (lon, lat) for qid, lon, lat in query_points}
    qid = pa.array(list(ids), pa.string())
    qlon, qlat = np.array(list(ids.values()), dtype=np.float64).reshape(-1, 2).T
    order = [("q", "ascending"), ("dist_m", "ascending"), (doc_key, "ascending")]

    def top(t: pa.Table) -> tuple[pa.Table, np.ndarray]:
        """The first k rows of each query ``q`` in (dist_m, doc_key)
        order, sorted, with their ranks."""
        t = t.take(pc.sort_indices(t, order))
        q = t.column("q").to_numpy()
        rank = np.arange(1, len(q) + 1) - np.searchsorted(q, q)
        keep = rank <= k
        return t.filter(keep), rank[keep]

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        best = None
        for batch in batches:
            lon, lat = batch.column("lon"), batch.column("lat")
            batch = batch.filter(pc.and_(lon.is_valid(), lat.is_valid()))
            lon = batch.column("lon").to_numpy(zero_copy_only=False)
            lat = batch.column("lat").to_numpy(zero_copy_only=False)
            d = haversine_np(lon[None, :], lat[None, :], qlon[:, None], qlat[:, None])
            # the k nearest of this batch and every tie at the kth distance;
            # not `d <= cut`, which drops every row when a NaN coordinate
            # leaves fewer than k finite distances (the cut is then NaN)
            cut = np.partition(d, k - 1, axis=1)[:, [k - 1]] if batch.num_rows > k else np.inf
            q, row = np.nonzero(~(d > cut))
            cand = pa.Table.from_arrays(
                [pa.array(q, pa.int32()), batch.column(doc_key).take(row), pa.array(d[q, row])],
                names=["q", doc_key, "dist_m"],
            )
            best, _ = top(cand if best is None else pa.concat_tables([best, cand]))
        if best is not None:
            yield from best.to_batches()

    key_t = docs.schema[doc_key].dataType.simpleString()
    parts = docs.select(doc_key, "lon", "lat").mapInArrow(
        kernel, f"q int, {doc_key} {key_t}, dist_m double"
    )
    rows, rank = top(parts.toArrow())
    cols = [qid.take(rows.column("q")), rows.column(doc_key), rows.column("dist_m"), pa.array(rank)]
    return local_df(
        docs.sparkSession,
        list(zip(*(c.to_pylist() for c in cols))),
        f"query_id string, {doc_key} {key_t}, dist_m double, rank int",
    )
