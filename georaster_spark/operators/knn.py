"""kNN via cell-ring expansion (engine op E6).

``knn_join`` (per query point): start at the query's cell, expand
Chebyshev rings until every query has ≥ k candidates AND the kth
candidate distance is provably inside the searched disk (ring-boundary
distance guarantee) — then an exact haversine top-k over candidates
only. The (query, cell) candidate index is tiny and broadcast;
documents are probed with an equi-join on ``cell`` and the top-k
window shuffles only the candidates, partitioned by query id.

``knn_table_join`` (every document): the same index and guarantee
keyed by cell, broadcast once; top-k, proof and exact fallback are one
projection per document, so the call shuffles nothing.

Generalizes the reference's world→tile→local-sample lookup
(``src/pmtiles.rs:37-51``) from one tile to an expanding disk.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from georaster_spark.cells import (
    cell_bounds,
    cell_bounds_cols,
    cell_disk_py,
    cell_encode_cols,
    cell_encode_py,
)
from georaster_spark.functions.geo import EARTH_RADIUS_M, haversine_cols
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

    Plan: each POI's cell-disk at resolution ``res`` is expanded
    driver-side and grouped into one index row per cell carrying that
    cell's candidate POIs as an array; the index is a ``LocalTableScan``
    (``local_df``), broadcast and left-joined to the docs on their own
    cell (Chebyshev symmetry makes the poi→disk index equivalent to
    probing the doc's own disk). One
    projection per doc then sorts its candidates by (dist, poi_id) and
    keeps k. A doc whose kth candidate is NOT provably inside the
    searched disk (ring-boundary bound, cf. ``_disk_boundary_dist_m``)
    — or with < k candidates, or no index row at all — takes the same
    top-k over the literal array of all POIs instead, so every doc gets
    exactly the brute-force result.

    Returns (doc_id, poi_id, dist_m, rank); ties break on
    (dist, poi_id). No shuffle, no window: one broadcast join, one
    projection, one explode.
    """
    spark: SparkSession = docs.sparkSession
    cand_t = "array<struct<poi_id: string, p_lon: double, p_lat: double>>"
    by_cell: dict[int, list[tuple[str, float, float]]] = {}
    for pid, plon, plat in pois:
        for c in cell_disk_py(cell_encode_py(plon, plat, res), ring):
            by_cell.setdefault(c, []).append((pid, plon, plat))
    idx = local_df(spark, sorted(by_cell.items()), f"cell long, cands {cand_t}")
    all_pois = F.array(
        *(
            F.struct(F.lit(pid).alias("poi_id"), F.lit(plon).alias("p_lon"), F.lit(plat).alias("p_lat"))
            for pid, plon, plat in pois
        )
    )

    def top_k(cands: Column) -> Column:
        by_dist = F.transform(
            cands,
            lambda p: F.struct(
                haversine_cols(F.col("lon"), F.col("lat"), p["p_lon"], p["p_lat"]).alias("dist_m"),
                p["poi_id"].alias("poi_id"),
            ),
        )
        return F.slice(F.sort_array(by_dist), 1, k)

    # per-doc disk-boundary bound from the doc's OWN cell geometry —
    # Column form of _disk_boundary_dist_m
    lon0, lat0, lon1, lat1 = cell_bounds_cols(F.col("cell"), res)
    m_per_deg_lat = math.pi * EARTH_RADIUS_M / 180.0
    lat_mid = (lat0 + lat1) / 2
    cell_h = (lat1 - lat0) * F.lit(m_per_deg_lat)
    cell_w = (lon1 - lon0) * F.lit(m_per_deg_lat) * F.cos(F.radians(lat_mid))
    half_diag = F.sqrt(cell_w * cell_w + cell_h * cell_h) / 2
    boundary = F.greatest(
        F.lit(float(ring)) * F.least(cell_w, cell_h) - half_diag, F.lit(0.0)
    )

    # a doc with no index row has null cands: empty, hence unproven
    near = top_k(F.coalesce("cands", F.array().cast(cand_t))).alias("near")
    # `when` reads the kth entry only where it exists
    kth_ok = F.col("near")[k - 1]["dist_m"] <= boundary
    proven = F.when(F.size("near") >= k, kth_ok).otherwise(False)
    return (
        docs.where(F.col("lon").isNotNull())
        .select("doc_id", "lon", "lat", cell_encode_cols(F.col("lon"), F.col("lat"), res).alias("cell"))
        .join(F.broadcast(idx), "cell", "left")
        # `near` gets its own projection so the candidate sort runs once
        # per doc, not once per use below
        .select("doc_id", "lon", "lat", "cell", near)
        .select("doc_id", F.posexplode(F.when(proven, F.col("near")).otherwise(top_k(all_pois))))
        .select("doc_id", "col.poi_id", "col.dist_m", (F.col("pos") + 1).alias("rank"))
    )


def knn_join(
    docs: DataFrame,
    query_points: list[tuple[str, float, float]],
    k: int,
    res: int,
    lon_col: str = "lon",
    lat_col: str = "lat",
    doc_key: str = "url",
    max_rings: int = 64,
) -> DataFrame:
    """k nearest documents to each query point.

    ``query_points``: [(query_id, lon, lat)]. Returns
    (query_id, <doc_key>, dist_m, rank) with deterministic
    tie-breaking on (dist, doc_key).

    SCALE BOUNDARY: the ring-candidate list is built driver-side per
    query point (|Q| x disk(rings) rows through ``local_df`` +
    broadcast), which is right for interactive / few-hundred-query
    workloads only. For large query SETS use ``knn_table_join`` —
    the table-scale path where candidates come from a broadcast disk
    index and the corpus side never leaves the executors.
    """
    spark: SparkSession = docs.sparkSession
    docs_c = docs.where(F.col(lon_col).isNotNull())
    from georaster_spark.cells import cell_encode_cols

    docs_c = docs_c.withColumn("cell", cell_encode_cols(F.col(lon_col), F.col(lat_col), res))
    # cache: probed once per expansion round
    docs_c = docs_c.persist()
    try:
        qcells = {qid: cell_encode_py(lon, lat, res) for qid, lon, lat in query_points}
        pending = {qid: (lon, lat) for qid, lon, lat in query_points}
        rings = 1
        while True:
            cand_rows = [
                (qid, c, pending[qid][0], pending[qid][1])
                for qid in pending
                for c in cell_disk_py(qcells[qid], rings)
            ]
            cand_idx = local_df(
                spark, cand_rows, "query_id string, cell long, q_lon double, q_lat double"
            )
            cand = docs_c.join(F.broadcast(cand_idx), "cell")
            w = Window.partitionBy("query_id").orderBy(F.col("dist_m").asc(), F.col(doc_key).asc())
            topk = (
                cand.withColumn(
                    "dist_m",
                    haversine_cols(
                        F.col(lon_col), F.col(lat_col), F.col("q_lon"), F.col("q_lat")
                    ),
                )
                .withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= k)
                .select("query_id", doc_key, "dist_m", "rank")
            )
            # top-k is at most k rows per query — collect it ONCE and
            # derive both the convergence check and (when done) the
            # result from the same rows; returning `topk` directly
            # would recompute the whole candidate join at the caller's
            # first action.
            rows = topk.collect()
            got: dict[str, tuple[int, float]] = {}
            for r in rows:
                cnt, kth = got.get(r["query_id"], (0, 0.0))
                got[r["query_id"]] = (cnt + 1, max(kth, r["dist_m"]))
            done = all(
                qid in got
                and got[qid][0] >= k
                and got[qid][1] <= _disk_boundary_dist_m(qcells[qid], rings)
                for qid in pending
            )
            if done or rings >= max_rings:
                return local_df(spark, rows, topk.schema)
            rings *= 2
    finally:
        docs_c.unpersist()
