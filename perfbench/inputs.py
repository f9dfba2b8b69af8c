"""Seeded inputs and the independent answers the outputs are checked
against (DuckDB SQL and NumPy; neither runs through Spark).

The seed chooses the document-id offset, the POIs and the raster
values. Document coordinates follow the closed-form geocode rule of
``datagen`` (20% of docs pinned to a hot cell), so the oracle derives
them from the ids alone.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

from georaster_spark import cells
from georaster_spark.datagen import (
    XYZ_TILE_SIZE,
    XYZ_Z,
    geocode_np,
    geocode_sql,
    polygon_rects_sql,
    xyz_tile_pixels_sql,
)
from georaster_spark.functions.geo import haversine_np

SIZES = {
    "full": {
        "join_docs": 1_000_000,
        "knn_every": 8,
        "raster_px": 512,
        "xyz_docs": 50_000,
        "ingest_docs": 100_000,
        "parts": 16,
    },
    "smoke": {
        "join_docs": 20_000,
        "knn_every": 8,
        "raster_px": 256,
        "xyz_docs": 5_000,
        "ingest_docs": 10_000,
        "parts": 4,
    },
}

JOIN_RES = 11  # cell resolution of the polygon cover (flagship default)
KNN_RES, KNN_RING, KNN_K, N_POIS = 11, 3, 3, 40
KNN_SAMPLE = 64
RASTER_STRIP = 64
RETILE = 300  # re-tile size: not a divisor of the raster, so edge tiles pad


@dataclass(frozen=True)
class Inputs:
    size: dict
    doc_offset: int
    pois: list[tuple[str, float, float]]
    raster: np.ndarray  # (h, w) uint16
    window: tuple[int, int, int, int]  # x0, y0, w, h


def make_inputs(seed: int, size_name: str) -> Inputs:
    size = SIZES[size_name]
    rng = np.random.default_rng(seed)
    offset = int(rng.integers(0, 10**9))
    plon = rng.uniform(7.0, 9.0, N_POIS)
    plat = rng.uniform(45.0, 47.0, N_POIS)
    pois = [(f"poi{i:02d}", float(plon[i]), float(plat[i])) for i in range(N_POIS)]
    n = size["raster_px"]
    y, x = np.mgrid[0:n, 0:n]
    fx, fy, px, py = rng.uniform(40, 120), rng.uniform(40, 120), *rng.uniform(0, 6.3, 2)
    terrain = 3000 + 900 * np.sin(x / fx + px) + 700 * np.cos(y / fy + py)
    raster = (terrain + rng.integers(0, 48, (n, n))).astype(np.uint16)
    wx, wy = (int(v) for v in rng.integers(0, n // 2, 2))
    return Inputs(size, offset, pois, raster, (wx, wy, n // 3, n // 4))


def overview_of(arr: np.ndarray) -> np.ndarray:
    """2x2 max pyramid level (the raster side is even)."""
    h, w = arr.shape
    return arr.reshape(h // 2, 2, w // 2, 2).max(axis=(1, 3))


def weighted_sum(arr: np.ndarray) -> int:
    """Position-weighted pixel checksum; ``weighted_sum_col`` in the
    workloads computes the same sum in Spark."""
    y, x = np.mgrid[0 : arr.shape[0], 0 : arr.shape[1]]
    return int((arr.astype(np.int64) * ((x * 31 + y * 17) % 1009 + 1)).sum())


# ----------------------------------------------------------- oracle


class Oracle:
    """Expected outputs per workload, computed once per seed."""

    def __init__(self, inp: Inputs):
        import duckdb

        self.inp = inp
        self.db = duckdb.connect()
        self.db.execute(f"SET threads TO {os.cpu_count() or 1}")  # runs before Spark starts

    def close(self) -> None:
        self.db.close()

    def _docs_cte(self, n: int) -> str:
        lon, lat = geocode_sql("doc_id")
        off = self.inp.doc_offset
        return (
            f"d AS (SELECT doc_id, {lon} AS lon, {lat} AS lat FROM "
            f"(SELECT range AS doc_id FROM range({off}, {off + n})))"
        )

    def join(self, n: int) -> tuple[dict, dict]:
        """(per-polygon (count, sum doc_id), per-cell match count) for
        the first ``n`` docs: point-in-polygon as point-in-any-rect of
        each polygon's exact rectangle decomposition."""
        self.db.execute(f"""
        CREATE OR REPLACE TEMP TABLE m AS
        WITH {self._docs_cte(n)}
        SELECT DISTINCT d.doc_id, d.lon, d.lat, polyrects.poly_id
        FROM d JOIN {polygon_rects_sql()}
        ON d.lon > polyrects.xmin AND d.lon < polyrects.xmax
        AND d.lat > polyrects.ymin AND d.lat < polyrects.ymax
        """)
        per_poly = {
            pid: (int(c), int(s))
            for pid, c, s in self.db.execute(
                "SELECT poly_id, count(*), sum(doc_id) FROM m GROUP BY poly_id"
            ).fetchall()
        }
        cell = cells.cell_encode_sql("lon", "lat", JOIN_RES)
        per_cell = {
            int(c): int(k)
            for c, k in self.db.execute(
                f"SELECT {cell} AS cell, count(*) FROM m GROUP BY cell"
            ).fetchall()
        }
        return per_poly, per_cell

    def knn_sample_ids(self, n: int) -> list[int]:
        every = self.inp.size["knn_every"]
        off = self.inp.doc_offset
        first = off + (-off) % every
        ids = list(range(first, off + n, every))
        step = max(1, len(ids) // KNN_SAMPLE)
        return ids[::step][:KNN_SAMPLE]

    def knn(self, ids: list[int]) -> dict[int, list[tuple[str, float]]]:
        """Brute-force top-k POIs per doc, ties broken on poi id."""
        lon, lat = geocode_np(np.asarray(ids, dtype=np.int64))
        pid = [p[0] for p in self.inp.pois]
        plon = np.array([p[1] for p in self.inp.pois])
        plat = np.array([p[2] for p in self.inp.pois])
        dist = haversine_np(lon[:, None], lat[:, None], plon[None, :], plat[None, :])
        out = {}
        for i, doc in enumerate(ids):
            order = sorted(range(len(pid)), key=lambda j: (dist[i, j], pid[j]))
            out[doc] = [(pid[j], float(dist[i, j])) for j in order[:KNN_K]]
        return out

    def xyz(self, n: int) -> tuple[int, int, int]:
        """(hits, sum doc_id, sum height in micrometres) of the XYZ
        tile lookup — the ``sql_xyz_lookup`` oracle over the seeded docs."""
        z, ts = XYZ_Z, float(XYZ_TILE_SIZE)
        cell = cells.cell_encode_sql("lon", "lat", z)
        _, xe, ye = cells.cell_zxy_sql("cell")
        lon0, lat0, lon1, lat1 = cells.tile_bounds_sql(xe, ye, z)
        px = f"CAST(round((lon - {lon0}) / (({lon1} - {lon0}) / {ts!r}), 0) AS INT)"
        py = f"CAST(round(({lat1} - lat) / (({lat1} - {lat0}) / {ts!r}), 0) AS INT)"
        row = self.db.execute(
            f"""
            WITH {self._docs_cte(n)},
            pts AS (SELECT doc_id, lon, lat, {cell} AS cell FROM d),
            loc AS (SELECT doc_id, cell, {px} AS px, {py} AS py FROM pts),
            tp AS ({xyz_tile_pixels_sql()})
            SELECT count(*), sum(doc_id),
                   sum(CAST(round(((r * 256.0 + g + b / 255.0) - 32768.0) * 1000000.0, 0)
                            AS BIGINT))
            FROM loc JOIN tp USING (cell, px, py)
            """
        ).fetchone()
        return int(row[0]), int(row[1] or 0), int(row[2] or 0)
