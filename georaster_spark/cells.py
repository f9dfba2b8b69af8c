"""Hierarchical spatial cell index — WebMercatorQuad tiles, H3-style API.

The cell scheme is the same ``WebMercatorQuad`` tile-matrix-set the
reference uses for PMTiles (``src/pmtiles.rs:15``): at resolution
(zoom) ``z`` the world is a 2^z × 2^z grid in web-mercator space,
``x`` west→east, ``y`` north→south (top origin — the y-flip of
``src/pmtiles.rs:53-69``). Golden anchor: zoom 12 tile (2128, 1438)
contains lon/lat (7.059309, 47.133037) (``src/pmtiles.rs:96-103``).

Cell id packing (pure arithmetic, so the SAME formula runs as a Spark
Column expression, DuckDB oracle SQL, and scalar Python):

    cell = z * 4^29  +  x * 2^29  +  y          (z ≤ 29)

Arithmetic packing keeps parent/children/ring as integer math and
keeps every oracle SQL-expressible. A Z-order (Morton) variant is
provided separately for locality-preserving sort/partition keys.

The hot path is the pure-Column form (JVM, whole-stage codegen); the
tests check it against the scalar one.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_LAT = 85.05112878  # web-mercator latitude clamp
_ZSHIFT = 1 << 58  # z * 4^29
_XSHIFT = 1 << 29


# ---------------------------------------------------------------- scalar
def tile_xy(lon: float, lat: float, z: int) -> tuple[int, int]:
    """Slow scalar oracle (tests compare the vectorized paths to this)."""
    lat = min(max(lat, -MAX_LAT), MAX_LAT)
    n = 1 << z
    xt = int(math.floor((lon + 180.0) / 360.0 * n))
    lat_rad = math.radians(lat)
    yt = int(math.floor((1.0 - math.log(math.tan(lat_rad) + 1.0 / math.cos(lat_rad)) / math.pi) / 2.0 * n))
    return min(max(xt, 0), n - 1), min(max(yt, 0), n - 1)


def cell_encode_py(lon: float, lat: float, z: int) -> int:
    x, y = tile_xy(lon, lat, z)
    return z * _ZSHIFT + x * _XSHIFT + y


def cell_to_zxy(cell: int) -> tuple[int, int, int]:
    z, rest = divmod(cell, _ZSHIFT)
    x, y = divmod(rest, _XSHIFT)
    return z, x, y


def zxy_to_cell(z: int, x: int, y: int) -> int:
    return z * _ZSHIFT + x * _XSHIFT + y


def cell_parent_py(cell: int) -> int:
    z, x, y = cell_to_zxy(cell)
    if z == 0:
        raise ValueError("zoom-0 cell has no parent")
    return zxy_to_cell(z - 1, x // 2, y // 2)


def cell_children_py(cell: int) -> list[int]:
    z, x, y = cell_to_zxy(cell)
    return [zxy_to_cell(z + 1, 2 * x + dx, 2 * y + dy) for dy in (0, 1) for dx in (0, 1)]


def cell_ring_py(cell: int, k: int) -> list[int]:
    """All cells at Chebyshev distance exactly k (k=0 → the cell itself).

    X wraps around the antimeridian; y is clamped at the poles.
    Drives kNN ring expansion (SURVEY.md E6).
    """
    z, x, y = cell_to_zxy(cell)
    n = 1 << z
    if k == 0:
        return [cell]
    out = []
    for dy in range(-k, k + 1):
        yy = y + dy
        if yy < 0 or yy >= n:
            continue
        dxs = range(-k, k + 1) if abs(dy) == k else (-k, k)
        for dx in dxs:
            out.append(zxy_to_cell(z, (x + dx) % n, yy))
    return sorted(set(out))


def cell_disk_py(cell: int, k: int) -> list[int]:
    """All cells at Chebyshev distance ≤ k."""
    out: set[int] = set()
    for i in range(k + 1):
        out.update(cell_ring_py(cell, i))
    return sorted(out)


def cell_bounds(cell: int) -> tuple[float, float, float, float]:
    """(lon_min, lat_min, lon_max, lat_max) of a cell.

    Mirrors the per-tile bounds the reference derives from the TMS
    (``src/pmtiles.rs:45``); note the top-origin y (lat_max at y=0).
    The expression text of the oracle's ``tile_bounds_sql``, in scalar
    ``math``, so both give the same doubles: sinh is spelled
    ``(exp(t) - exp(-t)) / 2.0`` because DuckDB 1.0 has no ``sinh``
    (``math.sinh`` differs in the last bit on 360 of the 816 XYZ
    fixture tiles, and a NumPy spelling of this text on 312).
    """
    z, x, y = cell_to_zxy(cell)
    n = float(1 << z)

    def lon_of(xi: int) -> float:
        return float(xi) / n * 360.0 - 180.0

    def lat_of(yi: int) -> float:
        t = math.pi * (1.0 - 2.0 * float(yi) / n)
        return math.degrees(math.atan((math.exp(t) - math.exp(-t)) / 2.0))

    return lon_of(x), lat_of(y + 1), lon_of(x + 1), lat_of(y)


# ------------------------------------------------------- Column exprs
def cell_encode_cols(lon: Column, lat: Column, z: int) -> Column:
    """Cell encode as pure Column algebra — JVM-side, codegen'd.

    This is the default hot path: faster than any UDF because it
    stays inside WholeStageCodegen and never crosses into Python.
    Python scalars go straight to the Column operators (the same
    literals as ``F.lit``, built without a JVM round trip each).
    """
    n = 1 << z
    lat_c = F.least(F.greatest(lat, F.lit(-MAX_LAT)), F.lit(MAX_LAT))
    xt = F.floor((lon + 180.0) / 360.0 * float(n))
    lat_r = F.radians(lat_c)
    yt = F.floor((1.0 - F.log(F.tan(lat_r) + 1.0 / F.cos(lat_r)) / math.pi) / 2.0 * float(n))
    xt = F.least(F.greatest(xt, F.lit(0)), F.lit(n - 1)).cast("long")
    yt = F.least(F.greatest(yt, F.lit(0)), F.lit(n - 1)).cast("long")
    return F.lit(z).cast("long") * _ZSHIFT + xt * _XSHIFT + yt


def cell_parent_cols(cell: Column) -> Column:
    z = (cell / F.lit(_ZSHIFT)).cast("long")
    rest = cell % F.lit(_ZSHIFT)
    x = (rest / F.lit(_XSHIFT)).cast("long")
    y = rest % F.lit(_XSHIFT)
    return (z - 1) * F.lit(_ZSHIFT) + (x / 2).cast("long") * F.lit(_XSHIFT) + (y / 2).cast("long")


def cell_zxy_cols(cell: Column) -> tuple[Column, Column, Column]:
    z = (cell / F.lit(_ZSHIFT)).cast("long")
    rest = cell % F.lit(_ZSHIFT)
    return z, (rest / F.lit(_XSHIFT)).cast("long"), rest % F.lit(_XSHIFT)


def morton_key_cols(cell: Column) -> Column:
    """Z-order (Morton) interleave of (x, y) for locality-preserving
    sort/range-partition keys. 16 bit-pairs cover z ≤ 16 (enough for
    any partitioning key; NOT the cell identity — just a sort key).
    """
    _, x, y = cell_zxy_cols(cell)
    key = F.lit(0).cast("long")
    for i in range(16):
        key = (
            key
            + F.shiftleft((F.shiftright(x, i) % 2).cast("int"), 2 * i + 1).cast("long")
            + F.shiftleft((F.shiftright(y, i) % 2).cast("int"), 2 * i).cast("long")
        )
    return key


# --------------------------------------------------------- oracle SQL
def cell_encode_sql(lon_expr: str, lat_expr: str, z: int) -> str:
    """The SAME encode formula as ANSI SQL for the DuckDB oracle."""
    n = 1 << z
    lat_c = f"least(greatest({lat_expr}, {-MAX_LAT}), {MAX_LAT})"
    xt = f"least(greatest(floor(({lon_expr} + 180.0) / 360.0 * {n}), 0), {n - 1})"
    yt = (
        f"least(greatest(floor((1.0 - ln(tan(radians({lat_c})) + 1.0/cos(radians({lat_c})))"
        f" / pi()) / 2.0 * {n}), 0), {n - 1})"
    )
    return f"(CAST({z} AS BIGINT) * {_ZSHIFT} + CAST({xt} AS BIGINT) * {_XSHIFT} + CAST({yt} AS BIGINT))"


def cell_zxy_sql(cell_expr: str) -> tuple[str, str, str]:
    """(z, x, y) SQL fragments from a packed cell id."""
    return (
        f"(({cell_expr}) // {_ZSHIFT})",
        f"(({cell_expr}) % {_ZSHIFT} // {_XSHIFT})",
        f"(({cell_expr}) % {_XSHIFT})",
    )


def tile_bounds_sql(x_expr: str, y_expr: str, z: int) -> tuple[str, str, str, str]:
    """(lon_min, lat_min, lon_max, lat_max) SQL — the exact expression
    text of ``cell_bounds`` so the oracle and the engine compute
    identical doubles."""
    n = float(1 << z)

    def lon_of(xx: str) -> str:
        return f"(CAST({xx} AS DOUBLE) / {n!r} * 360.0 - 180.0)"

    def lat_of(yy: str) -> str:
        t = f"(pi() * (1.0 - 2.0 * CAST({yy} AS DOUBLE) / {n!r}))"
        return f"degrees(atan((exp({t}) - exp(-{t})) / 2.0))"

    return (
        lon_of(x_expr),
        lat_of(f"(({y_expr}) + 1)"),
        lon_of(f"(({x_expr}) + 1)"),
        lat_of(y_expr),
    )
