"""Pure-stdlib PMTiles v3 archive reader + writer.

The reference reads ``.pmtiles`` raster archives through the ``pmt``
crate (``/root/reference/src/pmtiles.rs:14-34``: open by path, look a
tile up by (z, x, y), decode the tile image). Its fixture
(``data/ch-nw.pmtiles``) is not shipped, so — as with the TIFF layer —
the format is implemented from the public PMTiles v3 spec
(github.com/protomaps/PMTiles, spec/v3) with ``struct``/``zlib`` only,
and fixtures are engine-written.

What's implemented (the raster-read surface the reference uses):

- 127-byte v3 header (magic, section offsets/lengths, tile counts,
  compression ids, tile type, zoom/bounds/center);
- Hilbert-curve tile ids (``zxy_to_tileid`` / ``tileid_to_zxy``);
- directory varint serialization (delta tile ids, run lengths,
  lengths, offset back-references) for root AND leaf directories;
- gzip / none internal compression; gzip / none tile compression;
- a writer that clusters tile data in tile-id order, deduplicates
  identical tile bytes, and spills to leaf directories past a root
  budget — so the reader's leaf path is testable.

Lookup semantics mirror ``src/pmtiles.rs:21-34``: a hit returns the
tile bytes; a miss (tile id outside every entry/run) returns ``None``
(the reference raises ``PmtError::InvalidEntry``; callers that need
error parity check for ``None``).

The Spark surface is ``tiles_df``: archives are read in the engine's
per-row Arrow stage (``session.map_rows``), the one the GeoTIFF and
WARC readers use, so the driver opens no archive and tile bytes never
shuffle.
"""

from __future__ import annotations

import gzip
import struct
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

MAGIC = b"PMTiles"
VERSION = 3
HEADER_SIZE = 127

COMPRESSION_NONE = 1
COMPRESSION_GZIP = 2

TILETYPE_UNKNOWN = 0
TILETYPE_PNG = 2


class PmtilesError(ValueError):
    """Malformed or unsupported PMTiles bytes."""


# ------------------------------------------------------------- tile ids
def zxy_to_tileid(z: int, x: int, y: int) -> int:
    """(z, x, y) → PMTiles tile id: cumulative tile count of all zooms
    below z, plus the Hilbert-curve index of (x, y) on the 2^z grid.
    """
    if z < 0 or not (0 <= x < (1 << z)) or not (0 <= y < (1 << z)):
        raise PmtilesError(f"tile coords out of range: z={z} x={x} y={y}")
    base = ((1 << (2 * z)) - 1) // 3  # sum of 4^i for i < z
    # xy → Hilbert d (iterative rotation, public-domain algorithm)
    rx = ry = 0
    d = 0
    s = 1 << (z - 1) if z > 0 else 0
    while s > 0:
        rx = 1 if (x & s) else 0
        ry = 1 if (y & s) else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s >>= 1
    return base + d


def tileid_to_zxy(tileid: int) -> tuple[int, int, int]:
    """Inverse of ``zxy_to_tileid``."""
    if tileid < 0:
        raise PmtilesError(f"negative tile id {tileid}")
    z = 0
    acc = 0
    while acc + (1 << (2 * z)) <= tileid:
        acc += 1 << (2 * z)
        z += 1
    d = tileid - acc
    x = y = 0
    s = 1
    n = 1 << z
    while s < n:
        rx = 1 & (d // 2)
        ry = 1 & (d ^ rx)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        x += s * rx
        y += s * ry
        d //= 4
        s <<= 1
    return z, x, y


# -------------------------------------------------------------- varints
def _write_varint(out: bytearray, v: int) -> None:
    while v >= 0x80:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)


def _read_varint(data: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    result = 0
    while True:
        if pos >= len(data):
            raise PmtilesError("truncated varint")
        b = data[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7
        if shift > 63:
            raise PmtilesError("varint overflow")


# ---------------------------------------------------------- directories
@dataclass(frozen=True)
class Entry:
    tile_id: int
    offset: int
    length: int
    run_length: int  # 0 ⇒ leaf-directory pointer


def serialize_directory(entries: list[Entry]) -> bytes:
    """Spec layout: count, delta tile ids, run lengths, lengths, then
    offsets where 0 encodes "previous offset + previous length" and
    anything else encodes offset + 1."""
    out = bytearray()
    _write_varint(out, len(entries))
    last = 0
    for e in entries:
        _write_varint(out, e.tile_id - last)
        last = e.tile_id
    for e in entries:
        _write_varint(out, e.run_length)
    for e in entries:
        _write_varint(out, e.length)
    for i, e in enumerate(entries):
        if i > 0 and e.offset == entries[i - 1].offset + entries[i - 1].length:
            _write_varint(out, 0)
        else:
            _write_varint(out, e.offset + 1)
    return bytes(out)


def deserialize_directory(data: bytes) -> list[Entry]:
    n, pos = _read_varint(data, 0)
    tile_ids = []
    last = 0
    for _ in range(n):
        delta, pos = _read_varint(data, pos)
        last += delta
        tile_ids.append(last)
    run_lengths = []
    for _ in range(n):
        v, pos = _read_varint(data, pos)
        run_lengths.append(v)
    lengths = []
    for _ in range(n):
        v, pos = _read_varint(data, pos)
        lengths.append(v)
    entries: list[Entry] = []
    for i in range(n):
        v, pos = _read_varint(data, pos)
        if v == 0:
            if i == 0:
                raise PmtilesError("first directory entry has no back-reference")
            off = entries[i - 1].offset + entries[i - 1].length
        else:
            off = v - 1
        entries.append(Entry(tile_ids[i], off, lengths[i], run_lengths[i]))
    if pos != len(data):
        raise PmtilesError("trailing bytes after directory")
    return entries


# -------------------------------------------------------------- header
@dataclass
class Header:
    root_offset: int
    root_length: int
    metadata_offset: int
    metadata_length: int
    leaf_offset: int
    leaf_length: int
    data_offset: int
    data_length: int
    n_addressed_tiles: int
    n_tile_entries: int
    n_tile_contents: int
    clustered: bool
    internal_compression: int
    tile_compression: int
    tile_type: int
    min_zoom: int
    max_zoom: int
    bounds_e7: tuple[int, int, int, int]  # min_lon, min_lat, max_lon, max_lat
    center_zoom: int
    center_e7: tuple[int, int]  # lon, lat

    def pack(self) -> bytes:
        return (
            MAGIC
            + struct.pack("<B", VERSION)
            + struct.pack(
                "<11Q",
                self.root_offset,
                self.root_length,
                self.metadata_offset,
                self.metadata_length,
                self.leaf_offset,
                self.leaf_length,
                self.data_offset,
                self.data_length,
                self.n_addressed_tiles,
                self.n_tile_entries,
                self.n_tile_contents,
            )
            + struct.pack(
                "<BBBBBB",
                1 if self.clustered else 0,
                self.internal_compression,
                self.tile_compression,
                self.tile_type,
                self.min_zoom,
                self.max_zoom,
            )
            + struct.pack("<4i", *self.bounds_e7)
            + struct.pack("<B", self.center_zoom)
            + struct.pack("<2i", *self.center_e7)
        )

    @classmethod
    def unpack(cls, data: bytes) -> "Header":
        if len(data) < HEADER_SIZE:
            raise PmtilesError("file shorter than the 127-byte header")
        if data[:7] != MAGIC:
            raise PmtilesError("not a PMTiles archive (bad magic)")
        if data[7] != VERSION:
            raise PmtilesError(f"unsupported PMTiles version {data[7]} (v3 only)")
        q = struct.unpack_from("<11Q", data, 8)
        b = struct.unpack_from("<BBBBBB", data, 96)
        bounds = struct.unpack_from("<4i", data, 102)
        (center_zoom,) = struct.unpack_from("<B", data, 118)
        center = struct.unpack_from("<2i", data, 119)
        return cls(
            root_offset=q[0], root_length=q[1],
            metadata_offset=q[2], metadata_length=q[3],
            leaf_offset=q[4], leaf_length=q[5],
            data_offset=q[6], data_length=q[7],
            n_addressed_tiles=q[8], n_tile_entries=q[9], n_tile_contents=q[10],
            clustered=bool(b[0]),
            internal_compression=b[1], tile_compression=b[2], tile_type=b[3],
            min_zoom=b[4], max_zoom=b[5],
            bounds_e7=tuple(bounds), center_zoom=center_zoom,
            center_e7=tuple(center),
        )


def _compress(data: bytes, method: int) -> bytes:
    if method == COMPRESSION_NONE:
        return data
    if method == COMPRESSION_GZIP:
        # mtime=0 → byte-stable fixtures
        return gzip.compress(data, compresslevel=6, mtime=0)
    raise PmtilesError(f"unsupported compression id {method}")


def _decompress(data: bytes, method: int) -> bytes:
    if method == COMPRESSION_NONE:
        return data
    if method == COMPRESSION_GZIP:
        return gzip.decompress(data)
    raise PmtilesError(f"unsupported compression id {method}")


# -------------------------------------------------------------- writer
def write_pmtiles(
    path: str,
    tiles: dict[tuple[int, int, int], bytes],
    tile_type: int = TILETYPE_PNG,
    tile_compression: int = COMPRESSION_NONE,
    internal_compression: int = COMPRESSION_GZIP,
    metadata_json: bytes = b"{}",
    max_root_entries: int = 256,
) -> None:
    """Write a clustered v3 archive. Identical tile bytes are stored
    once (``n_tile_contents`` < ``n_tile_entries``), and consecutive
    tile IDs with identical bytes share one entry whose ``run_length``
    counts them (the spec's run-length form, so ``n_tile_entries`` <
    ``n_addressed_tiles``); entries past ``max_root_entries`` spill into
    leaf directories so the reader's two-level path gets exercised by
    fixtures."""
    if not tiles:
        raise PmtilesError("refusing to write an empty archive")
    by_id = sorted((zxy_to_tileid(z, x, y), b) for (z, x, y), b in tiles.items())
    # cluster tile data in tile-id order, dedup identical contents
    data = bytearray()
    seen: dict[bytes, tuple[int, int]] = {}
    entries: list[Entry] = []
    for tid, blob in by_id:
        comp = _compress(blob, tile_compression)
        if comp in seen:
            off, ln = seen[comp]
        else:
            off, ln = len(data), len(comp)
            data.extend(comp)
            seen[comp] = (off, ln)
        last = entries[-1] if entries else None
        if last and last.tile_id + last.run_length == tid and (last.offset, last.length) == (off, ln):
            entries[-1] = Entry(last.tile_id, off, ln, last.run_length + 1)
        else:
            entries.append(Entry(tid, off, ln, 1))

    if len(entries) <= max_root_entries:
        root = _compress(serialize_directory(entries), internal_compression)
        leaves = b""
    else:
        # split into fixed-size leaves; root holds one pointer each
        root_entries: list[Entry] = []
        leaf_bytes = bytearray()
        for i in range(0, len(entries), max_root_entries):
            chunk = entries[i : i + max_root_entries]
            blob = _compress(serialize_directory(chunk), internal_compression)
            root_entries.append(
                Entry(chunk[0].tile_id, len(leaf_bytes), len(blob), 0)
            )
            leaf_bytes.extend(blob)
        root = _compress(serialize_directory(root_entries), internal_compression)
        leaves = bytes(leaf_bytes)

    meta = _compress(metadata_json, internal_compression)
    zooms = [z for (z, _x, _y) in tiles]
    root_offset = HEADER_SIZE
    metadata_offset = root_offset + len(root)
    leaf_offset = metadata_offset + len(meta)
    data_offset = leaf_offset + len(leaves)
    header = Header(
        root_offset=root_offset, root_length=len(root),
        metadata_offset=metadata_offset, metadata_length=len(meta),
        leaf_offset=leaf_offset, leaf_length=len(leaves),
        data_offset=data_offset, data_length=len(data),
        n_addressed_tiles=len(by_id),
        n_tile_entries=len(entries),
        n_tile_contents=len(seen),
        clustered=True,
        internal_compression=internal_compression,
        tile_compression=tile_compression,
        tile_type=tile_type,
        min_zoom=min(zooms), max_zoom=max(zooms),
        bounds_e7=(-1800000000, -850511287, 1800000000, 850511287),
        center_zoom=min(zooms), center_e7=(0, 0),
    )
    with open(path, "wb") as f:
        f.write(header.pack())
        f.write(root)
        f.write(meta)
        f.write(leaves)
        f.write(data)


# -------------------------------------------------------------- reader
def _find_entry(entries: list[Entry], tile_id: int) -> Entry | None:
    """Binary search honoring run lengths; on miss inside a gap,
    fall back to the nearest preceding leaf pointer (spec semantics:
    a leaf covers [its tile_id, next entry's tile_id))."""
    lo, hi = 0, len(entries) - 1
    best_leaf: Entry | None = None
    while lo <= hi:
        mid = (lo + hi) // 2
        e = entries[mid]
        if tile_id < e.tile_id:
            hi = mid - 1
        else:
            if e.run_length == 0:
                best_leaf = e
                lo = mid + 1
            elif tile_id < e.tile_id + e.run_length:
                return e
            else:
                lo = mid + 1
    return best_leaf


class PmtilesReader:
    """Random-access tile lookup over a v3 archive — the engine twin
    of ``PmtilesRasterReader::open`` + ``get_tile``
    (``src/pmtiles.rs:14-34``)."""

    def __init__(self, path: str):
        self.path = path
        # ONE handle for the reader's lifetime: a tile lookup does
        # 2-3 ranged reads (root/leaf/data) and a scan does thousands
        # per archive — per-read open/close would dominate at lake
        # scale. CPython refcounting closes it promptly when the
        # reader drops; ``close()``/``with`` for deterministic cleanup.
        self._f = open(path, "rb")
        head = self._f.read(HEADER_SIZE)
        self.header = Header.unpack(head)
        self.root = deserialize_directory(
            _decompress(
                self._read(self.header.root_offset, self.header.root_length),
                self.header.internal_compression,
            )
        )

    def close(self) -> None:
        self._f.close()

    def __enter__(self) -> "PmtilesReader":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def _read(self, offset: int, length: int) -> bytes:
        self._f.seek(offset)
        data = self._f.read(length)
        if len(data) != length:
            raise PmtilesError("truncated archive section")
        return data

    def metadata(self) -> bytes:
        return _decompress(
            self._read(self.header.metadata_offset, self.header.metadata_length),
            self.header.internal_compression,
        )

    def _leaf(self, e: Entry) -> list[Entry]:
        """The entries of the leaf directory ``e`` points at."""
        return deserialize_directory(
            _decompress(
                self._read(self.header.leaf_offset + e.offset, e.length),
                self.header.internal_compression,
            )
        )

    def entries(self) -> list[Entry]:
        """All tile entries (leaves resolved) in tile-id order —
        drives the distributed scan plan."""
        out: list[Entry] = []
        for e in self.root:
            out.extend(self._leaf(e) if e.run_length == 0 else [e])
        return out

    def tile_data(self, e: Entry) -> bytes:
        """The tile bytes a (non-leaf) entry points at — the one
        tile-data read of ``get_tile`` and ``tiles_df``."""
        return _decompress(
            self._read(self.header.data_offset + e.offset, e.length),
            self.header.tile_compression,
        )

    def get_tile(self, z: int, x: int, y: int) -> bytes | None:
        """Tile bytes, or ``None`` for a missing tile (the reference
        raises ``InvalidEntry``, ``src/pmtiles.rs:28``)."""
        tile_id = zxy_to_tileid(z, x, y)
        entries = self.root
        for _depth in range(3):  # spec guarantees ≤ 2 directory levels
            e = _find_entry(entries, tile_id)
            if e is None:
                return None
            if e.run_length == 0:
                entries = self._leaf(e)
                continue
            return self.tile_data(e)
        raise PmtilesError("directory nesting exceeds spec depth")


# ----------------------------------------------------- scalar parity API
def decode_tile(blob: bytes):
    """Per-tile format sniff + decode — the engine twin of the
    reference's ``ImageReader::with_guessed_format().decode()``
    (``src/pmtiles.rs:30-32``), which trusts tile BYTES, not the
    archive's ``tile_type`` header field. PNG decodes through
    ``sources/png.py``; WebP (lossless VP8L, and lossy VP8 through
    ``sources/vp8.py``) through ``sources/webp.py``. Anything else
    raises ``PmtilesError`` like the reference's ``ImageError``
    surface."""
    if blob[:8] == b"\x89PNG\r\n\x1a\n":
        from georaster_spark.sources.png import decode_png

        return decode_png(blob)
    if blob[:4] == b"RIFF" and blob[8:12] == b"WEBP":
        from georaster_spark.sources.webp import decode_webp

        return decode_webp(blob)
    raise PmtilesError(
        "unsupported tile format (PNG and WebP (lossless or lossy) tile bytes are "
        "decodable; the reference guesses per tile the same way, "
        "src/pmtiles.rs:30-32)"
    )


def round_half_away(x):
    """Rust ``f64::round()``, elementwise over a float or an array:
    half away from zero, exact for every double, as DuckDB's
    ``round(x, 0)``. Python ``round`` and ``np.round`` are half-to-even
    and disagree at exact .5; ``floor(x + 0.5)`` errs where ``x + 0.5``
    itself rounds (just below 0.5, and past 2**52). Returns floats."""
    a = np.abs(x)
    f = np.floor(a)
    return np.copysign(f + (a - f >= 0.5), x)


def _tile_bands(arr) -> list:
    """A decoded tile's ``r``, ``g``, ``b`` planes, plus its alpha
    plane when it has one: grey ``(h, w)`` and grey+alpha
    ``(h, w, 2)`` tiles give ``r = g = b = v``, and an alpha plane
    stays last as RGBA's does."""
    if arr.ndim == 2:
        arr = arr[:, :, None]
    planes = [arr[:, :, c] for c in range(arr.shape[2])]
    if len(planes) <= 2:
        planes = planes[:1] * 3 + planes[1:]
    return planes


def get_pixel_at(reader: PmtilesReader, z: int, lon: float, lat: float):
    """World coordinate → (r, g, b[, a]) through the tile pyramid —
    the engine twin of ``get_pixel_at`` (``src/pmtiles.rs:37-51``):
    ``tms.tile`` (floor web-mercator tiling), tile fetch, PNG decode,
    per-tile linear transform with top-origin y and ``.round()``
    snapping (``coord_to_pixel``, ``:53-69``). ``None`` for a missing
    tile (the reference raises ``InvalidEntry``)."""
    from georaster_spark import cells

    x, y = cells.tile_xy(lon, lat, z)
    blob = reader.get_tile(z, x, y)
    if blob is None:
        return None
    arr = decode_tile(blob)
    h, w = arr.shape[:2]
    lon0, lat0, lon1, lat1 = cells.cell_bounds(cells.zxy_to_cell(z, x, y))
    psx = (lon1 - lon0) / w
    psy = (lat1 - lat0) / h
    # Rust f64::round() rounds half AWAY FROM ZERO; Python round() is
    # banker's — they diverge on exact .5 offsets (reachable: tile
    # bounds and pixel sizes are exact binary fractions)
    px = int(round_half_away((lon - lon0) / psx))
    py = int(round_half_away((lat1 - lat) / psy))
    if not (0 <= px < w and 0 <= py < h):
        return None
    return tuple(int(band[py, px]) for band in _tile_bands(arr))


def terrarium_height_py(r: int, g: int, b: int) -> float:
    """Scalar terrarium decode — exact text of ``src/lib.rs:125-127``."""
    return (r * 256.0 + g + b / 255.0) - 32768.0


# ----------------------------------------------------- distributed scan
_TILE_SCHEMA = (
    "archive string, z long, x long, y long, cell long, width long, height long, "
    "sum_r long, sum_g long, sum_b long, r array<int>, g array<int>, b array<int>"
)


def tiles_df(spark, paths):
    """Archive paths → one row per tile, the XYZ tile row that
    ``raster.xyz_lookup`` reads: ``(archive, z, x, y, cell, width,
    height, sum_r, sum_g, sum_b, r, g, b)`` with ``cell =
    zxy_to_cell(z, x, y)`` and row-major ``array<int>`` bands (pixel
    (px, py) at ``py * width + px``).

    One ``session.map_rows`` stage over ``session.paths_df(spark,
    paths)``: per archive, one ``PmtilesReader`` walks the directory,
    and each entry's bytes are read and decoded once (``decode_tile``)
    and emitted for every tile of its run, with the band sums of that
    decode. Tile bytes never shuffle.

    ``paths``: list of path strings, or a DataFrame with a ``path``
    column (the scale form)."""
    from georaster_spark.cells import zxy_to_cell
    from georaster_spark.session import map_rows, paths_df

    def entry_batches(archive: str, e: Entry, arr, schema: pa.Schema):
        """One row per tile of ``e``'s run, all from its one decode
        ``arr``; the band arrays are built once and shared."""
        h, w = arr.shape[:2]
        bands = [p.astype(np.int32).ravel() for p in _tile_bands(arr)[:3]]
        sums = [int(v.sum()) for v in bands]
        offsets = pa.array([0, h * w], pa.int32())
        lists = [
            pa.ListArray.from_arrays(offsets, v, type=schema.field(b).type)
            for v, b in zip(bands, "rgb")
        ]
        for tile_id in range(e.tile_id, e.tile_id + e.run_length):
            z, x, y = tileid_to_zxy(tile_id)
            row = [archive, z, x, y, zxy_to_cell(z, x, y), w, h, *sums]
            yield pa.RecordBatch.from_arrays(
                [pa.array([v], f.type) for v, f in zip(row, schema)] + lists, schema=schema
            )

    def batches_of(row, schema):
        with PmtilesReader(row["path"]) as rd:
            for e in rd.entries():
                yield from entry_batches(row["path"], e, decode_tile(rd.tile_data(e)), schema)

    return map_rows(paths_df(spark, paths), batches_of, _TILE_SCHEMA)


def tile_stats_df(spark, paths, anchor_px: int, anchor_py: int):
    """Per-tile decode stats as a projection of ``tiles_df``: size,
    band sums and the bands of pixel ``(anchor_px, anchor_py)``, NULL
    where that pixel lies outside the tile."""
    from pyspark.sql import functions as F

    w, h = F.col("width"), F.col("height")
    inside = (w > anchor_px) & (h > anchor_py)
    return tiles_df(spark, paths).select(
        "archive", "z", "x", "y", "width", "height", (w * h).alias("n_px"),
        "sum_r", "sum_g", "sum_b",
        *(
            F.when(inside, F.col(b)[anchor_py * w + anchor_px].cast("long")).alias(f"anchor_{b}")
            for b in "rgb"
        ),
    )
