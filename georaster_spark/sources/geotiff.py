"""Real GeoTIFF/COG byte ingestion — stdlib-only (struct + zlib).

This is the engine's R1 surface over ACTUAL file bytes, replacing the
spec-synthesized fixtures for ingestion paths: TIFF header parse, IFD
walk, GeoTIFF tag extraction and strip/tile chunk decode, mirroring
the reference reader's semantics (``src/geotiff.rs:44-81`` open/IFD
walk, ``:103-117`` origin/pixel_size rules, ``:255-289`` chunk
decode routing) without translating its implementation: here the
decode step is a NumPy kernel inside one Spark Arrow stage.

Spark-first architecture (scales to a 100 TB COG lake): every stage
below is one ``session.map_rows`` call, the per-row Arrow stage that
the PMTiles and WARC readers use too, over a *paths* table (a driver
list as a ``LocalTableScan``, or a file-catalog DataFrame;
``session.paths_df``).

1. ``chunk_plan_df`` and ``file_meta_df``: each path row reads ONLY
   header/IFD bytes (seek-based ranged reads — never the payload) and
   emits one row per strip/tile chunk (``(path, raster_id,
   image_idx, chunk, band, x0, y0, w, h, offset, nbytes, ...)``) or
   one metadata row per IFD. Millions of files ⇒ still one small row
   per chunk, fully distributed. The chunk plan is a public call of
   its own, not a stage of the decode.
2. ``pixels_df`` and ``decimal_pixels_df``: one stage over ``(path,
   k, n)`` rows. Each row walks the file's header as
   ``chunk_plan_df`` does, then does a ranged read of every n-th
   chunk's payload from the k-th, inflates it (zlib for
   Deflate/OldDeflate, LZW), wraps it in NumPy, clips grid padding,
   and hands the ``(h, w, spp)`` array to ``_pixel_batch``, the
   engine's one chunk→pixel explode, which ``raster.tiles_to_pixels``
   calls too (DOUBLE values, or DECIMAL(20,0) from the native integer
   samples). ``n`` tasks per file is how one giant COG spreads over
   the cluster; neither blobs nor chunk rows shuffle, only decoded
   values leave the kernel.

Supported (⊇ the reference fixture matrix, ``tests/geotiff.rs``):
classic TIFF and BigTIFF (II/MM, magic 42/43), strips + tiles,
PlanarConfiguration chunky|planar, Compression
none|Deflate|OldDeflate|LZW, Predictor 1|2 (integer horizontal
differencing) |3 (TechNote-3 floating-point byte-plane
differencing), GDAL sparse chunks and GDAL_NODATA, sample types
u8/u16/u32/u64/i8/i16/i32/i64/f32/f64. Palette rasters raise (the
reference doesn't support them either, ``tests/geotiff.rs:307-308``).
"""

from __future__ import annotations

import os
import struct
import zlib
from dataclasses import dataclass, field

import numpy as np

from georaster_spark.grid import RasterGeometry

# ---------------------------------------------------------------- tags

TAG_WIDTH = 256
TAG_HEIGHT = 257
TAG_BITS_PER_SAMPLE = 258
TAG_COMPRESSION = 259
TAG_PHOTOMETRIC = 262
TAG_STRIP_OFFSETS = 273
TAG_SAMPLES_PER_PIXEL = 277
TAG_ROWS_PER_STRIP = 278
TAG_STRIP_BYTE_COUNTS = 279
TAG_PLANAR_CONFIG = 284
TAG_PREDICTOR = 317
TAG_TILE_WIDTH = 322
TAG_TILE_LENGTH = 323
TAG_TILE_OFFSETS = 324
TAG_TILE_BYTE_COUNTS = 325
TAG_SAMPLE_FORMAT = 339
TAG_MODEL_PIXEL_SCALE = 33550
TAG_MODEL_TIEPOINT = 33922
TAG_MODEL_TRANSFORMATION = 34264
TAG_GEO_KEY_DIRECTORY = 34735
TAG_GEO_DOUBLE_PARAMS = 34736
TAG_GEO_ASCII_PARAMS = 34737
TAG_GDAL_NODATA = 42113

COMPRESSION_NONE = 1
COMPRESSION_LZW = 5
COMPRESSION_DEFLATE = 8
COMPRESSION_OLD_DEFLATE = 32946
PHOTOMETRIC_PALETTE = 3


# --------------------------------------------------------- LZW codec
# TIFF6 §13 LZW: MSB-first bit packing, ClearCode=256, EOI=257,
# 9->12 bit codes with EARLY change (width grows one code before the
# table actually fills: at 510/1022/2046), dictionary reset at 4094.
# Pure stdlib; runs per-chunk inside the decode kernel.

_LZW_CLEAR, _LZW_EOI = 256, 257


def lzw_decode(data: bytes) -> bytes:
    out = bytearray()
    table: list[bytes] = []
    code_bits = next_code = 0
    prev: bytes | None = None

    def reset():
        nonlocal table, code_bits, next_code, prev
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        code_bits, next_code, prev = 9, 258, None

    reset()
    buf = nbits = 0
    for byte in data:
        buf = (buf << 8) | byte
        nbits += 8
        while nbits >= code_bits:
            nbits -= code_bits
            code = (buf >> nbits) & ((1 << code_bits) - 1)
            if code == _LZW_CLEAR:
                reset()
                continue
            if code == _LZW_EOI:
                return bytes(out)
            if prev is None:
                entry = table[code]
            elif code < next_code:
                entry = table[code]
                table.append(prev + entry[:1])
                next_code += 1
            elif code == next_code:  # KwKwK
                entry = prev + prev[:1]
                table.append(entry)
                next_code += 1
            else:
                raise ValueError(f"LZW: code {code} beyond table {next_code}")
            # early change, decoder side: the decoder's table lags
            # the encoder's by one add (the first code after CLEAR
            # adds nothing), so it must widen one entry sooner
            if next_code == (1 << code_bits) - 2 and code_bits < 12:
                code_bits += 1
            out += entry
            prev = entry
        buf &= (1 << nbits) - 1
    return bytes(out)


def lzw_encode(data: bytes) -> bytes:
    out = bytearray()
    buf = nbits = 0

    def emit(code, bits):
        nonlocal buf, nbits
        buf = (buf << bits) | code
        nbits += bits
        while nbits >= 8:
            nbits -= 8
            out.append((buf >> nbits) & 0xFF)
        buf &= (1 << nbits) - 1

    # The code WIDTH is driven by a simulated DECODER table counter,
    # not the encoder's: the decoder adds one entry per received code
    # except the first after CLEAR, so it lags the encoder by one —
    # UNTIL the final flush emit (which has no encoder-side add),
    # where it catches up. Tracking dec_next exactly keeps the widths
    # in lockstep at that boundary too (an encoder-counter rule
    # mis-widths the EOI when the flush add lands on 510/1022/2046 —
    # found by the hypothesis round-trip test).
    table: dict[bytes, int] = {}
    code_bits = enc_next = dec_next = 0
    first_after_clear = True

    def reset():
        nonlocal table, code_bits, enc_next, dec_next, first_after_clear
        table = {bytes([i]): i for i in range(256)}
        code_bits, enc_next, dec_next = 9, 258, 258
        first_after_clear = True

    def dec_account():
        # mirror of the decoder's post-code bookkeeping
        nonlocal dec_next, code_bits, first_after_clear
        if first_after_clear:
            first_after_clear = False
            return
        dec_next += 1
        if dec_next == (1 << code_bits) - 2 and code_bits < 12:
            code_bits += 1  # early change
    reset()
    emit(_LZW_CLEAR, code_bits)
    w = b""
    for b in data:
        wc = w + bytes([b])
        if wc in table:
            w = wc
            continue
        emit(table[w], code_bits)
        dec_account()
        table[wc] = enc_next
        enc_next += 1
        if enc_next > 4093:  # reset before the table overflows
            emit(_LZW_CLEAR, code_bits)
            reset()
        w = bytes([b])
    if w:
        emit(table[w], code_bits)
        dec_account()
    emit(_LZW_EOI, code_bits)
    if nbits:
        out.append((buf << (8 - nbits)) & 0xFF)
    return bytes(out)

# TIFF field types: code -> (byte size, struct letter)
_FIELD = {
    1: (1, "B"),  # BYTE
    2: (1, "s"),  # ASCII
    3: (2, "H"),  # SHORT
    4: (4, "I"),  # LONG
    5: (8, "II"),  # RATIONAL (2x LONG)
    6: (1, "b"),  # SBYTE
    7: (1, "B"),  # UNDEFINED
    8: (2, "h"),  # SSHORT
    9: (4, "i"),  # SLONG
    10: (8, "ii"),  # SRATIONAL
    11: (4, "f"),  # FLOAT
    12: (8, "d"),  # DOUBLE
    16: (8, "Q"),  # LONG8 (BigTIFF)
    17: (8, "q"),  # SLONG8 (BigTIFF)
    18: (8, "Q"),  # IFD8 (BigTIFF)
}


def _read_at(f, off: int, n: int) -> bytes:
    """Ranged read — the only file access pattern this module uses,
    so the same code path works against seekable object-store
    streams (a COG reader never slurps the file)."""
    f.seek(off)
    b = f.read(n)
    if len(b) != n:
        raise ValueError(f"short read at {off}: wanted {n}, got {len(b)}")
    return b


def _tag_values(f, bo: str, typ: int, cnt: int, inline: bytes, big: bool = False):
    size, letter = _FIELD.get(typ, (None, None))
    if size is None:
        return None
    nbytes = size * cnt
    if nbytes <= (8 if big else 4):
        raw = inline[:nbytes]
    else:
        (off,) = struct.unpack(bo + ("Q" if big else "I"), inline)
        raw = _read_at(f, off, nbytes)
    if typ == 2:  # ASCII: NUL-terminated string
        return raw.split(b"\0")[0].decode("ascii", "replace")
    if typ in (5, 10):  # rationals -> floats
        flat = struct.unpack(bo + letter * cnt, raw)
        return [flat[i] / flat[i + 1] if flat[i + 1] else float("nan") for i in range(0, 2 * cnt, 2)]
    vals = list(struct.unpack(bo + str(cnt) + letter, raw))
    return vals


@dataclass
class TiffImage:
    """One IFD — the reference's ``ImageInfo`` (src/geotiff.rs:30-40)
    plus the storage facts of the TIFF format: tiles or strips, the
    raw tile/strip tags and the chunk byte ranges. Its chunk grid,
    padding and samples per chunk are the ``RasterGeometry`` that
    ``geometry_of`` builds from it."""

    width: int
    height: int
    bits: list[int]
    formats: list[int]  # 1 uint, 2 int, 3 float
    spp: int
    planar: bool
    compression: int
    photometric: int
    rows_per_strip: int | None
    tile_w: int | None
    tile_h: int | None
    offsets: list[int]
    byte_counts: list[int]
    predictor: int = 1
    tags: dict = field(default_factory=dict)

    @property
    def is_tiled(self) -> bool:
        return self.tile_w is not None

    def dtype(self, band: int = 0) -> str:
        """Engine dtype string (matches functions/decode.py families);
        reference RasterValue variants src/lib.rs:33-51."""
        fmt = self.formats[band] if band < len(self.formats) else self.formats[0]
        bits = self.bits[band] if band < len(self.bits) else self.bits[0]
        kind = {1: "u", 2: "i", 3: "f"}.get(fmt)
        if kind is None or (kind == "f" and bits not in (32, 64)) or (
            kind != "f" and bits not in (8, 16, 32, 64)
        ):
            raise ValueError(f"unsupported sample: format={fmt} bits={bits}")
        return f"{kind}{bits}"


@dataclass
class TiffFile:
    """Parsed header state — the reference's ``GeoTiffReader`` fields
    (src/geotiff.rs:16-27) minus the live decoder."""

    path: str
    byte_order: str  # '<' | '>'
    images: list[TiffImage]
    pixel_scale: list[float] | None
    tie_points: list[float] | None
    model_transformation: list[float] | None
    geo_keys: list[int] | None
    geo_params: str | None
    nodata: str | None
    geo_double_params: list[float] | None = None

    def origin(self) -> list[float] | None:
        """src/geotiff.rs:103-108: tiepoint (3,4) wins, else the
        translation column of ModelTransformation."""
        if self.tie_points is not None and len(self.tie_points) == 6:
            return [self.tie_points[3], self.tie_points[4]]
        if self.model_transformation is not None:
            t = self.model_transformation
            return [t[3], t[7]]
        return None

    def pixel_size(self) -> list[float] | None:
        """src/geotiff.rs:110-116: pixel scale y is negated."""
        if self.pixel_scale is not None:
            return [self.pixel_scale[0], -self.pixel_scale[1]]
        if self.model_transformation is not None:
            t = self.model_transformation
            return [t[0], t[5]]
        return None


def open_tiff(path: str) -> TiffFile:
    """Header + all-IFD walk (R1/R2; src/geotiff.rs:44-91). Seek-based:
    reads tag tables and out-of-line values only, never chunk data."""
    with open(path, "rb") as f:
        head = _read_at(f, 0, 8)
        if head[:2] == b"II":
            bo = "<"
        elif head[:2] == b"MM":
            bo = ">"
        else:
            raise ValueError(f"{path}: not a TIFF (no II/MM)")
        (magic,) = struct.unpack(bo + "H", head[2:4])
        if magic == 42:
            big = False
            (ifd_off,) = struct.unpack(bo + "I", head[4:8])
        elif magic == 43:
            # BigTIFF: 8-byte offsets everywhere — the layout every
            # real >4 GB COG uses
            big = True
            offsize, reserved = struct.unpack(bo + "HH", head[4:8])
            if offsize != 8 or reserved != 0:
                raise ValueError(f"{path}: malformed BigTIFF header")
            (ifd_off,) = struct.unpack(bo + "Q", _read_at(f, 8, 8))
        else:
            raise ValueError(f"{path}: bad magic {magic}")
        # classic: u16 entry count, 12-byte entries (u32 count, 4B
        # inline), u32 next pointer; BigTIFF: u64 count, 20-byte
        # entries (u64 count, 8B inline), u64 next pointer
        cnt_fmt, cnt_sz = ("Q", 8) if big else ("H", 2)
        ent_sz, inline_off = (20, 12) if big else (12, 8)
        ecnt_fmt = "HHQ" if big else "HHI"
        nxt_fmt, nxt_sz = ("Q", 8) if big else ("I", 4)

        images: list[TiffImage] = []
        file_tags: dict = {}
        seen = set()
        while ifd_off and ifd_off not in seen:
            seen.add(ifd_off)
            (n,) = struct.unpack(bo + cnt_fmt, _read_at(f, ifd_off, cnt_sz))
            table = _read_at(f, ifd_off + cnt_sz, ent_sz * n)
            tags: dict = {}
            for i in range(n):
                e = table[ent_sz * i : ent_sz * (i + 1)]
                tag, typ, cnt = struct.unpack(bo + ecnt_fmt, e[:inline_off])
                vals = _tag_values(f, bo, typ, cnt, e[inline_off:], big)
                if vals is not None:
                    tags[tag] = vals
            (ifd_off,) = struct.unpack(
                bo + nxt_fmt, _read_at(f, ifd_off + cnt_sz + ent_sz * n, nxt_sz)
            )

            def one(t, default=None):
                v = tags.get(t, default)
                return v[0] if isinstance(v, list) else v

            spp = int(one(TAG_SAMPLES_PER_PIXEL, 1))
            img = TiffImage(
                width=int(one(TAG_WIDTH)),
                height=int(one(TAG_HEIGHT)),
                bits=[int(b) for b in tags.get(TAG_BITS_PER_SAMPLE, [1])],
                formats=[int(v) for v in tags.get(TAG_SAMPLE_FORMAT, [1] * spp)],
                spp=spp,
                planar=int(one(TAG_PLANAR_CONFIG, 1)) == 2,
                compression=int(one(TAG_COMPRESSION, 1)),
                photometric=int(one(TAG_PHOTOMETRIC, 1)),
                rows_per_strip=(int(one(TAG_ROWS_PER_STRIP)) if TAG_ROWS_PER_STRIP in tags else None),
                tile_w=(int(one(TAG_TILE_WIDTH)) if TAG_TILE_WIDTH in tags else None),
                tile_h=(int(one(TAG_TILE_LENGTH)) if TAG_TILE_LENGTH in tags else None),
                offsets=[int(v) for v in tags.get(TAG_TILE_OFFSETS, tags.get(TAG_STRIP_OFFSETS, []))],
                byte_counts=[int(v) for v in tags.get(TAG_TILE_BYTE_COUNTS, tags.get(TAG_STRIP_BYTE_COUNTS, []))],
                predictor=int(one(TAG_PREDICTOR, 1)),
                tags=tags,
            )
            images.append(img)
            # geo tags live on the first IFD that carries them
            for t in (
                TAG_MODEL_PIXEL_SCALE,
                TAG_MODEL_TIEPOINT,
                TAG_MODEL_TRANSFORMATION,
                TAG_GEO_KEY_DIRECTORY,
                TAG_GEO_ASCII_PARAMS,
                TAG_GEO_DOUBLE_PARAMS,
                TAG_GDAL_NODATA,
            ):
                if t in tags and t not in file_tags:
                    file_tags[t] = tags[t]

        return TiffFile(
            path=path,
            byte_order=bo,
            images=images,
            pixel_scale=file_tags.get(TAG_MODEL_PIXEL_SCALE),
            tie_points=file_tags.get(TAG_MODEL_TIEPOINT),
            model_transformation=file_tags.get(TAG_MODEL_TRANSFORMATION),
            geo_keys=[int(v) for v in file_tags.get(TAG_GEO_KEY_DIRECTORY, [])] or None,
            geo_params=file_tags.get(TAG_GEO_ASCII_PARAMS),
            geo_double_params=file_tags.get(TAG_GEO_DOUBLE_PARAMS),
            nodata=file_tags.get(TAG_GDAL_NODATA),
        )


GEOKEY_GEOGRAPHIC_TYPE = 2048
GEOKEY_PROJECTED_CS_TYPE = 3072


def geo_key_map(tf: TiffFile) -> dict[int, int | float | str | list[float]]:
    """GeoKeyDirectory (OGC 19-008r4 §7.1.1) as {key_id: value}.
    SHORT-valued keys come inline; ASCII-located keys (tag 34737)
    slice ``geo_params``; DOUBLE-located keys (tag 34736) slice
    ``geo_double_params`` (scalar when count is 1). The reference
    exposes the raw directory (``geo_keys`` field, src/geotiff.rs:22);
    this decodes it."""
    out: dict[int, int | float | str | list[float]] = {}
    ks = tf.geo_keys or []
    for i in range(4, len(ks), 4):
        key_id, loc, cnt, val = ks[i : i + 4]
        if loc == 0:
            out[key_id] = val
        elif loc == TAG_GEO_ASCII_PARAMS and tf.geo_params is not None:
            out[key_id] = tf.geo_params[val : val + cnt].rstrip("|")
        elif loc == TAG_GEO_DOUBLE_PARAMS and tf.geo_double_params is not None:
            vals = tf.geo_double_params[val : val + cnt]
            out[key_id] = vals[0] if cnt == 1 else list(vals)
    return out


def epsg_code(tf: TiffFile) -> int | None:
    """CRS EPSG code: ProjectedCSTypeGeoKey wins for projected model
    types, else GeographicTypeGeogKey. None when neither is present
    (e.g. the geotransform-less f32nan fixture) AND for the GeoTIFF
    reserved sentinels: 32767 = user-defined, 65535 = undefined
    (OGC 19-008r4 §6.2 — codes 1024..32766 are the EPSG range)."""
    keys = geo_key_map(tf)
    for k in (GEOKEY_PROJECTED_CS_TYPE, GEOKEY_GEOGRAPHIC_TYPE):
        v = keys.get(k)
        if isinstance(v, int) and 1024 <= v <= 32766:
            return v
    return None


# ------------------------------------------------------------- decode


def _check_supported(img: TiffImage, path: str) -> None:
    if img.photometric == PHOTOMETRIC_PALETTE:
        # parity with the reference: palette is unsupported there too
        # (tests/geotiff.rs:307-308 UnsupportedError)
        raise ValueError(f"{path}: palette (RGBPalette) rasters not supported")
    if img.compression not in (
        COMPRESSION_NONE, COMPRESSION_LZW, COMPRESSION_DEFLATE, COMPRESSION_OLD_DEFLATE
    ):
        raise ValueError(f"{path}: compression {img.compression} not supported")
    if img.predictor not in (1, 2, 3):
        raise ValueError(f"{path}: predictor {img.predictor} not supported")
    if img.predictor == 2 and img.dtype().startswith("f"):
        raise ValueError(f"{path}: predictor 2 is integer-only (3 is the float one)")
    if img.predictor == 3 and not img.dtype().startswith("f"):
        raise ValueError(f"{path}: predictor 3 is float-only (2 is the integer one)")
    if len({(b, f) for b, f in zip(img.bits, img.formats)}) > 1:
        raise ValueError(f"{path}: heterogeneous band sample types not supported")


def chunk_descriptors(tf: TiffFile, image_idx: int = 0) -> list[dict]:
    """One dict per strip/tile chunk: where it sits on the image's
    ``geometry_of`` grid, which band run it belongs to (planar: all
    chunks of band 0, then band 1, … — TIFF6 planar layout), and its
    byte range. Tiles are stored padded; a short last strip is not."""
    img = tf.images[image_idx]
    _check_supported(img, tf.path)
    g = geometry_of(tf, image_idx)
    spb = g.tiles_per_band
    spp = g.spp()
    n_runs = g.bands // spp  # one run per band when planar, else one
    # a list longer than the grid would wrap onto grid positions that
    # already have a chunk, and a shorter one (or byte counts of another
    # length) would drop chunks, so their pixels would vanish
    n_chunks = n_runs * spb
    if not len(img.offsets) == len(img.byte_counts) == n_chunks:
        raise ValueError(
            f"{tf.path}: {len(img.offsets)} chunk offsets and "
            f"{len(img.byte_counts)} byte counts for a grid of "
            f"{n_runs} band runs x {spb} = {n_chunks} chunks"
        )
    raster_id = raster_id_of(tf.path)
    dtype = img.dtype()
    out = []
    for k, (off, cnt) in enumerate(zip(img.offsets, img.byte_counts)):
        run, pos = divmod(k, spb)
        row, col = divmod(pos, g.tiles_across)
        pad_right, pad_down = g.get_padding(pos)
        h = g.tile_h - pad_down
        out.append(
            {
                "path": tf.path,
                "raster_id": raster_id,
                "image_idx": image_idx,
                "chunk": k,
                "band_run": run,
                "x0": col * g.tile_w,
                "y0": row * g.tile_h,
                # stored chunk extent
                "stored_w": g.tile_w,
                "stored_h": g.tile_h if img.is_tiled else h,
                # valid (unpadded) extent
                "w": g.tile_w - pad_right,
                "h": h,
                "offset": off,
                "nbytes": cnt,
                "compression": img.compression,
                "predictor": img.predictor,
                "dtype": dtype,
                "spp": spp,
                "byte_order": tf.byte_order,
                "nodata": tf.nodata,
            }
        )
    return out


def fp_predict_decode(raw: bytes, row_samples: int, spp: int, dt: np.dtype) -> np.ndarray:
    """Undo TIFF Predictor 3 (TechNote 3 floating-point predictor,
    libtiff ``fpAcc``): per scanline, a running byte-wise sum with
    stride = samples-per-pixel over a byte-plane-shuffled row —
    plane 0 holds the MOST significant byte of every sample
    regardless of file byte order — then samples reassemble
    big-endian from the planes. Returns a 1-D native-order array."""
    bps = dt.itemsize
    row_nbytes = row_samples * bps
    if len(raw) % row_nbytes:
        raise ValueError(
            f"predictor-3 payload {len(raw)}B is not a whole number of"
            f" {row_nbytes}B scanlines"
        )
    rows = len(raw) // row_nbytes
    b = np.frombuffer(raw, np.uint8).reshape(rows, row_nbytes)
    # undo the stride-spp differencing: cumsum per residue class
    # mod spp, uint8 wraparound (the diff crosses plane boundaries
    # in libtiff, so it does here too)
    acc = np.cumsum(b.reshape(rows, row_nbytes // spp, spp), axis=1, dtype=np.uint8)
    planes = acc.reshape(rows, bps, row_samples)
    be = np.ascontiguousarray(planes.transpose(0, 2, 1))  # (rows, samples, MSB..LSB)
    vals = be.reshape(rows * row_samples, bps).view(np.dtype(">" + dt.kind + str(bps)))
    return vals[:, 0].astype(dt.newbyteorder("="))


def fp_predict_encode(block: np.ndarray) -> bytes:
    """TIFF Predictor 3 encode (libtiff ``fpDiff``): per scanline,
    shuffle sample bytes into MSB-first byte planes, then byte-wise
    difference with stride = samples-per-pixel."""
    if block.dtype.kind != "f":
        raise ValueError("predictor 3 is float-only")
    h, w, spp = block.shape
    bps = block.dtype.itemsize
    be = np.ascontiguousarray(block.astype(block.dtype.newbyteorder(">")))
    b = np.frombuffer(be.tobytes(), np.uint8).reshape(h, w * spp, bps)
    planes = np.ascontiguousarray(b.transpose(0, 2, 1)).reshape(h, w * spp * bps)
    p3 = planes.reshape(h, -1, spp)
    d = p3.copy()
    d[:, 1:, :] = p3[:, 1:, :] - p3[:, :-1, :]  # uint8 wraparound
    return d.tobytes()


def decode_chunk_bytes(raw: bytes, desc: dict, as_float: bool = True) -> np.ndarray:
    """Chunk payload -> (h_valid, w_valid, spp) array, NaN = NoData.
    ``as_float=False`` keeps the native sample dtype (the exact path
    for u64 > 2^53). A ZERO-LENGTH chunk (GDAL sparse-file layout:
    offset/bytecount 0 for all-nodata regions) decodes to all-NaN.
    Pure NumPy — this is the per-chunk kernel body."""
    if desc["nbytes"] == 0 or len(raw) == 0:
        if not as_float:
            raise ValueError("sparse chunk has no exact integer representation")
        return np.full((desc["h"], desc["w"], desc["spp"]), np.nan)
    if desc["compression"] in (COMPRESSION_DEFLATE, COMPRESSION_OLD_DEFLATE):
        raw = zlib.decompress(raw)
    elif desc["compression"] == COMPRESSION_LZW:
        raw = lzw_decode(raw)
    dt = np.dtype(desc["byte_order"] + {"u": "u", "i": "i", "f": "f"}[desc["dtype"][0]] + str(int(desc["dtype"][1:]) // 8))
    spp = desc["spp"]
    want = desc["stored_h"] * desc["stored_w"] * spp
    if desc.get("predictor", 1) == 3:
        # byte-plane shuffled: must un-predict BEFORE the samples
        # can be viewed as floats (plane order fixes endianness, so
        # the file byte_order does not apply here)
        flat = fp_predict_decode(raw, desc["stored_w"] * spp, spp, dt)
        dt = flat.dtype
    else:
        flat = np.frombuffer(raw, dtype=dt, count=min(want, len(raw) // dt.itemsize))
    if flat.size < want:
        # short final strip written without padding (GDAL does this):
        # the valid region must still be complete
        need = desc["h"] * desc["stored_w"] * spp
        if flat.size < need:
            raise ValueError(f"chunk {desc['chunk']}: {flat.size} values < {need}")
        arr = flat[:need].reshape(desc["h"], desc["stored_w"], spp)
    else:
        arr = flat[:want].reshape(desc["stored_h"], desc["stored_w"], spp)
    if desc.get("predictor", 1) == 2:
        # horizontal differencing (TIFF6 §14): stored values are
        # per-row deltas per sample channel; integrate with wraparound
        # arithmetic (cumsum in the storage dtype) over the STORED
        # row width before clipping padding
        arr = np.cumsum(arr, axis=1, dtype=dt)
    clipped = arr[: desc["h"], : desc["w"], :]
    return clipped.astype(np.float64) if as_float else clipped


def read_chunk(desc: dict, as_float: bool = True) -> np.ndarray:
    if desc["nbytes"] == 0:  # sparse chunk: no payload to read
        return decode_chunk_bytes(b"", desc, as_float)
    with open(desc["path"], "rb") as f:
        raw = _read_at(f, desc["offset"], desc["nbytes"])
    return decode_chunk_bytes(raw, desc, as_float)


# ------------------------------------------- local single-pixel API


def read_pixel(tf: TiffFile, x: int, y: int, image_idx: int = 0):
    """Reference ``read_pixel`` semantics (src/geotiff.rs:119-136):
    out-of-bounds -> None (NoData); chunky multi-sample -> tuple of
    samples; single-sample -> scalar (float, NaN preserved)."""
    img = tf.images[image_idx]
    if not (0 <= x < img.width and 0 <= y < img.height):
        return None
    vals = []
    for d in chunk_descriptors(tf, image_idx):  # (x, y)'s chunk in every band run
        if d["x0"] <= x < d["x0"] + d["w"] and d["y0"] <= y < d["y0"] + d["h"]:
            vals.extend(read_chunk(d)[y - d["y0"], x - d["x0"], :].tolist())
    if len(vals) == 1:
        return vals[0]
    return tuple(vals)


# ------------------------------------------------------ spark surface

CHUNK_SCHEMA = (
    "path string, raster_id string, image_idx int, chunk int, band_run int, "
    "x0 int, y0 int, stored_w int, stored_h int, w int, h int, "
    "offset long, nbytes long, compression int, predictor int, dtype string, "
    "spp int, byte_order string, nodata string"
)

def chunk_plan_df(spark, paths):
    """Paths -> chunk table of each file's first image. Header parse
    happens in the per-row Arrow stage (``session.map_rows``,
    executor-side ranged reads); the driver only ships path strings,
    so a million-file catalog stays distributed.

    ``paths``: a list of path strings — a ``LocalTableScan`` already
    split into min(paths, default parallelism) slices, so nothing
    shuffles before the kernel — OR an existing DataFrame with a
    ``path`` string column (the scale form — a file-catalog table
    never materializes on the driver)."""
    from georaster_spark.session import arrow_batch, map_rows, paths_df

    def batches_of(row, schema):
        descs = chunk_descriptors(open_tiff(row["path"]))
        return [arrow_batch([tuple(d[c] for c in schema.names) for d in descs], schema)]

    _assert_unique_raster_ids(paths)
    return map_rows(paths_df(spark, paths), batches_of, CHUNK_SCHEMA)


FILE_META_SCHEMA = (
    "raster_id string, path string, image_idx int, width int, height int, "
    "tile_w int, tile_h int, origin_x double, origin_y double, "
    "px_sz_x double, px_sz_y double, dtype string, bands int, "
    "planar boolean, spp int, tiles_across int, tiles_down int, "
    "pad_right int, pad_down int, geo_params string, "
    "origin_x_e6 long, origin_y_e6 long, px_x_e9 long, px_y_e9 long"
)


def file_meta_rows(path: str) -> list[tuple]:
    """One metadata row per IFD of one file — the row builder of the
    distributed registration kernel (``file_meta_df``). Its grid
    columns are ``geometry_of``'s, the geometry that
    ``raster_catalog.entries_from_files`` registers too; the geotransform
    columns stay NULL where the file has none."""
    tf = open_tiff(path)
    rid = raster_id_of(path)
    o, ps = tf.origin(), tf.pixel_size()
    rows = []
    for idx, img in enumerate(tf.images):
        g = geometry_of(tf, idx)
        rows.append(
            (
                rid, path, idx, g.width, g.height, g.tile_w, g.tile_h,
                (o[0] if o else None), (o[1] if o else None),
                (ps[0] if ps else None), (ps[1] if ps else None),
                img.dtype(), g.bands, g.planar, g.spp(),
                g.tiles_across, g.tiles_down, g.padding_right, g.padding_down,
                tf.geo_params,
                # e6/e9 fixed-point ints rounded HERE (Python round)
                # so they stay bit-identical to the pinned goldens
                (int(round(o[0] * 1e6)) if o else None),
                (int(round(o[1] * 1e6)) if o else None),
                (int(round(ps[0] * 1e9)) if ps else None),
                (int(round(ps[1] * 1e9)) if ps else None),
            )
        )
    return rows


def file_meta_df(spark, paths):
    """Distributed raster metadata registration (R1/R2 at lake scale):
    header walks run in the per-row Arrow stage on executors — the
    driver ships only path strings, so a million-file catalog registers
    without a single driver-side file open (the r2 VERDICT's scale
    defect). Same paths contract (list as a ``LocalTableScan``, or a
    DataFrame) as ``chunk_plan_df``."""
    from georaster_spark.session import arrow_batch, map_rows, paths_df

    _assert_unique_raster_ids(paths)
    return map_rows(
        paths_df(spark, paths),
        lambda row, schema: [arrow_batch(file_meta_rows(row["path"]), schema)],
        FILE_META_SCHEMA,
    )


def raster_id_of(path: str) -> str:
    """A file's raster_id: its basename without the extension
    (golden-pinned)."""
    return os.path.splitext(os.path.basename(path))[0]


def _assert_unique_raster_ids(paths) -> None:
    """Two paths with one ``raster_id_of`` would silently merge in
    every raster_id groupBy — refuse early (ADVICE r2). A paths
    DataFrame is not checked: it never reaches the driver."""
    if not isinstance(paths, (list, tuple)):
        return
    names: dict[str, str] = {}
    for p in paths:
        rid = raster_id_of(p)
        if rid in names and names[rid] != p:
            raise ValueError(
                f"duplicate raster basename {rid!r}: {names[rid]} vs {p} — "
                "raster_id would collide; rename or ingest separately"
            )
        names[rid] = p


PIXELS_SCHEMA = (
    "raster_id string, image_idx int, band int, x int, y int, value double"
)


def _pixel_batch(
    arr: np.ndarray, raster_id: str, image_idx: int, band: int, x0: int, y0: int, schema
):
    """The one chunk→pixel explode (the reference's ``Pixels`` walk,
    ``src/geotiff.rs:293-363``), shared by ``pixels_df``,
    ``decimal_pixels_df`` and ``raster.tiles_to_pixels``: an ``(h, w,
    spp)`` chunk whose top-left pixel is ``(x0, y0)`` becomes one Arrow
    batch in the ``pa.Schema`` ``schema``, sample ``s`` as band ``band +
    s``, band-major then row-major. Samples of either byte order are
    taken (a big-endian file's native-dtype chunk keeps its order). NaN
    lands as NULL (NoData ↔ NULL, FIXTURES.md §4.2) before the cast to
    the schema's value type: DOUBLE, or DECIMAL(20,0) for integer
    arrays (exact for all of u64/i64). pyarrow is imported here so a
    worker that runs a decode kernel loads only this module."""
    import pyarrow as pa

    h, w, spp = arr.shape
    npx = h * w
    flat = arr.transpose(2, 0, 1).ravel()
    flat = flat.astype(flat.dtype.newbyteorder("="), copy=False)  # Arrow takes native order only
    return pa.RecordBatch.from_arrays(
        [
            pa.repeat(raster_id, npx * spp),
            np.full(npx * spp, image_idx, np.int32),
            np.repeat(np.arange(band, band + spp, dtype=np.int32), npx),
            np.tile(np.arange(x0, x0 + w, dtype=np.int32), h * spp),
            np.tile(np.repeat(np.arange(y0, y0 + h, dtype=np.int32), w), spp),
            pa.array(flat, from_pandas=True).cast(schema.field("value").type),
        ],
        schema=schema,
    )


def _pixels_stage(spark, paths, image_idx: int, n: int, schema: str, chunk_array):
    """The one decode stage behind ``pixels_df`` and
    ``decimal_pixels_df``: ``session.map_rows`` over ``(path, k, n)``
    rows (``session.paths_df``), each row walking the file's header and
    turning its chunks ``k::n`` into pixel batches, ``chunk_array(desc)``
    giving each chunk's ``(h, w, spp)`` array and ``_pixel_batch``
    exploding it into ``schema``."""
    from georaster_spark.session import map_rows, paths_df

    def batches_of(row, arrow_schema):
        descs = chunk_descriptors(open_tiff(row["path"]), image_idx)
        for d in descs[row["k"] :: row["n"]]:
            # chunky samples are bands 0..spp-1; a planar chunk is its run's band
            band = 0 if d["spp"] > 1 else d["band_run"]
            yield _pixel_batch(
                chunk_array(d), d["raster_id"], d["image_idx"], band,
                d["x0"], d["y0"], arrow_schema,
            )

    _assert_unique_raster_ids(paths)
    return map_rows(paths_df(spark, paths, n), batches_of, schema)


def pixels_df(
    spark,
    paths,
    image_idx: int = 0,
    chunk_partitions: int | None = None,
    apply_nodata: bool = False,
):
    """Paths -> pixel rows in ONE Arrow stage: a ``(path, k, n)`` table
    (``n = chunk_partitions or 1``, one row per path and k < n) goes
    through ``session.map_rows``, whose kernel walks the file's header and
    decodes its chunks ``k::n`` (ranged payload read + inflate +
    NumPy). Splitting the chunk list this way is how one big COG
    spreads over ``n`` tasks without shuffling chunk rows; the header
    walk is the one ``chunk_plan_df`` runs, repeated for every
    ``(path, k)`` row, so each file's header is walked ``n`` times.

    ``paths`` takes ``chunk_plan_df``'s two forms: a list of path
    strings (a ``LocalTableScan`` of the ``(path, k, n)`` rows, so
    nothing shuffles before the kernel) or a DataFrame with a ``path``
    string column (the scale form; a file catalog never reaches the
    driver). In the DataFrame form the ``k`` rows are made next to
    their path row, so with ``n > 1`` they are spread round-robin over
    ``n`` partitions (an Exchange of those small rows, not of chunks).

    Columns are built from NumPy: NaN lands as NULL, the engine's
    NoData spelling. ``apply_nodata=True`` maps a file's GDAL_NODATA
    sentinel to NULL at decode (engine-added: the reference reads the
    tag but does not apply it, src/geotiff.rs:55; off by default for
    parity)."""
    def chunk_array(d: dict) -> np.ndarray:
        arr = read_chunk(d)
        if apply_nodata and d["nodata"] is not None:
            try:
                arr = np.where(arr == float(d["nodata"]), np.nan, arr)
            except ValueError:
                pass  # non-numeric GDAL_NODATA string: ignore
        return arr

    return _pixels_stage(spark, paths, image_idx, chunk_partitions or 1, PIXELS_SCHEMA, chunk_array)


def decimal_pixels_df(spark, paths):
    """Exact-integer variant of ``pixels_df`` over each file's first
    image: value is DECIMAL(20,0), so u64 samples above 2^53 (inexact
    in DOUBLE) survive decode (src/lib.rs:33-51 U64 variant; SURVEY §7
    risk 3). For integral rasters only — float families raise. The
    same one stage as ``pixels_df``; chunks are read in their native
    integer dtype, and a sparse chunk (no payload) as all-NaN, which
    lands as NULL."""

    def chunk_array(d: dict) -> np.ndarray:
        if d["dtype"].startswith("f"):
            raise ValueError(f"{d['path']}: decimal decode is for integral dtypes")
        return read_chunk(d, as_float=d["nbytes"] == 0)

    return _pixels_stage(
        spark, paths, 0, 1,
        "raster_id string, image_idx int, band int, x int, y int, value decimal(20,0)",
        chunk_array,
    )


# ------------------------------------------------------------- writer

_DTYPE_TO_TIFF = {
    # dtype -> (bits, sample_format)
    "u8": (8, 1), "u16": (16, 1), "u32": (32, 1), "u64": (64, 1),
    "i8": (8, 2), "i16": (16, 2), "i32": (32, 2), "i64": (64, 2),
    "f32": (32, 3), "f64": (64, 3),
}


def _encode_tag_values(typ, vals):
    if typ == 2:  # ASCII: NUL-terminated
        return vals.encode("ascii") + b"\0"
    letter = {3: "H", 4: "I", 12: "d", 16: "Q"}[typ]
    return struct.pack("<" + str(len(vals)) + letter, *vals)


def _image_block(
    arr, dtype, pixel_scale, origin, rows_per_strip, block_off, next_ifd,
    compression=COMPRESSION_NONE, predictor=1, big=False, sparse_value=None,
    nodata=None, planar=False,
):
    """Serialize ONE image as (IFD + out-of-line values + payloads)
    at absolute offset ``block_off``; returns the bytes. ``next_ifd``
    is the absolute offset of the following IFD (0 = last). A planar
    image stores every strip of sample 0, then of sample 1, …."""
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, spp = arr.shape
    bits, fmt = _DTYPE_TO_TIFF[dtype]
    np_dt = np.dtype("<" + {1: "u", 2: "i", 3: "f"}[fmt] + str(bits // 8))
    rps = rows_per_strip or h
    n_strips = -(-h // rps)

    def encode_strip(block):
        block = block.astype(np_dt)
        if sparse_value is not None and bool(np.all(block == sparse_value)):
            return b""  # GDAL SPARSE_OK layout: offset/bytecount 0
        if predictor == 2:
            # horizontal differencing, wraparound in the storage dtype
            d = block.copy()
            d[:, 1:, :] = block[:, 1:, :] - block[:, :-1, :]
            raw = d.tobytes()
        elif predictor == 3:
            raw = fp_predict_encode(block)
        else:
            raw = block.tobytes()
        if compression in (COMPRESSION_DEFLATE, COMPRESSION_OLD_DEFLATE):
            raw = zlib.compress(raw)
        elif compression == COMPRESSION_LZW:
            raw = lzw_encode(raw)
        return raw

    planes = [arr[:, :, b : b + 1] for b in range(spp)] if planar else [arr]
    payloads = [encode_strip(p[s * rps : (s + 1) * rps]) for p in planes for s in range(n_strips)]

    tags: list[tuple[int, int, list]] = [
        (TAG_WIDTH, 3, [w]),
        (TAG_HEIGHT, 3, [h]),
        (TAG_BITS_PER_SAMPLE, 3, [bits] * spp),
        (TAG_COMPRESSION, 3, [compression]),
        (TAG_PHOTOMETRIC, 3, [2 if spp >= 3 else 1]),
        (TAG_SAMPLES_PER_PIXEL, 3, [spp]),
        (TAG_ROWS_PER_STRIP, 3, [rps]),
        (TAG_PLANAR_CONFIG, 3, [2 if planar else 1]),
        (TAG_SAMPLE_FORMAT, 3, [fmt] * spp),
    ]
    if predictor != 1:
        tags.append((TAG_PREDICTOR, 3, [predictor]))
    if nodata is not None:
        tags.append((TAG_GDAL_NODATA, 2, str(nodata)))
    if pixel_scale is not None:
        tags.append((TAG_MODEL_PIXEL_SCALE, 12, [pixel_scale[0], abs(pixel_scale[1]), 0.0]))
    if origin is not None:
        tags.append((TAG_MODEL_TIEPOINT, 12, [0.0, 0.0, 0.0, origin[0], origin[1], 0.0]))
    off_typ = 16 if big else 4  # LONG8 offsets in BigTIFF
    tags.append((TAG_STRIP_OFFSETS, off_typ, [0] * len(payloads)))
    tags.append((TAG_STRIP_BYTE_COUNTS, off_typ, [len(p) for p in payloads]))
    tags.sort(key=lambda t: t[0])

    # classic: u16 count, 12B entries (4B inline), u32 next pointer;
    # BigTIFF: u64 count, 20B entries (8B inline), u64 next pointer
    cnt_sz, ent_sz, inline_sz, nxt_fmt = (8, 20, 8, "Q") if big else (2, 12, 4, "I")
    n = len(tags)
    extra_off = block_off + cnt_sz + ent_sz * n + (8 if big else 4)
    extras: list[bytes] = []
    cursor = extra_off
    placed = []
    for tag, typ, vals in tags:
        raw = _encode_tag_values(typ, vals)
        if len(raw) > inline_sz:
            placed.append(cursor)
            extras.append(raw)
            cursor += len(raw)
        else:
            placed.append(None)
    data_off = cursor
    offs = []
    for p in payloads:
        offs.append(data_off if p else 0)  # sparse strips point nowhere
        data_off += len(p)
    for i, (tag, typ, vals) in enumerate(tags):
        if tag == TAG_STRIP_OFFSETS:
            tags[i] = (tag, typ, offs)
            raw = _encode_tag_values(typ, offs)
            if len(raw) > inline_sz:  # replace the placeholder extra block
                idx = sum(1 for j in range(i) if placed[j] is not None)
                extras[idx] = raw

    out = bytearray()
    out += struct.pack("<Q" if big else "<H", n)
    for (tag, typ, vals), pl in zip(tags, placed):
        raw = _encode_tag_values(typ, vals)
        cnt = len(raw) if typ == 2 else len(vals)  # ASCII counts bytes incl NUL
        if pl is None:
            out += struct.pack("<HH" + nxt_fmt, tag, typ, cnt) + raw.ljust(inline_sz, b"\0")
        else:
            out += struct.pack("<HH" + nxt_fmt * 2, tag, typ, cnt, pl)
    out += struct.pack("<" + nxt_fmt, next_ifd)
    for raw in extras:
        out += raw
    for p in payloads:
        out += p
    return bytes(out)


def write_tiff(
    path: str,
    arr: np.ndarray,
    dtype: str,
    pixel_scale: tuple[float, float] | None = None,
    origin: tuple[float, float] | None = None,
    rows_per_strip: int | None = None,
    overviews: list[np.ndarray] | None = None,
    compression: int = COMPRESSION_NONE,
    predictor: int = 1,
    bigtiff: bool = False,
    sparse_value: float | int | None = None,
    nodata: float | int | None = None,
    planar: bool = False,
) -> None:
    """Minimal TIFF writer (little-endian strips, chunky or — with
    ``planar`` — one strip run per sample (PlanarConfiguration 2); optional
    Deflate/LZW compression, horizontal-differencing predictor,
    BigTIFF layout, and GDAL-style sparse strips where an all-
    ``sparse_value`` strip stores no payload) — the engine's raster
    SINK and the fixture source
    for variants the reference repo ships no file for: Rgb16 and U64
    samples (src/geotiff.rs:393-418, src/lib.rs:42) and multi-IFD
    COG pyramids (``overviews`` become chained IFDs, the layout
    ``seek_to_image``/overview selection walks — src/geotiff.rs:
    56-66,93-98). Round-trips through ``open_tiff``/``pixels_df``.

    ``arr``: (h, w) or (h, w, spp) integer/float array; each entry of
    ``overviews`` is a further IFD of the same dtype.
    """
    images = [arr] + list(overviews or [])
    blocks: list[bytes] = []
    head_sz = 16 if bigtiff else 8
    # two passes: sizes first (offsets inside a block are absolute),
    # then re-serialize at the final offsets with the IFD chain wired
    for _ in range(2):
        off = head_sz
        new_blocks = []
        for i, im in enumerate(images):
            size = len(blocks[i]) if len(blocks) > i else 0
            nxt = off + size if i + 1 < len(images) else 0
            new_blocks.append(
                _image_block(
                    im, dtype,
                    pixel_scale if i == 0 else None,
                    origin if i == 0 else None,
                    rows_per_strip, off, nxt,
                    compression=compression, predictor=predictor, big=bigtiff,
                    sparse_value=sparse_value,
                    nodata=nodata if i == 0 else None,
                    planar=planar,
                )
            )
            off += len(new_blocks[-1])
        blocks = new_blocks
    with open(path, "wb") as f:
        if bigtiff:
            f.write(b"II" + struct.pack("<HHHQ", 43, 8, 0, 16))
        else:
            f.write(b"II" + struct.pack("<HI", 42, 8))
        for b in blocks:
            f.write(b)


def geometry_of(tf: TiffFile, image_idx: int = 0) -> RasterGeometry:
    """The one header -> ``RasterGeometry`` converter, behind the chunk
    plan, the decode, ``file_meta_rows`` and the raster catalog. A tile
    is a chunk; a strip is a chunk as wide as the image and
    ``RowsPerStrip`` (at most the height) tall. Without a geotransform
    the origin and pixel size keep ``RasterGeometry``'s defaults."""
    img = tf.images[image_idx]
    o, ps = tf.origin(), tf.pixel_size()
    geo = {}
    if o:
        geo.update(origin_x=o[0], origin_y=o[1])
    if ps:
        geo.update(px_sz_x=ps[0], px_sz_y=ps[1])
    return RasterGeometry(
        width=img.width,
        height=img.height,
        tile_w=img.tile_w if img.is_tiled else img.width,
        tile_h=img.tile_h if img.is_tiled else min(img.rows_per_strip or img.height, img.height),
        bands=img.spp,
        planar=img.planar,
        **geo,
    )
