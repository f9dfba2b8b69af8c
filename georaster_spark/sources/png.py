"""Pure-stdlib PNG codec (zlib + struct + numpy).

The reference decodes PMTiles tile bytes with the ``image`` crate
(``/root/reference/src/pmtiles.rs:30-33``: guess format, decode to
pixels). This container has no image library, so — exactly like the
round-2 TIFF reader — the codec is built from the public PNG spec
(RFC 2083 / W3C PNG) on ``zlib``/``struct``/``numpy`` only.

Scope (everything PMTiles raster tiles need):

- decode: 8-bit greyscale (color type 0), RGB (2), greyscale+alpha
  (4), RGBA (6); all five scanline filters (None/Sub/Up/Average/
  Paeth); multiple IDAT chunks; CRC validation.
- encode: the same pixel layouts, deterministic output (fixed filter
  per row, fixed zlib level) so engine-written fixtures are
  byte-stable across runs.
- rejected explicitly: palette (color type 3), bit depths ≠ 8,
  Adam7 interlace — none appear in terrarium/DEM raster tiles, and a
  loud error beats a silent misdecode.

Decode hot path: None/Sub/Up rows are numpy-vectorized (Sub is a
per-byte-lane cumsum mod 256); Average/Paeth fall back to a per-pixel
loop (our encoder never emits them; external PNGs rarely use them on
every row).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIGNATURE = b"\x89PNG\r\n\x1a\n"

# color type → samples per pixel
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


class PngError(ValueError):
    """Malformed or unsupported PNG bytes."""


# ------------------------------------------------------------------ chunks
def _chunk(ctype: bytes, data: bytes) -> bytes:
    crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
    return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)


def _iter_chunks(data: bytes):
    pos = 8
    while pos < len(data):
        if pos + 8 > len(data):
            raise PngError("truncated chunk header")
        (length,) = struct.unpack_from(">I", data, pos)
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if len(body) != length or pos + 12 + length > len(data):
            raise PngError("truncated chunk body")
        (crc,) = struct.unpack_from(">I", data, pos + 8 + length)
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise PngError(f"bad CRC in {ctype!r} chunk")
        yield ctype, body
        pos += 12 + length


# ------------------------------------------------------------------ decode
def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _unfilter(raw: bytes, width: int, height: int, bpp: int) -> np.ndarray:
    """Reverse per-scanline filtering → (height, width*bpp) uint8."""
    stride = width * bpp
    if len(raw) != height * (stride + 1):
        raise PngError(
            f"decompressed size {len(raw)} != expected {height * (stride + 1)}"
        )
    rows = np.frombuffer(raw, np.uint8).reshape(height, stride + 1)
    out = np.empty((height, stride), np.uint16)  # u16 workspace, mod-256 at ends
    prev = np.zeros(stride, np.uint16)
    for r in range(height):
        ftype = int(rows[r, 0])
        cur = rows[r, 1:].astype(np.uint16)
        if ftype == 0:  # None
            line = cur
        elif ftype == 1:  # Sub: per-lane cumsum mod 256
            lanes = cur.reshape(-1, bpp)
            line = (np.cumsum(lanes, axis=0, dtype=np.uint64) % 256).astype(
                np.uint16
            ).reshape(-1)
        elif ftype == 2:  # Up
            line = (cur + prev) % 256
        elif ftype in (3, 4):  # Average / Paeth: sequential
            line = np.zeros(stride, np.uint16)
            for i in range(stride):
                a = int(line[i - bpp]) if i >= bpp else 0
                b = int(prev[i])
                if ftype == 3:
                    line[i] = (int(cur[i]) + (a + b) // 2) % 256
                else:
                    c = int(prev[i - bpp]) if i >= bpp else 0
                    line[i] = (int(cur[i]) + _paeth(a, b, c)) % 256
        else:
            raise PngError(f"unknown filter type {ftype} on row {r}")
        out[r] = line
        prev = line
    return out.astype(np.uint8)


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes → uint8 array: (h, w) for greyscale, (h, w, c) else.

    Mirrors the decode half of the reference's
    ``ImageReader::with_guessed_format().decode()``
    (``src/pmtiles.rs:30-33``) for the layouts raster tiles use.
    """
    if data[:8] != _SIGNATURE:
        raise PngError("not a PNG (bad signature)")
    header = None
    idat = bytearray()
    seen_end = False
    for ctype, body in _iter_chunks(data):
        if ctype == b"IHDR":
            header = struct.unpack(">IIBBBBB", body)
            width, height, depth, ctype_, comp, filt, interlace = header
            # validate eagerly so unsupported files fail with the
            # real reason even when truncated after the header
            if depth != 8:
                raise PngError(f"bit depth {depth} not supported (8 only)")
            if ctype_ not in _CHANNELS:
                raise PngError(f"color type {ctype_} not supported")
            if comp != 0 or filt != 0:
                raise PngError("nonstandard compression/filter method")
            if interlace != 0:
                raise PngError("Adam7 interlace not supported")
            if width == 0 or height == 0:
                raise PngError("zero-dimension image")
        elif ctype == b"IDAT":
            idat.extend(body)
        # PLTE is ignored: for color types 2/6 it is a legal OPTIONAL
        # suggested-palette chunk; true palette images (color type 3)
        # are already rejected at the IHDR check above
        elif ctype == b"IEND":
            seen_end = True
            break
    if header is None:
        raise PngError("missing IHDR")
    if not seen_end:
        raise PngError("missing IEND")
    width, height, depth, ctype_, comp, filt, interlace = header
    channels = _CHANNELS[ctype_]
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:  # corrupt stream
        raise PngError(f"IDAT inflate failed: {e}") from e
    flat = _unfilter(raw, width, height, channels)
    if channels == 1:
        return flat.reshape(height, width)
    return flat.reshape(height, width, channels)


# ------------------------------------------------------------------ encode
def encode_png(arr: np.ndarray, level: int = 6) -> bytes:
    """uint8 array → PNG bytes. (h, w) → greyscale; (h, w, 2) →
    grey+alpha; (h, w, 3) → RGB; (h, w, 4) → RGBA.

    Deterministic: filter type 0 on every row, fixed zlib level —
    engine-written fixtures are byte-stable across runs/platforms.
    """
    a = np.ascontiguousarray(arr)
    if a.dtype != np.uint8:
        raise PngError(f"encode_png expects uint8, got {a.dtype}")
    if a.ndim == 2:
        ctype = 0
        h, w = a.shape
        a = a.reshape(h, w, 1)
    elif a.ndim == 3 and a.shape[2] in (2, 3, 4):
        ctype = {2: 4, 3: 2, 4: 6}[a.shape[2]]
        h, w = a.shape[:2]
    else:
        raise PngError(f"unsupported array shape {arr.shape}")
    if h == 0 or w == 0:
        raise PngError("zero-dimension image")
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    stride = w * a.shape[2]
    body = a.reshape(h, stride)
    raw = bytearray()
    for r in range(h):
        raw.append(0)  # filter type None
        raw.extend(body[r].tobytes())
    return (
        _SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw), level))
        + _chunk(b"IEND", b"")
    )


def png_info(data: bytes) -> tuple[int, int, int]:
    """(width, height, channels) from the IHDR without inflating."""
    if data[:8] != _SIGNATURE:
        raise PngError("not a PNG (bad signature)")
    for ctype, body in _iter_chunks(data):
        if ctype == b"IHDR":
            w, h, depth, ct, _, _, _ = struct.unpack(">IIBBBBB", body)
            if ct not in _CHANNELS:
                raise PngError(f"color type {ct} not supported")
            return w, h, _CHANNELS[ct]
        break
    raise PngError("missing IHDR")
