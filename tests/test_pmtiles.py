"""PNG codec + PMTiles v3 archive tests.

Re-expresses the reference's PMTiles test suite
(``/root/reference/src/pmtiles.rs:84-133``) against REAL archive
bytes (engine-written fixture — the reference's ch-nw.pmtiles is not
shipped):

- ``test_tile``: tile z12 (2128, 1438) decodes with width 512;
- ``invalid_tiles``: (0, 0, 12) is absent → miss (the reference
  raises InvalidEntry; we return None, asserted);
- ``test_pixel``: get_pixel_at(12, (7.059309, 47.133037)).height()
  == 1598.5294117647063 exactly (terrarium decode of src/lib.rs:125).

PNG decode is verified against an INDEPENDENT naive per-pixel filter
implementation written straight from the spec in this test file — not
against the encoder — so a mirrored encoder/decoder deviation can't
hide (the LZW lesson from ADVICE r2).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from georaster_spark.sources import pmtiles as P
from georaster_spark.sources.png import PngError, decode_png, encode_png, png_info


# ------------------------------------------------------------------ PNG
def _naive_png(arr: np.ndarray, filters: list[int]) -> bytes:
    """Independent PNG builder: applies the spec's filter DEFINITIONS
    per row (forward direction, per-pixel loops) with a chosen filter
    type per row. Shares no code with encode_png."""
    h, w, c = arr.shape
    raw = bytearray()
    prev = np.zeros((w, c), np.int32)
    for r in range(h):
        ft = filters[r % len(filters)]
        raw.append(ft)
        row = arr[r].astype(np.int32)
        for i in range(w):
            for ch in range(c):
                x = int(row[i, ch])
                a = int(row[i - 1, ch]) if i > 0 else 0
                b = int(prev[i, ch])
                cc = int(prev[i - 1, ch]) if i > 0 else 0
                if ft == 0:
                    f = x
                elif ft == 1:
                    f = x - a
                elif ft == 2:
                    f = x - b
                elif ft == 3:
                    f = x - (a + b) // 2
                else:  # Paeth
                    p = a + b - cc
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                    f = x - pred
                raw.append(f % 256)
        prev = row
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)

    def chunk(t, d):
        return struct.pack(">I", len(d)) + t + d + struct.pack(
            ">I", zlib.crc32(t + d) & 0xFFFFFFFF
        )

    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def _rand(shape, seed):
    return np.random.default_rng(seed).integers(0, 256, shape).astype(np.uint8)


@pytest.mark.parametrize("channels", [1, 2, 3, 4])
def test_png_roundtrip(channels):
    arr = _rand((13, 17, channels), seed=channels)
    data = encode_png(arr.squeeze() if channels == 1 else arr)
    out = decode_png(data)
    if channels == 1:
        assert out.shape == (13, 17)
        np.testing.assert_array_equal(out, arr[:, :, 0])
    else:
        np.testing.assert_array_equal(out, arr)
    w, h, c = png_info(data)
    assert (w, h, c) == (17, 13, channels)


@pytest.mark.parametrize("filters", [[0], [1], [2], [3], [4], [0, 1, 2, 3, 4]])
@pytest.mark.parametrize("channels", [1, 3, 4])
def test_png_all_filters_vs_independent_impl(filters, channels):
    arr = _rand((9, 11, channels), seed=7 * channels + filters[0])
    data = _naive_png(arr, filters)
    np.testing.assert_array_equal(decode_png(data).reshape(9, 11, channels), arr)


@settings(max_examples=25, deadline=None)
@given(
    st.integers(1, 12),
    st.integers(1, 12),
    st.sampled_from([1, 3, 4]),
    st.integers(0, 2**32 - 1),
    st.lists(st.integers(0, 4), min_size=1, max_size=5),
)
def test_png_property_independent(w, h, channels, seed, filters):
    arr = _rand((h, w, channels), seed=seed)
    np.testing.assert_array_equal(
        decode_png(_naive_png(arr, filters)).reshape(h, w, channels), arr
    )


def test_png_errors():
    with pytest.raises(PngError, match="signature"):
        decode_png(b"not a png at all")
    good = encode_png(_rand((4, 4, 3), 1))
    # corrupt a CRC
    bad = bytearray(good)
    bad[-5] ^= 0xFF
    with pytest.raises(PngError, match="CRC"):
        decode_png(bytes(bad))
    # truncation
    with pytest.raises(PngError, match="truncated"):
        decode_png(good[:30])
    # 16-bit depth rejected
    ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)
    crc = struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
    data = b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR" + ihdr + crc
    with pytest.raises(PngError, match="bit depth"):
        decode_png(data)
    # interlace rejected
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1)
    crc = struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
    data = b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR" + ihdr + crc
    with pytest.raises(PngError, match="interlace"):
        decode_png(data)
    with pytest.raises(PngError, match="uint8"):
        encode_png(np.zeros((2, 2), np.int32))
    # true palette images (color type 3) rejected at the IHDR check
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    crc = struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
    data = b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR" + ihdr + crc
    with pytest.raises(PngError, match="color type 3"):
        decode_png(data)


def test_round_half_away_matches_rust():
    """Rust f64::round() is half AWAY FROM ZERO; Python round() is
    banker's and disagrees at exact .5 (reachable: tile bounds and
    pixel sizes are exact binary fractions). Exact for every double:
    floor(x + 0.5) gets the largest double below 0.5 and 2**52 + 1
    wrong, because x + 0.5 itself rounds there."""
    round_half_away = P.round_half_away
    assert round_half_away(2.5) == 3  # Python round(2.5) == 2
    assert round_half_away(3.5) == 4
    assert round_half_away(-2.5) == -3  # Python round(-2.5) == -2
    assert round_half_away(2.4) == 2
    assert round_half_away(-2.4) == -2
    assert round_half_away(0.0) == 0
    below_half = np.nextafter(0.5, 0)
    assert round_half_away(below_half) == 0
    assert round_half_away(-below_half) == 0
    assert round_half_away(2.0**52 + 1) == 2**52 + 1


def test_png_ignores_ancillary_suggested_palette():
    """PLTE is a legal OPTIONAL chunk for truecolor (type 2/6) —
    some optimizers emit it; it must not fail the decode."""
    arr = _rand((5, 4, 3), 7)
    good = encode_png(arr)
    # splice a 1-entry PLTE chunk right after IHDR (8-sig + 25-IHDR)
    plte_body = b"\x10\x20\x30"
    plte = (
        struct.pack(">I", len(plte_body))
        + b"PLTE"
        + plte_body
        + struct.pack(">I", zlib.crc32(b"PLTE" + plte_body) & 0xFFFFFFFF)
    )
    spliced = good[:33] + plte + good[33:]
    assert np.array_equal(decode_png(spliced), arr)


# ------------------------------------------------------------- tile ids
def test_hilbert_spec_anchors():
    # first tile ids per the PMTiles v3 spec
    assert P.zxy_to_tileid(0, 0, 0) == 0
    assert [P.zxy_to_tileid(1, x, y) for x, y in [(0, 0), (0, 1), (1, 1), (1, 0)]] == [1, 2, 3, 4]
    assert P.zxy_to_tileid(2, 0, 0) == 5
    with pytest.raises(P.PmtilesError):
        P.zxy_to_tileid(1, 2, 0)


@settings(max_examples=100, deadline=None)
@given(st.integers(0, 26), st.data())
def test_hilbert_roundtrip(z, data):
    x = data.draw(st.integers(0, (1 << z) - 1))
    y = data.draw(st.integers(0, (1 << z) - 1))
    assert P.tileid_to_zxy(P.zxy_to_tileid(z, x, y)) == (z, x, y)


def test_hilbert_is_bijective_at_z3():
    ids = {P.zxy_to_tileid(3, x, y) for x in range(8) for y in range(8)}
    base = (4**3 - 1) // 3
    assert ids == set(range(base, base + 64))


# ---------------------------------------------------------- directories
def test_directory_roundtrip_with_backrefs():
    entries = [
        P.Entry(5, 0, 100, 1),
        P.Entry(9, 100, 50, 2),     # contiguous → 0-encoded offset
        P.Entry(20, 0, 100, 1),     # back-reference (dedup) → offset+1
        P.Entry(21, 150, 7, 1),
    ]
    assert P.deserialize_directory(P.serialize_directory(entries)) == entries


def test_directory_trailing_garbage():
    data = P.serialize_directory([P.Entry(1, 0, 10, 1)]) + b"\x00"
    with pytest.raises(P.PmtilesError, match="trailing"):
        P.deserialize_directory(data)


# -------------------------------------------------------------- archive
@pytest.fixture(scope="module")
def fixture_path():
    from georaster_spark.datagen import fixture_pmtiles_path

    return fixture_pmtiles_path()


def test_header_roundtrip(fixture_path):
    h = P.PmtilesReader(fixture_path).header
    assert P.Header.unpack(h.pack() + b"extra") == h
    assert h.clustered
    assert h.tile_type == P.TILETYPE_PNG
    assert (h.min_zoom, h.max_zoom) == (0, 12)


def test_reference_test_tile(fixture_path):
    """src/pmtiles.rs:93-104 — tile (2128, 1438, 12) has width 512."""
    rd = P.PmtilesReader(fixture_path)
    blob = rd.get_tile(12, 2128, 1438)
    assert blob is not None
    w, h, c = png_info(blob)
    assert (w, h, c) == (512, 512, 3)


def test_reference_invalid_tiles(fixture_path):
    """src/pmtiles.rs:106-118 — absent tile (0, 0, 12) is a miss."""
    rd = P.PmtilesReader(fixture_path)
    assert rd.get_tile(12, 0, 0) is None
    assert P.get_pixel_at(rd, 12, -170.0, 0.0) is None


def test_reference_test_pixel(fixture_path):
    """src/pmtiles.rs:120-133 — the Chasseral golden, bit-exact."""
    rd = P.PmtilesReader(fixture_path)
    pix = P.get_pixel_at(rd, 12, 7.059309, 47.133037)
    assert pix == (134, 62, 135)
    assert P.terrarium_height_py(*pix) == 1598.5294117647063


def test_dedup_and_counts(fixture_path):
    rd = P.PmtilesReader(fixture_path)
    h = rd.header
    # the two constant tiles have consecutive ids: one entry, run_length 2
    assert h.n_addressed_tiles == 12
    assert h.n_tile_entries == 11
    assert h.n_tile_contents == 11  # the two constant tiles share bytes
    t1 = rd.get_tile(12, 2120, 1430)
    t2 = rd.get_tile(12, 2121, 1430)
    assert t1 == t2 and t1 is not None
    assert len(rd.entries()) == 11


def test_leaf_directories(tmp_path):
    """Writer spills past max_root_entries; reader resolves leaves."""
    tiles = {(6, x, y): f"tile-{x}-{y}".encode() for x in range(8) for y in range(4)}
    p = str(tmp_path / "leafy.pmtiles")
    P.write_pmtiles(
        p, tiles, tile_type=P.TILETYPE_UNKNOWN,
        tile_compression=P.COMPRESSION_GZIP, max_root_entries=5,
    )
    rd = P.PmtilesReader(p)
    assert all(e.run_length == 0 for e in rd.root)  # root is all leaf pointers
    for (z, x, y), blob in tiles.items():
        assert rd.get_tile(z, x, y) == blob
    assert rd.get_tile(6, 20, 20) is None
    assert rd.get_tile(5, 0, 0) is None
    assert len(rd.entries()) == len(tiles)


def test_compression_matrix(tmp_path):
    tiles = {(3, 1, 2): b"abc" * 100, (3, 2, 2): b"xyz"}
    for tc in (P.COMPRESSION_NONE, P.COMPRESSION_GZIP):
        for ic in (P.COMPRESSION_NONE, P.COMPRESSION_GZIP):
            p = str(tmp_path / f"m{tc}{ic}.pmtiles")
            P.write_pmtiles(
                p, tiles, tile_compression=tc, internal_compression=ic,
                metadata_json=b'{"k": 1}',
            )
            rd = P.PmtilesReader(p)
            assert rd.get_tile(3, 1, 2) == b"abc" * 100
            assert rd.metadata() == b'{"k": 1}'


def test_archive_errors(tmp_path):
    bad = tmp_path / "bad.pmtiles"
    bad.write_bytes(b"NOTPMT" + b"\x00" * 200)
    with pytest.raises(P.PmtilesError, match="magic"):
        P.PmtilesReader(str(bad))
    short = tmp_path / "short.pmtiles"
    short.write_bytes(b"PMTiles\x03" + b"\x00" * 10)
    with pytest.raises(P.PmtilesError, match="127-byte"):
        P.PmtilesReader(str(short))
    v2 = tmp_path / "v2.pmtiles"
    v2.write_bytes(b"PMTiles\x02" + b"\x00" * 127)
    with pytest.raises(P.PmtilesError, match="version"):
        P.PmtilesReader(str(v2))
    with pytest.raises(P.PmtilesError, match="empty"):
        P.write_pmtiles(str(tmp_path / "e.pmtiles"), {})


def test_lossy_vp8_tile_decode(tmp_path):
    """Parity closure (round 5): the reference decodes ANY
    image-crate format per tile (src/pmtiles.rs:30-32), including
    lossy VP8 WebP. This engine now decodes lossy ``VP8 `` tiles for
    real through the pure-NumPy RFC 6386 intra decoder
    (sources/vp8.py, YUV verified bit-exact against libwebp in
    tests/test_vp8.py). A hand-assembled DC16 key frame with Y2 dc
    level 3 at qi=8 reconstructs, by the spec's integer math, to a
    uniform luma of 129 → RGB 132 (see
    test_vp8.test_builder_flat_dc16_spec_math)."""
    from georaster_spark.sources.vp8_enc import build_keyframe, wrap_webp

    z = [0] * 16
    mb = {
        "ymode": 0, "uvmode": 0,
        "y2": [3] + [0] * 15,
        "y": [list(z) for _ in range(16)],
        "u": [list(z) for _ in range(4)],
        "v": [list(z) for _ in range(4)],
    }
    lossy = wrap_webp(build_keyframe(16, 16, [mb], qi=8))
    p = str(tmp_path / "lossy.pmtiles")
    P.write_pmtiles(p, {(0, 0, 0): lossy}, tile_compression=P.COMPRESSION_NONE)
    with P.PmtilesReader(p) as rd:
        blob = rd.get_tile(0, 0, 0)
    assert blob == lossy  # the archive layer itself is format-agnostic
    tile = P.decode_tile(blob)
    assert tile.shape[:2] == (16, 16)
    assert (np.asarray(tile)[:, :, :3] == 132).all()
    # and a PNG tile in the same archive shape still decodes — the
    # sniffing is per-tile, exactly like with_guessed_format
    arr = np.zeros((2, 2), dtype=np.uint8)
    ok = encode_png(arr)
    assert P.decode_tile(ok).shape[:2] == (2, 2)


# ------------------------------------------------------------ spark scan
def test_tile_stats_df_anchor(spark, fixture_path):
    from georaster_spark.datagen import PMTILES_ANCHOR

    rows = {
        (r["z"], r["x"], r["y"]): r
        for r in P.tile_stats_df(spark, [fixture_path], *PMTILES_ANCHOR[2:4]).collect()
    }
    assert len(rows) == 12
    chasseral = rows[(12, 2128, 1438)]
    assert (chasseral["width"], chasseral["height"]) == (512, 512)
    assert (
        chasseral["anchor_r"], chasseral["anchor_g"], chasseral["anchor_b"]
    ) == (134, 62, 135)
    assert rows[(0, 0, 0)]["anchor_r"] is None
    const = rows[(12, 2120, 1430)]
    assert const["sum_r"] == 0 and const["sum_g"] == 80 * 128 * 128


def test_tiles_df_accepts_paths_dataframe(spark, fixture_path):
    paths_df = spark.createDataFrame([(fixture_path,)], "path string")
    assert P.tiles_df(spark, paths_df).count() == 12


def test_tiles_df_equals_scalar_decode(spark):
    """Every tile row of the mixed PNG/WebP archive holds the bands of
    ``decode_tile(get_tile(z, x, y))``, row-major, with their sums —
    the two constant tiles that share bytes included."""
    from georaster_spark.cells import zxy_to_cell
    from georaster_spark.datagen import fixture_webp_pmtiles_path

    path = fixture_webp_pmtiles_path()
    rows = P.tiles_df(spark, [path]).collect()
    assert len(rows) == 12
    with P.PmtilesReader(path) as rd:
        for row in rows:
            z, x, y = row["z"], row["x"], row["y"]
            arr = P.decode_tile(rd.get_tile(z, x, y))
            assert row["archive"] == path
            assert row["cell"] == zxy_to_cell(z, x, y)
            assert (row["height"], row["width"]) == arr.shape[:2]
            for k, b in enumerate("rgb"):
                band = arr[:, :, k].ravel()
                assert row[b] == band.tolist()
                assert row[f"sum_{b}"] == int(band.sum())
    const = [r for r in rows if (r["x"], r["y"]) in ((2120, 1430), (2121, 1430))]
    assert len(const) == 2 and const[0]["r"] == const[1]["r"]


def test_xyz_lookup_over_archive_tiles(spark, fixture_path):
    """``xyz_lookup`` over ``tiles_df`` of the fixture archive at z12
    gives the reference's Chasseral golden (src/pmtiles.rs:120-133)
    through the engine, and agrees with ``get_pixel_at`` on probes
    spread over the 512-px tiles (it takes one ``tile_size``). A probe
    in the 128-px tile (12, 2120, 1430) gives no row instead of failing
    the query."""
    from georaster_spark import cells
    from georaster_spark.operators.raster import xyz_lookup

    def probe(xt: int, yt: int, f: float, g: float) -> tuple[float, float]:
        lon0, lat0, lon1, lat1 = cells.cell_bounds(cells.zxy_to_cell(12, xt, yt))
        return lon0 + f * (lon1 - lon0), lat1 - g * (lat1 - lat0)

    chasseral = (7.059309, 47.133037)
    probes = [chasseral]
    for xt in range(2127, 2130):
        for yt in range(1437, 1440):
            for f, g in ((0.1, 0.7), (0.93, 0.31)):
                probes.append(probe(xt, yt, f, g))
    small = len(probes)
    probes.append(probe(2120, 1430, 0.6, 0.8))
    # probe columns x, y, z: the tile rows' own z/x/y must not clash
    pts = spark.createDataFrame(
        [(i, lon, lat, 0, 0, 0) for i, (lon, lat) in enumerate(probes)],
        "id int, lon double, lat double, x int, y int, z int",
    )
    out = xyz_lookup(pts, P.tiles_df(spark, [fixture_path]), 12, 512)
    got = {r["id"]: (r["r"], r["g"], r["b"]) for r in out.collect()}
    assert P.terrarium_height_py(*got[0]) == 1598.5294117647063
    assert small not in got
    with P.PmtilesReader(fixture_path) as rd:
        assert P.get_pixel_at(rd, 12, *probes[small]) is not None  # sampled at 128 px
        assert got == {
            i: P.get_pixel_at(rd, 12, lon, lat) for i, (lon, lat) in enumerate(probes[:small])
        }


def test_grey_and_grey_alpha_tiles(spark, tmp_path):
    """Grey and grey+alpha PNG tiles map to r = g = b = v: the scalar
    lookup keeps alpha last, as for RGBA, and the tile rows carry the
    grey plane in every band."""
    grey = np.arange(64, dtype=np.uint8).reshape(8, 8) * 3
    ga = np.stack([grey, 255 - grey], axis=-1)
    p = str(tmp_path / "grey.pmtiles")
    P.write_pmtiles(p, {(1, 0, 0): encode_png(grey), (1, 1, 0): encode_png(ga)})
    from georaster_spark import cells

    def probe(xt: int, px: int, py: int) -> tuple[float, float]:
        lon0, lat0, lon1, lat1 = cells.cell_bounds(cells.zxy_to_cell(1, xt, 0))
        return lon0 + (px + 0.2) * (lon1 - lon0) / 8, lat1 - (py + 0.2) * (lat1 - lat0) / 8

    v = int(grey[2, 4])
    with P.PmtilesReader(p) as rd:
        assert P.get_pixel_at(rd, 1, *probe(0, 4, 2)) == (v, v, v)
        assert P.get_pixel_at(rd, 1, *probe(1, 4, 2)) == (v, v, v, 255 - v)
    rows = {(r["x"], r["y"]): r for r in P.tiles_df(spark, [p]).collect()}
    for xy in ((0, 0), (1, 0)):
        row = rows[xy]
        assert row["r"] == row["g"] == row["b"] == grey.ravel().tolist()
        assert row["sum_r"] == row["sum_g"] == row["sum_b"] == int(grey.sum())


def test_tiles_df_expands_runs(spark, tmp_path):
    """One directory entry with ``run_length`` 2 (the archive is
    assembled here, independent of the writer) yields a row for each
    tile of the run, both from the entry's one decode."""
    tile = encode_png(np.arange(16, dtype=np.uint8).reshape(4, 4))
    root = P.serialize_directory([P.Entry(1, 0, len(tile), 2)])
    header = P.Header(
        root_offset=P.HEADER_SIZE, root_length=len(root),
        metadata_offset=P.HEADER_SIZE + len(root), metadata_length=0,
        leaf_offset=P.HEADER_SIZE + len(root), leaf_length=0,
        data_offset=P.HEADER_SIZE + len(root), data_length=len(tile),
        n_addressed_tiles=2, n_tile_entries=1, n_tile_contents=1, clustered=True,
        internal_compression=P.COMPRESSION_NONE, tile_compression=P.COMPRESSION_NONE,
        tile_type=P.TILETYPE_PNG, min_zoom=1, max_zoom=1,
        bounds_e7=(0, 0, 0, 0), center_zoom=1, center_e7=(0, 0),
    )
    p = tmp_path / "run.pmtiles"
    p.write_bytes(header.pack() + root + tile)
    with P.PmtilesReader(str(p)) as rd:
        assert rd.get_tile(*P.tileid_to_zxy(2)) == tile
    rows = P.tiles_df(spark, [str(p)]).collect()
    assert [(r["z"], r["x"], r["y"]) for r in rows] == [P.tileid_to_zxy(1), P.tileid_to_zxy(2)]
    assert rows[0]["r"] == rows[1]["b"] == list(range(16))
