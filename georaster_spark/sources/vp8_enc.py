"""Minimal VP8 key-frame writer (RFC 6386 §7.2 bool encoder, fixed
header, explicit token lists) — a fixture encoder, like
``encode_webp_lossless`` / ``encode_png``: it exists so tests can
synthesize REAL lossy-WebP bytes with exactly known content (and so
the decoder's bitstream semantics could be pinned bit-by-bit against
the system libwebp during development). It writes valid streams for
arbitrary intra modes, coefficients, segmentation, skip flags and
loop-filter settings; it does not rate-optimize real images.
"""

from __future__ import annotations

import struct

from georaster_spark.sources.vp8_tables import (
    CAT_BASE,
    CAT_PROBS,
    COEF_BANDS,
    COEF_TREE,
    COEF_UPDATE_PROBS,
    DCT_0,
    DCT_CAT1,
    DCT_EOB,
    DEFAULT_COEF_PROBS,
    KF_BMODE_PROB,
    KF_UV_MODE_PROB,
    KF_YMODE_PROB,
    KF_YMODE_TREE,
    BMODE_TREE,
    UV_MODE_TREE,
    ZIGZAG,
    B_PRED,
)


class BoolEncoder:
    """RFC 6386 §7.2 boolean encoder with carry propagation."""

    def __init__(self):
        self.range = 255
        self.bottom = 0
        self.bit_count = 24
        self.out = bytearray()

    def _carry(self):
        i = len(self.out) - 1
        while i >= 0 and self.out[i] == 0xFF:
            self.out[i] = 0
            i -= 1
        if i >= 0:
            self.out[i] += 1

    def bool_(self, bit: int, prob: int) -> None:
        split = 1 + (((self.range - 1) * prob) >> 8)
        if bit:
            self.bottom += split
            if self.bottom >> 32:
                self._carry()
                self.bottom &= 0xFFFFFFFF
            self.range -= split
        else:
            self.range = split
        while self.range < 128:
            self.range <<= 1
            if self.bottom & 0x80000000:
                self._carry()
            self.bottom = (self.bottom << 1) & 0xFFFFFFFF
            self.bit_count -= 1
            if self.bit_count == 0:
                self.out.append((self.bottom >> 24) & 0xFF)
                self.bottom &= 0xFFFFFF
                self.bit_count = 8

    def literal(self, nbits: int, value: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self.bool_((value >> i) & 1, 128)

    def tree(self, tree: tuple, probs, symbol: int, start: int = 0) -> None:
        # find the bit path from `start` to leaf -symbol
        path = self._find(tree, start, symbol)
        assert path is not None, (symbol, start)
        i = start
        for bit in path:
            self.bool_(bit, probs[i >> 1])
            i = tree[i + bit]

    def _find(self, tree, i, symbol):
        for bit in (0, 1):
            node = tree[i + bit]
            if node <= 0:
                if -node == symbol:
                    return [bit]
            else:
                sub = self._find(tree, node, symbol)
                if sub is not None:
                    return [bit] + sub
        return None

    def flush(self) -> bytes:
        for _ in range(32):
            self.bool_(0, 128)
        return bytes(self.out)


def encode_block_tokens(enc: BoolEncoder, levels: list[int], btype: int,
                        ctx: int, start: int, probs=None) -> int:
    """Encode one block's coefficient levels (natural order, len 16).

    Returns the entropy-context flag (any token written).  Mirrors the
    decoder's model exactly: zigzag scan from ``start``, zero runs as
    DCT_0, EOB unless a zero immediately precedes, categories with
    extra bits MSB-first then sign.
    """
    if probs is None:
        probs = DEFAULT_COEF_PROBS
    zz = [levels[ZIGZAG[n]] for n in range(16)]
    last_nz = -1
    for n in range(start, 16):
        if zz[n]:
            last_nz = n
    n = start
    last_zero = False
    while n < 16:
        pr = probs[btype][COEF_BANDS[n]][ctx]
        tree_start = 2 if last_zero else 0
        if n > last_nz:
            enc.tree(COEF_TREE, pr, DCT_EOB, start=tree_start)
            return 1 if n > start else 0
        v = zz[n]
        if v == 0:
            enc.tree(COEF_TREE, pr, DCT_0, start=tree_start)
            ctx = 0
            last_zero = True
            n += 1
            continue
        last_zero = False
        a = abs(v)
        if a <= 4:
            enc.tree(COEF_TREE, pr, a, start=tree_start)
        else:
            cat = 0
            while cat < 5 and a >= CAT_BASE[cat + 1]:
                cat += 1
            enc.tree(COEF_TREE, pr, DCT_CAT1 + cat, start=tree_start)
            extra = a - CAT_BASE[cat]
            cps = CAT_PROBS[cat]
            for i, cp in enumerate(cps):
                enc.bool_((extra >> (len(cps) - 1 - i)) & 1, cp)
        ctx = 1 if a == 1 else 2
        enc.bool_(1 if v < 0 else 0, 128)
        n += 1
    return 1


def build_keyframe(w: int, h: int, mbs: list[dict], qi: int = 8,
                   filter_level: int = 0, sharpness: int = 0,
                   segments: dict | None = None,
                   use_skip: bool = False,
                   simple_filter: bool = False,
                   n_partitions: int = 1) -> bytes:
    """Assemble a key frame.

    ``mbs`` is raster-ordered; each entry:
      {"ymode": 0..4, "sub": 4x4 submodes (required iff ymode==B_PRED),
       "uvmode": 0..3,
       "y2": [16 levels] or None, "y": 16 x [16 levels],
       "u": 4 x [16 levels], "v": 4 x [16 levels]}
    Levels are in natural (row-major) order, pre-quantization
    (i.e. token values), with loop filter disabled and no
    probability updates.
    """
    mb_w = (w + 15) >> 4
    mb_h = (h + 15) >> 4
    assert len(mbs) == mb_w * mb_h

    # --- first partition
    e = BoolEncoder()
    e.literal(1, 0)  # color space
    e.literal(1, 0)  # clamping
    if segments:
        # absolute-mode segmentation with an explicit per-MB map
        e.bool_(1, 128)  # enabled
        e.bool_(1, 128)  # update map
        e.bool_(1, 128)  # update data
        e.bool_(1 if segments.get("abs", True) else 0, 128)
        for v in segments["quant"]:
            if v or segments.get("abs", True):
                e.bool_(1, 128)
                e.literal(7, abs(v))
                e.bool_(1 if v < 0 else 0, 128)
            else:
                e.bool_(0, 128)
        for v in segments["lf"]:
            if v or segments.get("abs", True):
                e.bool_(1, 128)
                e.literal(6, abs(v))
                e.bool_(1 if v < 0 else 0, 128)
            else:
                e.bool_(0, 128)
        for p in (128, 128, 128):  # segment tree probs, all coded
            e.bool_(1, 128)
            e.literal(8, p)
    else:
        e.bool_(0, 128)  # segmentation off
    e.bool_(1 if simple_filter else 0, 128)  # filter type
    e.literal(6, filter_level)
    e.literal(3, sharpness)
    e.bool_(0, 128)  # lf deltas off
    assert n_partitions in (1, 2, 4, 8)
    e.literal(2, {1: 0, 2: 1, 4: 2, 8: 3}[n_partitions])
    e.literal(7, qi)
    for _ in range(5):
        e.bool_(0, 128)  # no quant deltas
    e.bool_(0, 128)  # refresh entropy
    for i in range(4):
        for j in range(8):
            for k in range(3):
                for l in range(11):
                    e.bool_(0, COEF_UPDATE_PROBS[i][j][k][l])
    if use_skip:
        e.bool_(1, 128)
        e.literal(8, 128)  # prob_skip_false
    else:
        e.bool_(0, 128)  # mb_no_skip_coeff off: every MB coded
    # mode records for bmode contexts
    above_sub = [[0] * 4 for _ in range(mb_w)]
    mode_to_b = {0: 0, 1: 2, 2: 3, 3: 1}
    for mb_y in range(mb_h):
        left_sub = [0] * 4
        for mb_x in range(mb_w):
            mb = mbs[mb_y * mb_w + mb_x]
            if segments:
                s = mb.get("segment", 0)
                # MB_SEGMENT_TREE with probs 128: bits (s>=2, s&1)
                e.bool_(1 if s >= 2 else 0, 128)
                e.bool_(s & 1, 128)
            if use_skip:
                e.bool_(1 if mb.get("skip") else 0, 128)
            ym = mb["ymode"]
            e.tree(KF_YMODE_TREE, KF_YMODE_PROB, ym)
            if ym == B_PRED:
                sub = mb["sub"]
                for r in range(4):
                    for c in range(4):
                        ab = above_sub[mb_x][c] if r == 0 else sub[r - 1][c]
                        lf = left_sub[r] if c == 0 else sub[r][c - 1]
                        e.tree(BMODE_TREE, KF_BMODE_PROB[ab][lf], sub[r][c])
            else:
                sub = [[mode_to_b[ym]] * 4 for _ in range(4)]
            e.tree(UV_MODE_TREE, KF_UV_MODE_PROB, mb["uvmode"])
            left_sub = [sub[r][3] for r in range(4)]
            above_sub[mb_x] = list(sub[3])
    part0 = e.flush()

    # --- token partitions (MB row r -> partition r % n_partitions)
    parts = [BoolEncoder() for _ in range(n_partitions)]
    ay = [[0] * 4 for _ in range(mb_w)]
    au = [[0] * 2 for _ in range(mb_w)]
    av = [[0] * 2 for _ in range(mb_w)]
    ay2 = [0] * mb_w
    for mb_y in range(mb_h):
        t = parts[mb_y % n_partitions]
        ly = [0] * 4
        lu = [0] * 2
        lv = [0] * 2
        ly2 = 0
        for mb_x in range(mb_w):
            mb = mbs[mb_y * mb_w + mb_x]
            has_y2 = mb["ymode"] != B_PRED
            if use_skip and mb.get("skip"):
                for c2 in range(4):
                    ay[mb_x][c2] = 0
                for c2 in range(2):
                    au[mb_x][c2] = 0
                    av[mb_x][c2] = 0
                ly = [0] * 4
                lu = [0] * 2
                lv = [0] * 2
                if has_y2:
                    ay2[mb_x] = 0
                    ly2 = 0
                continue
            if has_y2:
                f = encode_block_tokens(
                    t, mb["y2"] or [0] * 16, 1, ay2[mb_x] + ly2, 0
                )
                ay2[mb_x] = f
                ly2 = f
            bt = 0 if has_y2 else 3
            st = 1 if has_y2 else 0
            for r in range(4):
                for c in range(4):
                    f = encode_block_tokens(
                        t, mb["y"][4 * r + c], bt, ay[mb_x][c] + ly[r], st
                    )
                    ay[mb_x][c] = f
                    ly[r] = f
            for plane, ac, lc in (("u", au, lu), ("v", av, lv)):
                for r in range(2):
                    for c in range(2):
                        f = encode_block_tokens(
                            t, mb[plane][2 * r + c], 2, ac[mb_x][c] + lc[r], 0
                        )
                        ac[mb_x][c] = f
                        lc[r] = f
    flushed = [p.flush() for p in parts]
    sizes = b"".join(
        len(p).to_bytes(3, "little") for p in flushed[:-1]
    )
    tokens = sizes + b"".join(flushed)

    tag = (0) | (0 << 1) | (1 << 4) | (len(part0) << 5)
    head = bytes((tag & 0xFF, (tag >> 8) & 0xFF, (tag >> 16) & 0xFF))
    head += b"\x9d\x01\x2a" + struct.pack("<HH", w, h)
    return head + part0 + tokens


def wrap_webp(vp8_payload: bytes) -> bytes:
    """RIFF/WEBP container around a raw VP8 frame."""
    chunk = b"VP8 " + struct.pack("<I", len(vp8_payload)) + vp8_payload
    if len(vp8_payload) & 1:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk

