"""VP8L (lossless WEBP) decoder locks — an independent TEST-SIDE
encoder emits spec-shaped streams (simple and full prefix codes with
RLE'd code lengths, LZ77 linear + 2-D distance codes, color cache,
subtract-green, palette with sub-byte bundling, predictor and color
transforms) and the decoder must reproduce the source pixels exactly
(the format is lossless). No real VP8L fixture exists in this
container, so coverage is self-consistency of two independently
written codecs against the public spec."""

from __future__ import annotations

import heapq

import numpy as np
import pytest

from theoremsearch_spark.functions.webpcodec import (
    _DIST_MAP,
    decode_webp_lossless,
)

# ---------------------------------------------------------------------------
# bit writer (LSB-first) + canonical Huffman tooling
# ---------------------------------------------------------------------------


class _W:
    def __init__(self):
        self.bits: list[int] = []

    def w(self, value: int, nbits: int):
        for i in range(nbits):
            self.bits.append((value >> i) & 1)

    def bytes(self) -> bytes:
        out = bytearray()
        for i in range(0, len(self.bits), 8):
            b = 0
            for j, bit in enumerate(self.bits[i : i + 8]):
                b |= bit << j
            out.append(b)
        return bytes(out)


def _huff_lengths(freqs: dict[int, int]) -> dict[int, int]:
    """Code lengths of a Huffman code over freqs (≥2 symbols)."""
    heap = [(f, i, (s,)) for i, (s, f) in enumerate(sorted(freqs.items()))]
    heapq.heapify(heap)
    depth = dict.fromkeys(freqs, 0)
    ctr = len(heap)
    while len(heap) > 1:
        f1, _, s1 = heapq.heappop(heap)
        f2, _, s2 = heapq.heappop(heap)
        for s in s1 + s2:
            depth[s] += 1
        heapq.heappush(heap, (f1 + f2, ctr, s1 + s2))
        ctr += 1
    return depth


def _canonical_codes(lengths: dict[int, int]) -> dict[int, tuple[int, int]]:
    """Symbol → (code, len) under the canonical rule (shorter first,
    then symbol order) — independently re-derived from the spec."""
    nz = sorted(lengths.items(), key=lambda kv: (kv[1], kv[0]))
    codes = {}
    code = 0
    prev_len = nz[0][1]
    for sym, ln in nz:
        code <<= ln - prev_len
        codes[sym] = (code, ln)
        code += 1
        prev_len = ln
    return codes


class _Code:
    """One prefix code: holds encoder codes and writes itself."""

    def __init__(self, freqs: dict[int, int], alphabet: int):
        self.alphabet = alphabet
        if len(freqs) == 1:
            (s,) = freqs
            self.codes = {s: (0, 0)}  # single-symbol: zero bits on use
            self.simple = [s]
        elif len(freqs) == 2:
            a, b = sorted(freqs)
            self.codes = {a: (0, 1), b: (1, 1)}
            self.simple = [a, b]
        else:
            self.simple = None
            self.lengths = _huff_lengths(freqs)
            self.codes = _canonical_codes(self.lengths)

    def emit_def(self, w: _W):
        if self.simple is not None:
            w.w(1, 1)  # simple
            w.w(len(self.simple) - 1, 1)
            first = self.simple[0]
            if first > 1:
                w.w(1, 1)  # 8-bit first symbol
                w.w(first, 8)
            else:
                w.w(0, 1)
                w.w(first, 1)
            if len(self.simple) == 2:
                w.w(self.simple[1], 8)
            return
        w.w(0, 1)  # normal
        # lengths array over the full alphabet, RLE'd with 17/18 runs
        lens = [self.lengths.get(s, 0) for s in range(self.alphabet)]
        used_cl: dict[int, int] = {}
        ops = []
        i = 0
        while i < len(lens):
            if lens[i] == 0:
                j = i
                while j < len(lens) and lens[j] == 0:
                    j += 1
                run = j - i
                while run >= 11:
                    r = min(run, 138)
                    ops.append((18, r - 11, 7))
                    used_cl[18] = used_cl.get(18, 0) + 1
                    run -= r
                while run >= 3:
                    r = min(run, 10)
                    ops.append((17, r - 3, 3))
                    used_cl[17] = used_cl.get(17, 0) + 1
                    run -= r
                for _ in range(run):
                    ops.append((0, None, 0))
                    used_cl[0] = used_cl.get(0, 0) + 1
                i = j
            else:
                ops.append((lens[i], None, 0))
                used_cl[lens[i]] = used_cl.get(lens[i], 0) + 1
                i += 1
        cl_codes = _canonical_codes(_huff_lengths(used_cl)) if len(used_cl) > 1 else {
            next(iter(used_cl)): (0, 1)
        }
        # cl lengths written as fixed 3-bit values in _CL_ORDER
        from theoremsearch_spark.functions.webpcodec import _CL_ORDER

        cl_len = {s: ln for s, (c, ln) in cl_codes.items()}
        if len(used_cl) == 1:
            cl_len = {next(iter(used_cl)): 1}
        order_pos = {s: i for i, s in enumerate(_CL_ORDER)}
        last_needed = max(order_pos[s] for s in cl_len)
        num_codes = max(4, last_needed + 1)
        w.w(num_codes - 4, 4)
        for i2 in range(num_codes):
            w.w(cl_len.get(_CL_ORDER[i2], 0), 3)
        w.w(0, 1)  # no max_symbol cap
        single_cl = len(used_cl) == 1
        for sym, extra, ebits in ops:
            if not single_cl:
                c, ln = cl_codes[sym]
                w.w(_revcode(c, ln), ln)
            # single-symbol cl code consumes zero bits per use
            if extra is not None:
                w.w(extra, ebits)

    def emit(self, w: _W, sym: int):
        c, ln = self.codes[sym]
        w.w(_revcode(c, ln), ln)


def _revcode(code: int, ln: int) -> int:
    """Canonical codes are MSB-first; VP8L writes them bit-reversed
    (the decoder reads MSB-first by accumulating single bits)."""
    r = 0
    for _ in range(ln):
        r = (r << 1) | (code & 1)
        code >>= 1
    return r


# ---------------------------------------------------------------------------
# minimal VP8L stream writer
# ---------------------------------------------------------------------------


def _cache_key(argb, bits):
    a, r, g, b = (int(v) for v in argb)
    v = (a << 24) | (r << 16) | (g << 8) | b
    return ((0x1E35A7BD * v) & 0xFFFFFFFF) >> (32 - bits)


def _len_to_prefix(v: int) -> tuple[int, int, int]:
    """value ≥ 1 → (prefix code, extra value, extra bits)."""
    if v <= 4:
        return v - 1, 0, 0
    v -= 1
    extra = v.bit_length() - 2
    offset = (2 + ((v >> extra) & 1)) << extra
    code = 2 * extra + ((v >> extra) & 1) + 2
    return code, v - offset, extra


def _emit_image(
    w: _W, px: np.ndarray, xsize: int, *, cache_bits=0, lz=False, two_d=False,
    top_level=False,
):
    """Entropy-code an ARGB pixel list (n, 4) as one group: literals,
    optional LZ77 (repeats collapse to backrefs), optional cache."""
    n = len(px)
    tokens = []  # ("lit", argb) | ("copy", length, dist) | ("cache", idx)
    cache = {}
    i = 0
    while i < n:
        if lz and i >= xsize and np.array_equal(
            px[i : i + xsize], px[i - xsize : i]
        ) and i + xsize <= n:
            tokens.append(("copy", xsize, xsize))
            if cache_bits:
                for j in range(i, i + xsize):
                    cache[_cache_key(px[j], cache_bits)] = tuple(px[j])
            i += xsize
            continue
        t = tuple(int(v) for v in px[i])
        if cache_bits:
            k = _cache_key(px[i], cache_bits)
            if cache.get(k) == t:
                tokens.append(("cache", k))
                i += 1
                continue
            cache[k] = t
        tokens.append(("lit", t))
        i += 1

    gfreq, rfreq, bfreq, afreq, dfreq = {}, {}, {}, {}, {}
    for t in tokens:
        if t[0] == "lit":
            a, r, g, b = t[1]
            gfreq[g] = gfreq.get(g, 0) + 1
            rfreq[r] = rfreq.get(r, 0) + 1
            bfreq[b] = bfreq.get(b, 0) + 1
            afreq[a] = afreq.get(a, 0) + 1
        elif t[0] == "copy":
            code, _, _ = _len_to_prefix(t[1])
            gfreq[256 + code] = gfreq.get(256 + code, 0) + 1
            dval = (t[2] + 120) if not two_d else _dist_to_code(t[2])
            dcode, _, _ = _len_to_prefix(dval)
            dfreq[dcode] = dfreq.get(dcode, 0) + 1
        else:
            gfreq[280 + t[1]] = gfreq.get(280 + t[1], 0) + 1
    for f in (rfreq, bfreq, afreq, dfreq):
        if not f:
            f[0] = 1  # unused codes still need a definition

    w.w(1 if cache_bits else 0, 1)
    if cache_bits:
        w.w(cache_bits, 4)
    if top_level:
        w.w(0, 1)  # no meta prefix codes (helper images lack this bit)
    galpha = 280 + ((1 << cache_bits) if cache_bits else 0)
    G = _Code(gfreq, galpha)
    R = _Code(rfreq, 256)
    B = _Code(bfreq, 256)
    A = _Code(afreq, 256)
    D = _Code(dfreq, 40)
    for c in (G, R, B, A, D):
        c.emit_def(w)
    for t in tokens:
        if t[0] == "lit":
            a, r, g, b = t[1]
            G.emit(w, g)
            R.emit(w, r)
            B.emit(w, b)
            A.emit(w, a)
        elif t[0] == "copy":
            code, extra, ebits = _len_to_prefix(t[1])
            G.emit(w, 256 + code)
            w.w(extra, ebits)
            dval = (t[2] + 120) if not two_d else _dist_to_code(t[2])
            dcode, dextra, debits = _len_to_prefix(dval)
            D.emit(w, dcode)
            w.w(dextra, debits)
        else:
            G.emit(w, 280 + t[1])


def _dist_to_code(dist: int) -> int:
    """Linear distance → 2-D code when a map entry matches (the
    decoder's inverse), else linear form."""
    # search the map for an entry whose plane distance equals dist for
    # the row width used in the two_d test (set via a module global)
    for i, (dx, dy) in enumerate(_DIST_MAP):
        if dy * _TWO_D_XSIZE - dx == dist:
            return i + 1
    return dist + 120


_TWO_D_XSIZE = 0


def encode_vp8l(
    px: np.ndarray, w_: int, h_: int, *, cache_bits=0, lz=False, two_d=False,
    transforms=(),
) -> bytes:
    """(h*w, 4) ARGB + options → RIFF/WEBP bytes with a VP8L chunk."""
    w = _W()
    w.w(w_ - 1, 14)
    w.w(h_ - 1, 14)
    w.w(0, 1)  # alpha hint
    w.w(0, 3)  # version
    for t in transforms:
        w.w(1, 1)  # transform present
        if t[0] == "subgreen":
            w.w(2, 2)
        elif t[0] == "palette":
            w.w(3, 2)
            pal = t[1]  # (n, 4) ARGB
            w.w(len(pal) - 1, 8)
            delta = np.diff(
                np.vstack([np.zeros((1, 4), np.int64), pal.astype(np.int64)]),
                axis=0,
            ).astype(np.uint8)
            _emit_image(w, delta, len(pal))
        elif t[0] == "pred":
            w.w(0, 2)
            bits, modes = t[1], t[2]  # modes: (th, tw) array
            w.w(bits - 2, 3)
            tiles = np.zeros((modes.size, 4), np.uint8)
            tiles[:, 0] = 255
            tiles[:, 2] = modes.reshape(-1)  # green channel
            _emit_image(w, tiles, modes.shape[1])
        elif t[0] == "color":
            w.w(1, 2)
            bits, g2r, g2b, r2b = t[1], t[2], t[3], t[4]
            w.w(bits - 2, 3)
            tile = np.array([[255, r2b & 0xFF, g2b & 0xFF, g2r & 0xFF]], np.uint8)
            _emit_image(w, tile, 1)
    w.w(0, 1)  # no more transforms
    _emit_image(
        w, px, w_, cache_bits=cache_bits, lz=lz, two_d=two_d, top_level=True
    )
    body = b"\x2f" + w.bytes()
    chunk = b"VP8L" + len(body).to_bytes(4, "little") + body
    if len(body) % 2:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    return b"RIFF" + len(riff).to_bytes(4, "little") + riff


# ---------------------------------------------------------------------------
# the tests
# ---------------------------------------------------------------------------


def _rand_px(h, w, colors=None, seed=1, alpha=255):
    rng = np.random.default_rng(seed)
    if colors is None:
        px = rng.integers(0, 256, (h * w, 4), dtype=np.uint8)
        px[:, 0] = alpha
        return px
    pal = rng.integers(0, 256, (colors, 4), dtype=np.uint8)
    pal[:, 0] = alpha
    return pal[rng.integers(0, colors, h * w)]


def _check(raw, px, h, w, expect_c=3):
    got = decode_webp_lossless(raw)
    assert got is not None
    arr, c = got
    assert c == expect_c
    want = px.reshape(h, w, 4)[:, :, 1:4] if c == 3 else np.concatenate(
        [px.reshape(h, w, 4)[:, :, 1:4], px.reshape(h, w, 4)[:, :, 0:1]], axis=2
    )
    assert np.array_equal(arr, want), (arr[:2, :2], want[:2, :2])


def test_simple_codes_literals():
    px = _rand_px(3, 4, colors=2, seed=3)
    _check(encode_vp8l(px, 4, 3), px, 3, 4)


def test_full_codes_many_colors():
    px = _rand_px(8, 16, seed=5)
    _check(encode_vp8l(px, 16, 8), px, 8, 16)


def test_alpha_preserved():
    px = _rand_px(4, 4, seed=6)
    px[:, 0] = np.arange(16) * 16  # varying alpha
    got = decode_webp_lossless(encode_vp8l(px, 4, 4))
    assert got is not None and got[1] == 4
    assert np.array_equal(got[0][:, :, 3].reshape(-1), px[:, 0])


def test_lz77_linear_backrefs():
    row = _rand_px(1, 12, colors=5, seed=7)
    px = np.tile(row, (6, 1))
    raw = encode_vp8l(px, 12, 6, lz=True)
    _check(raw, px, 6, 12)


def test_lz77_two_d_distance_codes():
    global _TWO_D_XSIZE
    _TWO_D_XSIZE = 12
    row = _rand_px(1, 12, colors=5, seed=8)
    px = np.tile(row, (6, 1))
    raw = encode_vp8l(px, 12, 6, lz=True, two_d=True)
    _check(raw, px, 6, 12)


def test_color_cache():
    px = _rand_px(8, 8, colors=4, seed=9)
    _check(encode_vp8l(px, 8, 8, cache_bits=4), px, 8, 8)


def test_subtract_green_transform():
    px = _rand_px(6, 6, seed=10)
    coded = px.astype(np.int32).copy()
    coded[:, 1] = (coded[:, 1] - coded[:, 2]) & 0xFF  # r -= g
    coded[:, 3] = (coded[:, 3] - coded[:, 2]) & 0xFF  # b -= g
    raw = encode_vp8l(
        coded.astype(np.uint8), 6, 6, transforms=[("subgreen",)]
    )
    _check(raw, px, 6, 6)


def test_palette_no_bundling():
    pal = _rand_px(1, 20, seed=11)  # 20 distinct-ish colors
    pal = np.unique(pal, axis=0)
    idx = np.random.default_rng(2).integers(0, len(pal), 30)
    px = pal[idx]
    coded = np.zeros((30, 4), np.uint8)
    coded[:, 0] = 255
    coded[:, 2] = idx  # index in green
    raw = encode_vp8l(coded, 30, 1, transforms=[("palette", pal)])
    _check(raw, px, 1, 30, expect_c=3 if (pal[:, 0] == 255).all() else 4)


def test_palette_bundled_4bit():
    """≤16 colors: 2 pixels per coded byte (pack_bits=1)."""
    rng = np.random.default_rng(13)
    pal = np.unique(_rand_px(1, 9, seed=13), axis=0)  # ≤9 colors
    w_, h_ = 10, 4
    idx = rng.integers(0, len(pal), w_ * h_).reshape(h_, w_)
    px = pal[idx.reshape(-1)]
    packed_w = (w_ + 1) // 2
    coded = np.zeros((h_ * packed_w, 4), np.uint8)
    coded[:, 0] = 255
    for y in range(h_):
        for xp in range(packed_w):
            lo = idx[y, xp * 2]
            hi = idx[y, xp * 2 + 1] if xp * 2 + 1 < w_ else 0
            coded[y * packed_w + xp, 2] = lo | (hi << 4)
    raw = encode_vp8l(coded, w_, h_, transforms=[("palette", pal)])
    _check(raw, px, h_, w_, expect_c=3 if (pal[:, 0] == 255).all() else 4)


def test_predictor_transform_mode_T():
    """Single-tile predictor with mode 2 (top): residuals decode back
    to the source under the border rules (row 0 predicts from left,
    pixel 0 from opaque black)."""
    px = _rand_px(6, 8, seed=14)
    res = np.zeros_like(px, dtype=np.int32)
    src = px.astype(np.int32).reshape(6, 8, 4)
    for y in range(6):
        for x in range(8):
            if x == 0 and y == 0:
                pred = np.array([255, 0, 0, 0], np.int32)
            elif y == 0:
                pred = src[0, x - 1]
            elif x == 0:
                pred = src[y - 1, 0]
            else:
                pred = src[y - 1, x]  # mode 2 = T
            res[y * 8 + x] = (src[y, x] - pred) & 0xFF
    bits = 4  # one 16x16 tile covers 8x6
    modes = np.full((1, 1), 2, np.uint8)
    raw = encode_vp8l(
        res.astype(np.uint8), 8, 6, transforms=[("pred", bits, modes)]
    )
    _check(raw, px, 6, 8)


def test_color_transform_roundtrip():
    """Single-tile color transform with known multipliers: encoder
    subtracts the cross-channel deltas, decoder adds them back."""
    px = _rand_px(5, 7, seed=15)
    g2r, g2b, r2b = 24, -16 & 0xFF, 8

    def d(t, c):
        return (int(np.int8(np.uint8(t))) * int(np.int8(np.uint8(c)))) >> 5

    coded = px.astype(np.int32).copy()
    for i in range(len(coded)):
        a, r, g, b = coded[i]
        b = (b - d(r2b, r)) & 0xFF          # inverse order of decoder
        b = (b - d(g2b, g)) & 0xFF
        r = (r - d(g2r, g)) & 0xFF
        coded[i] = (a, r, g, b)
    bits = 4
    raw = encode_vp8l(
        coded.astype(np.uint8), 7, 5,
        transforms=[("color", bits, g2r, g2b, r2b)],
    )
    _check(raw, px, 5, 7)


def test_corrupt_never_raises():
    px = _rand_px(4, 4, seed=16)
    raw = encode_vp8l(px, 4, 4)
    assert decode_webp_lossless(raw[: len(raw) // 2]) is None
    assert decode_webp_lossless(b"RIFF\x00\x00\x00\x00WEBPVP8L") is None
    assert decode_webp_lossless(b"garbage") is None

