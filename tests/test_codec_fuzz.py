"""Never-raise fuzz locks for every media header parser and the WAV
decode: random truncations and byte mutations of VALID streams must
yield None / valid output — never an exception. On a 100 TB crawl, one
corrupt blob must never kill a stage; these properties are the
mapInPandas pipeline's crash-safety floor."""

import struct

import numpy as np
from hypothesis import given, settings, strategies as st

from tests.test_multimodal import _mjpeg_avi, _png, _tiny_jpeg
from theoremsearch_spark.functions.multimodal import (
    decode_image,
    decode_wav_pcm16,
    encode_wav_pcm16,
    parse_avi_header,
    parse_bmp_dims,
    parse_gif_dims,
    parse_jpeg_dims,
    parse_png_header,
    parse_wav_header,
    parse_webp_dims,
)


def _bmp(w: int, h: int) -> bytes:
    """BITMAPFILEHEADER + BITMAPINFOHEADER (24-bit BI_RGB) + rows."""
    data = bytes(((w * 3 + 3) & ~3) * h)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0)
    return b"BM" + struct.pack("<IHHI", 54 + len(data), 0, 0, 54) + dib + data


def _webp_vp8l(w: int, h: int) -> bytes:
    """RIFF/WEBP container with a VP8L chunk: signature byte 0x2F then
    14-bit (w-1) and (h-1) packed little-endian."""
    body = b"\x2f" + struct.pack("<I", (w - 1) | ((h - 1) << 14)) + b"\x00" * 3
    chunk = b"VP8L" + struct.pack("<I", len(body)) + body
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


_VALID = {
    "png": _png(10, 12),
    "jpeg": _tiny_jpeg(10, 12),
    # GIF89a logical screen descriptor + 2-entry global color table + trailer
    "gif": b"GIF89a" + struct.pack("<HHBBB", 10, 12, 0x80, 0, 0) + b"\x00" * 6 + b"\x3b",
    "bmp": _bmp(10, 12),
    "webp": _webp_vp8l(10, 12),
    "avi": _mjpeg_avi([b"\x00" * 8, b"\x01" * 8], 10, 12),
    "wav": encode_wav_pcm16(
        (np.sin(np.arange(400) / 7) * 8000).astype(np.int16), 8000
    ),
}


def _never_raises(raw: bytes) -> None:
    parse_png_header(raw)
    parse_jpeg_dims(raw)
    parse_gif_dims(raw)
    parse_bmp_dims(raw)
    parse_webp_dims(raw)
    parse_avi_header(raw)
    parse_wav_header(raw)
    decode_wav_pcm16(raw)
    decode_image(raw)


@settings(max_examples=60, deadline=None)
@given(st.binary(min_size=0, max_size=400))
def test_random_bytes_never_raise(raw):
    _never_raises(raw)


@settings(max_examples=80, deadline=None)
@given(
    st.sampled_from(sorted(_VALID)),
    st.integers(min_value=0, max_value=10_000),
    st.integers(min_value=0, max_value=255),
    st.integers(min_value=0, max_value=10_000),
)
def test_mutated_valid_streams_never_raise(fmt, mut_pos, mut_val, trunc):
    # each seed parses before it is mutated (every image seed is 10x12)
    if fmt == "wav":
        assert decode_wav_pcm16(_VALID[fmt])[0].shape == (400, 1)
    else:
        assert decode_image(_VALID[fmt]) == (fmt, 10, 12, None)
    raw = bytearray(_VALID[fmt])
    raw[mut_pos % len(raw)] = mut_val
    _never_raises(bytes(raw[: max(1, trunc % (len(raw) + 1))]))
    _never_raises(bytes(raw))
