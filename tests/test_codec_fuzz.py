"""Never-raise fuzz locks for every stdlib codec: random bytes,
truncations and byte mutations of VALID streams must yield None /
empty / valid output — never an exception. On a 100 TB crawl, one
corrupt blob must never kill a stage; these properties are the
mapInPandas pipeline's crash-safety floor."""

import struct
import zlib

import numpy as np
from hypothesis import example, given, settings, strategies as st

from theoremsearch_spark.functions.multimodal import (
    PNG_SIG,
    decode_image,
    decode_wav_pcm16,
    encode_wav_pcm16,
    make_synthetic_image,
    parse_bmp_dims,
    parse_gif_dims,
    parse_jpeg_dims,
    parse_png_header,
    parse_wav_header,
    parse_webp_dims,
)
from tests.test_multimodal import _tiny_jpeg


def _png_chunk(ctype: bytes, payload: bytes) -> bytes:
    crc = zlib.crc32(ctype + payload) & 0xFFFFFFFF
    return struct.pack(">I", len(payload)) + ctype + payload + struct.pack(">I", crc)


_VALID = {
    # signature + IHDR (10x12 RGB8) + IEND: the header the parser reads
    "png": PNG_SIG
    + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 10, 12, 8, 2, 0, 0, 0))
    + _png_chunk(b"IEND", b""),
    "jpeg": _tiny_jpeg(10, 12),
    "synthetic": make_synthetic_image(1, 4, 4),
    # file header + 40-byte BITMAPINFOHEADER (10x12, 24-bit, BI_RGB)
    "bmp": b"BM" + struct.pack("<IHHI", 54, 0, 0, 54)
    + struct.pack("<IiiHHIIiiII", 40, 10, 12, 1, 24, 0, 0, 2835, 2835, 0, 0),
    "gif": b"GIF89a" + struct.pack("<HH", 10, 12) + b"\x00" * 3 + b"\x3b",
    "wav": encode_wav_pcm16(
        (np.sin(np.arange(400) / 7) * 8000).astype(np.int16), 8000
    ),
    # a lossless WEBP header (800x600): dims parse, no pixel decode
    "webp": b"RIFF" + struct.pack("<I", 17) + b"WEBP" + b"VP8L"
    + struct.pack("<I", 5) + bytes([0x2F]) + struct.pack("<I", 799 | 599 << 14),
}


def _never_raises(raw: bytes) -> None:
    parse_png_header(raw)
    parse_jpeg_dims(raw)
    parse_webp_dims(raw)
    parse_gif_dims(raw)
    parse_bmp_dims(raw)
    parse_wav_header(raw)
    decode_wav_pcm16(raw)
    fmt, w, h, px, _ = decode_image(raw)
    if fmt == "synthetic" and px is not None:
        # pixels, when returned, are the whole image the header declares
        assert px.size == w * h, (w, h, px.size)
    else:
        assert px is None, fmt  # only the synthetic format carries pixels


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
# a synthetic payload cut inside its 12-byte header
@example("synthetic", 0, ord("S"), 8)
# a 4x4 synthetic payload cut inside its 16-byte pixel body
@example("synthetic", 0, ord("S"), 20)
def test_mutated_valid_streams_never_raise(fmt, mut_pos, mut_val, trunc):
    raw = bytearray(_VALID[fmt])
    raw[mut_pos % len(raw)] = mut_val
    _never_raises(bytes(raw[: max(1, trunc % (len(raw) + 1))]))
    _never_raises(bytes(raw))
