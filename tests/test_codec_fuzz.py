"""Never-raise fuzz locks for every stdlib codec: random bytes,
truncations and byte mutations of VALID streams must yield None /
empty / valid output — never an exception. On a 100 TB crawl, one
corrupt blob must never kill a stage; these properties are the
mapInPandas pipeline's crash-safety floor."""

import struct

import numpy as np
from hypothesis import example, given, settings, strategies as st

from theoremsearch_spark.functions.multimodal import (
    decode_bmp_pixels,
    decode_gif_frames,
    decode_image,
    decode_png_pixels,
    decode_wav_pcm16,
    demux_avi_mjpeg_frames,
    encode_bmp,
    encode_png,
    encode_wav_pcm16,
    make_synthetic_image,
    parse_avi_header,
    parse_jpeg_dims,
    parse_png_header,
    parse_wav_header,
    parse_webp_dims,
)
from tests.test_multimodal import _tiny_jpeg


def _img(seed=0):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, (12, 10, 3), dtype=np.uint8)


_VALID = {
    "png": encode_png(_img(1)),
    "jpeg": _tiny_jpeg(10, 12),
    "synthetic": make_synthetic_image(1, 4, 4),
    "bmp": encode_bmp(_img(3)),
    "wav": encode_wav_pcm16(
        (np.sin(np.arange(400) / 7) * 8000).astype(np.int16), 8000
    ),
    # a lossless WEBP header (800x600): dims parse, no pixel decode
    "webp": b"RIFF" + struct.pack("<I", 17) + b"WEBP" + b"VP8L"
    + struct.pack("<I", 5) + bytes([0x2F]) + struct.pack("<I", 799 | 599 << 14),
}


def _never_raises(raw: bytes) -> None:
    parse_png_header(raw)
    decode_png_pixels(raw)
    parse_jpeg_dims(raw)
    decode_bmp_pixels(raw)
    parse_webp_dims(raw)
    parse_wav_header(raw)
    decode_wav_pcm16(raw)
    parse_avi_header(raw)
    list(decode_gif_frames(raw, max_frames=4))
    list(demux_avi_mjpeg_frames(raw, max_frames=4))
    fmt, w, h, px, _ = decode_image(raw)
    if fmt == "synthetic" and px is not None:
        # pixels, when returned, are the whole image the header declares
        assert px.size == w * h, (w, h, px.size)


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
