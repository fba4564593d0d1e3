"""Multimodal plumbing tests: the schema/batch/UDF contracts, features
from synthetic pixels, header dimensions of the real image formats,
and the WAV PCM16 decode."""

import numpy as np
import pytest

from theoremsearch_spark.functions.multimodal import (
    extract_image_features,
    make_synthetic_image,
    sniff_format,
)


@pytest.fixture(scope="module")
def media_df(spark):
    rows = [(i, make_synthetic_image(i, 64 + i, 32 + i)) for i in range(20)]
    rows.append((100, b"\x89PNG\r\n unsupported"))
    rows.append((101, b"\x00\x00garbage"))
    return spark.createDataFrame(rows, "media_id long, payload binary")


def test_sniff():
    assert sniff_format(b"\x89PNG1234") == "png"
    assert sniff_format(b"\xff\xd8\xffrest") == "jpeg"
    assert sniff_format(make_synthetic_image(1, 4, 4)) == "synthetic"
    assert sniff_format(b"????") is None


def test_extract_features(spark, media_df):
    out = extract_image_features(media_df.filter("media_id < 100")).toPandas()
    assert len(out) == 20
    row = out[out["media_id"] == 3].iloc[0]
    assert (row["width"], row["height"]) == (67, 35)
    f = np.array(row["feature"])
    assert f.shape == (8,) and abs(f.sum() - 1.0) < 1e-5
    # deterministic: same media_id → same sha1 across runs
    again = extract_image_features(media_df.filter("media_id = 3")).toPandas()
    assert again.iloc[0]["sha1"] == row["sha1"]


def test_corrupt_png_yields_null_dims_not_crash(spark, media_df):
    """A truncated/corrupt PNG must surface as format='png' with null
    dims — one bad row on a 100 TB crawl must not kill the job."""
    out = extract_image_features(media_df.filter("media_id = 100")).toPandas()
    row = out.iloc[0]
    assert row["format"] == "png"
    assert row["width"] is None or np.isnan(row["width"])
    assert row["feature"] is None


def _tiny_jpeg(w: int, h: int) -> bytes:
    """Minimal marker stream: SOI + APP0 + SOF0 carrying the dims."""
    import struct as st

    # APP0 payload = identifier(5) + version(2) + units(1) + density(4)
    # + thumb dims(2) = 14 bytes; length field counts itself too (16)
    app0 = b"\xff\xe0" + st.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + b"\x00" * 6
    sof0 = (
        b"\xff\xc0" + st.pack(">H", 11) + b"\x08" + st.pack(">HH", h, w)
        + b"\x01" + b"\x01\x11\x00"  # 1 component: id, sampling, qtable
    )
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def test_jpeg_dims_from_sof(spark):
    out = extract_image_features(
        spark.createDataFrame([(3, _tiny_jpeg(1920, 1080))], "media_id long, payload binary")
    ).toPandas().iloc[0]
    assert (out["format"], out["width"], out["height"]) == ("jpeg", 1920, 1080)
    assert out["feature"] is None  # pixels need an external codec


def test_unknown_format_passthrough(spark, media_df):
    out = extract_image_features(media_df.filter("media_id = 101")).toPandas()
    assert out.iloc[0]["format"] is None and out.iloc[0]["feature"] is None


def test_webp_dims(spark):
    import struct as st

    from theoremsearch_spark.functions.multimodal import parse_webp_dims

    def riff(body):
        return b"RIFF" + st.pack("<I", len(body) + 4) + b"WEBP" + body

    bits = (800 - 1) | ((600 - 1) << 14)
    vp8l = riff(b"VP8L" + st.pack("<I", 5) + bytes([0x2F]) + st.pack("<I", bits))
    assert parse_webp_dims(vp8l) == (800, 600)
    vp8x = riff(b"VP8X" + st.pack("<I", 10) + b"\x00" * 4 + (319).to_bytes(3, "little") + (239).to_bytes(3, "little"))
    assert parse_webp_dims(vp8x) == (320, 240)
    vp8 = riff(
        b"VP8 " + st.pack("<I", 10) + b"\x00\x00\x00" + b"\x9d\x01\x2a" + st.pack("<HH", 64, 48)
    )
    assert parse_webp_dims(vp8) == (64, 48)
    # decode_image surfaces webp with dims
    from theoremsearch_spark.functions.multimodal import decode_image

    fmt, w, h, px, c = decode_image(vp8l)
    assert (fmt, w, h, px) == ("webp", 800, 600, None)


def test_wav_pcm16_features(spark):
    """Real audio path: a 440 Hz sine at amplitude 0.5 must read back
    RMS ≈ 0.5/√2 and ZCR ≈ 2·f/sr; stereo second channel ignored."""
    from theoremsearch_spark.functions.multimodal import (
        encode_wav_pcm16,
        extract_audio_features,
        parse_wav_header,
    )

    sr, f, dur = 8000, 440, 1.0
    t = np.arange(int(sr * dur)) / sr
    x = (0.5 * np.sin(2 * np.pi * f * t) * 32767).astype(np.int16)
    stereo = np.stack([x, np.zeros_like(x)], axis=1)
    raw = encode_wav_pcm16(stereo, sr)
    hdr = parse_wav_header(raw)
    assert (hdr["channels"], hdr["sample_rate"], hdr["bits"]) == (2, 8000, 16)

    df = spark.createDataFrame(
        [(1, raw), (2, b"RIFF\x08\x00\x00\x00AVI " ), (3, b"not audio")],
        "media_id long, payload binary",
    )
    out = extract_audio_features(df).toPandas().set_index("media_id")
    r = out.loc[1]
    assert r["format"] == "wav" and r["n_samples"] == sr
    assert abs(r["duration_sec"] - 1.0) < 1e-9
    assert abs(r["rms"] - 0.5 / np.sqrt(2)) < 0.01
    assert abs(r["zero_cross_rate"] - 2 * f / sr) < 0.01
    assert out.loc[2]["format"] == "riff" and out.loc[2]["rms"] is None or np.isnan(out.loc[2]["rms"])
    assert out.loc[3]["format"] is None


def test_gif_bmp_dims(spark):
    import struct as st

    from theoremsearch_spark.functions.multimodal import (
        decode_image,
        parse_bmp_dims,
        parse_gif_dims,
    )

    gif89 = b"GIF89a" + st.pack("<HH", 320, 200) + b"\x00" * 3
    gif87 = b"GIF87a" + st.pack("<HH", 16, 9) + b"\x00" * 3
    assert parse_gif_dims(gif89) == (320, 200)
    assert parse_gif_dims(gif87) == (16, 9)
    assert parse_gif_dims(b"GIF89a\x00") is None  # truncated
    assert parse_gif_dims(b"GIF88a" + st.pack("<HH", 1, 1) + b"\x00") is None

    def bmp(hdr_size, w, h, fmt="<ii"):
        dib = st.pack("<I", hdr_size) + st.pack(fmt, w, h)
        return b"BM" + b"\x00" * 12 + dib + b"\x00" * 16

    assert parse_bmp_dims(bmp(40, 640, 480)) == (640, 480)
    # negative height = top-down row order; magnitude is the height
    assert parse_bmp_dims(bmp(40, 640, -480)) == (640, 480)
    assert parse_bmp_dims(bmp(12, 100, 50, fmt="<HH")) == (100, 50)
    assert parse_bmp_dims(bmp(40, 0, 480)) is None  # degenerate
    assert parse_bmp_dims(b"BM\x00") is None  # truncated

    fmt_, w, h, px, c = decode_image(gif89)
    assert (fmt_, w, h, px, c) == ("gif", 320, 200, None, 0)
    fmt_, w, h, px, c = decode_image(bmp(40, 640, 480))
    assert (fmt_, w, h, px, c) == ("bmp", 640, 480, None, 0)
    # corrupt bytes after the magic -> format sniffed, dims null, no crash
    fmt_, w, h, px, c = decode_image(b"GIF89a\xff")
    assert (fmt_, w, h) == ("gif", None, None)
