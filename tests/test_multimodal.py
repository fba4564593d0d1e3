"""Multimodal plumbing tests: schema/batch/UDF contracts are real even
though the codec is a deterministic stub."""

import struct

import numpy as np
import pandas as pd
import pytest

from theoremsearch_spark.functions.multimodal import (
    extract_image_features,
    frame_sample_stub,
    make_synthetic_image,
    resize_stub,
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


def test_resize_without_codec_raises(spark):
    """Formats we can't re-encode (JPEG) must raise in resize — a
    silent pass-through would be a resize that quietly did nothing."""
    jpeg = _tiny_jpeg(640, 480)
    df = spark.createDataFrame([(1, jpeg)], "media_id long, payload binary")
    with pytest.raises(Exception, match="NotImplementedError|external *codec"):
        resize_stub(df, max_side=16).collect()


def _png_with_filters(img: np.ndarray) -> bytes:
    """Encode a gray8 PNG exercising ALL five scanline filter types
    (row y uses filter y % 5) — the forward transforms here are the
    RFC 2083 definitions, independent of the module's unfilter code."""
    import struct as st
    import zlib

    from theoremsearch_spark.functions.multimodal import PNG_SIG, _paeth

    h, w = img.shape
    raw = img.astype(np.int64)
    scan = bytearray()
    prev = np.zeros(w, dtype=np.int64)
    for y in range(h):
        cur, f = raw[y], y % 5
        if f == 0:
            filt = cur
        elif f == 1:
            filt = cur - np.concatenate(([0], cur[:-1]))
        elif f == 2:
            filt = cur - prev
        elif f == 3:
            left = np.concatenate(([0], cur[:-1]))
            filt = cur - (left + prev) // 2
        else:
            filt = cur.copy()
            for x in range(w):
                a = int(cur[x - 1]) if x else 0
                c = int(prev[x - 1]) if x else 0
                filt[x] = cur[x] - _paeth(a, int(prev[x]), c)
        scan.append(f)
        scan.extend((filt % 256).astype(np.uint8).tobytes())
        prev = cur

    def chunk(ctype, payload):
        return (
            st.pack(">I", len(payload)) + ctype + payload
            + st.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
        )

    ihdr = st.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (
        PNG_SIG + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(scan))) + chunk(b"IEND", b"")
    )


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


def test_real_png_gray8_full_decode(spark):
    """Real PNG path end-to-end: all five filter types decode to the
    original pixels; extract_image_features reports true dims and a
    feature computed from the REAL pixels."""
    from theoremsearch_spark.functions.multimodal import (
        decode_png_gray8,
        encode_png_gray8,
        parse_png_header,
    )

    rng = np.random.default_rng(42)
    img = rng.integers(0, 256, (11, 17), dtype=np.uint8)
    raw = _png_with_filters(img.astype(np.int64))
    hdr = parse_png_header(raw)
    assert (hdr["width"], hdr["height"], hdr["bit_depth"], hdr["color_type"]) == (17, 11, 8, 0)
    px = decode_png_gray8(raw)
    assert px is not None and (px.reshape(11, 17) == img).all()
    # module's own encoder roundtrips too
    assert (decode_png_gray8(encode_png_gray8(img)).reshape(11, 17) == img).all()

    df = spark.createDataFrame([(7, raw)], "media_id long, payload binary")
    out = extract_image_features(df).toPandas().iloc[0]
    assert (out["format"], out["width"], out["height"]) == ("png", 17, 11)
    hist, _ = np.histogram(img.ravel(), bins=8, range=(0, 256))
    np.testing.assert_allclose(np.array(out["feature"]), hist / hist.sum(), atol=1e-6)


def test_real_png_resize_roundtrip(spark):
    """resize_stub decimates a REAL gray8 PNG and re-emits a valid PNG."""
    from theoremsearch_spark.functions.multimodal import decode_png_gray8

    img = (np.arange(64 * 48, dtype=np.int64) % 256).reshape(48, 64).astype(np.uint8)
    df = spark.createDataFrame(
        [(9, _png_with_filters(img.astype(np.int64)))], "media_id long, payload binary"
    )
    out = resize_stub(df, max_side=16).toPandas()
    raw = bytes(out.iloc[0]["payload"])
    assert sniff_format(raw) == "png"
    small = decode_png_gray8(raw)
    assert small is not None and (small.reshape(12, 16) == img[::4, ::4]).all()


def test_jpeg_dims_from_sof(spark):
    out = extract_image_features(
        spark.createDataFrame([(3, _tiny_jpeg(1920, 1080))], "media_id long, payload binary")
    ).toPandas().iloc[0]
    assert (out["format"], out["width"], out["height"]) == ("jpeg", 1920, 1080)
    assert out["feature"] is None  # pixels need an external codec


def test_unknown_format_passthrough(spark, media_df):
    out = extract_image_features(media_df.filter("media_id = 101")).toPandas()
    assert out.iloc[0]["format"] is None and out.iloc[0]["feature"] is None


def test_resize(spark, media_df):
    out = resize_stub(media_df.filter("media_id = 5"), max_side=16).toPandas()
    raw = bytes(out.iloc[0]["payload"])
    w, h = struct.unpack("<II", raw[4:12])
    assert max(w, h) <= 18  # 69/4 = 17 cols with step decimation
    assert sniff_format(raw) == "synthetic"


def test_frame_sampling(spark):
    frames = b"".join(make_synthetic_image(7, 8, 8)[0:] for _ in range(12))
    # concatenated equal-size frames; header of first frame governs size
    df = spark.createDataFrame([(7, frames)], "media_id long, payload binary")
    out = frame_sample_stub(df, every_n=4).toPandas()
    assert out["frame_no"].tolist() == [0, 4, 8]
    assert all(sniff_format(bytes(f)) == "synthetic" for f in out["frame"])


def test_png_rgb_rgba_roundtrip(spark):
    """Truecolor paths: encode→decode roundtrips for RGB8 and RGBA8;
    extract_image_features reports true dims + a feature from the real
    samples; resize re-emits a valid color PNG."""
    from theoremsearch_spark.functions.multimodal import (
        decode_png_pixels,
        encode_png,
    )

    rng = np.random.default_rng(7)
    rgb = rng.integers(0, 256, (9, 13, 3), dtype=np.uint8)
    rgba = rng.integers(0, 256, (6, 5, 4), dtype=np.uint8)
    for img in (rgb, rgba):
        px, c = decode_png_pixels(encode_png(img))
        assert c == img.shape[2]
        assert (px.reshape(img.shape) == img).all()

    df = spark.createDataFrame([(1, encode_png(rgb))], "media_id long, payload binary")
    out = extract_image_features(df).toPandas().iloc[0]
    assert (out["format"], out["width"], out["height"]) == ("png", 13, 9)
    assert out["feature"] is not None

    small = resize_stub(df, max_side=4).toPandas()
    px, c = decode_png_pixels(bytes(small.iloc[0]["payload"]))
    assert c == 3 and (px.reshape(3, 5, 3) == rgb[::3, ::3]).all()


def test_png_rgb_all_filters(spark):
    """The per-lane unfilter must recover truecolor pixels under every
    filter type: re-encode the _png_with_filters fixture per-channel
    logic at bpp=3 by hand."""
    import struct as st
    import zlib

    from theoremsearch_spark.functions.multimodal import (
        PNG_SIG,
        _paeth,
        decode_png_pixels,
    )

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (7, 6, 3), dtype=np.uint8).astype(np.int64)
    h, w, bpp = img.shape
    flat = img.reshape(h, w * bpp)
    scan = bytearray()
    prev = np.zeros(w * bpp, dtype=np.int64)
    for y in range(h):
        cur, f = flat[y], y % 5
        left = np.concatenate((np.zeros(bpp, np.int64), cur[:-bpp]))
        prevleft = np.concatenate((np.zeros(bpp, np.int64), prev[:-bpp]))
        if f == 0:
            filt = cur
        elif f == 1:
            filt = cur - left
        elif f == 2:
            filt = cur - prev
        elif f == 3:
            filt = cur - (left + prev) // 2
        else:
            filt = np.array(
                [cur[x] - _paeth(int(left[x]), int(prev[x]), int(prevleft[x])) for x in range(w * bpp)]
            )
        scan.append(f)
        scan.extend((filt % 256).astype(np.uint8).tobytes())
        prev = cur

    def chunk(ctype, payload):
        return st.pack(">I", len(payload)) + ctype + payload + st.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)

    raw = (
        PNG_SIG
        + chunk(b"IHDR", st.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(scan)))
        + chunk(b"IEND", b"")
    )
    px, c = decode_png_pixels(raw)
    assert c == 3 and (px.reshape(h, w, bpp) == img).all()


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


# --- GIF LZW frame decoding + BMP pixel codec ------------------------------

def _lzw_literal_stream(codes, mcs):
    """Independent test-side GIF LZW encoder (literal codes + periodic
    clears), mirroring the decoder's code-width growth — so the decode
    test is not a product-code round trip."""
    clear, end = 1 << mcs, (1 << mcs) + 1
    out_bits = []
    code_size, table_len, prev = mcs + 1, clear + 2, False
    out_bits.append((clear, code_size))
    for i, c in enumerate(codes):
        if i and i % 100 == 0:
            out_bits.append((clear, code_size))
            code_size, table_len, prev = mcs + 1, clear + 2, False
        out_bits.append((int(c), code_size))
        if prev:
            table_len += 1
            if table_len == (1 << code_size) and code_size < 12:
                code_size += 1
        prev = True
    out_bits.append((end, code_size))
    acc = nb = 0
    buf = bytearray()
    for code, size in out_bits:
        acc |= code << nb
        nb += size
        while nb >= 8:
            buf.append(acc & 0xFF)
            acc >>= 8
            nb -= 8
    if nb:
        buf.append(acc & 0xFF)
    return bytes(buf)


def _gif_encode(frames, palette, W, H, rects=None, interlace_idx=None,
                transparent=None, gce_frames=None):
    import struct as st

    nbits = max(1, (len(palette) - 1).bit_length())
    out = bytearray(b"GIF89a") + st.pack("<HH", W, H)
    out += bytes([0x80 | (nbits - 1), 0, 0])
    pal = np.zeros((2 ** nbits, 3), np.uint8)
    pal[: len(palette)] = palette
    out += pal.tobytes()
    for fi, fr in enumerate(frames):
        wants_gce = (fi in gce_frames) if gce_frames is not None else fi > 0
        if transparent is not None and wants_gce:
            out += bytes([0x21, 0xF9, 4, 0x01, 0, 0, transparent, 0])
        x, y = rects[fi] if rects else (0, 0)
        fh, fw = fr.shape
        ifl = 0x40 if interlace_idx == fi else 0
        out += bytes([0x2C]) + st.pack("<HHHH", x, y, fw, fh) + bytes([ifl])
        data = fr
        if ifl:  # write rows in interlace pass order
            data = np.vstack([fr[0::8], fr[4::8], fr[2::4], fr[1::2]])
        mcs = max(2, nbits)
        out.append(mcs)
        stream = _lzw_literal_stream(data.reshape(-1).tolist(), mcs)
        for i in range(0, len(stream), 255):
            blk = stream[i : i + 255]
            out += bytes([len(blk)]) + blk
        out.append(0)
    out.append(0x3B)
    return bytes(out)


def test_gif_lzw_frame_decode_and_compositing(spark):
    """Animated GIF → frames: full first frame, partial second frame
    composited onto the canvas, transparency holes keep prior pixels,
    and an interlaced frame is de-interlaced. Fixtures come from an
    independent test-side LZW encoder."""
    from theoremsearch_spark.functions.multimodal import decode_gif_frames

    rng_ = np.random.default_rng(5)
    palette = rng_.integers(0, 256, (8, 3), dtype=np.uint8)
    f0 = rng_.integers(0, 8, (10, 12), dtype=np.uint8)
    f1 = rng_.integers(0, 8, (4, 5), dtype=np.uint8)
    f1[1, :] = 7  # transparent index
    raw = _gif_encode(
        [f0, f1], palette, 12, 10, rects=[(0, 0), (3, 2)], transparent=7
    )
    frames = list(decode_gif_frames(raw))
    assert len(frames) == 2
    assert (frames[0] == palette[f0]).all()
    want = palette[f0].copy()
    rect = want[2:6, 3:8]
    mask = f1 != 7
    rect[mask] = palette[f1][mask]
    assert (frames[1] == want).all()

    # interlaced single frame
    fi = rng_.integers(0, 8, (13, 6), dtype=np.uint8)
    raw_i = _gif_encode([fi], palette, 6, 13, interlace_idx=0)
    got = list(decode_gif_frames(raw_i))
    assert len(got) == 1 and (got[0] == palette[fi]).all()

    # corrupt stream: truncated mid-frame -> no crash, no bogus frames
    # (either nothing or exactly the complete first frame survives)
    part = list(decode_gif_frames(raw[: len(raw) // 2]))
    assert len(part) <= 1
    if part:
        assert (part[0] == frames[0]).all()
    # truncated global color table -> no crash, no frames
    assert list(decode_gif_frames(raw[:12])) == []
    assert list(decode_gif_frames(b"GIF89a" + raw[6:14])) == []


def test_bmp_pixel_roundtrip_and_resize(spark):
    from theoremsearch_spark.functions.multimodal import (
        decode_bmp_pixels,
        decode_image,
        encode_bmp,
        resize_stub,
    )

    rng_ = np.random.default_rng(6)
    img = rng_.integers(0, 256, (9, 7, 3), dtype=np.uint8)  # odd w: row pad
    raw = encode_bmp(img)
    assert (decode_bmp_pixels(raw) == img).all()
    fmt, w, h, px, c = decode_image(raw)
    assert (fmt, w, h, c) == ("bmp", 7, 9, 3)
    assert (px.reshape(9, 7, 3) == img).all()

    big = rng_.integers(0, 256, (64, 48, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        pd.DataFrame({"media_id": [1], "payload": [encode_bmp(big)]})
    )
    out = resize_stub(df, max_side=16).toPandas()
    small = decode_bmp_pixels(bytes(out["payload"].iloc[0]))
    assert (small == big[::4, ::4]).all()


def test_gif_frame_sample_emits_real_pngs(spark):
    """frame_sample over an animated GIF: every_n-th composited frame
    re-emitted as a standalone decodable PNG."""
    from theoremsearch_spark.functions.multimodal import (
        decode_gif_frames,
        decode_png_pixels,
        frame_sample_stub,
    )

    rng_ = np.random.default_rng(7)
    palette = rng_.integers(0, 256, (16, 3), dtype=np.uint8)
    frames = [rng_.integers(0, 16, (8, 8), dtype=np.uint8) for _ in range(6)]
    raw = _gif_encode(frames, palette, 8, 8)
    want = list(decode_gif_frames(raw))
    df = spark.createDataFrame(
        pd.DataFrame({"media_id": [9], "payload": [raw]})
    )
    got = frame_sample_stub(df, every_n=2).toPandas().sort_values("frame_no")
    assert got["frame_no"].tolist() == [0, 2, 4]
    for fno, blob in zip(got["frame_no"], got["frame"]):
        px, c = decode_png_pixels(bytes(blob))
        assert c == 3
        assert (px.reshape(8, 8, 3) == want[fno]).all()


def test_gif_transparency_scoped_to_one_frame(spark):
    """A Graphic Control Extension applies to exactly ONE image: a
    later frame with no GCE that legitimately uses the old transparent
    index as an opaque color must render it, not punch holes."""
    from theoremsearch_spark.functions.multimodal import decode_gif_frames

    palette = np.arange(24, dtype=np.uint8).reshape(8, 3)
    f0 = np.full((4, 4), 2, dtype=np.uint8)
    f0[0, 0] = 7  # transparent in frame 0 -> background shows through
    f1 = np.full((4, 4), 7, dtype=np.uint8)  # 7 is OPAQUE here (no GCE)
    # GCE(T=7) before frame 0 ONLY; frame 1 has no GCE
    raw = _gif_encode([f0, f1], palette, 4, 4, transparent=7, gce_frames={0})
    frames = list(decode_gif_frames(raw))
    assert len(frames) == 2
    # frame 0: (0,0) transparent -> background color (palette[0]) shows
    assert (frames[0][0, 0] == palette[0]).all()
    assert (frames[0][1:, :] == palette[2]).all()
    # frame 1: index 7 is opaque (a stale transparent would keep
    # frame 0's pixels everywhere and leave the canvas unchanged)
    assert (frames[1] == palette[7]).all()


def _mjpeg_avi(frames_jpeg: list, w: int, h: int, fps: int = 10) -> bytes:
    """Independent test-side RIFF/AVI writer (avih + vids strh/strf +
    movi of 00dc chunks) — the fixture generator for the demux path."""
    import struct as _s

    def chunk(tag, payload):
        pad = b"\x00" if len(payload) % 2 else b""
        return tag + _s.pack("<I", len(payload)) + payload + pad

    def lst(ltype, payload):
        return chunk(b"LIST", ltype + payload)

    avih = _s.pack(
        "<IIIIIIIIII", 1_000_000 // fps, 0, 0, 0, len(frames_jpeg), 0, 1, 0, w, h
    ) + b"\x00" * 16
    strh = (
        b"vids" + b"MJPG"
        + _s.pack("<IHH", 0, 0, 0)          # flags, priority, language
        + _s.pack("<III", 0, 1, fps)         # initial, scale, rate
        + _s.pack("<IIIII", 0, len(frames_jpeg), 0, 0, 0)
        + _s.pack("<hhhh", 0, 0, w, h)
    )
    bmih = _s.pack("<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG", w * h * 3, 0, 0, 0, 0)
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", bmih)),
    )
    movi = lst(b"movi", b"".join(chunk(b"00dc", f) for f in frames_jpeg))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + _s.pack("<I", len(body)) + body


def test_avi_mjpeg_frame_sample(spark):
    """MJPEG-AVI frame sampling is REAL: container metadata from the
    struct walk, and sampled frames re-emitted as the VERBATIM stream
    JPEGs (zero transcode) whose frame headers carry the video dims."""
    from theoremsearch_spark.functions.multimodal import (
        decode_image,
        frame_sample_stub,
        parse_avi_header,
        parse_jpeg_dims,
    )

    w, h = 16, 12
    # distinct frames: the frame number rides in a COM segment
    jpgs = [
        _tiny_jpeg(w, h)[:-2] + b"\xff\xfe" + struct.pack(">H", 3) + bytes([i])
        + b"\xff\xd9"
        for i in range(6)
    ]
    avi = _mjpeg_avi(jpgs, w, h, fps=10)

    meta = parse_avi_header(avi)
    assert meta["width"] == w and meta["height"] == h
    assert meta["n_frames"] == 6 and meta["codec"] == "MJPG"
    assert abs(meta["fps"] - 10.0) < 1e-9
    fmt, mw, mh, px, c = decode_image(avi)
    assert (fmt, mw, mh, px, c) == ("avi", w, h, None, 0)

    df = spark.createDataFrame(pd.DataFrame({"media_id": [3], "payload": [avi]}))
    got = frame_sample_stub(df, every_n=2).toPandas().sort_values("frame_no")
    assert got["frame_no"].tolist() == [0, 2, 4]
    for fno, blob in zip(got["frame_no"], got["frame"]):
        assert bytes(blob) == jpgs[fno]  # verbatim, no transcode
        assert parse_jpeg_dims(bytes(blob)) == (w, h)


def test_avi_corrupt_and_non_mjpeg_safe(spark):
    """Truncated/garbage AVI bytes: metadata → None, sampling → no
    rows, never a crash."""
    from theoremsearch_spark.functions.multimodal import (
        frame_sample_stub,
        parse_avi_header,
    )

    garbage = b"RIFF" + b"\x10\x00\x00\x00" + b"AVI " + b"\xff" * 9
    assert parse_avi_header(garbage) is None
    df = spark.createDataFrame(
        pd.DataFrame({"media_id": [1, 2], "payload": [garbage, b"RIFFxxxx"]})
    )
    assert len(frame_sample_stub(df, every_n=1).toPandas()) == 0
