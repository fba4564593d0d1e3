"""Multimodal columns: image/audio/video as opaque `binary` + typed
metadata, processed with Arrow-batched mapInPandas.

The Spark-side plumbing (schemas, batch iteration, partition sizing,
UDF signatures) is real and tested. The codec layer is stdlib-real for
the common web cases — no PIL/cv2/libav in this container:
  - PNG: IHDR metadata for every variant + FULL pixel decode/encode
    for 8-bit non-interlaced gray/RGB/RGBA (zlib + per-lane scanline
    unfilter) — the overwhelming share of real web PNGs;
  - JPEG: dimensions from the SOFn frame header (marker scan);
  - WEBP: dimensions from the VP8/VP8L/VP8X chunk headers;
  - GIF: FULL frame decode (variable-width LZW + palette + canvas
    compositing + transparency + de-interlace) — animated GIFs are a
    real video-frame-sampling path (frame_sample re-emits PNGs);
  - AVI/MJPEG: container demux (hdrl/strh struct walk + movi chunk
    scan) — frame_sample re-emits the per-frame JPEGs VERBATIM (zero
    transcode);
  - BMP: 24-bit uncompressed pixel decode/encode (real resize);
  - WAV: full PCM16 decode (fmt-chunk walk + frombuffer) with real
    audio features (duration, RMS, zero-crossing rate).
What still needs an external codec (JPEG and WEBP pixels,
16-bit/palette PNG, compressed audio, codec-bound video mp4/webm) is
metadata-only in the feature path and raises in the resize path;
swapping in PIL/libav is a one-function change in `decode_image`.

Design points for 100 TB of media:
  - binary payloads never leave the JVM until the mapInPandas boundary,
    and cross it in Arrow chunks — set
    `spark.sql.execution.arrow.maxRecordsPerBatch` DOWN for big blobs
    (here metadata-only rows come back, so memory stays bounded);
  - feature extraction emits fixed-width vectors (array<float>) +
    scalar metadata — columnar, join-able with the text-side tables;
  - frame sampling happens inside the UDF (one pass over the blob), so
    a video row costs one read regardless of frames sampled.

Reference analog: the ranged-GET + archive-sniff fetch pipeline
(/root/reference/ec2/parse_arxiv_papers/download_and_extract_paper.py:13-95)
— content sniffing on magic bytes, then per-format handling.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("format", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_bytes", T.IntegerType(), False),
        T.StructField("sha1", T.StringType(), False),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)

MAGIC = {
    b"\x89PNG": "png",
    b"\xff\xd8\xff": "jpeg",
    b"RIFF": "riff",
    b"GIF8": "gif",
    b"BM": "bmp",
    b"SYN0": "synthetic",  # our deterministic test format
}


def sniff_format(raw: bytes) -> str | None:
    """Magic-byte content sniffing — same pattern as the reference's
    zip/tar/gzip sniff (download_and_extract_paper.py:48-95)."""
    for magic, name in MAGIC.items():
        if raw[: len(magic)] == magic:
            return name
    return None


def make_synthetic_image(media_id: int, width: int, height: int) -> bytes:
    """Deterministic fake image: b'SYN0' + w + h + seeded pixel bytes."""
    rng = np.random.default_rng(media_id)
    pixels = rng.integers(0, 256, width * height, dtype=np.uint8).tobytes()
    return b"SYN0" + struct.pack("<II", width, height) + pixels


def make_oracle_image(media_id: int, width: int, height: int) -> bytes:
    """Deterministic, SQL-reconstructible fake image: b'SYN0' + w + h +
    pixel bytes (media_id + i) % 256. Unlike make_synthetic_image (rng
    pixels), this pattern can be rebuilt byte-for-byte inside DuckDB
    (to_hex/list_transform), so the driver-gate oracle hashes the exact
    payload the Spark UDF pipeline processed."""
    px = ((np.arange(width * height) + media_id) % 256).astype(np.uint8)
    return b"SYN0" + struct.pack("<II", width, height) + px.tobytes()


# ---------------------------------------------------------------------------
# Real-format decoding — stdlib only (struct + zlib), no PIL/cv2.
#
# PNG: IHDR metadata for every variant; FULL pixel decode (zlib inflate
# + scanline unfilter, filter types 0-4) for 8-bit non-interlaced
# gray/RGB/RGBA — plus a matching encoder, so resize is end-to-end real
# for those variants. JPEG: dimensions from the SOFn frame header.
# WEBP: dimensions from VP8/VP8L/VP8X. WAV: full PCM16 decode (below).
# Reference analog: magic-byte format dispatch
# (/root/reference/ec2/parse_arxiv_papers/download_and_extract_paper.py:48-95).
# ---------------------------------------------------------------------------

PNG_SIG = b"\x89PNG\r\n\x1a\n"


def parse_png_header(raw: bytes) -> dict | None:
    """PNG signature + IHDR → {width, height, bit_depth, color_type,
    interlace}, or None for a corrupt/truncated file (never raises — on
    a 100 TB crawl one bad row must not kill the job; the row surfaces
    as format='png' with null dims, the reference's drop-and-continue
    failure policy)."""
    if len(raw) < 29 or raw[:8] != PNG_SIG:
        return None
    length, ctype = struct.unpack(">I4s", raw[8:16])
    if ctype != b"IHDR" or length != 13:
        return None
    w, h, bit_depth, color_type, _comp, _filt, interlace = struct.unpack(
        ">IIBBBBB", raw[16:29]
    )
    if not w or not h:
        return None
    return {
        "width": int(w),
        "height": int(h),
        "bit_depth": int(bit_depth),
        "color_type": int(color_type),
        "interlace": int(interlace),
    }


def _png_chunks(raw: bytes, want: bytes) -> bytes:
    """Concatenated payloads of all `want` chunks (tolerant scan)."""
    pos, out = 8, []
    while pos + 8 <= len(raw):
        ln, ct = struct.unpack(">I4s", raw[pos : pos + 8])
        if ct == want:
            out.append(raw[pos + 8 : pos + 8 + ln])
        if ct == b"IEND":
            break
        pos += 12 + ln  # length + type + data + crc
    return b"".join(out)


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (PNG filter 4), RFC 2083 §6.6."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


# 8-bit non-interlaced variants we fully decode: grayscale, truecolor,
# truecolor+alpha — together the overwhelming share of real web PNGs.
_PNG_BPP = {0: 1, 2: 3, 6: 4}


def decode_png_pixels(raw: bytes) -> tuple[np.ndarray, int] | None:
    """Full pixel decode for 8-bit non-interlaced PNG (gray / RGB /
    RGBA) → (flat uint8 array of h·w·c samples, channels), or None for
    other variants or corrupt files.

    Unfiltering (RFC 2083 §6): per-byte predictors where "left" is the
    byte `bpp` positions back, so each scanline is viewed as (w, bpp)
    and the bpp channel lanes unfilter independently —
      none/up: fully vectorized;
      sub:     rec[x] = cur[x] + rec[x-bpp] ⇒ cumsum along the pixel
               axis of the (w, bpp) view, mod 256;
      average/paeth: sequential in the pixel axis (left-neighbor data
               dependency) but vectorized across the bpp lanes — w
               iterations per row, not w·bpp."""
    import zlib

    hdr = parse_png_header(raw)
    if not hdr or hdr["bit_depth"] != 8 or hdr["interlace"]:
        return None
    bpp = _PNG_BPP.get(hdr["color_type"])
    if bpp is None:
        return None
    w, h = hdr["width"], hdr["height"]
    try:
        data = zlib.decompress(_png_chunks(raw, b"IDAT"))
    except zlib.error:
        return None
    stride = w * bpp
    if len(data) != h * (stride + 1):
        return None
    rows = np.frombuffer(data, dtype=np.uint8).reshape(h, stride + 1)
    ftypes = rows[:, 0]
    # the whole-image buffer stays uint8 (1 byte/sample — a 100 MP RGB
    # crawl image is ~300 MB, not the 2.4 GB an int64 matrix would
    # cost inside an Arrow batch); only the CURRENT row is widened to
    # int32 for the predictor arithmetic (max intermediate 255+255;
    # the sub-filter cumsum widens to int64 for one row at a time —
    # a pathological 2^23-pixel row would overflow int32 sums)
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros((w, bpp), dtype=np.int32)  # prior row, (pixel, lane)
    for y in range(h):
        f = int(ftypes[y])
        cur = rows[y, 1:].astype(np.int32).reshape(w, bpp)
        if f == 0:
            rec = cur
        elif f == 1:  # sub — per-lane cumsum over the pixel axis
            rec = (np.cumsum(cur, axis=0, dtype=np.int64) % 256).astype(np.int32)
        elif f == 2:  # up
            rec = (cur + prev) % 256
        elif f == 3:  # average
            rec = cur
            rec[0] = (rec[0] + prev[0] // 2) % 256
            for i in range(1, w):
                rec[i] = (rec[i] + (rec[i - 1] + prev[i]) // 2) % 256
        elif f == 4:  # paeth — vectorized across lanes per pixel step
            rec = cur
            zero = np.zeros(bpp, dtype=np.int32)
            rec[0] = (rec[0] + _paeth_vec(zero, prev[0], zero)) % 256
            for i in range(1, w):
                rec[i] = (rec[i] + _paeth_vec(rec[i - 1], prev[i], prev[i - 1])) % 256
        else:
            return None
        out[y] = rec.ravel()  # values already in [0, 256) — narrowing is safe
        prev = rec
    return out.ravel(), bpp


def _paeth_vec(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Paeth predictor over channel-lane vectors (RFC 2083 §6.6)."""
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def decode_png_gray8(raw: bytes) -> np.ndarray | None:
    """Gray-8 convenience wrapper over decode_png_pixels."""
    d = decode_png_pixels(raw)
    return d[0] if d is not None and d[1] == 1 else None


_PNG_COLOR_TYPE = {1: 0, 3: 2, 4: 6}  # channels → IHDR color_type


def encode_png(img: np.ndarray) -> bytes:
    """(h, w) or (h, w, c) uint8 array (c ∈ {1, 3, 4}) → valid 8-bit
    PNG (filter-0 rows, one zlib IDAT). The write half of the pixel
    path — resize_stub uses it to re-emit real PNGs."""
    import zlib

    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, c = img.shape
    color_type = _PNG_COLOR_TYPE[c]

    def chunk(ctype: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + ctype
            + payload
            + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    flat = img.reshape(h, w * c)
    scan = np.concatenate([np.zeros((h, 1), np.uint8), flat], axis=1).tobytes()
    return (
        PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(scan))
        + chunk(b"IEND", b"")
    )


def encode_png_gray8(img: np.ndarray) -> bytes:
    """Back-compat alias for the gray case of encode_png."""
    return encode_png(img)


_JPEG_SOF = frozenset(
    [0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF]
)


def parse_jpeg_dims(raw: bytes) -> tuple[int, int] | None:
    """(width, height) from the first SOFn frame header (ITU T.81 marker
    scan); None on corrupt/truncated streams — never raises."""
    if raw[:3] != b"\xff\xd8\xff":
        return None
    pos = 2
    while pos + 4 <= len(raw):
        if raw[pos] != 0xFF:
            return None
        marker = raw[pos + 1]
        if marker == 0xFF:  # fill byte padding before a marker
            pos += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:  # standalone
            pos += 2
            continue
        if marker in (0xDA, 0xD9):  # SOS/EOI before any SOF: no dims
            return None
        seglen = struct.unpack(">H", raw[pos + 2 : pos + 4])[0]
        if marker in _JPEG_SOF:
            if pos + 9 > len(raw):
                return None
            h, w = struct.unpack(">HH", raw[pos + 5 : pos + 9])
            return int(w), int(h)
        pos += 2 + seglen
    return None


def decode_image(
    raw: bytes,
) -> tuple[str | None, int | None, int | None, np.ndarray | None, int]:
    """(format, width, height, pixels|None, channels). Pixels come back
    for the synthetic format, real 8-bit PNGs (gray/RGB/RGBA), GIF
    (first frame) and 24-bit BMP; the remaining variants (JPEG,
    16-bit/palette/interlaced PNG, WEBP) return metadata only — their
    pixel decode is the remaining external-codec dependency.
    WEBP images inside a RIFF container report dimensions from the
    VP8/VP8L/VP8X headers. A payload too short for its header (or, for
    the synthetic format, its pixel body) is a null-dims row; never
    raises."""
    fmt = sniff_format(raw)
    if fmt == "synthetic":
        w, h = struct.unpack("<II", raw[4:12]) if len(raw) >= 12 else (0, 0)
        if len(raw) < 12 + w * h:  # header or pixel body cut short
            return fmt, None, None, None, 0
        return fmt, int(w), int(h), np.frombuffer(raw[12 : 12 + w * h], dtype=np.uint8), 1
    if fmt == "png":
        hdr = parse_png_header(raw)
        if hdr is None:
            return fmt, None, None, None, 0
        d = decode_png_pixels(raw)
        px, c = d if d is not None else (None, 0)
        return fmt, hdr["width"], hdr["height"], px, c
    if fmt == "jpeg":
        dims = parse_jpeg_dims(raw)
        if not dims:
            return fmt, None, None, None, 0
        return fmt, dims[0], dims[1], None, 0  # dims only: no pixel decode
    if fmt == "riff":
        dims = parse_webp_dims(raw)
        if dims:
            return "webp", dims[0], dims[1], None, 0  # dims only: no pixel decode
        avi = parse_avi_header(raw)
        if avi:
            # container dims; the frames come from frame_sample
            return "avi", avi["width"], avi["height"], None, 0
        return fmt, None, None, None, 0
    if fmt == "gif":
        dims = parse_gif_dims(raw)
        if not dims:
            return fmt, None, None, None, 0
        frame = next(decode_gif_frames(raw, max_frames=1), None)
        if frame is not None:
            return fmt, dims[0], dims[1], frame.reshape(-1), 3
        return fmt, dims[0], dims[1], None, 0
    if fmt == "bmp":
        dims = parse_bmp_dims(raw)
        if not dims:
            return fmt, None, None, None, 0
        px = decode_bmp_pixels(raw)
        if px is not None:
            return fmt, dims[0], dims[1], px.reshape(-1), 3
        return fmt, dims[0], dims[1], None, 0
    return None, None, None, None, 0


def _gif_lzw_decode(data: bytes, min_code_size: int, npix: int) -> bytes | None:
    """GIF variable-width LZW (LSB-first bit packing) → index stream of
    exactly `npix` pixels. Pure-python per-frame loop — fine for the
    pipeline's Arrow-batched frames; a PIL swap-in replaces only this
    function. Returns None on a corrupt stream."""
    clear = 1 << min_code_size
    end = clear + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    code_size = min_code_size + 1
    acc = nbits = 0
    out = bytearray()
    prev: bytes | None = None
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= code_size:
            code = acc & ((1 << code_size) - 1)
            acc >>= code_size
            nbits -= code_size
            if code == clear:
                table = table[: clear + 2]
                code_size = min_code_size + 1
                prev = None
                continue
            if code == end:
                return bytes(out[:npix]) if len(out) >= npix else None
            if code < len(table):
                entry = table[code]
            elif code == len(table) and prev is not None:
                entry = prev + prev[:1]
            else:
                return None  # corrupt: code beyond table
            out += entry
            if prev is not None and len(table) < 4096:
                table.append(prev + entry[:1])
                if len(table) == (1 << code_size) and code_size < 12:
                    code_size += 1
            prev = entry
            if len(out) >= npix:
                return bytes(out[:npix])
    return bytes(out[:npix]) if len(out) >= npix else None


_GIF_INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))  # (start row, step) passes


def decode_gif_frames(raw: bytes, max_frames: int | None = None):
    """Decode an (animated) GIF's frames to (h, w, 3) RGB uint8 arrays —
    the stdlib-real half of video frame sampling (GIF is the one
    web-video-ish format decodable without libav). Yields full-canvas
    frames: each image descriptor's rectangle is composited onto a
    persistent canvas ("do not dispose" semantics, transparency
    honored), which matches the common boomerang/screen-capture GIFs;
    exotic disposal modes come out as the accumulated canvas rather
    than a bit-exact player rendering. Interlaced frames are
    de-interlaced. Corrupt streams stop the iteration — frames decoded
    so far are still returned."""
    if len(raw) < 13 or raw[:6] not in (b"GIF87a", b"GIF89a"):
        return
    W_, H_ = struct.unpack("<HH", raw[6:10])
    flags = raw[10]
    bg_index = raw[11]
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        if pos + n * 3 > len(raw):
            return  # truncated global color table — corrupt, no frames
        gct = np.frombuffer(raw, np.uint8, n * 3, pos).reshape(n, 3)
        pos += n * 3
    canvas = np.zeros((H_, W_, 3), dtype=np.uint8)
    if gct is not None and bg_index < len(gct):
        canvas[:] = gct[bg_index]
    transparent = None
    emitted = 0
    while pos < len(raw):
        block = raw[pos]
        pos += 1
        if block == 0x3B:  # trailer
            return
        if block == 0x21:  # extension: label + sub-blocks
            if pos >= len(raw):
                return
            label = raw[pos]
            pos += 1
            sub_start = pos
            while pos < len(raw) and raw[pos]:
                pos += 1 + raw[pos]
            if pos >= len(raw):
                return
            if label == 0xF9 and pos - sub_start >= 5:  # graphic control
                gflags = raw[sub_start + 1]
                transparent = raw[sub_start + 4] if gflags & 0x01 else None
            pos += 1  # block terminator
            continue
        if block != 0x2C:  # not an image descriptor — corrupt
            return
        if pos + 9 > len(raw):
            return
        x, y, fw, fh = struct.unpack("<HHHH", raw[pos : pos + 8])
        iflags = raw[pos + 8]
        pos += 9
        ct = gct
        if iflags & 0x80:  # local color table
            n = 2 << (iflags & 0x07)
            if pos + n * 3 > len(raw):
                return
            ct = np.frombuffer(raw, np.uint8, n * 3, pos).reshape(n, 3)
            pos += n * 3
        if ct is None or pos >= len(raw):
            return
        min_code = raw[pos]
        pos += 1
        chunks = []
        while pos < len(raw) and raw[pos]:
            ln = raw[pos]
            chunks.append(raw[pos + 1 : pos + 1 + ln])
            pos += 1 + ln
        if pos >= len(raw):
            return
        pos += 1  # terminator
        idx = _gif_lzw_decode(b"".join(chunks), min_code, fw * fh)
        if idx is None or not (0 < fw and 0 < fh) or x + fw > W_ or y + fh > H_:
            return
        frame_idx = np.frombuffer(idx, np.uint8).reshape(fh, fw)
        if iflags & 0x40:  # interlaced: reorder rows in 4 passes
            ordered = np.empty_like(frame_idx)
            src = 0
            for start, step in _GIF_INTERLACE:
                nrows = len(range(start, fh, step))
                ordered[start::step] = frame_idx[src : src + nrows]
                src += nrows
            frame_idx = ordered
        safe = np.minimum(frame_idx, len(ct) - 1)
        rect = canvas[y : y + fh, x : x + fw]
        px = ct[safe]
        if transparent is not None:
            mask = frame_idx != transparent
            rect[mask] = px[mask]
        else:
            rect[:] = px
        # a Graphic Control Extension scopes to the ONE rendering block
        # that follows it (GIF89a spec) — a stale transparent index
        # would punch holes in later frames that legitimately use it
        transparent = None
        yield canvas.copy()
        emitted += 1
        if max_frames is not None and emitted >= max_frames:
            return


def parse_gif_dims(raw: bytes) -> tuple[int, int] | None:
    """(width, height) from the GIF logical screen descriptor — two
    little-endian u16s right after the GIF87a/GIF89a signature."""
    if len(raw) < 10 or raw[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    w, h = struct.unpack("<HH", raw[6:10])
    return (int(w), int(h)) if w and h else None


def decode_bmp_pixels(raw: bytes) -> np.ndarray | None:
    """Full pixel decode for the plain web BMP: BITMAPINFOHEADER,
    24-bit uncompressed (BI_RGB), bottom-up or top-down. Returns an
    (h, w, 3) RGB uint8 array; other BMP variants (paletted, RLE,
    16/32-bit) return None — metadata-only, like non-8-bit PNGs."""
    if len(raw) < 54 or raw[:2] != b"BM":
        return None
    (data_off,) = struct.unpack("<I", raw[10:14])
    (hdr_size,) = struct.unpack("<I", raw[14:18])
    if hdr_size < 40:
        return None
    w, h = struct.unpack("<ii", raw[18:26])
    planes, bpp = struct.unpack("<HH", raw[26:30])
    (compression,) = struct.unpack("<I", raw[30:34])
    if w <= 0 or h == 0 or planes != 1 or bpp != 24 or compression != 0:
        return None
    top_down = h < 0
    h = abs(h)
    row_bytes = (w * 3 + 3) & ~3  # rows pad to 4-byte boundaries
    need = data_off + row_bytes * h
    if len(raw) < need:
        return None
    rows = np.frombuffer(
        raw, dtype=np.uint8, count=row_bytes * h, offset=data_off
    ).reshape(h, row_bytes)[:, : w * 3].reshape(h, w, 3)
    if not top_down:
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()  # BGR -> RGB


def encode_bmp(img: np.ndarray) -> bytes:
    """(h, w, 3) RGB uint8 → 24-bit uncompressed bottom-up BMP. The
    write half of the BMP pixel path — resize re-emits real BMPs."""
    h, w = img.shape[:2]
    row_bytes = (w * 3 + 3) & ~3
    body = np.zeros((h, row_bytes), dtype=np.uint8)
    body[:, : w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)  # RGB->BGR, flip
    data = body.tobytes()
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0)
    hdr = b"BM" + struct.pack("<IHHI", 14 + 40 + len(data), 0, 0, 14 + 40)
    return hdr + dib + data


def parse_bmp_dims(raw: bytes) -> tuple[int, int] | None:
    """(width, height) from the BMP DIB header. BITMAPINFOHEADER
    (size >= 40): signed i32 dims at offsets 18/22 — a negative height
    means top-down row order, the magnitude is the pixel height. The
    ancient BITMAPCOREHEADER (size 12) stores u16 dims."""
    if len(raw) < 26 or raw[:2] != b"BM":
        return None
    (hdr_size,) = struct.unpack("<I", raw[14:18])
    if hdr_size >= 40:
        w, h = struct.unpack("<ii", raw[18:26])
    elif hdr_size == 12:
        w, h = struct.unpack("<HH", raw[18:22])
    else:
        return None
    if w <= 0 or h == 0:
        return None
    return int(w), abs(int(h))


def parse_webp_dims(raw: bytes) -> tuple[int, int] | None:
    """(width, height) of a WEBP image from the VP8 (lossy key frame),
    VP8L (lossless), or VP8X (extended) chunk headers — struct only."""
    if len(raw) < 16 or raw[:4] != b"RIFF" or raw[8:12] != b"WEBP":
        return None
    pos = 12
    while pos + 8 <= len(raw):
        tag, ln = raw[pos : pos + 4], struct.unpack("<I", raw[pos + 4 : pos + 8])[0]
        body = raw[pos + 8 : pos + 8 + ln]
        if tag == b"VP8 " and len(body) >= 10:
            # 3-byte frame tag, start code 9D 01 2A, then 14-bit w/h LE
            if body[3:6] != b"\x9d\x01\x2a":
                return None
            w = struct.unpack("<H", body[6:8])[0] & 0x3FFF
            h = struct.unpack("<H", body[8:10])[0] & 0x3FFF
            return w, h
        if tag == b"VP8L" and len(body) >= 5:
            if body[0] != 0x2F:
                return None
            bits = struct.unpack("<I", body[1:5])[0]
            return (bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1
        if tag == b"VP8X" and len(body) >= 10:
            w = int.from_bytes(body[4:7], "little") + 1
            h = int.from_bytes(body[7:10], "little") + 1
            return w, h
        pos += 8 + ln + (ln & 1)  # chunks are 2-byte aligned
    return None


def _riff_type(raw: bytes) -> bytes | None:
    """The RIFF form type ('WEBP', 'AVI ', 'WAVE', …) or None."""
    if len(raw) < 12 or raw[:4] != b"RIFF":
        return None
    return raw[8:12]


def parse_avi_header(raw: bytes) -> dict | None:
    """Struct-only AVI container metadata: (width, height, n_frames,
    fps, codec) from the hdrl LIST's avih main header and the first
    'vids' stream's strh — the video analog of parse_wav_header. Any
    malformed structure → None, never a raise."""
    if _riff_type(raw) != b"AVI ":
        return None
    try:
        out: dict = {}

        def walk(pos: int, end: int) -> None:
            while pos + 8 <= end:
                tag = raw[pos : pos + 4]
                ln = struct.unpack("<I", raw[pos + 4 : pos + 8])[0]
                body_start = pos + 8
                body_end = min(body_start + ln, end)
                if tag == b"LIST" and body_end - body_start >= 4:
                    ltype = raw[body_start : body_start + 4]
                    if ltype in (b"hdrl", b"strl"):
                        walk(body_start + 4, body_end)
                elif tag == b"avih" and ln >= 40:
                    b = raw[body_start : body_start + 40]
                    out["usec_per_frame"] = struct.unpack("<I", b[0:4])[0]
                    out["n_frames"] = struct.unpack("<I", b[16:20])[0]
                    out["width"] = struct.unpack("<I", b[32:36])[0]
                    out["height"] = struct.unpack("<I", b[36:40])[0]
                elif tag == b"strh" and ln >= 32 and "codec" not in out:
                    b = raw[body_start : body_start + 32]
                    if b[0:4] == b"vids":
                        out["codec"] = b[4:8].decode("ascii", "replace").strip()
                        scale = struct.unpack("<I", b[20:24])[0]
                        rate = struct.unpack("<I", b[24:28])[0]
                        if scale:
                            out["fps"] = rate / scale
                pos = body_start + ln + (ln & 1)  # chunks are 2-byte aligned

        walk(12, len(raw))
        if "width" not in out or "codec" not in out:
            return None
        return out
    except Exception:
        return None


def demux_avi_mjpeg_frames(raw: bytes, max_frames: int | None = None):
    """Yield the stream-0 video chunks ('00dc'/'00db') of the movi LIST
    — for an MJPEG AVI each chunk IS a standalone baseline JPEG, so
    frame sampling re-emits these bytes verbatim (zero transcode).
    Malformed containers yield nothing."""
    if _riff_type(raw) != b"AVI ":
        return
    n = 0
    stack = [(12, len(raw))]
    while stack:
        pos, end = stack.pop()
        while pos + 8 <= end:
            tag = raw[pos : pos + 4]
            ln = struct.unpack("<I", raw[pos + 4 : pos + 8])[0]
            body_start = pos + 8
            body_end = min(body_start + ln, end)
            if tag == b"LIST" and body_end - body_start >= 4:
                ltype = raw[body_start : body_start + 4]
                if ltype in (b"movi", b"rec "):
                    stack.append((body_start + 4, body_end))
            elif tag in (b"00dc", b"00db") and ln > 0:
                yield raw[body_start:body_end]
                n += 1
                if max_frames is not None and n >= max_frames:
                    return
            pos = body_start + ln + (ln & 1)


def _feature8(px: np.ndarray) -> np.ndarray:
    """8-bin intensity histogram, L1-normalized — the stand-in for an
    embedding model's output (shape/type contract is what matters)."""
    hist, _ = np.histogram(px, bins=8, range=(0, 256))
    s = hist.sum() or 1
    return (hist / s).astype(np.float32)


def extract_image_features(media: DataFrame) -> DataFrame:
    """media(media_id, payload binary) → typed metadata + feature vector.

    One mapInPandas pass; payload bytes are dropped on output so the
    post-UDF plan carries only small columns.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, raw in zip(pdf["media_id"], pdf["payload"]):
                raw = bytes(raw)
                fmt, w, h, px, _c = decode_image(raw)
                sha = hashlib.sha1(raw).hexdigest()
                rows.append(
                    (
                        int(mid), fmt, w, h, len(raw), sha,
                        _feature8(px).tolist() if px is not None else None,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "format", "width", "height", "n_bytes", "sha1", "feature"],
            )

    return media.mapInPandas(run, schema=IMAGE_META_SCHEMA)


def resize_stub(media: DataFrame, max_side: int) -> DataFrame:
    """Resize: payload → payload (binary→binary mapInPandas). Real
    end-to-end for the synthetic format, 8-bit gray/RGB/RGBA PNG,
    24-bit BMP (re-emitted as BMP), and GIF (decoded to pixels,
    re-emitted as PNG — a documented format conversion: there is no
    stdlib GIF re-encode). Variants we cannot decode to pixels (JPEG,
    palette/16-bit PNG, WEBP) raise
    NotImplementedError — a silent pass-through would be a
    resize that quietly did nothing. Unknown blobs pass through."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, raw in zip(pdf["media_id"], pdf["payload"]):
                raw = bytes(raw)
                fmt, w, h, px, c = decode_image(raw)
                if fmt is None:
                    out.append((int(mid), raw))
                    continue
                if px is None:
                    raise NotImplementedError(
                        f"resize of {fmt} (no stdlib pixel decode for "
                        "this variant) requires an external codec "
                        "(PIL/cv2) — not available in this container"
                    )
                step = max(1, max(w, h) // max_side)
                img = px[: w * h * c].reshape(h, w, c)[::step, ::step]
                if fmt in ("png", "gif"):
                    out.append((int(mid), encode_png(img)))
                elif fmt == "bmp":
                    out.append((int(mid), encode_bmp(img)))
                else:
                    out.append(
                        (int(mid), b"SYN0" + struct.pack("<II", img.shape[1], img.shape[0]) + img[:, :, 0].tobytes())
                    )
            yield pd.DataFrame(out, columns=["media_id", "payload"])

    return media.mapInPandas(
        run,
        schema=T.StructType(
            [
                T.StructField("media_id", T.LongType(), False),
                T.StructField("payload", T.BinaryType(), False),
            ]
        ),
    )


def frame_sample_stub(media: DataFrame, every_n: int = 4) -> DataFrame:
    """Video frame sampling: one binary blob in → many frame rows out
    (1:N via mapInPandas). REAL for the two web-video-ish formats
    stdlib can handle: animated GIF (LZW decode, every `every_n`-th
    composited frame re-emitted as a standalone PNG) and MJPEG AVI
    (container demux — each sampled '00dc' chunk is ALREADY a
    standalone baseline JPEG, re-emitted verbatim with zero
    transcode). Synthetic "video" (concatenated SYN0 images of equal
    size) keeps the original contract for codec-bound containers
    (mp4/webm), whose demux needs libav. Other/corrupt payloads yield
    no rows."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, raw in zip(pdf["media_id"], pdf["payload"]):
                raw = bytes(raw)
                if raw[:4] == b"SYN0" and len(raw) >= 12:
                    w, h = struct.unpack("<II", raw[4:12])
                    frame_sz = 12 + w * h
                    n = len(raw) // frame_sz
                    for i in range(0, n, every_n):
                        rows.append(
                            (int(mid), i, raw[i * frame_sz : (i + 1) * frame_sz])
                        )
                elif sniff_format(raw) == "gif":
                    for i, frame in enumerate(decode_gif_frames(raw)):
                        if i % every_n == 0:
                            rows.append((int(mid), i, encode_png(frame)))
                elif _riff_type(raw) == b"AVI ":
                    for i, jpg in enumerate(demux_avi_mjpeg_frames(raw)):
                        if i % every_n == 0:
                            rows.append((int(mid), i, jpg))
            yield pd.DataFrame(rows, columns=["media_id", "frame_no", "frame"])

    return media.mapInPandas(
        run,
        schema=T.StructType(
            [
                T.StructField("media_id", T.LongType(), False),
                T.StructField("frame_no", T.IntegerType(), False),
                T.StructField("frame", T.BinaryType(), False),
            ]
        ),
    )


# ---------------------------------------------------------------------------
# Audio: WAV/PCM16 — full stdlib decode, real features
# ---------------------------------------------------------------------------

AUDIO_META_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("format", T.StringType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("bits", T.IntegerType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("duration_sec", T.DoubleType(), True),
        T.StructField("rms", T.DoubleType(), True),
        T.StructField("zero_cross_rate", T.DoubleType(), True),
        T.StructField("n_bytes", T.IntegerType(), False),
        T.StructField("sha1", T.StringType(), False),
    ]
)


def parse_wav_header(raw: bytes) -> dict | None:
    """RIFF/WAVE fmt-chunk walk → {audio_format, channels, sample_rate,
    bits, data_offset, data_len}, or None for non-WAV/corrupt input
    (never raises — bad rows surface as nulls, not dead jobs)."""
    if len(raw) < 12 or raw[:4] != b"RIFF" or raw[8:12] != b"WAVE":
        return None
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(raw):
        tag = raw[pos : pos + 4]
        ln = struct.unpack("<I", raw[pos + 4 : pos + 8])[0]
        if tag == b"fmt " and ln >= 16 and pos + 8 + 16 <= len(raw):
            afmt, ch, sr, _br, _ba, bits = struct.unpack(
                "<HHIIHH", raw[pos + 8 : pos + 24]
            )
            fmt = {"audio_format": afmt, "channels": ch, "sample_rate": sr, "bits": bits}
        elif tag == b"data":
            data = (pos + 8, min(ln, len(raw) - pos - 8))
        pos += 8 + ln + (ln & 1)  # RIFF chunks are 2-byte aligned
    if fmt is None or data is None or not fmt["channels"] or not fmt["sample_rate"]:
        return None
    fmt["data_offset"], fmt["data_len"] = data
    return fmt


def decode_wav_pcm16(raw: bytes) -> tuple[np.ndarray, dict] | None:
    """Full sample decode for PCM 16-bit WAV → ((n_frames, channels)
    int16 array, header dict); None for compressed/other-width audio
    (metadata still available via parse_wav_header)."""
    hdr = parse_wav_header(raw)
    if not hdr or hdr["audio_format"] != 1 or hdr["bits"] != 16:
        return None
    o, ln = hdr["data_offset"], hdr["data_len"]
    ln -= ln % (2 * hdr["channels"])  # whole frames only
    if ln <= 0:
        return None
    pcm = np.frombuffer(raw[o : o + ln], dtype="<i2").reshape(-1, hdr["channels"])
    return pcm, hdr


def extract_audio_features(media: DataFrame) -> DataFrame:
    """media(media_id, payload binary) → typed audio metadata + real
    signal features (RMS, zero-crossing rate over the first channel) in
    one Arrow-batched mapInPandas pass; payload bytes dropped on
    output. PCM16 WAV decodes fully; other WAV encodings report header
    metadata with null features; non-WAV rows report nulls."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, raw in zip(pdf["media_id"], pdf["payload"]):
                raw = bytes(raw)
                sha = hashlib.sha1(raw).hexdigest()
                hdr = parse_wav_header(raw)
                if hdr is None:
                    rows.append(
                        (int(mid), sniff_format(raw), None, None, None, None,
                         None, None, None, len(raw), sha)
                    )
                    continue
                d = decode_wav_pcm16(raw)
                if d is None:
                    rows.append(
                        (int(mid), "wav", hdr["channels"], hdr["sample_rate"],
                         hdr["bits"], None, None, None, None, len(raw), sha)
                    )
                    continue
                pcm, _ = d
                x = pcm[:, 0].astype(np.float64) / 32768.0
                n = pcm.shape[0]
                zcr = float(np.count_nonzero(np.signbit(x[1:]) != np.signbit(x[:-1]))) / max(n - 1, 1)
                rows.append(
                    (int(mid), "wav", hdr["channels"], hdr["sample_rate"],
                     hdr["bits"], n, n / hdr["sample_rate"],
                     float(np.sqrt(np.mean(x * x))), zcr, len(raw), sha)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "format", "channels", "sample_rate", "bits",
                    "n_samples", "duration_sec", "rms", "zero_cross_rate",
                    "n_bytes", "sha1",
                ],
            )

    return media.mapInPandas(run, schema=AUDIO_META_SCHEMA)


def encode_wav_pcm16(pcm: np.ndarray, sample_rate: int) -> bytes:
    """(n, channels) int16 array → valid PCM16 WAV bytes (struct only)
    — the write half, and the test-fixture builder."""
    pcm = np.asarray(pcm, dtype="<i2")
    if pcm.ndim == 1:
        pcm = pcm[:, None]
    n, ch = pcm.shape
    data = pcm.tobytes()
    fmt = struct.pack("<HHIIHH", 1, ch, sample_rate, sample_rate * ch * 2, ch * 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt + b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body
