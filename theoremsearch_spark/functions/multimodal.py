"""Multimodal columns: image/audio payloads as opaque `binary` + typed
metadata, processed with Arrow-batched mapInPandas.

The Spark-side plumbing (schemas, batch iteration, UDF signatures) is
real and tested; the codec layer is stdlib only (struct, numpy — no
PIL/cv2/libav in this container) and follows one rule per modality:
  - images: pixels, and so the feature vector, come only from the
    synthetic `SYN0` format; PNG, JPEG, WEBP, GIF and BMP report the
    dimensions their headers carry (IHDR, SOFn, VP8/VP8L/VP8X, logical
    screen descriptor, DIB header) with no pixels and a null feature;
    any other payload is a row of nulls;
  - audio: WAV is walked chunk by chunk, and PCM16 decodes fully into
    real features (duration, RMS, zero-crossing rate).
Decoding real pixels needs an external codec; swapping one in is a
change to `decode_image` alone.

Design points for large media tables:
  - binary payloads never leave the JVM until the mapInPandas boundary,
    and cross it in Arrow chunks — set
    `spark.sql.execution.arrow.maxRecordsPerBatch` DOWN for big blobs
    (here metadata-only rows come back, so memory stays bounded);
  - feature extraction emits fixed-width vectors (array<float>) +
    scalar metadata — columnar, join-able with the text-side tables.

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
# Image headers — stdlib only (struct), no PIL/cv2. Every parser returns
# None on a corrupt or truncated header and never raises.
# Reference analog: magic-byte format dispatch
# (/root/reference/ec2/parse_arxiv_papers/download_and_extract_paper.py:48-95).
# ---------------------------------------------------------------------------

PNG_SIG = b"\x89PNG\r\n\x1a\n"


def parse_png_header(raw: bytes) -> tuple[int, int] | None:
    """(width, height) from the PNG signature + IHDR chunk, or None for a
    corrupt/truncated file (never raises — on a 100 TB crawl one bad row
    must not kill the job; the row surfaces as format='png' with null
    dims, the reference's drop-and-continue failure policy)."""
    if len(raw) < 29 or raw[:8] != PNG_SIG:  # signature + a whole IHDR
        return None
    length, ctype = struct.unpack(">I4s", raw[8:16])
    if ctype != b"IHDR" or length != 13:
        return None
    w, h = struct.unpack(">II", raw[16:24])
    return (int(w), int(h)) if w and h else None


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


def parse_gif_dims(raw: bytes) -> tuple[int, int] | None:
    """(width, height) from the GIF logical screen descriptor — two
    little-endian u16s right after the GIF87a/GIF89a signature."""
    if len(raw) < 10 or raw[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    w, h = struct.unpack("<HH", raw[6:10])
    return (int(w), int(h)) if w and h else None


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


# sniffed format → its header's (width, height) parser; a RIFF payload
# is a WEBP when its VP8* chunk parses, else it stays "riff"
_HEADER_DIMS = {
    "png": parse_png_header,
    "jpeg": parse_jpeg_dims,
    "riff": parse_webp_dims,
    "gif": parse_gif_dims,
    "bmp": parse_bmp_dims,
}


def decode_image(
    raw: bytes,
) -> tuple[str | None, int | None, int | None, np.ndarray | None, int]:
    """(format, width, height, pixels|None, channels). Pixels come only
    from the synthetic format (one gray channel); PNG, JPEG, WEBP, GIF
    and BMP report their header dimensions with no pixels (0 channels),
    a non-WEBP RIFF payload (AVI, …) reports "riff" with null dims, and
    an unknown payload is a row of nulls. A payload too short for its
    header (or, for the synthetic format, its pixel body) is a
    null-dims row; never raises."""
    fmt = sniff_format(raw)
    if fmt == "synthetic":
        w, h = struct.unpack("<II", raw[4:12]) if len(raw) >= 12 else (0, 0)
        if len(raw) < 12 + w * h:  # header or pixel body cut short
            return fmt, None, None, None, 0
        return fmt, int(w), int(h), np.frombuffer(raw[12 : 12 + w * h], dtype=np.uint8), 1
    if fmt is None:
        return None, None, None, None, 0
    dims = _HEADER_DIMS[fmt](raw)
    if dims is None:
        return fmt, None, None, None, 0
    return ("webp" if fmt == "riff" else fmt), dims[0], dims[1], None, 0


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
