"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads ride as ``binary`` columns with a metadata
struct; decode / feature-extract / resize / frame-sample run as
Arrow-batched ``mapInPandas`` UDFs so each Python worker sees whole
record batches, never rows.

Decode tiers:
- **real (uncompressed)**: Netpbm images (P6 PPM / P5 PGM) are parsed
  in pure numpy (``decode_netpbm``) — no codec library needed — with
  nearest-neighbor resize and a 16-dim feature extractor on top;
  ``synthetic_images`` generates genuine PPM payloads to drive it.
- **real (compressed)**: PNG (8-bit gray/RGB/RGBA, non-interlaced) via
  a pure-stdlib decoder (``decode_png``: zlib inflate + the five scanline
  filters unfiltered in numpy) and a matching encoder for fixtures —
  a genuine compressed-codec tier with zero external dependencies.
- **real (audio)**: WAV / RIFF 16-bit PCM via stdlib ``wave``
  (``decode_wav``) with a 16-dim feature extractor (duration, RMS,
  peak, zero-crossing rate, spectral band energies) and a fixture
  encoder + sine-tone generator (``synthetic_wavs``).
- **real (compressed, DCT)**: baseline sequential JPEG via the pure
  numpy/stdlib codec in ``operators/jpeg.py`` (Annex K tables read from
  the file, 4:4:4/4:2:2/4:2:0 sampling, restart markers; progressive
  rejected with a clear error) and a matching fixture encoder.
- **real (video)**: AVI/MJPEG via ``operators/video.py`` — the RIFF
  container parsed in pure stdlib, every frame decoded by the in-house
  T.81 JPEG codec; per-frame features via ``extract_frame_features``.
  Inter-frame codecs (H.264 …) stay out of scope: ``codec_decoder``
  raises NotImplementedError naming the handler, and
  ``deterministic_fake_decoder`` produces seeded features from the
  payload hash so the plumbing — schema, partitioning, UDF signature,
  batch shape — stays real and tested for any undecodable payload.
"""

from __future__ import annotations

import hashlib
from typing import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from recipys_spark.functions.worker import ready

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.IntegerType()),
                ]
            ),
        ),
    ]
)

FEATURE_DIM = 16

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)


def synthetic_media(spark: SparkSession, n: int = 100, seed: int = 42) -> DataFrame:
    """Deterministic fake media table (payload = seeded bytes)."""
    return spark.range(n).select(
        F.col("id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.pmod(F.col("id"), F.lit(3)) + 1).cast("int"),
        ).alias("kind"),
        F.sha2(F.concat(F.lit(str(seed)), F.col("id").cast("string")), 256)
        .cast("binary")
        .alias("payload"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.lit(64).cast("int").alias("width"),
            F.lit(64).cast("int").alias("height"),
            (F.pmod(F.col("id"), F.lit(5000)) + 1000).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )


def deterministic_fake_decoder(payload: bytes) -> np.ndarray:
    """Stand-in for a real codec: FEATURE_DIM floats derived from the
    payload's sha256 — stable across runs and cluster sizes."""
    digest = hashlib.sha256(payload or b"").digest()
    return np.frombuffer(digest[: FEATURE_DIM * 2], dtype=np.uint16).astype(
        np.float32
    ) / np.float32(65535.0)


def codec_decoder(payload: bytes) -> np.ndarray:
    """Format decode dispatch by magic bytes: PNG, WAV (RIFF/WAVE PCM),
    baseline JPEG and AVI/MJPEG video are decoded for real (pure
    numpy/stdlib — operators/jpeg.py + operators/video.py); inter-frame
    video codecs still need external libraries not in this container.

    The two RIFF formats are disambiguated by form type (bytes 8:12:
    ``WAVE`` vs ``AVI ``) — the first four bytes alone are ambiguous."""
    if payload and payload[:8] == PNG_MAGIC:
        return png_decoder(payload)
    if payload and payload[:4] == WAV_MAGIC and payload[8:12] == b"WAVE":
        return wav_decoder(payload)
    if payload and payload[:4] == WAV_MAGIC and payload[8:12] == b"AVI ":
        from recipys_spark.operators.video import video_decoder

        return video_decoder(payload)
    if payload and payload[:2] == JPEG_MAGIC_BYTES:
        return jpeg_decoder(payload)
    raise NotImplementedError(
        "payload is none of PNG/WAVE/AVI-MJPG/JPEG; inter-frame video "
        "codecs need libraries not present in this container — wire "
        "torchvision/PyAV here and keep the same signature."
    )


# -- real compressed tier: baseline JPEG, pure numpy (operators/jpeg.py) ----

from recipys_spark.operators.jpeg import (  # noqa: E402
    JPEG_MAGIC as JPEG_MAGIC_BYTES,
    decode_jpeg,
    encode_jpeg,
)


def jpeg_decoder(payload: bytes, resize_to: "tuple[int, int] | None" = (8, 8)):
    """Real baseline-JPEG decode → optional resize → features (the JPEG
    analog of png_decoder; gray images are promoted by image_features)."""
    img = decode_jpeg(payload)
    if resize_to is not None:
        img = resize_nearest(img, *resize_to)
    return image_features(img)


def synthetic_jpegs(
    spark: SparkSession, n: int = 100, size: int = 16, vary: bool = False
) -> DataFrame:
    """MEDIA_SCHEMA table whose payloads are REAL baseline JFIF bytes
    (same deterministic gradient+stripe pattern as synthetic_pngs),
    generated executor-side via mapInPandas — rows cycle through 4:4:4,
    4:2:0, and restart-marker variants so the decoder's MCU and resync
    paths are all exercised by the driver query. ``vary=True`` makes
    the side ``size + 2·(id % 4)`` (even, 4:2:0-safe) so SOF metadata
    differs per row — the metadata-oracle fixture."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ready()
        for pdf in batches:
            rows, metas = [], []
            for mid in pdf["id"]:
                sz = size + 2 * (int(mid) % 4) if vary else size
                yy, xx = np.mgrid[0:sz, 0:sz]
                r = (xx * 255 // max(sz - 1, 1)).astype(np.uint8)
                g = (yy * 255 // max(sz - 1, 1)).astype(np.uint8)
                b = (((xx + yy + int(mid)) % 8) * 32).astype(np.uint8)
                img = np.stack([r, g, b], axis=-1)
                sub = "420" if int(mid) % 2 else "444"
                rst = int(mid) % 3  # 0 = no restarts
                rows.append(
                    encode_jpeg(img, quality=85, subsampling=sub, restart_interval=rst)
                )
                metas.append(
                    {
                        "mime": "image/jpeg",
                        "width": sz,
                        "height": sz,
                        "duration_ms": 0,
                    }
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["id"],
                    "kind": "image",
                    "payload": rows,
                    "meta": metas,
                }
            )

    return spark.range(n).mapInPandas(gen, schema=MEDIA_SCHEMA)


# -- real compressed tier: PNG, pure stdlib --------------------------------

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def encode_png(img: np.ndarray) -> bytes:
    """uint8 HxW / HxWx3 / HxWx4 array → PNG bytes (filter 0 scanlines,
    zlib-compressed) — the fixture generator for the real decode tier."""
    import struct
    import zlib

    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        color_type, ch = 0, 1
        h, w = img.shape
    elif img.ndim == 3 and img.shape[2] in (3, 4):
        color_type = {3: 2, 4: 6}[img.shape[2]]
        h, w, ch = img.shape
    else:
        raise ValueError(f"expected HxW, HxWx3 or HxWx4 uint8, got {img.shape}")

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    raw = img.reshape(h, w * ch)
    scanlines = b"".join(b"\x00" + raw[y].tobytes() for y in range(h))
    return (
        PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(scanlines, 6))
        + chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> np.ndarray:
    """Pure-stdlib PNG decode: 8-bit gray / RGB / RGBA, non-interlaced.

    Chunk walk → zlib inflate of concatenated IDAT → per-scanline
    unfiltering (all five filter types: None/Sub/Up/Average/Paeth) in
    numpy int arithmetic. No Pillow, no libpng — zlib is the Python
    standard library."""
    import struct
    import zlib

    if not payload or payload[:8] != PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos = 8
    ihdr = None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + tag + body + crc
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"IDAT":
            idat.extend(body)
        elif tag == b"IEND":
            break
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, bit_depth, color_type, comp, filt, interlace = ihdr
    if bit_depth != 8:
        raise ValueError(f"only 8-bit PNG supported, got bit depth {bit_depth}")
    if interlace != 0:
        raise ValueError("interlaced (Adam7) PNG not supported")
    try:
        ch = {0: 1, 2: 3, 6: 4}[color_type]
    except KeyError:
        raise ValueError(f"unsupported PNG color type {color_type}") from None

    raw = zlib.decompress(bytes(idat))
    stride = w * ch
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG scanline data length mismatch")
    out = np.zeros((h, stride), dtype=np.int64)
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        row_start = y * (stride + 1)
        ftype = raw[row_start]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=row_start + 1
        ).astype(np.int64)
        if ftype == 0:  # None
            recon = line
        elif ftype == 1:  # Sub: recon[i] = raw[i] + recon[i-ch]
            # per-byte-lane cumulative sum mod 256 — vectorized
            recon = np.cumsum(line.reshape(w, ch), axis=0).reshape(stride) % 256
        elif ftype == 2:  # Up
            recon = (line + prev) % 256
        elif ftype == 3:  # Average
            recon = np.empty(stride, dtype=np.int64)
            for i in range(stride):
                a = recon[i - ch] if i >= ch else 0
                recon[i] = (line[i] + (a + prev[i]) // 2) % 256
        elif ftype == 4:  # Paeth
            recon = np.empty(stride, dtype=np.int64)
            for i in range(stride):
                a = recon[i - ch] if i >= ch else 0
                b = prev[i]
                c = prev[i - ch] if i >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                recon[i] = (line[i] + pr) % 256
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[y] = recon
        prev = recon
    img = out.astype(np.uint8)
    return img.reshape(h, w) if ch == 1 else img.reshape(h, w, ch)


def png_decoder(payload: bytes, resize_to: "tuple[int, int] | None" = (8, 8)):
    """Real compressed decode → optional resize → features (the PNG
    analog of netpbm_decoder; RGBA drops alpha for the feature tier)."""
    img = decode_png(payload)
    if img.ndim == 3 and img.shape[2] == 4:
        img = img[:, :, :3]
    if resize_to is not None:
        img = resize_nearest(img, *resize_to)
    return image_features(img)


def synthetic_pngs(
    spark: SparkSession, n: int = 100, size: int = 16, vary: bool = False
) -> DataFrame:
    """MEDIA_SCHEMA table whose payloads are REAL zlib-compressed PNG
    bytes (same deterministic gradient+stripe pattern as
    synthetic_images), generated executor-side via mapInPandas.
    ``vary=True`` makes the image side ``size + id % 5`` so container
    metadata differs per row — the metadata-oracle fixture (the DuckDB
    mirror replays the same arithmetic from ``range(n)``)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ready()
        for pdf in batches:
            rows, metas = [], []
            for mid in pdf["id"]:
                sz = size + int(mid) % 5 if vary else size
                yy, xx = np.mgrid[0:sz, 0:sz]
                r = (xx * 255 // max(sz - 1, 1)).astype(np.uint8)
                g = (yy * 255 // max(sz - 1, 1)).astype(np.uint8)
                b = (((xx + yy + int(mid)) % 8) * 32).astype(np.uint8)
                rows.append(encode_png(np.stack([r, g, b], axis=-1)))
                metas.append(
                    {
                        "mime": "image/png",
                        "width": sz,
                        "height": sz,
                        "duration_ms": 0,
                    }
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["id"],
                    "kind": "image",
                    "payload": rows,
                    "meta": metas,
                }
            )

    return spark.range(n).mapInPandas(gen, schema=MEDIA_SCHEMA)


def extract_features(
    df: DataFrame,
    decoder: Callable[[bytes], np.ndarray] = deterministic_fake_decoder,
) -> DataFrame:
    """binary payload → float feature vector, one Arrow batch at a time."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ready()
        for pdf in batches:
            feats = [decoder(p).tolist() for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "features": feats,
                }
            )

    return df.mapInPandas(run, schema=FEATURES_SCHEMA)


# -- container-header metadata tier (VERDICT r5 #5) --------------------------
#
# DuckDB has no PNG/JPEG/WAV/AVI decoder, so the pixel/sample tiers are
# rows-only in the driver gate. But every container's HEADER fields are
# plain bytes at documented offsets, and the synthetic fixtures derive
# those fields from deterministic id arithmetic — so a metadata
# projection gets a FULL rows+schema+hash oracle: Spark parses the real
# bytes the encoder wrote; DuckDB replays the generator arithmetic from
# range(n). A broken encoder OR parser hash-mismatches.


def parse_png_meta(payload: bytes) -> tuple:
    """(width, height, bit_depth, color_type) from the IHDR chunk at
    its fixed offset (PNG spec: signature 8 bytes, then length+'IHDR',
    body at byte 16). Raises on non-PNG input."""
    import struct

    # IHDR body needs bytes 16..26 (>IIBB = 10): guard the full range so
    # a truncated payload raises the family's ValueError, not a raw
    # struct.error out of the Arrow worker
    if len(payload) < 26 or payload[:8] != PNG_MAGIC:
        raise ValueError("not a PNG payload")
    if payload[12:16] != b"IHDR":
        raise ValueError("PNG missing leading IHDR chunk")
    w, h, bd, ct = struct.unpack_from(">IIBB", payload, 16)
    return (int(w), int(h), int(bd), int(ct))


def parse_jpeg_meta(payload: bytes) -> tuple:
    """(width, height, n_components) from the SOF0/SOF1 segment of a
    baseline JFIF stream — a marker walk over segment lengths, no
    entropy decode."""
    import struct

    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("bad JPEG marker stream")
        # spec-legal fill bytes: any number of 0xFF padding bytes may
        # precede a marker; skip them so the byte after the padding is
        # read as the marker, not the padding itself (ADVICE r6)
        while pos + 2 <= len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        if pos + 4 > len(payload):
            break
        marker = payload[pos + 1]
        pos += 2
        if marker == 0x01 or 0xD0 <= marker <= 0xD9:
            continue  # standalone markers carry no segment length
        (seglen,) = struct.unpack_from(">H", payload, pos)
        if marker in (0xC0, 0xC1):
            _prec, h, w, ncomp = struct.unpack_from(">BHHB", payload, pos + 2)
            return (int(w), int(h), int(ncomp))
        if marker == 0xDA:
            break  # SOS reached without SOF: not baseline
        pos += seglen
    raise ValueError("no SOF0/SOF1 segment found")


def parse_wav_meta(payload: bytes) -> tuple:
    """(sample_rate, n_frames, n_channels, bits_per_sample) from the
    RIFF fmt/data chunks via the stdlib ``wave`` reader."""
    import io
    import wave

    with wave.open(io.BytesIO(payload), "rb") as w:
        return (
            int(w.getframerate()),
            int(w.getnframes()),
            int(w.getnchannels()),
            int(w.getsampwidth() * 8),
        )


def extract_metadata(df: DataFrame, parser: Callable[[bytes], tuple], fields) -> DataFrame:
    """binary payload → container-header metadata, one row per media
    row, shuffle-free Arrow ``mapInPandas``. ``fields`` names the
    parser's tuple slots; every output column is LONG (one dtype across
    containers keeps the oracle casts uniform)."""
    names = list(fields)
    schema = ", ".join(["media_id long"] + [f"{c} long" for c in names])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ready()
        for pdf in batches:
            cols: dict = {"media_id": pdf["media_id"].astype("int64")}
            vals = [parser(bytes(p)) for p in pdf["payload"]]
            for j, c in enumerate(names):
                cols[c] = pd.Series([v[j] for v in vals], dtype="int64")
            yield pd.DataFrame(cols)

    return df.mapInPandas(run, schema=schema)


def frame_sample(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video rows → one row per sampled frame offset (pure expressions:
    the frame *grid* is derivable from metadata without decoding)."""
    frames = F.sequence(
        F.lit(0), F.col("meta.duration_ms") - 1, F.lit(every_ms)
    )
    return (
        df.where(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(frames).alias("frame_ms"),
        )
    )


# -- real decode tier: Netpbm (uncompressed) ------------------------------


def encode_ppm(img: np.ndarray) -> bytes:
    """uint8 HxWx3 array → binary P6 PPM bytes (HxW → P5 PGM)."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        h, w = img.shape
        return b"P5\n%d %d\n255\n" % (w, h) + img.tobytes()
    if img.ndim == 3 and img.shape[2] == 3:
        h, w, _ = img.shape
        return b"P6\n%d %d\n255\n" % (w, h) + img.tobytes()
    raise ValueError(f"expected HxW or HxWx3 uint8, got shape {img.shape}")


def decode_netpbm(payload: bytes) -> np.ndarray:
    """Parse binary P6 PPM (→ HxWx3) or P5 PGM (→ HxW) in pure numpy.

    Netpbm is uncompressed, so this is a REAL decoder with no codec
    dependency: header tokens (magic, width, height, maxval, with
    ``#`` comments allowed) followed by raw samples."""
    if not payload or payload[:2] not in (b"P6", b"P5"):
        raise ValueError("not a binary PPM/PGM payload")
    magic = payload[:2]
    pos = 2
    tokens = []
    while len(tokens) < 3:
        # skip whitespace and comments
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = tokens
    if maxval > 255:
        raise ValueError("16-bit Netpbm not supported")
    ch = 3 if magic == b"P6" else 1
    data = np.frombuffer(payload, dtype=np.uint8, count=w * h * ch, offset=pos)
    return data.reshape((h, w, 3)) if ch == 3 else data.reshape((h, w))


def resize_nearest(img: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resize (pure indexing — deterministic)."""
    h, w = img.shape[:2]
    rows = (np.arange(height) * h // height).clip(0, h - 1)
    cols = (np.arange(width) * w // width).clip(0, w - 1)
    return img[rows][:, cols]


def image_features(img: np.ndarray) -> np.ndarray:
    """FEATURE_DIM floats from a decoded image: per-channel mean+std
    (6), an 8-bin grayscale histogram (8), aspect ratio, and mean
    gradient energy — all in [0, 1]-ish ranges, fully deterministic."""
    if img.ndim == 2:
        img = np.stack([img] * 3, axis=-1)
    x = img.astype(np.float32) / 255.0
    gray = x.mean(axis=2)
    hist, _ = np.histogram(gray, bins=8, range=(0.0, 1.0))
    hist = hist.astype(np.float32) / max(gray.size, 1)
    grad = np.abs(np.diff(gray, axis=0)).mean() if gray.shape[0] > 1 else 0.0
    feats = np.concatenate(
        [
            x.mean(axis=(0, 1)),
            x.std(axis=(0, 1)),
            hist,
            np.array(
                [img.shape[1] / max(img.shape[0], 1), grad], dtype=np.float32
            ),
        ]
    ).astype(np.float32)
    assert feats.shape[0] == FEATURE_DIM, feats.shape
    return feats


def netpbm_decoder(payload: bytes, resize_to: "tuple[int, int] | None" = (8, 8)):
    """Real decode → optional resize → features (the image analog of
    deterministic_fake_decoder, same signature/shape)."""
    img = decode_netpbm(payload)
    if resize_to is not None:
        img = resize_nearest(img, *resize_to)
    return image_features(img)


def synthetic_images(spark: SparkSession, n: int = 100, size: int = 16) -> DataFrame:
    """MEDIA_SCHEMA table whose payloads are REAL P6 PPM bytes: a
    deterministic per-id gradient + stripe pattern (no RNG — stable at
    any parallelism), generated executor-side via mapInPandas."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ready()
        for pdf in batches:
            rows = []
            for mid in pdf["id"]:
                yy, xx = np.mgrid[0:size, 0:size]
                r = (xx * 255 // max(size - 1, 1)).astype(np.uint8)
                g = (yy * 255 // max(size - 1, 1)).astype(np.uint8)
                b = (((xx + yy + int(mid)) % 8) * 32).astype(np.uint8)
                rows.append(encode_ppm(np.stack([r, g, b], axis=-1)))
            yield pd.DataFrame(
                {
                    "media_id": pdf["id"],
                    "kind": "image",
                    "payload": rows,
                    "meta": [
                        {
                            "mime": "image/x-portable-pixmap",
                            "width": size,
                            "height": size,
                            "duration_ms": 0,
                        }
                    ]
                    * len(pdf),
                }
            )

    return spark.range(n).mapInPandas(gen, schema=MEDIA_SCHEMA)


# -- real audio tier: WAV (RIFF PCM), pure stdlib --------------------------

WAV_MAGIC = b"RIFF"


def encode_wav(samples: np.ndarray, rate: int = 8000) -> bytes:
    """Mono 16-bit PCM WAV from float samples in [-1, 1] (stdlib
    ``wave`` — fixture-side counterpart of ``decode_wav``)."""
    import io
    import wave

    ints = (np.clip(samples, -1.0, 1.0) * 32767.0).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(ints.tobytes())
    return buf.getvalue()


def decode_wav(payload: bytes) -> "tuple[np.ndarray, int]":
    """(float32 mono samples in [-1, 1], sample rate) from a RIFF PCM
    WAV payload — pure stdlib ``wave`` + numpy, no codec library.
    Multi-channel audio is downmixed by mean; only the 16-bit PCM
    width (the overwhelmingly common case) is supported."""
    import io
    import wave

    with wave.open(io.BytesIO(payload), "rb") as w:
        rate = w.getframerate()
        nch = w.getnchannels()
        if w.getsampwidth() != 2:
            raise ValueError("only 16-bit PCM WAV is supported")
        raw = w.readframes(w.getnframes())
    x = np.frombuffer(raw, dtype="<i2").astype(np.float32) / np.float32(32767.0)
    if nch > 1:
        x = x.reshape(-1, nch).mean(axis=1)
    return x, rate


def audio_features(samples: np.ndarray, rate: int) -> np.ndarray:
    """FEATURE_DIM deterministic audio features:
    [duration_s, rms, peak, zero-crossing rate, mean, std, crest,
    silence_ratio, 8 × normalized rfft band energies]."""
    x = samples.astype(np.float64)
    n = max(len(x), 1)
    rms = float(np.sqrt((x * x).mean())) if len(x) else 0.0
    peak = float(np.abs(x).max()) if len(x) else 0.0
    zcr = float((np.diff(np.signbit(x)) != 0).mean()) if len(x) > 1 else 0.0
    spec = np.abs(np.fft.rfft(x)) if len(x) else np.zeros(1)
    bands = np.array(
        [b.sum() for b in np.array_split(spec, 8)], dtype=np.float64
    )
    total = bands.sum()
    bands = bands / total if total > 0 else bands
    out = np.array(
        [
            n / float(rate),
            rms,
            peak,
            zcr,
            float(x.mean()) if len(x) else 0.0,
            float(x.std()) if len(x) else 0.0,
            peak / rms if rms > 0 else 0.0,
            float((np.abs(x) < 0.01).mean()) if len(x) else 1.0,
            *bands,
        ],
        dtype=np.float32,
    )
    assert out.shape == (FEATURE_DIM,)
    return out


def wav_decoder(payload: bytes) -> np.ndarray:
    """decoder= plug for extract_features: real WAV decode + features."""
    return audio_features(*decode_wav(payload))


def synthetic_wavs(
    spark: SparkSession, n: int = 100, rate: int = 8000, dur_s: float = 0.5,
    vary: bool = False,
) -> DataFrame:
    """MEDIA_SCHEMA table of REAL RIFF PCM payloads: sine tones at
    200 + 50·(id mod 20) Hz, amplitude 0.5, generated executor-side.
    ``vary=True`` makes the sample rate ``rate + 1000·(id % 3)`` so
    fmt-chunk metadata differs per row — the metadata-oracle fixture."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ready()
        for pdf in batches:
            payloads = []
            for mid in pdf["id"]:
                r_i = rate + 1000 * (int(mid) % 3) if vary else rate
                t = np.arange(int(r_i * dur_s)) / r_i
                payloads.append(
                    encode_wav(
                        0.5 * np.sin(2 * np.pi * (200 + 50 * (int(mid) % 20)) * t),
                        r_i,
                    )
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["id"],
                    "kind": "audio",
                    "payload": payloads,
                    "meta": [
                        {
                            "mime": "audio/wav",
                            "width": 0,
                            "height": 0,
                            "duration_ms": int(dur_s * 1000),
                        }
                    ]
                    * len(pdf),
                }
            )

    return spark.range(n).mapInPandas(gen, schema=MEDIA_SCHEMA)
