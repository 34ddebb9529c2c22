"""Multimodal column plumbing: opaque binary payloads + typed metadata,
with decode/feature steps as Arrow-batched ``mapInPandas`` stages.

AUDIO decode is REAL: payloads are RIFF/WAVE containers (stdlib ``wave``
encoder) and ``decode_wav_features`` parses them back with the stdlib
``wave`` reader — an actual container codec with header/format/frame
extraction, exact-integer features, and a from-first-principles DuckDB
oracle (x61).

IMAGE decode is REAL too: ``documents_as_png`` emits genuine PNG files
(RFC 2083 — signature, IHDR/IDAT/IEND chunk framing with CRC-32, zlib
DEFLATE, and all FIVE scanline filters None/Sub/Up/Average/Paeth cycled
per row) and ``decode_png_features`` is a from-scratch PNG reader:
signature + chunk walk with CRC verification, IDAT reassembly, inflate,
and per-filter-type reconstruction (x63).  The transform stage
``png_downsample`` closes the decode→transform→re-encode loop (x64).

VIDEO decode is REAL as well: ``documents_as_avi`` emits genuine
RIFF/AVI containers (uncompressed 8-bit DIB frames with bottom-up rows
and 4-byte stride, MainAVIHeader + stream headers + grayscale palette +
idx1 index) and ``decode_avi_features`` walks the chunk tree, validates
the headers, cross-checks idx1 against the actual movi layout, and
un-flips the DIBs (x65).  All three modalities therefore run genuine
container codecs built on stdlib alone (wave / zlib+struct / struct).

At 100 TB the rules encoded here matter: binary columns ride along parquet
scans without being read when pruned (columnar projection), metadata-only
queries never touch payload bytes, and the decode stage is the ONLY place
payload bytes cross into Python — in Arrow batches, never row-at-a-time.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType, IntegerType, LongType, StringType, StructField, StructType)


def documents_as_media(df: DataFrame, id_col: str = "doc_id",
                       col: str = "text") -> DataFrame:
    """Build a media table from the documents fixture: payload = utf-8
    bytes of the text (a stand-in for image/audio bytes), metadata derived
    JVM-side.  Gives the multimodal pipeline a real, deterministic input."""
    payload = F.encode(F.col(col), "utf-8")
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        (F.when(F.col(id_col) % 3 == 0, "image")
         .when(F.col(id_col) % 3 == 1, "audio")
         .otherwise("video")).alias("kind"),
        payload.alias("payload"),
        F.octet_length(payload).cast("long").alias("n_bytes"),
        F.md5(payload).alias("digest"),
    )


def metadata_only(df: DataFrame) -> DataFrame:
    """Metadata projection — must NOT read payload bytes (column pruning
    reaches the parquet scan; verify with .explain ReadSchema)."""
    return df.select("media_id", "kind", "n_bytes", "digest")


FRAME_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("frame_idx", IntegerType()),
    StructField("frame_offset", LongType()),
    StructField("frame_hex", StringType()),   # hex of decoded frame bytes
])


def sample_frames(df: DataFrame, n_frames: int = 4,
                  frame_bytes: int = 4) -> DataFrame:
    """Evenly-spaced frame sampling over video/audio payloads.

    Split of labor by design: frame *planning* (how many frames the payload
    holds, which byte offsets to sample) is pure arithmetic and runs
    JVM-side under whole-stage codegen; only the byte-touching *decode* of
    each selected frame crosses into Python, in Arrow batches.  A real
    ffmpeg-backed decoder replaces only the slice inside ``run`` below.

    For payload of ``n_bytes``, the stub treats every ``frame_bytes`` chunk
    as one frame; frame i of n samples chunk ``floor(i * total / n)``.
    Deterministic, so the whole operator is oracle-checkable in SQL.
    """
    total = F.greatest(F.lit(1), F.floor(F.col("n_bytes") / frame_bytes))
    planned = (
        df.select("media_id", "payload", "n_bytes",
                  total.cast("long").alias("total_frames"))
        .select("media_id", "payload",
                F.explode(F.sequence(F.lit(0), F.lit(n_frames - 1)))
                .alias("frame_idx"),
                "total_frames")
        .select(
            "media_id", "payload",
            F.col("frame_idx").cast("int").alias("frame_idx"),
            (F.floor(F.col("frame_idx") * F.col("total_frames") / n_frames)
             * frame_bytes).cast("long").alias("frame_offset"))
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            frames = [
                bytes(p or b"")[off:off + frame_bytes]
                for p, off in zip(pdf["payload"], pdf["frame_offset"])
            ]
            yield pd.DataFrame({
                "media_id": pdf["media_id"].values,
                "frame_idx": pdf["frame_idx"].values,
                "frame_offset": pdf["frame_offset"].values,
                "frame_hex": [f.hex() for f in frames],
            })

    return planned.mapInPandas(run, FRAME_SCHEMA)


RESIZE_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("kind", StringType()),
    StructField("orig_bytes", LongType()),
    StructField("resized_bytes", LongType()),
    StructField("scale_bp", LongType()),      # basis points: resized/orig
    StructField("resized_head", StringType()),
])


def resize_batch(df: DataFrame, target_bytes: int = 64,
                 size_classes: int = 8) -> DataFrame:
    """Batched 'resize' with size-class co-location.

    Arrow batch efficiency for image kernels depends on batch uniformity:
    one 50 MB blob next to thousand 10 KB thumbnails makes a ragged batch
    that stalls the vectorized kernel.  So rows are range-partitioned by
    ``n_bytes`` first — each Arrow batch then holds similarly-sized
    payloads.  The resize kernel itself is the deterministic stub
    (truncate to ``target_bytes``); a real PIL/libvips resize replaces
    only the slice line.
    """
    classed = df.select("media_id", "kind", "payload", "n_bytes") \
        .repartitionByRange(size_classes, "n_bytes")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            resized = [bytes(p or b"")[:target_bytes] for p in pdf["payload"]]
            orig = pdf["n_bytes"].values
            rb = [len(r) for r in resized]
            yield pd.DataFrame({
                "media_id": pdf["media_id"].values,
                "kind": pdf["kind"].values,
                "orig_bytes": orig,
                "resized_bytes": rb,
                "scale_bp": [(b * 10_000) // o if o else 0
                             for b, o in zip(rb, orig)],
                "resized_head": [r[:8].hex() for r in resized],
            })

    return classed.mapInPandas(run, RESIZE_SCHEMA)


WAV_SAMPLE_RATE = 8000

WAV_FEATURE_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("sample_rate", IntegerType()),
    StructField("n_samples", LongType()),
    StructField("duration_us", LongType()),
    StructField("pcm_sum", LongType()),
    StructField("pcm_sq_sum", LongType()),   # sum of (sample-128)^2
    StructField("peak", IntegerType()),      # max |sample-128|
])


def pcm_to_wav(pcm: bytes, sample_rate: int = WAV_SAMPLE_RATE) -> bytes:
    """A REAL RIFF/WAVE container around 8-bit unsigned mono PCM —
    written with the stdlib ``wave`` encoder (44-byte canonical PCM
    header + data chunk), so the decode side exercises an actual
    container format, not a fake."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(sample_rate)
        w.writeframes(pcm)
    return buf.getvalue()


def documents_as_wav(df: DataFrame, id_col: str = "doc_id",
                     col: str = "text",
                     sample_rate: int = WAV_SAMPLE_RATE) -> DataFrame:
    """An audio media table with REAL WAV payloads: each document's
    utf-8 bytes become the 8-bit PCM samples of a mono WAV container.
    Deterministic, so every decoded feature is recomputable by a SQL
    oracle straight from the text.  Container construction is the
    Arrow-batched Python stage (binary assembly is exactly the work
    that belongs in ``mapInPandas``); everything after decode is
    metadata-sized."""
    out_schema = StructType([
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("payload", BinaryType()),
        StructField("n_bytes", LongType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            payloads = [
                pcm_to_wav((t or "").encode("utf-8"), sample_rate)
                for t in pdf[col]
            ]
            yield pd.DataFrame({
                "media_id": pdf[id_col].values,
                "kind": ["audio"] * len(pdf),
                "payload": payloads,
                "n_bytes": [len(p) for p in payloads],
            })

    return (df.select(F.col(id_col).cast("long").alias(id_col), col)
            .mapInPandas(run, out_schema))


def decode_wav_features(df: DataFrame) -> DataFrame:
    """REAL audio decode: parse each payload with the stdlib ``wave``
    reader (RIFF header, format block, frame extraction — an actual
    codec) and emit
    exact-integer features: sample count, duration, PCM byte sum,
    centered sum of squares (the RMS numerator) and peak amplitude.
    Integer outputs keep the operator bit-reproducible by the DuckDB
    oracle, which recomputes every value from the source text.

    Arrow-batched ``mapInPandas``; payload bytes cross into Python
    once, features leaving the stage are a few ints per row."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import wave

        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = {k: [] for k in ("media_id", "sample_rate",
                                    "n_samples", "duration_us",
                                    "pcm_sum", "pcm_sq_sum", "peak")}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                with wave.open(io.BytesIO(bytes(payload)), "rb") as w:
                    rate = w.getframerate()
                    n = w.getnframes()
                    pcm = w.readframes(n)
                arr = np.frombuffer(pcm, dtype=np.uint8).astype(np.int64)
                centered = arr - 128
                rows["media_id"].append(int(mid))
                rows["sample_rate"].append(rate)
                rows["n_samples"].append(n)
                rows["duration_us"].append(n * 1_000_000 // rate)
                rows["pcm_sum"].append(int(arr.sum()))
                rows["pcm_sq_sum"].append(int((centered * centered).sum()))
                rows["peak"].append(int(np.abs(centered).max())
                                    if n else 0)
            yield pd.DataFrame(rows)

    return (df.select("media_id", "payload")
            .mapInPandas(run, WAV_FEATURE_SCHEMA))


PNG_WIDTH = 32
PNG_SIG = b"\x89PNG\r\n\x1a\n"

PNG_FEATURE_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("n_pixels", LongType()),
    StructField("pixel_sum", LongType()),
    StructField("pixel_sq_sum", LongType()),
    StructField("peak", IntegerType()),
    StructField("n_chunks", IntegerType()),  # IHDR + IDATs + IEND walked
])


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    """One PNG chunk: big-endian length, type, data, CRC-32 over
    type+data (RFC 2083 §3.2)."""
    import struct
    import zlib

    return (struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))


def _paeth(a: int, b: int, c: int) -> int:
    """The Paeth predictor (RFC 2083 §6.6): pick the neighbor (left,
    up, up-left) closest to the linear estimate a + b - c."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def encode_png(pixels: bytes, width: int = PNG_WIDTH) -> bytes:
    """A REAL PNG encoder for 8-bit grayscale (stdlib zlib + struct).

    ``pixels`` are laid out row-major at the given width; the last row
    is zero-padded.  Empty input becomes one all-zero row, so every
    document encodes to a well-formed image.  To make the decoder's
    reconstruction paths honest, scanline r is filtered with type
    r % 5 — every image taller than 4 rows exercises ALL FIVE filters
    (None/Sub/Up/Average/Paeth, RFC 2083 §6).
    """
    import struct
    import zlib

    height = max(1, -(-len(pixels) // width))
    padded = pixels + b"\x00" * (width * height - len(pixels))
    prev = bytes(width)
    lines = bytearray()
    for r in range(height):
        cur = padded[r * width:(r + 1) * width]
        ftype = r % 5
        lines.append(ftype)
        for i in range(width):
            x = cur[i]
            left = cur[i - 1] if i else 0
            up = prev[i]
            ul = prev[i - 1] if i else 0
            if ftype == 0:
                f = x
            elif ftype == 1:
                f = x - left
            elif ftype == 2:
                f = x - up
            elif ftype == 3:
                f = x - (left + up) // 2
            else:
                f = x - _paeth(left, up, ul)
            lines.append(f & 0xFF)
        prev = cur
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    return (PNG_SIG
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(bytes(lines)))
            + _png_chunk(b"IEND", b""))


def decode_png(payload: bytes) -> tuple[int, int, bytes, int]:
    """A REAL PNG decoder for 8-bit grayscale (the inverse of
    :func:`encode_png`, but a general reader: it walks arbitrary chunk
    sequences, verifies every CRC, reassembles multi-IDAT streams, and
    reconstructs all five filter types).  Returns
    ``(width, height, pixels, n_chunks)``; raises ``ValueError`` on a
    malformed container (bad signature, CRC mismatch, truncated chunk,
    unsupported color mode, or wrong decompressed size).
    """
    import struct
    import zlib

    if payload[:8] != PNG_SIG:
        raise ValueError("not a PNG: bad signature")
    pos, width, height = 8, None, None
    idat = bytearray()
    n_chunks = 0
    while pos < len(payload):
        if pos + 8 > len(payload):
            raise ValueError("truncated chunk header")
        (length,) = struct.unpack(">I", payload[pos:pos + 4])
        ctype = payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + length]
        if len(data) != length or pos + 12 + length > len(payload):
            raise ValueError("truncated chunk data")
        (crc,) = struct.unpack(
            ">I", payload[pos + 8 + length:pos + 12 + length])
        if crc != (zlib.crc32(ctype + data) & 0xFFFFFFFF):
            raise ValueError(f"CRC mismatch in {ctype!r}")
        n_chunks += 1
        if ctype == b"IHDR":
            width, height, depth, color, comp, filt, inter = \
                struct.unpack(">IIBBBBB", data)
            if (depth, color, comp, filt, inter) != (8, 0, 0, 0, 0):
                raise ValueError("unsupported PNG mode")
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            pos += 12 + length
            break
        pos += 12 + length
    if width is None:
        raise ValueError("missing IHDR")
    raw = zlib.decompress(bytes(idat))
    if len(raw) != height * (width + 1):
        raise ValueError("decompressed size mismatch")
    out = bytearray()
    prev = bytes(width)
    for r in range(height):
        row = raw[r * (width + 1):(r + 1) * (width + 1)]
        ftype, fdata = row[0], row[1:]
        if ftype > 4:
            raise ValueError(f"bad filter type {ftype}")
        cur = bytearray(width)
        for i in range(width):
            f = fdata[i]
            left = cur[i - 1] if i else 0
            up = prev[i]
            ul = prev[i - 1] if i else 0
            if ftype == 0:
                x = f
            elif ftype == 1:
                x = f + left
            elif ftype == 2:
                x = f + up
            elif ftype == 3:
                x = f + (left + up) // 2
            else:
                x = f + _paeth(left, up, ul)
            cur[i] = x & 0xFF
        out.extend(cur)
        prev = bytes(cur)
    return width, height, bytes(out), n_chunks


def documents_as_png(df: DataFrame, id_col: str = "doc_id",
                     col: str = "text",
                     width: int = PNG_WIDTH) -> DataFrame:
    """An image media table with REAL PNG payloads: each document's
    utf-8 bytes become the grayscale pixels of a genuine PNG container
    (row-major at ``width``, zero-padded last row, all five scanline
    filters cycled).  Deterministic, so every decoded feature is
    recomputable by a SQL oracle straight from the text.  Container
    assembly is the Arrow-batched Python stage; everything after
    decode is metadata-sized."""
    out_schema = StructType([
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("payload", BinaryType()),
        StructField("n_bytes", LongType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            payloads = [
                encode_png((t or "").encode("utf-8"), width)
                for t in pdf[col]
            ]
            yield pd.DataFrame({
                "media_id": pdf[id_col].values,
                "kind": ["image"] * len(pdf),
                "payload": payloads,
                "n_bytes": [len(p) for p in payloads],
            })

    return (df.select(F.col(id_col).cast("long").alias(id_col), col)
            .mapInPandas(run, out_schema))


def decode_png_features(df: DataFrame) -> DataFrame:
    """REAL image decode: parse each payload with :func:`decode_png`
    (signature, CRC-verified chunk walk, inflate, per-filter scanline
    reconstruction) and emit exact-integer features: dimensions, pixel
    sum, sum of squares and peak intensity.  Integer outputs keep the
    operator bit-reproducible by the DuckDB oracle, which recomputes
    every value from the source text.

    Arrow-batched ``mapInPandas``; payload bytes cross into Python
    once, features leaving the stage are a few ints per row."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = {k: [] for k in ("media_id", "width", "height",
                                    "n_pixels", "pixel_sum",
                                    "pixel_sq_sum", "peak", "n_chunks")}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                w, h, px, nc = decode_png(bytes(payload))
                arr = np.frombuffer(px, dtype=np.uint8).astype(np.int64)
                rows["media_id"].append(int(mid))
                rows["width"].append(w)
                rows["height"].append(h)
                rows["n_pixels"].append(w * h)
                rows["pixel_sum"].append(int(arr.sum()))
                rows["pixel_sq_sum"].append(int((arr * arr).sum()))
                rows["peak"].append(int(arr.max()) if arr.size else 0)
                rows["n_chunks"].append(nc)
            yield pd.DataFrame(rows)

    return (df.select("media_id", "payload")
            .mapInPandas(run, PNG_FEATURE_SCHEMA))


def png_downsample(df: DataFrame, factor: int = 2) -> DataFrame:
    """Image resize over REAL codec boundaries: decode each PNG,
    nearest-neighbor downsample by ``factor`` (keep pixel (fr, fc) of
    every factor-spaced grid point), and re-ENCODE the result as a new
    PNG — the decode → transform → encode chain every real image
    pipeline runs.  Output dims are ceil(w/factor) × ceil(h/factor);
    keeping grid point (0,0) makes the kept pixel set exactly the
    even-row/even-col bytes (for factor 2), so a SQL oracle can
    recompute downstream features from the source text.

    Arrow-batched; one partition-local pass, no shuffle."""
    out_schema = StructType([
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("payload", BinaryType()),
        StructField("n_bytes", LongType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids, payloads = [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                w, h, px, _ = decode_png(bytes(payload))
                arr = np.frombuffer(px, dtype=np.uint8).reshape(h, w)
                small = arr[::factor, ::factor]
                payloads.append(
                    encode_png(small.tobytes(), width=small.shape[1]))
                ids.append(int(mid))
            yield pd.DataFrame({
                "media_id": ids,
                "kind": ["image"] * len(ids),
                "payload": payloads,
                "n_bytes": [len(p) for p in payloads],
            })

    return (df.select("media_id", "payload")
            .mapInPandas(run, out_schema))


AVI_WIDTH = 16
AVI_HEIGHT = 8
AVI_FPS = 10

AVI_FEATURE_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("n_frames", LongType()),
    StructField("pixel_sum", LongType()),
    StructField("pixel_sq_sum", LongType()),
    StructField("peak", IntegerType()),
    StructField("mid_frame_sum", LongType()),  # random access into movi
])


def _riff_chunk(fourcc: bytes, data: bytes) -> bytes:
    """One RIFF chunk: fourcc, little-endian size, data, pad byte to
    word alignment (AVI RIFF spec)."""
    import struct

    pad = b"\x00" if len(data) % 2 else b""
    return fourcc + struct.pack("<I", len(data)) + data + pad


def _riff_list(list_type: bytes, payload: bytes) -> bytes:
    return _riff_chunk(b"LIST", list_type + payload)


def encode_avi(frames: list[bytes], width: int = AVI_WIDTH,
               height: int = AVI_HEIGHT, fps: int = AVI_FPS) -> bytes:
    """A REAL AVI encoder (stdlib struct): uncompressed 8-bit grayscale
    DIB video in a genuine RIFF container — ``hdrl`` with a 56-byte
    MainAVIHeader and a ``strl`` stream (AVISTREAMHEADER +
    BITMAPINFOHEADER + 256-entry grayscale palette), ``movi`` with one
    ``00db`` chunk per frame (BOTTOM-UP row order and 4-byte row
    stride, as the DIB format demands), and a spec-complete ``idx1``
    index whose offsets the decoder re-verifies.

    Each input frame is ``width*height`` row-major pixels (short
    frames are zero-padded)."""
    import struct

    stride = (width + 3) & ~3
    dib_frames = []
    for f in frames:
        f = bytes(f) + b"\x00" * (width * height - len(f))
        rows = [f[r * width:r * width + width].ljust(stride, b"\x00")
                for r in range(height)]
        dib_frames.append(b"".join(reversed(rows)))  # bottom-up
    frame_bytes = stride * height

    avih = struct.pack(
        "<14I", 1_000_000 // fps, frame_bytes * fps, 0, 0x10,  # HASINDEX
        len(frames), 0, 1, frame_bytes, width, height, 0, 0, 0, 0)
    strh = struct.pack(
        "<4s4sI2H8I4h", b"vids", b"DIB ", 0, 0, 0, 0, 1, fps, 0,
        len(frames), frame_bytes, 0, 0, 0, 0, width, height)
    bmih = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 8, 0, frame_bytes,
        0, 0, 256, 0)
    palette = b"".join(bytes((g, g, g, 0)) for g in range(256))
    strl = _riff_list(b"strl", _riff_chunk(b"strh", strh)
                      + _riff_chunk(b"strf", bmih + palette))
    hdrl = _riff_list(b"hdrl", _riff_chunk(b"avih", avih) + strl)

    movi_payload = b"".join(_riff_chunk(b"00db", f) for f in dib_frames)
    movi = _riff_list(b"movi", movi_payload)
    # idx1 offsets are relative to the 'movi' fourcc position
    idx_entries = []
    off = 4
    for f in dib_frames:
        idx_entries.append(struct.pack("<4sIII", b"00db", 0x10, off,
                                       len(f)))
        off += 8 + len(f) + (len(f) % 2)
    idx1 = _riff_chunk(b"idx1", b"".join(idx_entries))

    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_avi(payload: bytes) -> tuple[int, int, list[bytes]]:
    """A REAL AVI decoder (the inverse of :func:`encode_avi`, but a
    general reader): verifies the RIFF/AVI signature, walks the chunk
    tree, parses MainAVIHeader + BITMAPINFOHEADER (8-bit uncompressed
    DIB only), collects the ``movi`` ``00db``/``00dc`` frames,
    cross-checks the ``idx1`` index against the actual chunk offsets
    and sizes, and un-flips each bottom-up stride-padded DIB back to
    row-major pixels.  Returns ``(width, height, frames)``; raises
    ``ValueError`` on malformed input."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI: bad RIFF signature")
    (riff_size,) = struct.unpack("<I", payload[4:8])
    if riff_size + 8 > len(payload):
        raise ValueError("truncated RIFF payload")

    width = height = None
    n_frames_hdr = None
    frames_raw: list[bytes] = []
    idx_entries: list[tuple[bytes, int, int]] = []
    movi_chunk_offsets: list[tuple[int, int]] = []

    def walk(buf: bytes, base: int, end: int, in_movi: bool,
             movi_start: int) -> None:
        nonlocal width, height, n_frames_hdr
        pos = base
        while pos + 8 <= end:
            fourcc = buf[pos:pos + 4]
            (size,) = struct.unpack("<I", buf[pos + 4:pos + 8])
            data_start = pos + 8
            if data_start + size > end:
                raise ValueError(f"truncated chunk {fourcc!r}")
            if fourcc == b"LIST":
                ltype = buf[data_start:data_start + 4]
                walk(buf, data_start + 4, data_start + size,
                     in_movi or ltype == b"movi",
                     data_start if ltype == b"movi" else movi_start)
            elif fourcc == b"avih":
                vals = struct.unpack("<14I", buf[data_start:data_start + 56])
                n_frames_hdr, width, height = vals[4], vals[8], vals[9]
            elif fourcc == b"strf":
                (bi_size, bw, bh, planes, bpp, comp) = struct.unpack(
                    "<IiiHHI", buf[data_start:data_start + 20])
                if (bpp, comp) != (8, 0):
                    raise ValueError("unsupported AVI codec (want raw "
                                     "8-bit DIB)")
            elif fourcc in (b"00db", b"00dc") and in_movi:
                frames_raw.append(buf[data_start:data_start + size])
                # offset convention: relative to the 'movi' fourcc
                # (movi_start points AT the fourcc, first chunk at +4)
                movi_chunk_offsets.append((pos - movi_start, size))
            elif fourcc == b"idx1":
                for i in range(0, size, 16):
                    ck, flags, off, sz = struct.unpack(
                        "<4sIII", buf[data_start + i:data_start + i + 16])
                    idx_entries.append((ck, off, sz))
            pos = data_start + size + (size % 2)

    walk(payload, 12, 8 + riff_size, False, 0)
    if width is None:
        raise ValueError("missing avih header")
    if n_frames_hdr != len(frames_raw):
        raise ValueError(
            f"header claims {n_frames_hdr} frames, movi has "
            f"{len(frames_raw)}")
    if idx_entries:
        got = [(o, s) for _, o, s in idx_entries]
        if got != movi_chunk_offsets:
            raise ValueError("idx1 does not match movi chunk layout")
    stride = (width + 3) & ~3
    frames = []
    for raw in frames_raw:
        if len(raw) != stride * height:
            raise ValueError("frame size != stride * height")
        rows = [raw[r * stride:r * stride + width]
                for r in range(height)]
        frames.append(b"".join(reversed(rows)))  # back to top-down
    return width, height, frames


def documents_as_avi(df: DataFrame, id_col: str = "doc_id",
                     col: str = "text", width: int = AVI_WIDTH,
                     height: int = AVI_HEIGHT) -> DataFrame:
    """A video media table with REAL AVI payloads: each document's
    utf-8 bytes split into ``width*height``-pixel frames (zero-padded
    tail; empty text = one zero frame) inside a genuine RIFF/AVI
    container.  Deterministic, so decoded features are recomputable by
    a SQL oracle straight from the text."""
    out_schema = StructType([
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("payload", BinaryType()),
        StructField("n_bytes", LongType()),
    ])
    fsz = width * height

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            payloads = []
            for t in pdf[col]:
                b = (t or "").encode("utf-8")
                n = max(1, -(-len(b) // fsz))
                payloads.append(encode_avi(
                    [b[k * fsz:(k + 1) * fsz] for k in range(n)],
                    width, height))
            yield pd.DataFrame({
                "media_id": pdf[id_col].values,
                "kind": ["video"] * len(pdf),
                "payload": payloads,
                "n_bytes": [len(p) for p in payloads],
            })

    return (df.select(F.col(id_col).cast("long").alias(id_col), col)
            .mapInPandas(run, out_schema))


def decode_avi_features(df: DataFrame) -> DataFrame:
    """REAL video decode: parse each AVI container (chunk walk, header
    + format validation, idx1 cross-check, DIB un-flip) and emit
    exact-integer features — dimensions, frame count, pixel sum/sq-sum
    and peak over ALL frames, plus the middle frame's pixel sum (the
    per-frame random access a frame-sampling pipeline needs).
    Arrow-batched ``mapInPandas``; payloads cross into Python once."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = {k: [] for k in ("media_id", "width", "height",
                                    "n_frames", "pixel_sum",
                                    "pixel_sq_sum", "peak",
                                    "mid_frame_sum")}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                w, h, frames = decode_avi(bytes(payload))
                arr = np.frombuffer(b"".join(frames),
                                    dtype=np.uint8).astype(np.int64)
                mid_f = np.frombuffer(frames[len(frames) // 2],
                                      dtype=np.uint8).astype(np.int64)
                rows["media_id"].append(int(mid))
                rows["width"].append(w)
                rows["height"].append(h)
                rows["n_frames"].append(len(frames))
                rows["pixel_sum"].append(int(arr.sum()))
                rows["pixel_sq_sum"].append(int((arr * arr).sum()))
                rows["peak"].append(int(arr.max()) if arr.size else 0)
                rows["mid_frame_sum"].append(int(mid_f.sum()))
            yield pd.DataFrame(rows)

    return (df.select("media_id", "payload")
            .mapInPandas(run, AVI_FEATURE_SCHEMA))


def avi_thumbnail(df: DataFrame, frame: str = "middle") -> DataFrame:
    """Cross-codec video thumbnailing — the everyday multimodal
    pipeline op: decode each AVI, pick one frame (``middle`` =
    ``n_frames // 2``, or ``first``), and re-encode it as a standalone
    PNG at the video's own dimensions.  Two REAL codecs compose in one
    Arrow batch with no intermediate materialization; downstream
    consumers see ordinary image media rows.

    One partition-local pass, no shuffle; payload bytes cross into
    Python once."""
    if frame not in ("middle", "first"):
        raise ValueError(f"unknown frame selector: {frame}")
    out_schema = StructType([
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("payload", BinaryType()),
        StructField("n_bytes", LongType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids, payloads = [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                w, h, frames = decode_avi(bytes(payload))
                pick = frames[len(frames) // 2] if frame == "middle" \
                    else frames[0]
                payloads.append(encode_png(pick, width=w))
                ids.append(int(mid))
            yield pd.DataFrame({
                "media_id": ids,
                "kind": ["image"] * len(ids),
                "payload": payloads,
                "n_bytes": [len(p) for p in payloads],
            })

    return (df.select("media_id", "payload")
            .mapInPandas(run, out_schema))
