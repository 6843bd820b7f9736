"""Multimodal column plumbing (BASELINE.json north-star): treat
image/audio/video payloads as opaque ``binary`` columns with typed
metadata, decoded by Arrow-batched pandas UDFs over ``mapInPandas``.

The container has no image/audio libraries, so the decode step is a
DETERMINISTIC FAKE (documented): payload = md5 digest of the normalized
text (16 bytes standing in for encoded media), and "decode" reads
header-like fields from the leading bytes. The Spark-side plumbing —
binary column, schema contract, Arrow batch iteration, partition-
parallel UDF — is real and is what a real decoder (PIL/ffmpeg) would
drop into. A real implementation raises NotImplementedError where noted.

Scale: ``mapInPandas`` streams Arrow batches per partition — constant
memory, no shuffle; exactly how image decode/resize runs over a 100 TB
corpus (CPU-bound map stage, sized by input split).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import normalized

DECODED_SCHEMA = (
    "doc_id long, byte_len int, width int, height int, channels int, mean_byte double"
)


def _payload_expr() -> "F.Column":
    """The shared fake-media derivation: md5 digest bytes of the
    normalized text. ONE definition — ``with_payload`` and
    ``_digest_bytes_col`` previously re-implemented it verbatim and
    could silently diverge (r10 review)."""
    return F.unhex(F.md5(normalized(F.col("text"))))


def with_payload(documents: DataFrame) -> DataFrame:
    """Attach the fake binary media payload (md5 digest bytes of the
    normalized text) — the ``binary``-column contract a real pipeline
    would get from an object-store scan. Rows with NULL text carry no
    media and are EXCLUDED (the same discipline as ``dedup.norm_docs``;
    without the filter every downstream pandas decode crashed on
    ``len(None)``, r10 review). The DuckDB twins run on fixtures with
    no NULL texts; a NULL-bearing corpus needs the matching WHERE in
    the oracle."""
    return documents.where(F.col("text").isNotNull()).select(
        "doc_id", _payload_expr().alias("payload")
    )


def decode_metadata(documents: DataFrame) -> DataFrame:
    """binary payload → typed metadata via mapInPandas (the multimodal
    decode plumbing: schema contract + Arrow batching are real; the
    pixel math is the deterministic fake).

    The batch fn is nested so cloudpickle ships it BY VALUE — workers
    need no importable copy of this package (driver-cwd independent).
    """

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # a real decoder would be PIL.Image.open over io.BytesIO
        # (NotImplementedError in this container — no image libs)
        for pdf in batches:
            pl = pdf["payload"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": pl.map(len),
                    "width": pl.map(lambda b: b[0]),
                    "height": pl.map(lambda b: b[1]),
                    "channels": pl.map(lambda b: 1 + b[2] % 3),
                    "mean_byte": pl.map(lambda b: sum(b) / float(len(b))),
                }
            )

    return (
        with_payload(documents)
        .mapInPandas(decode_batches, schema=DECODED_SCHEMA)
        .orderBy("doc_id")
    )


RESIZED_SCHEMA = (
    "doc_id long, thumb_w int, thumb_h int, "
    "q00 double, q01 double, q10 double, q11 double"
)


def resize_thumbnail(documents: DataFrame) -> DataFrame:
    """binary payload → 2×2 thumbnail stats via mapInPandas (the image
    resize plumbing: same batch shape a PIL-backed resize would use —
    quadrant means over the 16 payload bytes stand in for the pixels).
    Batch fn nested → pickled by value (worker-importable package not
    required)."""

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pl = pdf["payload"]
            quad = [
                pl.map(lambda b, q=q: sum(b[q * 4 : q * 4 + 4]) / 4.0)
                for q in range(4)
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "thumb_w": 2,
                    "thumb_h": 2,
                    "q00": quad[0],
                    "q01": quad[1],
                    "q10": quad[2],
                    "q11": quad[3],
                }
            )

    return (
        with_payload(documents)
        .mapInPandas(resize_batches, schema=RESIZED_SCHEMA)
        .orderBy("doc_id")
    )


FRAMES_SCHEMA = "doc_id long, frame_idx int, n_frames int, frame_byte int"
FRAME_STRIDE = 3


def frame_sample(documents: DataFrame) -> DataFrame:
    """binary payload → sampled frame rows via mapInPandas — the 1→N
    row-expanding UDF shape (ffmpeg keyframe extraction in a real
    pipeline): the payload header byte sets the fake frame count (8–15);
    every 3rd frame is sampled; the frame's leading byte stands in for
    the frame tensor. Batch fn nested → pickled by value."""
    stride = FRAME_STRIDE

    def frame_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [],
                "frame_idx": [],
                "n_frames": [],
                "frame_byte": [],
            }
            for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
                n_frames = 8 + b[0] % 8
                for i in range(0, n_frames, stride):
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(i)
                    out["n_frames"].append(n_frames)
                    out["frame_byte"].append(b[i % len(b)])
            yield pd.DataFrame(out)

    return (
        with_payload(documents)
        .mapInPandas(frame_batches, schema=FRAMES_SCHEMA)
        .orderBy("doc_id", "frame_idx")
    )


# ---------------------------------------------------------------------------
# REAL codecs for uncompressed formats (zero third-party libs):
# 24bpp BMP and RIFF/PCM16 WAV are pure struct layouts — the encode
# side synthesizes genuine files (md5-derived pixels/samples, so both
# engines can predict the stats analytically), and the decode side
# parses the actual headers and does the actual pixel/sample math.
# ---------------------------------------------------------------------------

BMP_W, BMP_H = 8, 8  # 24 bytes/row — 4-byte aligned, no padding
WAV_RATE, WAV_N = 16000, 64

BMP_SCHEMA = (
    "doc_id long, file_size int, width int, height int, bpp int, "
    "mean_pixel double"
)
WAV_SCHEMA = (
    "doc_id long, sample_rate int, n_samples int, rms double"
)


def _digest_bytes_col(documents: DataFrame) -> DataFrame:
    """``with_payload`` under the real-codec column name (one shared
    derivation + NULL-text exclusion, see ``_payload_expr``)."""
    return documents.where(F.col("text").isNotNull()).select(
        "doc_id", _payload_expr().alias("digest")
    )


def encode_bmp(digest: bytes) -> bytes:
    """A genuine 24bpp bottom-up BMP: BITMAPFILEHEADER (14 bytes) +
    BITMAPINFOHEADER (40) + raw BGR rows. Pixels tile the 16-byte
    digest (192 bytes = 12 exact tiles, so mean_pixel == mean(digest)
    — the analytic handle the DuckDB oracle recomputes)."""
    import struct

    row_bytes = BMP_W * 3
    img_size = row_bytes * BMP_H
    pixels = (digest * ((img_size // len(digest)) + 1))[:img_size]
    header = struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    info = struct.pack(
        "<IiiHHIIiiII", 40, BMP_W, BMP_H, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    return header + info + pixels


def encode_wav(digest: bytes) -> bytes:
    """A genuine RIFF/WAVE file: fmt chunk (PCM, mono, 16 kHz, 16-bit)
    + data chunk of WAV_N samples tiled from the digest
    (s_i = byte*256 - 32768, int16 little-endian)."""
    import struct

    samples = [
        digest[i % len(digest)] * 256 - 32768 for i in range(WAV_N)
    ]
    data = struct.pack(f"<{WAV_N}h", *samples)
    fmt = struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, 1, WAV_RATE,
                      WAV_RATE * 2, 2, 16)
    hdr = struct.pack("<4sI4s", b"RIFF", 36 + len(data), b"WAVE")
    return hdr + fmt + struct.pack("<4sI", b"data", len(data)) + data


def decode_bmp_real(documents: DataFrame) -> DataFrame:
    """REAL BMP decode over mapInPandas: struct-unpack the actual file
    and info headers (magic check included), then numpy-mean the actual
    pixel array — the identical batch shape a PIL decode would use,
    except nothing is faked. Encode happens in the same batch fn (in a
    real pipeline the bytes arrive from an object-store scan)."""

    bmp_w, bmp_h = BMP_W, BMP_H
    enc = encode_bmp

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        import numpy as np

        def decode(payload: bytes):
            magic, file_size, _, _, offset = struct.unpack(
                "<2sIHHI", payload[:14]
            )
            assert magic == b"BM", "not a BMP payload"
            (_, width, height, _, bpp, _, img_size, *_rest) = struct.unpack(
                "<IiiHHIIiiII", payload[14:54]
            )
            px = np.frombuffer(payload[offset : offset + img_size], np.uint8)
            return file_size, width, height, bpp, float(px.mean())

        for pdf in it:
            rows = [decode(enc(d)) for d in pdf["digest"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "file_size": [r[0] for r in rows],
                    "width": [r[1] for r in rows],
                    "height": [r[2] for r in rows],
                    "bpp": [r[3] for r in rows],
                    "mean_pixel": [r[4] for r in rows],
                }
            )

    assert (bmp_w * 3) % 4 == 0, "row stride must stay 4-byte aligned"
    return (
        _digest_bytes_col(documents)
        .mapInPandas(batches, schema=BMP_SCHEMA)
        .orderBy("doc_id")
    )


AHASH_SCHEMA = "doc_id long, b0 int, b1 int, b2 int, b3 int"


def encode_bmp_textured(digest: bytes) -> bytes:
    """Like :func:`encode_bmp` but position-mixed — pixel-buffer byte
    ``i`` is ``(digest[i % 16] + i // 16) % 256`` (the same mixing
    precedent as :func:`encode_y4m`'s frame term). The plain tiling
    repeats the 16 digest bytes verbatim, so its 64 pixels carry only
    16 distinct values and any pixel-wise hash degenerates to 16
    informative bits; the tile-index term makes the pixel stream
    aperiodic while staying analytically recomputable by the oracle."""
    import struct

    row_bytes = BMP_W * 3
    img_size = row_bytes * BMP_H
    pixels = bytes(
        (digest[i % len(digest)] + i // len(digest)) % 256
        for i in range(img_size)
    )
    header = struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    info = struct.pack(
        "<IiiHHIIiiII", 40, BMP_W, BMP_H, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    return header + info + pixels


def ahash_bands(documents: DataFrame) -> DataFrame:
    """Average-hash (aHash) of the REAL-decoded textured BMP, as 4×16-bit
    Hamming-LSH band integers.

    The classic perceptual-dedup fingerprint: decode the image, reduce
    each pixel to a gray level, set bit ``p`` iff pixel ``p`` is at or
    above the image mean. Everything is integer-exact — gray is kept as
    the ×3 channel sum and the mean test is cross-multiplied
    (``64*g3_p >= Σg3``), so no float rounding can flip a bit in either
    engine. The 64 bits are packed big-endian-within-band into 4
    sixteen-bit ints: the banded equi-join over them is the Hamming-
    space twin of MinHash banding (dedup.minhash_lsh_pairs) — candidate
    pairs come from bucket collisions, never an all-pairs scan.

    Scale: one Arrow-batched decode pass per partition, no shuffle here;
    the downstream pair join shuffles on uniform 16-bit band keys.
    """

    enc = encode_bmp_textured

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        import numpy as np

        weights = (1 << np.arange(15, -1, -1)).astype(np.int64)

        def bands(payload: bytes):
            magic, _, _, _, offset = struct.unpack("<2sIHHI", payload[:14])
            assert magic == b"BM", "not a BMP payload"
            (_, _w, _h, _, _bpp, _, img_size, *_rest) = struct.unpack(
                "<IiiHHIIiiII", payload[14:54]
            )
            px = np.frombuffer(payload[offset : offset + img_size], np.uint8)
            # file-order pixels; a fixed pixel permutation (bottom-up BMP
            # rows vs visual order) changes neither the mean nor any
            # pairwise Hamming distance
            g3 = px.reshape(-1, 3).sum(axis=1).astype(np.int64)
            bits = (64 * g3 >= g3.sum()).astype(np.int64)
            return [int(bits[16 * k : 16 * (k + 1)] @ weights) for k in range(4)]

        for pdf in it:
            rows = [bands(enc(d)) for d in pdf["digest"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "b0": [r[0] for r in rows],
                    "b1": [r[1] for r in rows],
                    "b2": [r[2] for r in rows],
                    "b3": [r[3] for r in rows],
                }
            )

    return _digest_bytes_col(documents).mapInPandas(
        batches, schema=AHASH_SCHEMA
    )


Y4M_W, Y4M_H, Y4M_FRAMES = 8, 8, 4
Y4M_STRIDE = 2  # sample every 2nd frame, the keyframe-ish pattern

Y4M_SCHEMA = (
    "doc_id long, width int, height int, n_frames int, "
    "frame_idx int, mean_luma double"
)


def encode_y4m(digest: bytes) -> bytes:
    """A genuine YUV4MPEG2 stream (the uncompressed video interchange
    format): text stream header, then per frame a FRAME marker + raw
    C420 planes (Y 8x8, U/V 4x4). Frame k's luma byte i is
    ``(digest[(i + 3k) % 16] + k) % 256`` — deterministic, frame-
    varying, and analytically recomputable by the oracle."""
    head = f"YUV4MPEG2 W{Y4M_W} H{Y4M_H} F25:1 Ip A1:1 C420\n".encode()
    out = [head]
    chroma = bytes((Y4M_W // 2) * (Y4M_H // 2)) * 2  # flat U + V planes
    for k in range(Y4M_FRAMES):
        y = bytes(
            (digest[(i + 3 * k) % len(digest)] + k) % 256
            for i in range(Y4M_W * Y4M_H)
        )
        out.append(b"FRAME\n" + y + chroma)
    return b"".join(out)


def decode_y4m_real(documents: DataFrame) -> DataFrame:
    """REAL Y4M decode over mapInPandas: parse the stream header's
    W/H/C tags, walk the FRAME markers, numpy-mean each sampled
    frame's actual luma plane — ffmpeg-free video frame sampling over
    the uncompressed interchange format (1→N row-expanding batch fn,
    same shape as ``frame_sample``)."""

    stride, n_frames = Y4M_STRIDE, Y4M_FRAMES
    enc = encode_y4m

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def decode(payload: bytes):
            nl = payload.index(b"\n")
            tags = payload[:nl].decode().split(" ")
            assert tags[0] == "YUV4MPEG2", "not a Y4M payload"
            w = int(next(t[1:] for t in tags if t.startswith("W")))
            h = int(next(t[1:] for t in tags if t.startswith("H")))
            assert "C420" in tags, "C420 chroma only"
            frame_bytes = w * h + 2 * (w // 2) * (h // 2)
            pos, frames = nl + 1, []
            while pos < len(payload):
                assert payload[pos : pos + 6] == b"FRAME\n", "bad marker"
                pos += 6
                y = np.frombuffer(
                    payload[pos : pos + w * h], np.uint8
                )
                frames.append(float(y.mean()))
                pos += frame_bytes
            return w, h, frames

        for pdf in it:
            out: dict[str, list] = {
                "doc_id": [], "width": [], "height": [],
                "n_frames": [], "frame_idx": [], "mean_luma": [],
            }
            for doc_id, digest in zip(pdf["doc_id"], pdf["digest"]):
                w, h, frames = decode(enc(digest))
                assert len(frames) == n_frames
                for i in range(0, len(frames), stride):
                    out["doc_id"].append(doc_id)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["n_frames"].append(len(frames))
                    out["frame_idx"].append(i)
                    out["mean_luma"].append(frames[i])
            yield pd.DataFrame(out)

    return (
        _digest_bytes_col(documents)
        .mapInPandas(batches, schema=Y4M_SCHEMA)
        .orderBy("doc_id", "frame_idx")
    )


def decode_wav_real(documents: DataFrame) -> DataFrame:
    """REAL WAV decode over mapInPandas: parse the RIFF/fmt/data chunks
    with struct, then numpy-RMS the actual int16 sample array."""

    enc = encode_wav

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        import numpy as np

        def decode(payload: bytes):
            riff, _, wave = struct.unpack("<4sI4s", payload[:12])
            assert riff == b"RIFF" and wave == b"WAVE", "not a WAV payload"
            (_tag, _sz, fmt, ch, rate, _br, _ba, bits) = struct.unpack(
                "<4sIHHIIHH", payload[12:36]
            )
            assert fmt == 1 and ch == 1 and bits == 16, "PCM16 mono only"
            _dtag, dlen = struct.unpack("<4sI", payload[36:44])
            s = np.frombuffer(payload[44 : 44 + dlen], "<i2").astype(
                np.float64
            )
            return rate, len(s), float(np.sqrt(np.mean(s * s)))

        for pdf in it:
            rows = [decode(enc(d)) for d in pdf["digest"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "sample_rate": [r[0] for r in rows],
                    "n_samples": [r[1] for r in rows],
                    "rms": [r[2] for r in rows],
                }
            )

    return (
        _digest_bytes_col(documents)
        .mapInPandas(batches, schema=WAV_SCHEMA)
        .orderBy("doc_id")
    )


def decode_metadata_arrow(documents: DataFrame) -> DataFrame:
    """``mapInArrow`` twin of ``decode_metadata``: the batch function
    receives/returns ``pyarrow.RecordBatch`` directly — no Arrow→pandas
    materialization at all, the leanest Python hop Spark offers. For
    wide binary payloads this skips a full copy per batch relative to
    mapInPandas; the pixel math stays the deterministic fake.

    Nested fn: cloudpickle ships it by value (no PYTHONPATH needed on
    workers)."""

    def decode_batches(batches):
        import pyarrow as pa

        for rb in batches:
            payloads = rb.column("payload").to_pylist()
            yield pa.RecordBatch.from_pydict(
                {
                    "doc_id": rb.column("doc_id"),
                    "byte_len": pa.array(
                        [len(b) for b in payloads], pa.int32()
                    ),
                    "width": pa.array([b[0] for b in payloads], pa.int32()),
                    "height": pa.array([b[1] for b in payloads], pa.int32()),
                    "channels": pa.array(
                        [1 + b[2] % 3 for b in payloads], pa.int32()
                    ),
                    "mean_byte": pa.array(
                        [sum(b) / float(len(b)) for b in payloads],
                        pa.float64(),
                    ),
                }
            )

    return (
        with_payload(documents)
        .mapInArrow(decode_batches, schema=DECODED_SCHEMA)
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# REAL compressed-codec decode (round 4): PNG via stdlib zlib — unlike
# BMP/WAV/Y4M (pure struct layouts), PNG exercises a genuine DEFLATE
# inflate, per-row filter reconstruction, and CRC-32 chunk verification.
# ---------------------------------------------------------------------------

PNG_W, PNG_H = 8, 8  # 24 bytes/row, RGB8 (color type 2)

PNG_SCHEMA = (
    "doc_id long, width int, height int, bit_depth int, color_type int, "
    "n_chunks int, crc_ok boolean, mean_pixel double"
)


def encode_png(digest: bytes) -> bytes:
    """A genuine PNG: signature + IHDR + one zlib-compressed IDAT + IEND,
    every chunk carrying its real CRC-32. Rows use filter type 1 (Sub),
    so the decoder must actually reconstruct ``raw[i] = filt[i] +
    recon[i - 3]`` — a byte-identity pass-through cannot fake it. The
    RECONSTRUCTED pixel stream tiles the 16-byte digest (192 bytes = 12
    exact tiles), so mean_pixel == mean(digest): the analytic handle the
    oracle recomputes without inflating anything."""
    import struct
    import zlib

    row_bytes = PNG_W * 3
    img = (digest * ((row_bytes * PNG_H) // len(digest) + 1))[
        : row_bytes * PNG_H
    ]
    raw = bytearray()
    for r in range(PNG_H):
        row = img[r * row_bytes : (r + 1) * row_bytes]
        raw.append(1)  # Sub filter
        for i, b in enumerate(row):
            left = row[i - 3] if i >= 3 else 0
            raw.append((b - left) % 256)
    idat = zlib.compress(bytes(raw), 6)

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", PNG_W, PNG_H, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


def decode_png_real(documents: DataFrame) -> DataFrame:
    """REAL PNG decode over mapInPandas: walk the chunk stream verifying
    every CRC-32, parse IHDR, inflate the concatenated IDATs with
    stdlib zlib, reconstruct each row's Sub/None filter, and numpy-mean
    the reconstructed pixels. The only difference from a PIL decode is
    the filter matrix supported (None + Sub — the two the fixture
    emits); the inflate, CRC, and defilter arithmetic are the real
    thing. Arrow-batched, constant memory per partition, no shuffle."""

    png_w, png_h = PNG_W, PNG_H
    enc = encode_png

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct
        import zlib

        import numpy as np

        def decode(payload: bytes):
            assert payload[:8] == b"\x89PNG\r\n\x1a\n", "bad signature"
            pos, n_chunks, crc_ok = 8, 0, True
            width = height = bit_depth = color_type = -1
            idat = b""
            while pos < len(payload):
                (length,) = struct.unpack(">I", payload[pos : pos + 4])
                tag = payload[pos + 4 : pos + 8]
                data = payload[pos + 8 : pos + 8 + length]
                (crc,) = struct.unpack(
                    ">I", payload[pos + 8 + length : pos + 12 + length]
                )
                crc_ok &= (zlib.crc32(tag + data) & 0xFFFFFFFF) == crc
                n_chunks += 1
                if tag == b"IHDR":
                    width, height, bit_depth, color_type, *_ = struct.unpack(
                        ">IIBBBBB", data
                    )
                elif tag == b"IDAT":
                    idat += data
                elif tag == b"IEND":
                    break
                pos += 12 + length
            raw = zlib.decompress(idat)
            row_bytes = width * 3
            assert len(raw) == height * (row_bytes + 1), "bad scanline size"
            out = np.empty(height * row_bytes, np.uint8)
            for r in range(height):
                line = raw[r * (row_bytes + 1) : (r + 1) * (row_bytes + 1)]
                ftype, filt = line[0], np.frombuffer(line[1:], np.uint8)
                if ftype == 0:
                    recon = filt.copy()
                elif ftype == 1:
                    recon = filt.copy()
                    for i in range(3, row_bytes):  # bpp = 3 (RGB8)
                        recon[i] = (int(recon[i]) + int(recon[i - 3])) % 256
                else:  # pragma: no cover - fixture emits None/Sub only
                    raise NotImplementedError(f"PNG filter {ftype}")
                out[r * row_bytes : (r + 1) * row_bytes] = recon
            return (
                width, height, bit_depth, color_type, n_chunks,
                bool(crc_ok), float(out.mean()),
            )

        for pdf in it:
            rows = [decode(enc(d)) for d in pdf["digest"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": [r[0] for r in rows],
                    "height": [r[1] for r in rows],
                    "bit_depth": [r[2] for r in rows],
                    "color_type": [r[3] for r in rows],
                    "n_chunks": [r[4] for r in rows],
                    "crc_ok": [r[5] for r in rows],
                    "mean_pixel": [r[6] for r in rows],
                }
            )

    assert png_w * 3 * png_h % 16 == 0, "pixels must tile the digest"
    return (
        _digest_bytes_col(documents)
        .mapInPandas(batches, schema=PNG_SCHEMA)
        .orderBy("doc_id")
    )
