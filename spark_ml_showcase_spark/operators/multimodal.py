"""Multimodal column plumbing (SURVEY.md §2.12 X5): image/audio/video as
opaque ``binary`` columns with typed metadata, processed by Arrow-batched
``mapInPandas`` stages.

Two decode paths:

- ``decode_stub=True`` (default): deterministic fake features from byte
  statistics — exercises the Arrow/mapInPandas plumbing without any codec.
- ``decode_stub=False``: a REAL stdlib decoder for the formats the stdlib
  can parse — 24-bit uncompressed BMP (``struct`` header parse + padded
  BGR pixel rows) and PCM WAV (``wave`` module + 16-bit sample stats).
  Payloads are format-sniffed by magic bytes (``BM`` / ``RIFF``). Heavier
  codecs (JPEG/PNG/mp4 via PIL/ffmpeg) are absent from this container and
  would slot into :func:`_decode_real` the same way.

Everything Spark-side — schemas, partition sizing, the mapInPandas batch
contract, column pruning before the UDF — is identical for both paths.

Scale posture: binary payloads dominate row width, so (a) prune to
(id, payload) BEFORE entering Python — Arrow ships only what the UDF
reads; (b) keep ``spark.sql.execution.arrow.maxRecordsPerBatch`` modest
(default 10k) so a batch of multi-MB blobs fits executor memory;
(c) repartition by id range first if blob sizes are skewed.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_ml_showcase_spark.functions import partitioning

FEATURE_SCHEMA = (
    "id bigint, n_bytes bigint, width int, height int, feat array<float>"
)


def attach_binary(
    df: DataFrame, src_col: str, *, id_col: str = "doc_id"
) -> DataFrame:
    """Demo ingest: a ``binary`` payload column (UTF-8 bytes of a string
    column — in production this is the raw image/audio blob) plus typed
    metadata (media_type, n_bytes) the planner can filter on WITHOUT
    touching the payload."""
    payload = F.encode(F.col(src_col), "UTF-8")
    # the mapInPandas stages downstream run at the scan's width: a
    # fan-out exchange here cost more than it saved (multimodal_features
    # 0.180 s without it, 0.223 s with it; frame_sample_stats 0.309 s
    # against 0.368 s; medians of 15 interleaved pairs on 4 cores)
    return df.select(
        F.col(id_col).alias("id"),
        payload.alias("payload"),
        F.lit("application/octet-stream").alias("media_type"),
        F.octet_length(payload).alias("n_bytes"),
    )


def encode_bmp(width: int, height: int, rgb: tuple[int, int, int]) -> bytes:
    """Build a minimal 24-bit uncompressed BMP (BITMAPINFOHEADER) filled
    with one solid RGB color. Rows are stored bottom-up, BGR, padded to a
    4-byte boundary — the exact layout :func:`decode_bmp` must undo."""
    import struct

    w, h = int(width), int(height)
    r, g, b = (int(c) & 0xFF for c in rgb)
    row = bytes((b, g, r)) * w
    row += b"\x00" * ((4 - (3 * w) % 4) % 4)  # pad each row to 4 bytes
    pixels = row * h
    off = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", off + len(pixels), 0, 0, off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixels), 2835, 2835, 0, 0)
    return header + info + pixels


def decode_bmp(buf: bytes) -> tuple[int, int, list[float]]:
    """Parse a 24-bit uncompressed BMP: header fields via ``struct``, then
    per-channel pixel means over the padded bottom-up BGR rows. Returns
    (width, height, [mean_r, mean_g, mean_b])."""
    import struct

    if buf[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (pix_off,) = struct.unpack_from("<I", buf, 10)
    hdr_size, w, h = struct.unpack_from("<Iii", buf, 14)
    planes, bpp, compression = struct.unpack_from("<HHI", buf, 26)
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={compression})")
    h_abs = abs(h)  # negative height = top-down row order; means don't care
    stride = (3 * w + 3) // 4 * 4
    tot = [0, 0, 0]  # B, G, R accumulation order (BMP stores BGR)
    for y in range(h_abs):
        base = pix_off + y * stride
        row = buf[base : base + 3 * w]  # slice excludes the pad bytes
        tot[0] += sum(row[0::3])
        tot[1] += sum(row[1::3])
        tot[2] += sum(row[2::3])
    n = max(1, w * h_abs)
    return w, h_abs, [tot[2] / n, tot[1] / n, tot[0] / n]


def decode_wav(buf: bytes) -> tuple[int, int, list[float]]:
    """Parse a PCM WAV via the stdlib ``wave`` module. Returns
    (n_channels, bits_per_sample, [n_frames, framerate, mean, rms])."""
    import io
    import math
    import struct
    import wave

    with wave.open(io.BytesIO(buf), "rb") as wf:
        nch, sw, rate, nf = (
            wf.getnchannels(),
            wf.getsampwidth(),
            wf.getframerate(),
            wf.getnframes(),
        )
        raw = wf.readframes(nf)
    if sw != 2:
        raise ValueError(f"unsupported WAV sample width {sw}")
    samples = struct.unpack(f"<{len(raw) // 2}h", raw)
    n = max(1, len(samples))
    mean = sum(samples) / n
    rms = math.sqrt(sum(s * s for s in samples) / n)
    return nch, sw * 8, [float(nf), float(rate), mean, rms]


def resize_bmp(buf: bytes, new_w: int, new_h: int) -> bytes:
    """Nearest-neighbor resample of a 24-bit uncompressed BMP to
    (new_w, new_h), returning a new BMP. Pure stdlib, same padded
    bottom-up BGR layout as :func:`encode_bmp`/:func:`decode_bmp`;
    source pixel for output (x, y) is (floor(x·w/new_w),
    floor(y·h/new_h)) — the cheap, deterministic kernel (bilinear/area
    belong to PIL/ffmpeg when available, behind the same operator)."""
    import struct

    if buf[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (pix_off,) = struct.unpack_from("<I", buf, 10)
    _, w, h = struct.unpack_from("<Iii", buf, 14)
    _, bpp, compression = struct.unpack_from("<HHI", buf, 26)
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={compression})")
    h_abs = abs(h)
    stride = (3 * w + 3) // 4 * 4
    if len(buf) < pix_off + h_abs * stride:
        # truncated payload (partial upload): fail HERE rather than
        # silently emitting short pixel slices into a corrupt output
        raise ValueError(
            f"truncated BMP: need {pix_off + h_abs * stride} bytes, have {len(buf)}"
        )
    new_w, new_h = int(new_w), int(new_h)
    if new_w < 1 or new_h < 1:
        raise ValueError("target dimensions must be ≥ 1")
    out_rows = []
    pad = b"\x00" * ((4 - (3 * new_w) % 4) % 4)
    for y in range(new_h):
        sy = y * h_abs // new_h
        base = pix_off + sy * stride
        row = bytearray()
        for x in range(new_w):
            sx = x * w // new_w
            row += buf[base + 3 * sx : base + 3 * sx + 3]
        out_rows.append(bytes(row) + pad)
    pixels = b"".join(out_rows)
    off = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", off + len(pixels), 0, 0, off)
    # preserve the source's row order sign on the new height
    signed_h = new_h if h >= 0 else -new_h
    info = struct.pack(
        "<IiiHHIIiiII", 40, new_w, signed_h, 1, 24, 0, len(pixels), 2835, 2835, 0, 0
    )
    return header + info + pixels


RESIZE_SCHEMA = (
    "id bigint, payload binary, width int, height int, n_bytes int, "
    "resized boolean"
)


def resize_images(
    binary_df: DataFrame, target_w: int, target_h: int
) -> DataFrame:
    """Resize every BMP payload to (target_w, target_h) over Arrow
    batches (``mapInPandas``) — the brief's multimodal resize operator.
    Non-BMP payloads (audio, unknown codecs) pass through untouched with
    ``resized = false``; the Spark-side plumbing (schema, pruned Arrow
    transfer, batch iteration) is codec-agnostic, so a PIL/ffmpeg-backed
    kernel slots into the same operator."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import struct

        for pdf in batches:
            rows = []
            for rid, buf in zip(pdf["id"], pdf["payload"]):
                if buf is None:
                    # NULL payload (missing blob): pass-through, never a
                    # job-killing TypeError at bytes(None)
                    rows.append((int(rid), None, None, None, 0, False))
                    continue
                b = bytes(buf)
                if b[:2] == b"BM":
                    try:
                        nb = resize_bmp(b, target_w, target_h)
                    except (ValueError, struct.error):
                        # 'BM' magic but not a decodable 24-bit BMP
                        # (8-bit/RLE/32-bit variants, payloads shorter
                        # than the 54-byte header → struct.error):
                        # honor the pass-through contract — one odd file
                        # in a 100 TB corpus must not kill the job
                        rows.append((int(rid), b, None, None, len(b), False))
                        continue
                    rows.append(
                        (int(rid), nb, target_w, target_h, len(nb), True)
                    )
                else:
                    rows.append((int(rid), b, None, None, len(b), False))
            yield pd.DataFrame(
                rows,
                columns=["id", "payload", "width", "height", "n_bytes", "resized"],
            )

    return binary_df.select("id", "payload").mapInPandas(run, RESIZE_SCHEMA)


def _decode_real(buf: bytes) -> tuple[int, int, list[float]]:
    """Magic-byte sniff → stdlib decoder. BMP → (width, height, channel
    means); WAV → (channels, bits, sample stats). The integration point
    for heavier codecs (PIL/ffmpeg) when available."""
    if buf[:2] == b"BM":
        return decode_bmp(buf)
    if buf[:4] == b"RIFF" and buf[8:12] == b"WAVE":
        return decode_wav(buf)
    raise ValueError(f"unrecognized payload magic {buf[:4]!r}")


def _fake_decode(buf: bytes) -> tuple[int, int, list[float]]:
    """Deterministic stand-in for an image decode: pseudo-dimensions and a
    4-dim feature vector derived from byte statistics."""
    n = len(buf)
    width = 1 + n % 64
    height = 1 + (n // 64) % 64
    s = sum(buf[:256])
    feat = [float(n), float(s % 997), float(buf[0] if n else 0), float(width * height)]
    return width, height, feat


def extract_features(
    binary_df: DataFrame, *, decode_stub: bool = True
) -> DataFrame:
    """Decode/feature-extract over Arrow batches (``mapInPandas``).

    Input needs (id, payload); output schema is ``FEATURE_SCHEMA``. The
    pandas iterator form streams batch-by-batch — peak memory is one
    Arrow batch, not one partition.
    """
    import pandas as pd

    decode = _fake_decode if decode_stub else _decode_real

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for rid, buf in zip(pdf["id"], pdf["payload"]):
                b = bytes(buf)
                width, height, feat = decode(b)
                rows.append((int(rid), len(b), width, height, feat))
            yield pd.DataFrame(
                rows, columns=["id", "n_bytes", "width", "height", "feat"]
            )

    # Prune before Python: only (id, payload) crosses the Arrow boundary.
    return binary_df.select("id", "payload").mapInPandas(run, FEATURE_SCHEMA)


def synthesize_bmp(df: DataFrame, *, id_col: str = "doc_id") -> DataFrame:
    """Deterministic BMP ingest fixture: one solid-color 24-bit BMP per
    row, dimensions and color pure functions of the id — so downstream
    decoded features (dims, channel means, byte size) are exactly
    reproducible in SQL by an oracle that never touches the bytes.

    width 1..7 deliberately spans all four ``3*w % 4`` residues: most rows
    carry nonzero BMP row padding, so a decoder that forgets to skip pad
    bytes (or swaps BGR→RGB) fails the oracle hash.
    """
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            ids = [int(i) for i in pdf["id"]]
            yield pd.DataFrame(
                {
                    "id": ids,
                    "payload": [
                        encode_bmp(
                            1 + i % 7,
                            1 + i % 5,
                            (i % 256, (i * 7) % 256, (i * 13) % 256),
                        )
                        for i in ids
                    ],
                }
            )

    src = df.select(F.col(id_col).alias("id")).repartition(
        partitioning.width(df.sparkSession)
    )
    return src.mapInPandas(run, "id bigint, payload binary")


def frame_sample(
    binary_df: DataFrame, *, every_n_bytes: int = 64, max_frames: int = 8
) -> DataFrame:
    """'Frame sampling' over a binary payload (video stand-in): emit one
    row per sampled offset — the explode-shaped fan-out a real frame
    sampler produces, with deterministic fake frame bytes."""
    import zlib

    import pandas as pd

    schema = "id bigint, frame_no int, offset bigint, frame_hash bigint"

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for rid, buf in zip(pdf["id"], pdf["payload"]):
                b = bytes(buf)
                n_frames = min(max_frames, max(1, len(b) // every_n_bytes))
                for i in range(n_frames):
                    off = i * every_n_bytes
                    chunk = b[off : off + every_n_bytes]
                    # crc32, not Python hash() — hash() is seed-randomized
                    # per process and would break determinism.
                    rows.append((int(rid), i, off, zlib.crc32(chunk)))
            yield pd.DataFrame(
                rows, columns=["id", "frame_no", "offset", "frame_hash"]
            )

    return binary_df.select("id", "payload").mapInPandas(run, schema)
