"""Multimodal columns: opaque binary payloads + typed metadata.

At training-data scale, images/audio/video ride through Spark as opaque
``binary`` columns with typed metadata structs; all heavy decode work is
Arrow-batched Python at the edges. This container ships no image/audio
libraries (no PIL/cv2/ffmpeg — verified), so the codec layer has three
clearly-marked tiers:

- a REAL stdlib+numpy branch for uncompressed formats — 24-bit BMP and
  binary PPM parse and decode here, in CI, dispatched per payload by
  magic bytes with strict size validation (``try_decode_real``);
- ``decode_image_real`` raises NotImplementedError for compressed
  codecs (JPEG/PNG/...) — the seam where PIL/torchvision would plug in
  on a real cluster;
- everything else takes the DETERMINISTIC FAKE codec (payload bytes →
  seeded per-pixel stats) so the Spark-side plumbing — schema, Arrow
  batch shape, mapInPandas signatures, partitioning — is real and fully
  tested on payloads of any shape.

Operators mirror the reference's image pre-processing slots (SURVEY.md
§2.2): decode+stats (T4 ImageTransform analog), resize arithmetic
(dynamic_preprocess resize, process/image_process.py:59-61), tile/frame
sampling (dynamic_preprocess crop loop, :62-84 / video frame-sample
analog), EXIF-style normalization flag (load_image, run_dpsk_ocr_image.py
:40-54).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

MEDIA_META = T.StructType(
    [
        T.StructField("media_type", T.StringType()),  # image|audio|video
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),  # 1 for stills
        T.StructField("codec", T.StringType()),
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta", MEDIA_META),
    ]
)

DECODED_SCHEMA = (
    "media_id long, n_bytes int, mean_byte double, width int, height int, "
    "aspect_ratio double, checksum long"
)

FRAME_SCHEMA = (
    "media_id long, frame_idx int, frame_checksum long, n_bytes int"
)


def _parse_bmp(payload: bytes):
    """Strict uncompressed-BMP parser (24-bit BI_RGB, BITMAPINFOHEADER).
    Returns ``(width, height, mean_pixel)`` over the pixel channel bytes
    (row padding excluded), or ``None`` if the payload is not a valid
    BMP of this shape. STRICTNESS IS THE DISPATCH CONTRACT: the header's
    declared file size must equal the payload length and the pixel array
    (from the header's offset, ``stride * |height|`` bytes) must fit
    inside the payload — trailing bytes after it are accepted — so
    arbitrary text that happens to start with 'BM' can never take this
    branch."""
    import struct

    import numpy as np

    if len(payload) < 54 or payload[:2] != b"BM":
        return None
    try:
        file_size, _, _, offset = struct.unpack_from("<IHHI", payload, 2)
        dib, w, h, planes, bpp, comp = struct.unpack_from(
            "<IiiHHI", payload, 14
        )
    except struct.error:
        return None
    abs_h = abs(h)
    if (
        file_size != len(payload)
        or dib < 40
        or planes != 1
        or bpp != 24
        or comp != 0  # BI_RGB only — no RLE
        or w <= 0
        or abs_h == 0
        or offset < 14 + dib
    ):
        return None
    stride = ((w * 3 + 3) // 4) * 4
    if offset + stride * abs_h > len(payload):
        return None
    px = np.frombuffer(
        payload, dtype=np.uint8, count=stride * abs_h, offset=offset
    ).reshape(abs_h, stride)[:, : w * 3]
    return w, abs_h, float(px.mean(dtype=np.float64))


def _parse_ppm(payload: bytes):
    """Strict binary-PPM (P6, maxval <= 255) parser — same contract as
    ``_parse_bmp``: header + exactly ``w*h*3`` raster bytes, nothing
    else, or ``None``. Comments (``#`` to end of line) are allowed in
    the header per the netpbm spec."""
    import numpy as np

    if payload[:2] != b"P6":
        return None
    n = len(payload)
    pos, fields = 2, []
    try:
        while len(fields) < 3:
            # skip whitespace and comments — every scan is bounded by
            # the payload length: past-the-end slicing yields b'' whose
            # isspace() is False, so an unbounded `while not ...` loop
            # would spin forever on any 'P6'-prefixed payload whose
            # tail lacks a whitespace byte (a truncated file, or plain
            # text that happens to start with P6)
            while pos < n and payload[pos : pos + 1].isspace():
                pos += 1
            if pos >= n:
                return None
            if payload[pos : pos + 1] == b"#":
                pos = payload.index(b"\n", pos) + 1
                continue
            start = pos
            while pos < n and not payload[pos : pos + 1].isspace():
                pos += 1
            if pos >= n:
                return None  # header field ran off the end: not a PPM
            fields.append(int(payload[start:pos]))
        pos += 1  # exactly one whitespace byte before the raster
    except (ValueError, IndexError):
        return None
    w, h, maxval = fields
    if w <= 0 or h <= 0 or not 0 < maxval <= 255:
        return None
    if len(payload) - pos != w * h * 3:
        return None
    px = np.frombuffer(payload, dtype=np.uint8, offset=pos)
    return w, h, float(px.mean(dtype=np.float64))


def try_decode_real(payload: bytes):
    """Magic-byte dispatch into the REAL (stdlib + numpy) codec branch:
    uncompressed 24-bit BMP and binary PPM decode here, in CI, with no
    image libraries. Returns ``(width, height, mean_pixel)`` or ``None``
    (not one of the real formats → caller falls back to the fake
    codec). Both parsers are strict enough (declared sizes must match
    the payload exactly) that non-image payloads cannot alias in."""
    if not payload:
        return None
    if payload[:2] == b"BM":
        return _parse_bmp(payload)
    if payload[:2] == b"P6":
        return _parse_ppm(payload)
    return None


def decode_image_real(payload: bytes, meta: dict | None = None):
    """The real-codec entry point. Uncompressed formats (24-bit BMP,
    binary PPM) decode here with stdlib + numpy —
    ``(width, height, mean_pixel)``; compressed formats (JPEG/PNG/...)
    remain the explicit seam where PIL/torchvision would plug in on a
    real cluster (this container ships no image libraries)."""
    out = try_decode_real(payload)
    if out is not None:
        return out
    raise NotImplementedError(
        "only uncompressed BMP/PPM decode in this environment; "
        "compressed codecs need PIL/torchvision on the cluster "
        "(or use the deterministic fake path, decode_stats_batches)"
    )


def _fake_decode_stats(payload: bytes) -> tuple[int, float, int]:
    """Deterministic fake decode: byte stats + a 60-bit md5-prefix
    checksum. Stands in for per-pixel statistics a real decoder would
    produce; stable across runs and processes (no hash seed dependence),
    engine-portable (any SQL engine with md5 replays it — DuckDB has no
    crc32), and C-speed — an earlier per-byte python rolling hash cost
    ~1 s of executor CPU per 10 MB payload on the hot mapInPandas path."""
    if not payload:
        return 0, 0.0, 0
    import hashlib

    import numpy as np

    n = len(payload)
    total = int(np.frombuffer(payload, dtype=np.uint8).sum(dtype=np.int64))
    csum = int(hashlib.md5(payload).hexdigest()[:15], 16)
    return n, total / n, csum


def decode_stats_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas: media rows → DECODED_SCHEMA rows. Per-payload codec
    dispatch on magic bytes: real uncompressed formats (BMP/PPM —
    ``try_decode_real``) yield decoded width/height and the true mean
    PIXEL value; everything else takes the deterministic fake codec
    (byte stats + meta dims) unchanged. n_bytes and the payload
    checksum are codec-independent."""
    for pdf in batches:
        if not len(pdf):
            continue
        rows = []
        for media_id, payload, meta in zip(
            pdf["media_id"], pdf["payload"], pdf["meta"]
        ):
            n, mean_b, csum = _fake_decode_stats(payload)
            real = try_decode_real(payload)
            if real is not None:
                w, h, mean_b = real
                rows.append(
                    (media_id, n, mean_b, w, h, w / h if h else None, csum)
                )
                continue
            w = int(meta["width"]) if meta and meta["width"] is not None else 0
            h = int(meta["height"]) if meta and meta["height"] is not None else 0
            # no python round() here: callers round JVM-side (HALF_UP), so
            # oracle SQL round() semantics match exactly
            rows.append(
                (media_id, n, mean_b, w, h, w / h if h else None, csum)
            )
        yield pd.DataFrame(
            rows,
            columns=[
                "media_id", "n_bytes", "mean_byte", "width", "height",
                "aspect_ratio", "checksum",
            ],
        )


def decode_stats(media: DataFrame) -> DataFrame:
    """Decode/feature-extract stage: one MapInPandas, Arrow-batched."""
    return media.mapInPandas(decode_stats_batches, DECODED_SCHEMA)


def resize_exprs(w, h, target: int):
    """(scale, out_w, out_h) columns for a long-side-to-``target`` resize —
    THE single definition of the arithmetic (resize_plan and the catalog
    entry share it; two hand-maintained copies drifted once already).

    Zero/negative dims → null columns, not a job abort: plain `/` under
    Spark's default ANSI mode throws DIVIDE_BY_ZERO and kills the stage on
    a single degenerate row.

    Output dims use EXACT integer arithmetic floor(d * target / long_side):
    floor(d * scale) on the float scale loses the binding dimension by one
    pixel for many sizes (640/1077 * 1077 = 639.99… → 639) — the contract
    is that the long side comes out exactly ``target``. The double
    division below is exact at these magnitudes: the numerator is an
    integer ≪ 2^53 and any nonzero fractional part of the true quotient is
    ≥ 1/long_side ≫ one ulp, so floor cannot be off by one."""
    valid = (w > 0) & (h > 0)
    scale = F.when(valid, F.least(F.lit(target) / w, F.lit(target) / h))
    big = F.greatest(w, h)
    out_w = F.when(valid, F.floor((w.cast("bigint") * target) / big)).cast("int")
    out_h = F.when(valid, F.floor((h.cast("bigint") * target) / big)).cast("int")
    return scale, out_w, out_h


def resize_plan(media: DataFrame, target: int = 640) -> DataFrame:
    """Resize arithmetic (pure JVM — no pixels needed): the reference's
    resize step computes the target grid from (w, h) alone
    (process/image_process.py:59-61); emitting the plan keeps the expensive
    pixel work on the real-codec seam."""
    w = F.col("meta.width")
    h = F.col("meta.height")
    scale, out_w, out_h = resize_exprs(w, h, target)
    return media.select(
        "media_id",
        w.alias("width"),
        h.alias("height"),
        F.round(scale, 6).alias("scale"),
        out_w.alias("out_w"),
        out_h.alias("out_h"),
    )


def sample_frames_batches(n_sample: int):
    """mapInPandas factory: evenly sample ``n_sample`` frames per video
    payload (frame = equal byte slice under the fake codec), mirroring the
    reference's tile crop loop shape (one output row per tile/frame)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for media_id, payload, meta in zip(
                pdf["media_id"], pdf["payload"], pdf["meta"]
            ):
                nf = int(meta["n_frames"]) if meta and meta["n_frames"] else 1
                payload = payload or b""
                take = min(n_sample, nf)
                if take <= 0 or not len(payload):
                    continue
                # even-split byte bounds: frame i = payload[bounds[i]:
                # bounds[i+1]] — every byte belongs to exactly one frame
                # (fixed-width slicing both dropped the modulo tail and
                # sliced past the end for nf > len, emitting phantom
                # zero-byte frames)
                npay = len(payload)
                bounds = [i * npay // nf for i in range(nf + 1)]
                for j in range(take):
                    # evenly spaced frame indices over [0, nf)
                    fi = (j * nf) // take
                    chunk = payload[bounds[fi] : bounds[fi + 1]]
                    _, _, csum = _fake_decode_stats(chunk)
                    rows.append((media_id, fi, csum, len(chunk)))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "frame_idx", "frame_checksum", "n_bytes"],
            )

    return gen


def sample_frames(media: DataFrame, n_sample: int = 4) -> DataFrame:
    return media.mapInPandas(sample_frames_batches(n_sample), FRAME_SCHEMA)


def synth_media(docs: DataFrame) -> DataFrame:
    """Deterministic media table from the documents table (no external
    data): payload = utf-8 text bytes (opaque to the operators), metadata
    derived from doc_id. Every 3rd row is a 'video' with n_frames > 1."""
    is_video = F.col("doc_id") % 3 == 0
    meta = F.struct(
        F.when(is_video, F.lit("video")).otherwise(F.lit("image")).alias("media_type"),
        (F.lit(320) + (F.col("doc_id") % 1280)).cast("int").alias("width"),
        (F.lit(240) + ((F.col("doc_id") * 3) % 960)).cast("int").alias("height"),
        F.when(is_video, (F.col("doc_id") % 7 + 2)).otherwise(F.lit(1))
        .cast("int")
        .alias("n_frames"),
        F.when(is_video, F.lit("fake-v1")).otherwise(F.lit("fake-i1")).alias("codec"),
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("payload"),
        meta.alias("meta"),
    )
