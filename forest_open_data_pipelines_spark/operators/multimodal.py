"""Multimodal column plumbing: opaque binary payloads + typed metadata.

SURVEY.md §2.H. Real corpora carry image/audio/video as ``binary``
columns with a metadata struct; decode/resize/frame-sample run as
Arrow-batched pandas functions over ``mapInPandas``. ``decode_real``
decodes the stdlib-decodable public formats for real (netpbm PPM
P6/P3 and uncompressed 24-bit BMP — pixel-value-tested) and raises
NotImplementedError only for compressed formats whose codec libraries
are absent from this container; the catalog's plumbing entries keep
the deterministic fake decoder so their oracle hashes stay
payload-library-independent.

Scale notes: mapInPandas streams Arrow batches (no per-row Python
overhead); payload bytes never hit a shuffle — features are extracted
in the scan stage and only the small feature rows flow on.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from forest_open_data_pipelines_spark.runtime import persist

if TYPE_CHECKING:
    import pandas as pd

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("payload", StructType(), True),  # documented; see as_media_table
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("media_type", StringType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("byte_mean", DoubleType(), True),
        StructField("byte_entropy_proxy", DoubleType(), True),
    ]
)


#: quarantine error strings, single-sourced with the DuckDB oracle's
#: closed-form restatement in media_decode_report
PPM_RANGE_MSG = "PPM ascii sample out of range"
DECODE_UNSUPPORTED_MSG = (
    "decode for {media_type!r} requires codec libraries not present "
    "in this environment; PPM (P6/P3) and 24-bit BMP decode natively"
)


def _decode_ppm(payload: bytes):
    """Pure-stdlib netpbm decode (public format spec): binary P6 and
    ascii P3, maxval ≤ 255, '#' comments allowed anywhere a token
    boundary is. Returns an (H, W, 3) uint8 array."""
    import numpy as np

    if payload[:2] not in (b"P6", b"P3"):
        raise ValueError("not a PPM payload")
    binary = payload[:2] == b"P6"
    # header tokenizer: skip whitespace and '#'-to-EOL comments, yield
    # the three integer tokens (width, height, maxval)
    pos, tokens = 2, []
    while len(tokens) < 3:
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
    width, height, maxval = tokens
    if not (0 < maxval <= 255):
        raise ValueError(f"unsupported PPM maxval {maxval}")
    n = width * height * 3
    if binary:
        pos += 1  # exactly ONE whitespace byte after maxval (spec)
        raster = np.frombuffer(payload, dtype=np.uint8, count=n, offset=pos)
    else:
        # parse wide then validate: uint8 parsing would silently WRAP
        # an out-of-range sample (e.g. 300 → 44) instead of rejecting
        # the invalid raster
        raster = np.array(payload[pos:].split()[:n], dtype=np.int64)
        if raster.size and (raster.min() < 0 or raster.max() > maxval):
            raise ValueError(PPM_RANGE_MSG)
        raster = raster.astype(np.uint8)
    if raster.size != n:
        raise ValueError("truncated PPM raster")
    return raster.reshape(height, width, 3)


def _decode_bmp(payload: bytes):
    """Pure-stdlib decode of the uncompressed 24-bit Windows BMP
    (public format spec: BITMAPFILEHEADER + BITMAPINFOHEADER, BI_RGB,
    4-byte-aligned bottom-up or top-down rows, BGR order). Returns an
    (H, W, 3) uint8 array in RGB."""
    import struct

    import numpy as np

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    header_size = struct.unpack_from("<I", payload, 14)[0]
    if header_size < 40:
        raise ValueError(f"unsupported BMP header size {header_size}")
    width, height = struct.unpack_from("<ii", payload, 18)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if planes != 1 or bpp != 24 or compression != 0:
        raise ValueError(
            f"unsupported BMP variant: planes={planes} bpp={bpp} "
            f"compression={compression}"
        )
    bottom_up = height > 0
    height = abs(height)
    stride = (width * 3 + 3) & ~3
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=stride * height, offset=data_offset
    ).reshape(height, stride)[:, : width * 3]
    img = rows.reshape(height, width, 3)[:, :, ::-1]  # BGR → RGB
    return img[::-1] if bottom_up else img


def decode_real(payload: bytes, media_type: str):
    """Real image decode for the PUBLIC stdlib-decodable formats —
    netpbm PPM (P6/P3) and uncompressed 24-bit BMP — dispatched on
    media_type with a magic-bytes fallback; returns (H, W, 3) uint8
    RGB pixels. Compressed formats (PNG/JPEG/audio/video) need codec
    libraries absent from this container and still raise — the
    catalog's plumbing entries keep the deterministic fake decoder so
    their oracle hashes are payload-library-independent."""
    payload = bytes(payload)
    if media_type in ("image/x-portable-pixmap", "image/ppm") or payload[
        :2
    ] in (b"P6", b"P3"):
        return _decode_ppm(payload)
    if media_type == "image/bmp" or payload[:2] == b"BM":
        return _decode_bmp(payload)
    raise NotImplementedError(
        DECODE_UNSUPPORTED_MSG.format(media_type=media_type)
    )


DECODED_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("height", LongType(), True),
        StructField("width", LongType(), True),
        StructField("pixel_mean", DoubleType(), True),
        StructField("decode_error", StringType(), True),
    ]
)


def decode_pixels(media: DataFrame) -> DataFrame:
    """Arrow-batched REAL decode over the binary payloads: dimensions
    and 6-dp pixel mean per image via ``decode_real``. Undecodable
    payloads yield NULL metrics with the error message in
    ``decode_error`` (corrupt rows must not kill a 100 TB scan job).

    Scale: same contract as ``extract_features`` — pixels live only
    inside the scan-stage Arrow batch; only (id, dims, mean, err)
    rows flow on. Decode is per-row Python over numpy buffers (format
    headers are irreducibly sequential) but the per-image pixel math
    is vectorized."""

    def _decode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            heights, widths, means, errs = [], [], [], []
            for payload, meta in zip(pdf["payload"], pdf["meta"]):
                try:
                    img = decode_real(payload, meta["media_type"])
                    heights.append(img.shape[0])
                    widths.append(img.shape[1])
                    means.append(
                        float(
                            _half_up6(np.mean(img, dtype=np.float64))
                        )
                    )
                    errs.append(None)
                except Exception as e:  # noqa: BLE001 — corrupt rows
                    # must never fail the scan job: numpy raises
                    # OverflowError on out-of-range ascii rasters and
                    # struct.error on truncated BMP headers, beyond the
                    # decoder's own ValueError/NotImplementedError
                    heights.append(None)
                    widths.append(None)
                    means.append(None)
                    errs.append(str(e))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "height": pd.array(heights, dtype="Int64"),
                    "width": pd.array(widths, dtype="Int64"),
                    "pixel_mean": pd.array(means, dtype="Float64"),
                    "decode_error": errs,
                }
            )

    return media.mapInPandas(_decode, DECODED_SCHEMA)


def as_media_table(documents: DataFrame) -> DataFrame:
    """Project documents into the multimodal shape: opaque binary
    payload + typed metadata struct (the schema a real image/audio
    table would have)."""
    return documents.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit("text/fake").alias("media_type"),
            F.col("n_chars").cast("long").alias("declared_size"),
            F.col("source").alias("origin"),
        ).alias("meta"),
    )


def _half_up6(x):
    """6-dp HALF-UP rounding for non-negative kernel outputs:
    floor(x·10⁶ + 0.5)/10⁶ — np.round is half-EVEN, and the fake
    decoder's rationals land on exact 6-dp halves (k/256 for the
    entropy proxy), which a DuckDB oracle (round = half-away) would
    disagree on. Matching the scale-then-round convention of
    ``functions.columns.ratio`` makes every kernel output
    value-verifiable cross-engine. NaN propagates."""
    import numpy as np

    return np.floor(np.asarray(x, dtype=np.float64) * 1e6 + 0.5) / 1e6


def _flatten_payloads(payloads):
    """One contiguous uint8 buffer + per-row (offsets, lengths) — the
    ragged-array layout every batch kernel here indexes into, so the
    numpy work is a handful of whole-batch array ops instead of a
    Python loop over rows."""
    import numpy as np

    raw = [bytes(p) for p in payloads]
    lengths = np.fromiter((len(b) for b in raw), dtype=np.int64, count=len(raw))
    offsets = np.concatenate(([0], np.cumsum(lengths)))
    data = (
        np.frombuffer(b"".join(raw), dtype=np.uint8)
        if offsets[-1]
        else np.empty(0, dtype=np.uint8)
    )
    return data, offsets, lengths


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the binary payloads via
    mapInPandas (deterministic fake decoder), numpy-vectorized across
    the whole batch."""

    def _extract(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            data, offsets, lengths = _flatten_payloads(pdf["payload"])
            # per-row byte sums as cumsum differences — exact for
            # zero-length segments, unlike np.add.reduceat
            csum = np.concatenate(([0], np.cumsum(data, dtype=np.int64)))
            sums = csum[offsets[1:]] - csum[offsets[:-1]]
            mean = np.where(lengths > 0, sums / np.maximum(lengths, 1), np.nan)
            # distinct bytes per row: unique (row, byte) pairs bucketed
            # back onto rows — no per-row np.unique calls
            row_of = np.repeat(np.arange(len(lengths)), lengths)
            pairs = np.unique(row_of.astype(np.int64) * 256 + data)
            distinct = np.bincount(pairs >> 8, minlength=len(lengths))
            # nullable Float64 so empty payloads surface as NULL (a bare
            # float64 NaN would reach Spark as NaN, not null)
            byte_mean = pd.array(_half_up6(mean), dtype="Float64")
            byte_mean[lengths == 0] = pd.NA
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "media_type": [m["media_type"] for m in pdf["meta"]],
                    "n_bytes": lengths.astype("int64"),
                    "byte_mean": byte_mean,
                    "byte_entropy_proxy": _half_up6(distinct / 256.0),
                }
            )

    return media.mapInPandas(_extract, FEATURE_SCHEMA)


def multimodal_features(documents: DataFrame) -> DataFrame:
    """End-to-end plumbing query: documents → media table → features."""
    return extract_features(as_media_table(documents)).orderBy("media_id")


RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("width", LongType(), False),
        StructField("height", LongType(), False),
        StructField("resized", BinaryType(), False),
        StructField("checksum", DoubleType(), False),
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("frame_index", LongType(), False),
        StructField("frame_bytes", LongType(), False),
        StructField("frame_mean", DoubleType(), True),
    ]
)


def _bilinear_grid(src2d, height: int, width: int):
    """Real bilinear resample of one 2-D uint8 grid to (height, width)
    — the standard half-pixel-center (align_corners=False) sampling
    every image library implements. Returns the float grid."""
    import numpy as np

    h0, w0 = src2d.shape
    ys = np.clip((np.arange(height) + 0.5) * (h0 / height) - 0.5, 0, h0 - 1)
    xs = np.clip((np.arange(width) + 0.5) * (w0 / width) - 0.5, 0, w0 - 1)
    y0 = np.floor(ys).astype(np.int64)
    x0 = np.floor(xs).astype(np.int64)
    y1 = np.minimum(y0 + 1, h0 - 1)
    x1 = np.minimum(x0 + 1, w0 - 1)
    wy = (ys - y0)[:, None]
    wx = (xs - x0)[None, :]
    s = src2d.astype(np.float64)
    return (
        s[y0][:, x0] * (1 - wy) * (1 - wx)
        + s[y0][:, x1] * (1 - wy) * wx
        + s[y1][:, x0] * wy * (1 - wx)
        + s[y1][:, x1] * wy * wx
    )


def resize_media(
    media: DataFrame, width: int = 16, height: int = 16, mode: str = "nearest"
) -> DataFrame:
    """Payload resize onto a width×height grid via ``mapInPandas`` —
    the 1→1 binary-in binary-out kernel shape with typed output dims.

    ``mode='nearest'`` (default, the original contract) gathers bytes
    1-D nearest-neighbor. ``mode='bilinear'`` is a REAL interpolation
    kernel: the payload is viewed as a row-major 2-D grid
    (h0 = ⌊√n⌋, w0 = ⌈n/h0⌉, zero-padded tail) and resampled with
    standard half-pixel-center bilinear weights — what a decoded
    image's resize does; only codec DECODE itself stays stubbed
    (``decode_real``: no image/audio libs in this container).
    """
    if mode not in ("nearest", "bilinear"):
        raise ValueError(f"unknown resize mode {mode!r}")

    def _resize(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        target = width * height
        for pdf in batches:
            if pdf.empty:
                continue
            data, offsets, lengths = _flatten_payloads(pdf["payload"])
            if mode == "bilinear":
                rows = []
                for off, ln in zip(offsets[:-1], lengths):
                    if ln == 0:
                        rows.append(np.zeros((height, width)))
                        continue
                    h0 = max(1, int(np.sqrt(ln)))
                    w0 = -(-int(ln) // h0)  # ceil
                    buf = np.zeros(h0 * w0, dtype=np.uint8)
                    buf[: int(ln)] = data[off : off + int(ln)]
                    rows.append(
                        _bilinear_grid(buf.reshape(h0, w0), height, width)
                    )
                out = (
                    np.clip(np.round(np.stack(rows)), 0, 255)
                    .astype(np.uint8)
                    .reshape(len(lengths), target)
                )
            elif data.size:
                # nearest-neighbor index map for ALL rows at once:
                # (n_rows, target) gather into the flat buffer
                grid = np.arange(target, dtype=np.int64)
                idx = offsets[:-1, None] + (grid[None, :] * lengths[:, None]) // target
                out = np.where(
                    lengths[:, None] > 0,
                    data[np.minimum(idx, data.size - 1)],
                    np.uint8(0),
                ).astype(np.uint8)
            else:  # every payload in the batch is empty
                out = np.zeros((len(lengths), target), dtype=np.uint8)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "width": np.int64(width),
                    "height": np.int64(height),
                    "resized": [row.tobytes() for row in out],
                    "checksum": _half_up6(out.mean(axis=1)),
                }
            )

    return media.mapInPandas(_resize, RESIZED_SCHEMA)


def multimodal_resize(documents: DataFrame, width: int = 16, height: int = 16) -> DataFrame:
    """End-to-end resize query: documents → media table → resized dims +
    checksum. The binary output column is dropped from the query result
    so the driver's rows-only collect stays light; the bytes themselves
    are covered by tests/test_multimodal.py."""
    return (
        resize_media(as_media_table(documents), width=width, height=height)
        .select("media_id", "width", "height", "checksum")
        .orderBy("media_id")
    )


def sample_frames(media: DataFrame, frame_size: int = 64, every_n: int = 4) -> DataFrame:
    """Frame sampling: treat the payload as a sequence of fixed-size
    frames and emit every ``every_n``-th one — the 1→N fan-out shape
    (video → sampled frames) where the expansion happens inside the
    Arrow batch, before anything shuffles."""

    def _frames(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            data, offsets, lengths = _flatten_payloads(pdf["payload"])
            n_frames = np.where(lengths > 0, -(-lengths // frame_size), 0)
            n_sampled = -(-n_frames // every_n)  # frames 0, every_n, ...
            total = int(n_sampled.sum())
            if total == 0:
                continue
            # flatten the 1→N fan-out: one row index + within-row frame
            # counter per emitted frame, all derived with repeat/arange
            row_of = np.repeat(np.arange(len(lengths)), n_sampled)
            within = np.arange(total) - np.repeat(
                np.cumsum(n_sampled) - n_sampled, n_sampled
            )
            frame_index = within * every_n
            start = offsets[row_of] + frame_index * frame_size
            end = np.minimum(start + frame_size, offsets[row_of] + lengths[row_of])
            frame_bytes = end - start
            csum = np.concatenate(([0], np.cumsum(data, dtype=np.int64)))
            frame_mean = (csum[end] - csum[start]) / np.maximum(frame_bytes, 1)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy()[row_of].astype("int64"),
                    "frame_index": frame_index.astype("int64"),
                    "frame_bytes": frame_bytes.astype("int64"),
                    "frame_mean": _half_up6(frame_mean),
                }
            )

    return media.mapInPandas(_frames, FRAME_SCHEMA)


def multimodal_frames(documents: DataFrame) -> DataFrame:
    """End-to-end frame-sampling query: documents → media → sampled
    frames (1→N inside Arrow batches)."""
    return sample_frames(as_media_table(documents)).orderBy("media_id", "frame_index")


def multimodal_dedup(documents: DataFrame) -> DataFrame:
    """Exact dedup over the binary media column: sha2-256 of the raw
    payload bytes (the content-addressed identity a 100 TB media lake
    keys its object store on), canonical = lowest media_id per digest,
    copy count carried on every row.

    The first multimodal entry with a full value-level oracle: the
    digest is computed FROM THE BYTES on both engines (Spark hashes
    the binary column; DuckDB hashes the identical utf-8 payload), so
    the whole decode-free identity path is hash-checked, not just
    row-counted.

    Scale: one scan + one digest-keyed aggregate (map-side combine)
    joined back on the digest — same shape as dedup_exact; payloads
    never shuffle (only the 64-hex digest + id do after the projection).
    """
    media = as_media_table(documents).select(
        "media_id",
        F.sha2("payload", 256).alias("sha256"),
        # true octet length of the payload, not the declared n_chars —
        # the two diverge the moment a multi-byte char appears
        F.length("payload").cast("long").alias("payload_bytes"),
    )
    groups = media.groupBy(F.col("sha256").alias("g_sha")).agg(
        F.min("media_id").alias("canonical_id"),
        F.count("*").alias("n_copies"),
    )
    return (
        media.join(groups, F.col("sha256") == F.col("g_sha"))
        .select(
            "media_id",
            "sha256",
            "payload_bytes",
            "canonical_id",
            "n_copies",
            (F.col("media_id") == F.col("canonical_id")).alias("is_canonical"),
        )
        .orderBy("media_id")
    )


def media_integrity_audit(documents: DataFrame) -> DataFrame:
    """Per-origin integrity report over the media table — the fleet
    check a media lake runs before trusting declared metadata: actual
    payload OCTETS vs the declared size (they diverge the moment a
    multi-byte char appears — for real media, the moment an upload
    truncates), copy mass from the content digest, and size extremes.

    Second §2.H entry with a full value-level oracle: every column
    derives from the payload BYTES (octet length, sha2 digest) with
    pure codegen expressions — no decode, no Python — so DuckDB can
    reproduce it from the identical utf-8 payload.

    Scale: one scan, one map-side-combinable aggregate on the bounded
    origin key; payload bytes never shuffle (lengths and digests do).
    """
    media = as_media_table(documents).select(
        F.col("meta.origin").alias("origin"),
        F.col("meta.declared_size").alias("declared_size"),
        F.length("payload").cast("long").alias("n_bytes"),
        F.sha2("payload", 256).alias("sha256"),
    )
    return (
        media.groupBy("origin")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.sum("n_bytes").alias("total_bytes"),
            F.max("n_bytes").alias("max_bytes"),
            F.sum(
                F.when(F.col("n_bytes") == F.col("declared_size"), 1).otherwise(0)
            ).alias("n_size_exact"),
            F.sum(F.col("n_bytes") - F.col("declared_size")).alias(
                "extra_octets"
            ),
            F.count_distinct("sha256").alias("n_distinct_payloads"),
        )
        .orderBy("origin")
    )


#: media_decode_report synth geometry/pixel formula — single-sourced
#: with the DuckDB oracle's closed-form restatement.
SYNTH_WIDTH_BASE, SYNTH_WIDTH_MOD = 3, 5
SYNTH_HEIGHT_BASE, SYNTH_HEIGHT_MOD = 2, 3

SYNTH_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("payload", BinaryType(), False),
        StructField(
            "meta",
            StructType([StructField("media_type", StringType(), False)]),
            False,
        ),
    ]
)


def _synth_pixels(media_id: int, h: int, w: int):
    """The closed-form pixel grid the oracle restates: value at
    (y, x, c) is ``(media_id*7 + y*31 + x*13 + c*5) % 256``, RGB
    row-major."""
    import numpy as np

    y = np.arange(h, dtype=np.int64)[:, None, None]
    x = np.arange(w, dtype=np.int64)[None, :, None]
    c = np.arange(3, dtype=np.int64)[None, None, :]
    return ((media_id * 7 + y * 31 + x * 13 + c * 5) % 256).astype(np.uint8)


def _encode_bmp(img) -> bytes:
    """Uncompressed 24-bit bottom-up Windows BMP bytes for an
    (H, W, 3) uint8 RGB grid (public format spec)."""
    import struct

    import numpy as np

    h, w = img.shape[:2]
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    raster = rows.tobytes()
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 2835, 2835, 0, 0
    )
    header = struct.pack("<2sIHHI", b"BM", 54 + len(raster), 0, 0, 54)
    return header + info + raster


def media_synth_table(documents: DataFrame) -> DataFrame:
    """Deterministically synthesized REAL image payloads, one per
    document: ``media_id % 4`` picks binary PPM (P6, with a header
    comment exercising the tokenizer), ascii PPM (P3), uncompressed
    24-bit BMP, or a corrupt/unsupported payload (out-of-range P3
    sample when ``media_id % 8 == 3``, PNG magic otherwise — the
    quarantine rows). Dimensions and pixel values are closed-form
    functions of media_id so a DuckDB oracle states the decode output
    exactly (VERDICT r10 item 3).

    Scale: Arrow-batched generation in the scan stage; payloads are
    tens of bytes and never shuffle (the decode report projects them
    away in the same pipeline).
    """
    ids = documents.select(F.col("doc_id").alias("media_id"))

    def _synth(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            payloads, metas = [], []
            for mid in pdf["media_id"].astype("int64"):
                mid = int(mid)
                w = SYNTH_WIDTH_BASE + mid % SYNTH_WIDTH_MOD
                h = SYNTH_HEIGHT_BASE + mid % SYNTH_HEIGHT_MOD
                img = _synth_pixels(mid, h, w)
                kind = mid % 4
                if kind == 0:
                    payloads.append(
                        b"P6\n# synth %d\n%d %d\n255\n" % (mid, w, h)
                        + img.tobytes()
                    )
                    metas.append({"media_type": "image/x-portable-pixmap"})
                elif kind == 1:
                    samples = " ".join(str(v) for v in img.reshape(-1))
                    payloads.append(
                        (f"P3\n{w} {h}\n255\n{samples}\n").encode("ascii")
                    )
                    metas.append({"media_type": "image/x-portable-pixmap"})
                elif kind == 2:
                    payloads.append(_encode_bmp(img))
                    metas.append({"media_type": "image/bmp"})
                elif mid % 8 == 3:
                    samples = ["300"] + [
                        str(v) for v in img.reshape(-1)[1:]
                    ]
                    payloads.append(
                        (f"P3\n{w} {h}\n255\n" + " ".join(samples) + "\n")
                        .encode("ascii")
                    )
                    metas.append({"media_type": "image/x-portable-pixmap"})
                else:
                    payloads.append(b"\x89PNG\r\n\x1a\n" + b"\x00" * 16)
                    metas.append({"media_type": "image/png"})
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "payload": payloads,
                    "meta": metas,
                }
            )

    return ids.mapInPandas(_synth, SYNTH_SCHEMA)


def media_decode_report(documents: DataFrame) -> DataFrame:
    """Driver-checkable REAL-decode report (VERDICT r10 item 3): the
    synthesized PPM/BMP payloads flow through ``decode_pixels`` (the
    real pure-stdlib decoder behind the Arrow kernel), and every
    output column — dims, 6-dp pixel mean, the quarantine error
    string — is a closed-form function of media_id that the DuckDB
    oracle states exactly. media_kind re-derives from media_id with a
    pure Catalyst expression, so no join touches the decode pipeline.

    Scale: documents scan → synth kernel → decode kernel chain in ONE
    stage (mapInPandas composes without an exchange); only the
    presentation sort shuffles the metadata-weight report rows.
    """
    kind = F.col("media_id") % 4
    return decode_pixels(media_synth_table(documents)).select(
        "media_id",
        F.when(kind == 0, "ppm_p6")
        .when(kind == 1, "ppm_p3")
        .when(kind == 2, "bmp")
        .when(F.col("media_id") % 8 == 3, "corrupt_ppm")
        .otherwise("unsupported_png")
        .alias("media_kind"),
        "height",
        "width",
        "pixel_mean",
        "decode_error",
    ).orderBy("media_id")


#: aHash geometry: 8×8 average-hash pixels (Krawetz's aHash, the
#: public perceptual-hash baseline) packed into one signed 64-bit
#: signature; the hamming budget mirrors the simhash64 promotion
#: (8 pigeonhole blocks × 8 bits — perfect recall at ≤ 7 by the
#: block-LSH argument in dedup.simhash_pairs).
AHASH_GRID = 64
AHASH_MAX_HAMMING = 7

AHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("ahash", LongType(), False),
        StructField("n_bytes", LongType(), False),
    ]
)


def ahash_signatures(media: DataFrame) -> DataFrame:
    """Perceptual average-hash signatures over the binary payloads via
    ``mapInPandas``: each payload is gathered onto the 64-pixel
    nearest-neighbor grid (the ``resize_media`` index map), and bit g
    is set iff pixel_g is strictly above the grid mean — compared in
    EXACT INTEGERS (``pixel·64 > Σpixels``), so no float mean can
    straddle an engine boundary. Bits pack little-endian into one
    signed long (bit 63 = min-long two's complement, the
    ``_simhash_bit_value`` convention shared with the DuckDB twin).

    Only codec DECODE stays stubbed (``decode_real``); on decoded
    luma grids this is byte-for-byte the classic aHash.
    """
    from forest_open_data_pipelines_spark.operators.dedup import (
        _simhash_bit_value,
    )

    def _ahash(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        weights = np.array(
            [_simhash_bit_value(j) for j in range(AHASH_GRID)],
            dtype=np.int64,
        )
        for pdf in batches:
            if pdf.empty:
                continue
            data, offsets, lengths = _flatten_payloads(pdf["payload"])
            if data.size:
                grid = np.arange(AHASH_GRID, dtype=np.int64)
                idx = (
                    offsets[:-1, None]
                    + (grid[None, :] * lengths[:, None]) // AHASH_GRID
                )
                px = np.where(
                    lengths[:, None] > 0,
                    data[np.minimum(idx, data.size - 1)],
                    np.uint8(0),
                ).astype(np.int64)
            else:
                px = np.zeros((len(lengths), AHASH_GRID), dtype=np.int64)
            total = px.sum(axis=1)
            # strict >: any partial sum of one min-long plus positives
            # bounded by 2^63-1 stays in int64, so the fold is exact
            bits = (px * AHASH_GRID) > total[:, None]
            sig = (bits.astype(np.int64) * weights[None, :]).sum(axis=1)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "ahash": sig,
                    "n_bytes": lengths,
                }
            )

    return media.mapInPandas(_ahash, AHASH_SCHEMA)


def media_ahash_dedup(
    documents: DataFrame, max_hamming: int = AHASH_MAX_HAMMING
) -> DataFrame:
    """Perceptual near-dup pairs over the media table: aHash signatures
    + the simhash family's pigeonhole block LSH (`dedup.simhash_pairs`
    — candidates share one of max_hamming+1 signature blocks, perfect
    recall, every candidate verified by full ``bit_count(xor)``).
    This is the image-near-dup stage of a multimodal training
    pipeline: re-encoded/re-scaled copies keep their luma layout, so
    their grids — and hashes — stay within a few bits of each other,
    where the sha-256 identity (``multimodal_dedup``) sees distinct
    blobs.

    Empty payloads are excluded (no content to hash — an all-zero
    signature would cross-match every dark/empty asset). ZERO-CONTRAST
    payloads (every byte equal) still share the all-zero hash — the
    textbook aHash flat-field collision; a pipeline that ingests flat
    assets should gate them on ``media_integrity_audit`` stats first,
    exactly as real aHash deployments pre-filter blank frames.

    Scale: signatures are ONE long per asset extracted in the scan
    stage (payload bytes never shuffle), persisted across the block
    self-join; bucket width/budget trade-offs are the measured
    simhash64 ones.
    """
    from forest_open_data_pipelines_spark.operators.dedup import simhash_pairs

    media = as_media_table(documents).where(F.length("payload") > 0)
    sigs = persist(
        ahash_signatures(media).select(
            F.col("media_id").alias("doc_id"),
            F.col("ahash").alias("simhash"),
        )
    )
    return simhash_pairs(sigs, AHASH_GRID, max_hamming).select(
        F.col("doc_a").alias("media_a"),
        F.col("doc_b").alias("media_b"),
        "hamming",
    )


def classify_against_ahash_index(
    new_docs: DataFrame,
    base_sigs: DataFrame,
    max_hamming: int = AHASH_MAX_HAMMING,
    persist_new: bool = True,
) -> DataFrame:
    """Classify each NEW asset against a persisted aHash index — the
    perceptual twin of ``dedup.classify_against_winnowing_index``:
    only the incoming batch is hashed fresh; candidates come from the
    block equi-join into the index's key space (never new×base pairs),
    every candidate is verified by full ``bit_count(xor)``, and the
    verdict row carries the match count, the BEST base match
    (min hamming, ties to the lowest base_id — deterministic), and
    status 'dup'/'new'. Every new asset gets a row; empty payloads
    are excluded at the media projection like ``media_ahash_dedup``.

    ``base_sigs`` is ``ahash_signatures(...)`` output keyed
    (media_id, ahash) — ONE long per asset, the index a production
    pipeline persists between compactions (caller persists, the
    winnowing-gate convention).

    ``persist_new`` caches the new batch's signature frame: it feeds
    TWO plan branches (block explode + the verdict left join), so
    unpersisted the mapInPandas kernel re-hashes every payload twice.
    The batch entry keeps the default; the STREAMING gate passes
    False — a micro-batch is cheap to recompute and per-batch
    registry persists would accumulate across the stream (the
    classify_against_winnowing_index no-persists rationale).
    """
    new_sigs = ahash_signatures(
        as_media_table(new_docs).where(F.length("payload") > 0)
    ).select("media_id", "ahash", "n_bytes")
    if persist_new:
        new_sigs = persist(new_sigs)
    from forest_open_data_pipelines_spark.operators.dedup import (
        signature_blocks,
    )

    nb = signature_blocks(
        new_sigs.select("media_id", "ahash"),
        "media_id",
        "ahash",
        AHASH_GRID,
        max_hamming,
    )
    bb = signature_blocks(
        base_sigs.select(
            F.col("media_id").alias("base_id"), "ahash"
        ),
        "base_id",
        "ahash",
        AHASH_GRID,
        max_hamming,
    ).withColumnRenamed("ahash", "b_hash")
    hamming = F.bit_count(F.col("ahash").bitwiseXOR(F.col("b_hash")))
    matches = (
        nb.join(bb, ["part", "key"])
        .select("media_id", "base_id", hamming.alias("hamming"))
        .distinct()
        .where(F.col("hamming") <= max_hamming)
        .groupBy("media_id")
        .agg(
            F.count("*").alias("n_base_matches"),
            F.min(F.struct("hamming", "base_id")).alias("best"),
        )
    )
    return (
        new_sigs.join(matches, "media_id", "left")
        .select(
            "media_id",
            "n_bytes",
            F.coalesce("n_base_matches", F.lit(0).cast("long")).alias(
                "n_base_matches"
            ),
            F.col("best.base_id").alias("best_base_id"),
            F.col("best.hamming").alias("best_hamming"),
            F.when(F.col("n_base_matches").isNotNull(), F.lit("dup"))
            .otherwise(F.lit("new"))
            .alias("status"),
        )
        .orderBy("media_id")
    )


def media_ahash_incremental(
    new_docs: DataFrame,
    base_docs: DataFrame,
    max_hamming: int = AHASH_MAX_HAMMING,
) -> DataFrame:
    """Incremental perceptual gate — ``winnowing_incremental``'s
    daily-batch shape for media: hash the accumulated BASE corpus into
    the persisted index, classify the NEW batch against it. Composes
    ``ahash_signatures`` (index build) + ``classify_against_ahash_index``
    (the pure per-batch classifier) — the identical pieces the
    streaming gate (``streaming.classify.classify_stream``) runs per
    micro-batch.
    """
    base_sigs = persist(
        ahash_signatures(
            as_media_table(base_docs).where(F.length("payload") > 0)
        )
    )
    return classify_against_ahash_index(new_docs, base_sigs, max_hamming)
