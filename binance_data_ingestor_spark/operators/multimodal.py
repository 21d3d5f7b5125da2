"""Multimodal columns: image/audio/video as opaque ``binary`` + typed metadata.

Reference parity note: the reference pipeline has no media handling
(`/root/reference/binance-di.py` is market-data only); this module is a
north-star addition for large-scale training-data pipelines. The design
contract:

- media payloads are **opaque BinaryType columns** carried next to a
  typed metadata struct (width/height/sample_rate/...), so Parquet
  stores them page-compressed and Spark never deserializes them except
  inside an explicitly vectorized step;
- cheap structural ops (byte length, magic-header sniff, frame/byte
  slicing) stay JVM-side as column expressions — whole-stage codegen,
  no Python;
- real per-payload compute (decode, feature extraction) crosses to
  Python exactly once, Arrow-batched via ``mapInPandas``, with the
  batch shape controlled by ``spark.sql.execution.arrow.maxRecordsPerBatch``;
- actual codecs (PIL / libsndfile / ffmpeg) are NOT in this
  environment, so the decode kernel is a clearly-marked deterministic
  STUB — the Spark-side plumbing (schema, partitioning, UDF signature,
  Arrow batch handling) is real and tested, and a production deploy
  swaps one function body.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CONTENT_COL = "content"
ID_COL = "doc_id"


def media_metadata(df: DataFrame) -> DataFrame:
    """Structural metadata: byte length + 4-byte magic header (hex).

    Pure column expressions — at 100 TB this runs at parquet scan speed
    and never materializes the payload outside the scan buffer.
    """
    return df.withColumn("n_bytes", F.length(F.col(CONTENT_COL))).withColumn(
        "magic_hex", F.hex(F.expr(f"substring({CONTENT_COL}, 1, 4)"))
    )


def sample_frames(df: DataFrame, n_frames: int = 4) -> DataFrame:
    """Split each payload into ``n_frames`` equal byte slices (video
    frame-sampling shape: fixed-stride offsets into the container).

    The slicing is byte arithmetic on the binary column (JVM-side);
    the trailing remainder < frame_len is dropped, payloads shorter
    than ``n_frames`` bytes are filtered out. One output row per frame:
    (id, frame_idx, frame_bytes).
    """
    flen = F.floor(F.length(F.col(CONTENT_COL)) / n_frames).cast("long")
    # posexplode_outer, not posexplode: avoids the inferred size()>0
    # filter that would duplicate the slice expression (see
    # dedup._exploded_shingles); the flen > 0 guard already ensures
    # every slice array is non-empty.
    return (
        df.filter(flen > 0)
        .select(F.col(ID_COL), flen.alias("__flen"), F.col(CONTENT_COL).alias("__c"))
        .select(
            ID_COL,
            F.posexplode_outer(
                F.expr(
                    f"transform(sequence(0, {n_frames - 1}),"
                    " i -> substring(__c, __flen * i + 1, __flen))"
                )
            ).alias("frame_idx", "frame"),
        )
    )


def perceptual_hash16(df: DataFrame) -> DataFrame:
    """16-bit aHash-style perceptual fingerprint from the byte-nibble
    histogram: bit j set iff bin j holds more than the mean share of
    the payload (strict `n*16 > total`, integer-exact). Media near-dup
    blocking works like SimHash for text: equal (or Hamming-close)
    hashes are candidate duplicates; the hash is 2 bytes per asset, so
    the candidate join shuffles keys, never payloads. A production
    pipeline swaps the histogram for decoded-pixel blocks (the decode
    stub boundary) — the hash/bucket plumbing is identical.
    """
    from pyspark.sql import Window as W

    hist = byte_histogram(df)
    w = W.partitionBy("doc_id")
    bit = F.when(
        F.col("n") * 16 > F.col("total"),
        F.expr("shiftleft(CAST(1 AS BIGINT), bin)"),
    ).otherwise(F.lit(0))
    return (
        hist.withColumn("total", F.sum("n").over(w))
        .groupBy("doc_id")
        .agg(F.sum(bit).cast("long").alias("phash"))
    )


def byte_histogram(df: DataFrame) -> DataFrame:
    """16-bin histogram of payload byte high-nibbles — the feature-
    extraction shape: payload crosses to Python once, Arrow-batched,
    vectorized with numpy. Output rows (id, bin, n) for non-empty bins.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, bins, counts = [], [], []
            for vid, payload in zip(pdf["__id"], pdf["__content"]):
                arr = np.frombuffer(payload, dtype=np.uint8) >> 4
                hist = np.bincount(arr, minlength=16)
                nz = np.nonzero(hist)[0]
                ids.extend([vid] * len(nz))
                bins.extend(nz.tolist())
                counts.extend(hist[nz].tolist())
            yield pd.DataFrame({"doc_id": ids, "bin": bins, "n": counts})

    return df.select(
        F.col(ID_COL).cast("long").alias("__id"),
        F.col(CONTENT_COL).alias("__content"),
    ).mapInPandas(kernel, "doc_id long, bin int, n long")


def resize_raster(df: DataFrame, *, out_w: int = 4, out_h: int = 3) -> DataFrame:
    """Nearest-neighbor downsample of a byte raster (the image-resize
    shape): the payload's first src_w·src_h bytes are treated as a
    row-major grid; output pixel (i, j) samples input
    (i·(src_h // out_h), j·(src_w // out_w)).

    The kernel is vectorized numpy strided indexing over Arrow batches —
    one Python crossing, exactly how a PIL-backed resize would slot in.
    Payloads shorter than the raster are filtered out; strides are
    integer (src dims must be ≥ out dims).
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, blobs = [], []
            for vid, payload, w, h in zip(
                pdf["__id"], pdf["__content"], pdf["__w"], pdf["__h"]
            ):
                w, h = int(w), int(h)
                raster = np.frombuffer(payload[: w * h], dtype=np.uint8).reshape(h, w)
                sy, sx = h // out_h, w // out_w
                small = raster[:: sy, :: sx][:out_h, :out_w]
                ids.append(vid)
                blobs.append(small.tobytes())
            yield pd.DataFrame({"doc_id": ids, "resized": blobs})

    return (
        df.filter(
            (F.length(F.col(CONTENT_COL)) >= F.col("raster_w") * F.col("raster_h"))
            & (F.col("raster_w") >= out_w)
            & (F.col("raster_h") >= out_h)
        )
        .select(
            F.col(ID_COL).cast("long").alias("__id"),
            F.col(CONTENT_COL).alias("__content"),
            F.col("raster_w").alias("__w"),
            F.col("raster_h").alias("__h"),
        )
        .mapInPandas(kernel, "doc_id long, resized binary")
    )


# --------------------------------------------------------------------------
# Decode: deterministic STUB kernel + real Arrow plumbing.
# --------------------------------------------------------------------------

DECODED_SCHEMA = (
    "doc_id long, media_type string, width int, height int, "
    "n_samples long, byte_sum long"
)


def wav_pcm16_bytes(sample_rate: int, samples: "np.ndarray") -> bytes:
    """Minimal valid RIFF/WAVE container around mono PCM16 samples —
    the synthesis half of the decode round-trip (stdlib only)."""
    import struct

    data = samples.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    body = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def parse_wav_pcm16(payload: bytes):
    """REAL WAV parser (no codec library needed — the container is
    self-describing): validates the RIFF/WAVE magic, walks the chunk
    list honoring declared sizes and odd-length padding, reads the fmt
    chunk (PCM16 mono only), and decodes the data chunk to int16.

    Returns (sample_rate, n_channels, bits_per_sample, n_samples,
    sum_abs) — sum_abs is an exact integer so the cross-engine check
    never rides on float arithmetic. Raises ValueError on malformed
    input (a production pipeline maps that to a NULL row + quarantine).
    """
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if len(body) < size:
            raise ValueError("truncated chunk: declared size exceeds payload")
        if cid == b"fmt ":
            if size < 16:
                raise ValueError("fmt chunk shorter than PCM header")
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, n_channels, sample_rate, _, _, bits = fmt
    if audio_format != 1 or bits != 16:
        raise ValueError(f"unsupported format: code={audio_format} bits={bits}")
    samples = np.frombuffer(data, dtype="<i2")
    return (
        int(sample_rate),
        int(n_channels),
        int(bits),
        int(samples.size // n_channels),
        int(np.abs(samples.astype(np.int64)).sum()),
    )


WAV_SCHEMA = (
    "doc_id long, sample_rate int, n_channels int, bits_per_sample int, "
    "n_samples long, sum_abs long"
)


def decode_wav(df: DataFrame) -> DataFrame:
    """Arrow-batched REAL WAV decode — the non-stub sibling of
    ``decode_media`` for a format whose container is parseable without
    external codec libraries. Row-local, zero shuffle."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                k: []
                for k in (
                    "doc_id",
                    "sample_rate",
                    "n_channels",
                    "bits_per_sample",
                    "n_samples",
                    "sum_abs",
                )
            }
            for vid, payload in zip(pdf["__id"], pdf["__content"]):
                rate, ch, bits, n, sa = parse_wav_pcm16(payload)
                out["doc_id"].append(vid)
                out["sample_rate"].append(rate)
                out["n_channels"].append(ch)
                out["bits_per_sample"].append(bits)
                out["n_samples"].append(n)
                out["sum_abs"].append(sa)
            yield pd.DataFrame(out)

    return df.select(
        F.col(ID_COL).cast("long").alias("__id"), F.col(CONTENT_COL).alias("__content")
    ).mapInPandas(kernel, WAV_SCHEMA)


def ppm_p6_bytes(width: int, height: int, rgb: "np.ndarray") -> bytes:
    """Minimal valid binary PPM (P6) container around an RGB byte
    raster — the synthesis half of the image decode round-trip."""
    header = f"P6\n{width} {height}\n255\n".encode("ascii")
    return header + rgb.astype(np.uint8).tobytes()


def parse_ppm_p6(payload: bytes):
    """REAL PPM (P6) parser: tokenizes the ASCII header (handling
    '#' comment lines, the part naive split-parsers get wrong),
    validates the magic and maxval, and decodes the raw RGB raster.

    Returns (width, height, maxval, n_pixels, sum_r, sum_g, sum_b) —
    exact integers. Raises ValueError on malformed input.
    """
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    pos = 2
    fields = []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if pos < len(payload) and payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("truncated PPM header")
        fields.append(int(payload[start:pos]))
    pos += 1  # exactly one whitespace byte separates header and raster
    width, height, maxval = fields
    if maxval != 255:
        raise ValueError(f"unsupported maxval {maxval} (8-bit only)")
    n = width * height * 3
    raster = payload[pos : pos + n]
    if len(raster) < n:
        raise ValueError("truncated PPM raster")
    px = np.frombuffer(raster, dtype=np.uint8).reshape(-1, 3).astype(np.int64)
    s = px.sum(axis=0)
    return (width, height, maxval, width * height, int(s[0]), int(s[1]), int(s[2]))


PPM_SCHEMA = (
    "doc_id long, width int, height int, n_pixels long, "
    "sum_r long, sum_g long, sum_b long"
)


def decode_ppm(df: DataFrame) -> DataFrame:
    """Arrow-batched REAL PPM decode — the image sibling of
    ``decode_wav``. Row-local, zero shuffle."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                k: []
                for k in (
                    "doc_id", "width", "height", "n_pixels",
                    "sum_r", "sum_g", "sum_b",
                )
            }
            for vid, payload in zip(pdf["__id"], pdf["__content"]):
                w, h, _, n, sr, sg, sb = parse_ppm_p6(payload)
                out["doc_id"].append(vid)
                out["width"].append(w)
                out["height"].append(h)
                out["n_pixels"].append(n)
                out["sum_r"].append(sr)
                out["sum_g"].append(sg)
                out["sum_b"].append(sb)
            yield pd.DataFrame(out)

    return df.select(
        F.col(ID_COL).cast("long").alias("__id"), F.col(CONTENT_COL).alias("__content")
    ).mapInPandas(kernel, PPM_SCHEMA)


def decode_media(df: DataFrame, *, real_codecs: bool = False) -> DataFrame:
    """Unified decode dispatch → typed facts, one Python crossing.

    Payloads whose container magic identifies a format with an in-repo
    REAL parser are decoded for real — RIFF/WAVE PCM16 through
    :func:`parse_wav_pcm16` and PPM P6 through :func:`parse_ppm_p6`,
    the same single implementations behind ``decode_wav`` /
    ``decode_ppm`` (q178/q179) — yielding n_samples = decoded
    samples/pixels, byte_sum = |sample| sum / RGB channel sum, and (for
    PPM) the parsed raster dimensions. A payload with a matching magic
    but a malformed body keeps the generic facts (production would
    route it to a quarantine sink instead).

    Everything else falls back to generic byte statistics
    (n_samples = byte length, byte_sum = sum of byte values — exact
    integers) computed fully VECTORIZED over the Arrow batch: one
    concatenated uint8 array + prefix-sum differences, no per-row
    Python beyond a 12-byte magic sniff. ``real_codecs=True`` demands
    real decode for formats beyond the self-describing two (JPEG, MP3,
    MP4 need PIL/libsndfile/ffmpeg, absent here) and raises
    ``NotImplementedError``.
    """
    if real_codecs:
        raise NotImplementedError(
            "full codec coverage (PIL/libsndfile/ffmpeg) is not available "
            "in this environment; the default path real-decodes WAV/PPM "
            "and byte-profiles the rest"
        )

    import struct

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            content = list(pdf["__content"])
            lens = np.fromiter(
                (len(p) for p in content), dtype=np.int64, count=len(content)
            )
            cat = (
                np.frombuffer(b"".join(content), dtype=np.uint8)
                if content
                else np.empty(0, dtype=np.uint8)
            )
            # per-row byte sums without a Python loop: prefix-sum diffs
            # (robust to zero-length payloads, unlike add.reduceat)
            csum = np.concatenate(([0], np.cumsum(cat, dtype=np.int64)))
            ends = np.cumsum(lens)
            starts = ends - lens
            n_samples = lens.copy()
            byte_sum = csum[ends] - csum[starts]
            width = pdf["width"].to_numpy(copy=True)
            height = pdf["height"].to_numpy(copy=True)
            for i, p in enumerate(content):
                head = bytes(p[:12])
                try:
                    if head[:4] == b"RIFF" and head[8:12] == b"WAVE":
                        _, _, _, n, sa = parse_wav_pcm16(p)
                        n_samples[i], byte_sum[i] = n, sa
                    elif head[:2] == b"P6":
                        w, h, _, npx, sr, sg, sb = parse_ppm_p6(p)
                        width[i], height[i] = w, h
                        n_samples[i], byte_sum[i] = npx, sr + sg + sb
                except (ValueError, struct.error):
                    pass  # malformed container → keep generic byte facts
            yield pd.DataFrame(
                {
                    "doc_id": pdf["__id"].to_numpy(),
                    "media_type": pdf["media_type"],
                    "width": width,
                    "height": height,
                    "n_samples": n_samples,
                    "byte_sum": byte_sum,
                }
            )

    return df.select(
        F.col(ID_COL).cast("long").alias("__id"),
        "media_type",
        "width",
        "height",
        F.col(CONTENT_COL).alias("__content"),
    ).mapInPandas(kernel, DECODED_SCHEMA)
