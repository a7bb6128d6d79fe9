"""Multimodal column plumbing: opaque binary media + typed metadata.

Design (per the engine's 100 TB charter): media payloads are opaque
``binary`` columns riding next to typed metadata (mime, width/height,
duration...). All *plumbing* — schema, partitioning, Arrow batch transfer,
mapInPandas signatures — is real and tested. The decoders parse the
formats the standard library can read (binary netpbm images, RIFF/WAVE
audio, a length-prefixed PPM frame container); any other image payload
gets deterministic fake dims, because the media libraries
(PIL/ffmpeg/librosa) are not installed. Swap ``_decode_image_kernel`` for
a real decoder and nothing else changes.

At scale: binary columns live in parquet/Iceberg alongside metadata, so
metadata-only queries never read the payload bytes (column pruning), and
decode fan-out is an embarrassingly parallel mapInPandas over row-group
sized Arrow batches.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("mime", StringType(), False),
        StructField("payload", BinaryType(), True),
        StructField("meta_width", IntegerType(), True),
        StructField("meta_height", IntegerType(), True),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("mime", StringType(), False),
        StructField("n_bytes", LongType(), True),
        StructField("payload_digest", StringType(), True),
        StructField("decoded_width", IntegerType(), True),
        StructField("decoded_height", IntegerType(), True),
    ]
)


def synthesize_media(docs: DataFrame) -> DataFrame:
    """Deterministic fake media table derived from the documents fixture:
    payload = utf-8 bytes of the text (stand-in for image bytes), metadata
    derived arithmetically. Lets every downstream plumbing path run real
    Spark jobs without real codecs."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image/png")
        .when(F.col("doc_id") % 3 == 1, "audio/wav")
        .otherwise("video/mp4")
        .alias("mime"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        (F.col("n_chars") % 1024 + 16).cast("int").alias("meta_width"),
        (F.col("n_chars") % 768 + 16).cast("int").alias("meta_height"),
    )


def synthesize_ppm_media(docs: DataFrame) -> DataFrame:
    """Media table whose payloads are REAL binary PPM (P6) images, built
    deterministically from document stats with pure column expressions
    (header + 'x'-filled raster — every byte ascii, so an engine-portable
    digest oracle can recompute it as a string). Dimensions derive from
    n_chars, so an oracle can predict the decoded (width, height) and
    byte count arithmetically while the Spark side genuinely PARSES the
    bytes back via :func:`_decode_ppm`."""
    w = (F.col("n_chars") % 64 + 4).cast("int")
    h = (F.col("n_chars") % 48 + 4).cast("int")
    header = F.concat_ws(
        "", F.lit("P6\n"), w, F.lit(" "), h, F.lit("\n255\n")
    )
    raster = F.repeat(F.lit("x"), (w * h * 3).cast("int"))
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image/x-portable-pixmap").alias("mime"),
        F.encode(F.concat(header, raster), "utf-8").alias("payload"),
        w.alias("meta_width"),
        h.alias("meta_height"),
    )


def _parse_ppm(payload: bytes) -> tuple[int, int, int, int] | None:
    """REAL stdlib parser for binary netpbm images (P5 pgm / P6 ppm).

    Parses the header (magic, whitespace/comment-tolerant width, height,
    maxval) and validates the raster length against the declared
    dimensions. Returns (width, height, channels, raster_offset), or None
    if the payload is not a well-formed binary netpbm — no external codec
    needed.
    """
    if len(payload) < 2 or payload[:2] not in (b"P5", b"P6"):
        return None
    channels = 3 if payload[:2] == b"P6" else 1
    pos, fields = 2, []
    while len(fields) < 3 and pos < len(payload):
        c = payload[pos : pos + 1]
        if c.isspace():
            pos += 1
        elif c == b"#":  # comment runs to end of line
            nl = payload.find(b"\n", pos)
            if nl == -1:
                return None
            pos = nl + 1
        elif c.isdigit():
            end = pos
            while end < len(payload) and payload[end : end + 1].isdigit():
                end += 1
            fields.append(int(payload[pos:end]))
            pos = end
        else:
            return None
    if len(fields) < 3:
        return None
    width, height, maxval = fields
    if not (0 < maxval < 65536 and width > 0 and height > 0):
        return None
    bytes_per_sample = 2 if maxval > 255 else 1
    raster = width * height * channels * bytes_per_sample
    # exactly one whitespace byte separates maxval from the raster —
    # verify it IS whitespace (b'P6 3 2 255Zraster' must be rejected)
    if not payload[pos : pos + 1].isspace():
        return None
    if len(payload) - (pos + 1) < raster:
        return None
    return (width, height, channels, pos + 1)


def _decode_ppm(payload: bytes) -> tuple[int, int] | None:
    """Header-only netpbm decode: (width, height), or None if malformed."""
    parsed = _parse_ppm(payload)
    return None if parsed is None else (parsed[0], parsed[1])


def _decode_image_kernel(payload: bytes) -> tuple[int, int]:
    """Image decode: REAL binary-netpbm parsing (P5/P6, stdlib-only) when
    the payload is one; deterministic fake dims otherwise (the stand-in
    for codecs absent in this container — swap in PIL here and nothing
    else changes)."""
    dims = _decode_ppm(payload)
    if dims is not None:
        return dims
    n = len(payload)
    return (n % 1024 + 16, n % 768 + 16)


def extract_features(media: DataFrame, batch_size_hint: int = 1024) -> DataFrame:
    """Decode/feature-extract via mapInPandas (Arrow-batched, parallel per
    partition). The kernel is pure-Python per batch — the pattern (not the
    stub kernel) is the deliverable: identical plumbing serves real codecs.
    """
    import hashlib

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dims = pdf["payload"].map(
                lambda p: _decode_image_kernel(p) if p is not None else (None, None)
            )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime": pdf["mime"],
                    "n_bytes": pdf["payload"].map(lambda p: len(p) if p is not None else None),
                    "payload_digest": pdf["payload"].map(
                        lambda p: hashlib.md5(p).hexdigest() if p is not None else None
                    ),
                    "decoded_width": dims.map(lambda d: d[0]),
                    "decoded_height": dims.map(lambda d: d[1]),
                }
            )

    return media.mapInPandas(decode_batches, FEATURE_SCHEMA)


RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("mime", StringType(), False),
        StructField("payload", BinaryType(), True),
        StructField("meta_width", IntegerType(), True),
        StructField("meta_height", IntegerType(), True),
    ]
)


def _resize_kernel(payload: bytes, max_dim: int) -> tuple[bytes, int, int]:
    """STUB resize: real implementation would be PIL resize + re-encode.
    Deterministic fake: payload truncated proportionally to the scale
    factor, dims clamped to max_dim preserving aspect ratio."""
    w, h = _decode_image_kernel(payload)
    scale = min(1.0, max_dim / max(w, h))
    nw, nh = max(int(w * scale), 1), max(int(h * scale), 1)
    nbytes = max(int(len(payload) * scale * scale), 1)
    return (payload[:nbytes], nw, nh)


def resize_images(media: DataFrame, max_dim: int = 256) -> DataFrame:
    """Image resize via mapInPandas — same Arrow-batched shape as
    extract_features, but payload-to-payload (media in, media out), so
    resize stages chain with decode/feature stages in one pipeline.
    Non-image rows pass through untouched."""

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def one(row):
            if row["payload"] is None or not str(row["mime"]).startswith("image/"):
                return (row["payload"], row["meta_width"], row["meta_height"])
            return _resize_kernel(row["payload"], max_dim)

        for pdf in batches:
            out = pdf.apply(one, axis=1)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime": pdf["mime"],
                    "payload": out.map(lambda t: t[0]),
                    "meta_width": out.map(lambda t: t[1]),
                    "meta_height": out.map(lambda t: t[2]),
                }
            )

    return media.mapInPandas(resize_batches, RESIZED_SCHEMA)


def frame_sample_plan(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame-sampling *plan*: expands each video row into frame-index
    rows (sequence+explode, JVM-side); the frame decode itself would plug
    into extract_features. Demonstrates the explode-then-decode shape used
    for video corpora."""
    n_frames = (F.length(F.col("payload")) / 100).cast("int")
    return (
        media.filter(F.col("mime").startswith("video/"))
        .select(
            "media_id",
            F.explode(
                F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0)), F.lit(every_n))
            ).alias("frame_idx"),
        )
    )


# --- REAL audio: RIFF/WAVE PCM via the stdlib wave module --------------------
WAV_SAMPLE_RATE = 8000
WAV_FRAME_BASE = 50  # n_frames = n_chars % 500 + WAV_FRAME_BASE

WAV_MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("mime", StringType(), False),
        StructField("payload", BinaryType(), True),
        StructField("meta_frames", IntegerType(), True),
    ]
)

WAV_FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("sample_rate", IntegerType(), True),
        StructField("n_frames", LongType(), True),
        StructField("duration_ms", LongType(), True),
        StructField("rms_q", LongType(), True),
    ]
)


def synthesize_wav_media(docs: DataFrame) -> DataFrame:
    """Media table whose payloads are REAL RIFF/WAVE files (8-bit mono PCM,
    written by the stdlib ``wave`` module): sample i of doc d is
    ``(d*7 + i*13) % 256``, n_frames = n_chars % 500 + 50 — all
    arithmetically derived from (doc_id, n_chars), so an oracle can
    predict every decoded property (and even the exact RMS, via a
    generate_series replay of the sample formula) while the Spark side
    genuinely parses RIFF headers and PCM frames back."""
    import io
    import wave

    import numpy as np

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            frames = []
            for d, nc in zip(pdf["doc_id"], pdf["n_chars"]):
                n = int(nc) % 500 + WAV_FRAME_BASE
                samples = ((int(d) * 7 + 13 * np.arange(n)) % 256).astype(
                    np.uint8
                )
                buf = io.BytesIO()
                with wave.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(1)
                    w.setframerate(WAV_SAMPLE_RATE)
                    w.writeframes(samples.tobytes())
                payloads.append(buf.getvalue())
                frames.append(n)
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "mime": "audio/wav",
                    "payload": payloads,
                    "meta_frames": frames,
                }
            )

    return docs.select("doc_id", "n_chars").mapInPandas(synth, WAV_MEDIA_SCHEMA)


def _decode_wav(payload: bytes) -> tuple[int, int, int] | None:
    """REAL stdlib WAV decoder: parses the RIFF/fmt/data chunks via
    ``wave``, reads the PCM frames, and computes the quantized RMS of the
    centered 8-bit samples — floor(sqrt(mean((v-128)^2)) * 1000), which is
    bit-deterministic because squared centered samples are exact integers
    in float64. Returns (sample_rate, n_frames, rms_q), or None for
    anything that is not well-formed 8-bit mono PCM."""
    import io
    import wave

    import numpy as np

    try:
        with wave.open(io.BytesIO(payload), "rb") as w:
            sr = w.getframerate()
            nch = w.getnchannels()
            sw = w.getsampwidth()
            nf = w.getnframes()
            frames = w.readframes(nf)
    except (wave.Error, EOFError):
        return None
    if nch != 1 or sw != 1 or nf == 0 or len(frames) < nf:
        return None
    v = np.frombuffer(frames[:nf], dtype=np.uint8).astype(np.float64) - 128.0
    rms_q = int(np.floor(np.sqrt(float((v * v).sum()) / nf) * 1000))
    return (sr, nf, rms_q)


def wav_features(media: DataFrame) -> DataFrame:
    """Audio decode/feature extraction via mapInPandas (the same
    Arrow-batched shape as extract_features): per payload, the REAL parsed
    sample rate, frame count, integer-exact duration, and quantized RMS.
    Rows that fail the decoder are dropped (the quarantine path a real
    ingest would route to a dead-letter table)."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                got = _decode_wav(p) if p is not None else None
                if got is None:
                    continue
                sr, nf, rms_q = got
                rows.append((int(mid), sr, nf, nf * 1000 // sr, rms_q))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "sample_rate",
                    "n_frames",
                    "duration_ms",
                    "rms_q",
                ],
            )

    return media.mapInPandas(decode, WAV_FEATURE_SCHEMA)


# --- REAL video: length-prefixed PPM frame container -------------------------
VIDEO_MAGIC = b"VID1\n"

VIDEO_MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("mime", StringType(), False),
        StructField("payload", BinaryType(), True),
        StructField("meta_frames", IntegerType(), True),
    ]
)

VIDEO_FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("frame_idx", IntegerType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
    ]
)


def synthesize_video_media(docs: DataFrame) -> DataFrame:
    """Media table whose payloads are REAL (if minimal) video containers:
    ``VID1\\n<n_frames>\\n`` followed by length-prefixed binary P6 PPM
    frames — n_frames = n_chars % 12 + 2, every frame
    (n_chars % 32 + 4) x (n_chars % 24 + 4). All parameters derive from
    (doc_id, n_chars), so an oracle predicts the decoded frame table
    arithmetically while the Spark side genuinely parses the container
    and netpbm-decodes every frame."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, metas = [], []
            for nc in pdf["n_chars"]:
                n = int(nc) % 12 + 2
                w = int(nc) % 32 + 4
                h = int(nc) % 24 + 4
                frame = (
                    f"P6\n{w} {h}\n255\n".encode() + b"x" * (w * h * 3)
                )
                parts = [VIDEO_MAGIC, str(n).encode() + b"\n"]
                for _ in range(n):
                    parts.append(str(len(frame)).encode() + b"\n")
                    parts.append(frame)
                payloads.append(b"".join(parts))
                metas.append(n)
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "mime": "video/x-ppm-stream",
                    "payload": payloads,
                    "meta_frames": metas,
                }
            )

    return docs.select("doc_id", "n_chars").mapInPandas(
        synth, VIDEO_MEDIA_SCHEMA
    )


def _decode_video(payload: bytes) -> list[tuple[int, int]] | None:
    """REAL container parser: validates the magic, reads the declared
    frame count, walks the length-prefixed frames, and netpbm-decodes
    each one (:func:`_decode_ppm`). Returns the per-frame (width, height)
    list, or None for malformed containers — wrong magic, frame count
    mismatch, truncated or undecodable frames."""
    if not payload or not payload.startswith(VIDEO_MAGIC):
        return None
    pos = len(VIDEO_MAGIC)
    nl = payload.find(b"\n", pos)
    if nl == -1 or not payload[pos:nl].isdigit():
        return None
    declared = int(payload[pos:nl])
    pos = nl + 1
    frames: list[tuple[int, int]] = []
    while pos < len(payload):
        nl = payload.find(b"\n", pos)
        if nl == -1 or not payload[pos:nl].isdigit():
            return None
        flen = int(payload[pos:nl])
        pos = nl + 1
        if pos + flen > len(payload):
            return None
        dims = _decode_ppm(payload[pos : pos + flen])
        if dims is None:
            return None
        frames.append(dims)
        pos += flen
    if len(frames) != declared:
        return None
    return frames


# --- REAL pixels: textured PPM + block-mean perceptual hash ------------------
PHASH_GRID = 8  # 8x8 block grid -> 64-bit hash

PHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("phash", StringType(), True),
    ]
)


def synthesize_textured_ppm(docs: DataFrame) -> DataFrame:
    """Media table whose payloads are REAL binary P6 images with VARYING
    pixel content (unlike :func:`synthesize_ppm_media`'s constant raster):
    gray value of pixel i in doc d is
    ``(d%16)*7 + i*13) % 26 + 97``, +1 where ``i % 37 == d % 5`` —
    all three channels equal. Dims: (n_chars%32+8) x (n_chars%24+8).

    The texture class ``d % 16`` gives the corpus genuine exact- and
    near-duplicate image structure (same class + dims + perturbation phase
    → identical pixels; same class + dims, different phase → tiny pixel
    deltas), and every parameter derives from (doc_id, n_chars) so an
    oracle can replay the raster arithmetically while the Spark side
    genuinely parses and hashes the bytes."""
    import numpy as np

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, ws, hs = [], [], []
            for d, nc in zip(pdf["doc_id"], pdf["n_chars"]):
                w = int(nc) % 32 + 8
                h = int(nc) % 24 + 8
                i = np.arange(w * h, dtype=np.int64)
                v = ((int(d) % 16) * 7 + i * 13) % 26 + 97
                v = v + (i % 37 == int(d) % 5)
                raster = np.repeat(v.astype(np.uint8), 3)  # rgb = gray
                payloads.append(
                    f"P6\n{w} {h}\n255\n".encode() + raster.tobytes()
                )
                ws.append(w)
                hs.append(h)
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "mime": "image/x-portable-pixmap",
                    "payload": payloads,
                    "meta_width": ws,
                    "meta_height": hs,
                }
            )

    return docs.select("doc_id", "n_chars").mapInPandas(synth, MEDIA_SCHEMA)


def _phash_kernel(payload: bytes) -> tuple[int, int, str] | None:
    """REAL block-mean perceptual hash (aHash on an 8x8 grid): parse the
    binary PPM, sum the channel bytes of each pixel (integer luminance x
    channels — exact), assign pixel (x, y) to grid cell
    (x*8//w, y*8//h), and emit bit 1 where the cell's mean exceeds the
    image mean. The comparison is cross-multiplied integers
    (cell_sum * n_pixels > total_sum * cell_n), so the 64-bit hash is
    bit-reproducible in any engine. Requires w, h >= 8 (every cell
    non-empty); returns (width, height, 64-char bit string) or None."""
    import numpy as np

    parsed = _parse_ppm(payload)
    if parsed is None:
        return None
    w, h, channels, off = parsed
    if w < PHASH_GRID or h < PHASH_GRID:
        return None
    raster = np.frombuffer(
        payload[off : off + w * h * channels], dtype=np.uint8
    ).astype(np.int64)
    lum = raster.reshape(w * h, channels).sum(axis=1)  # per-pixel, exact int
    i = np.arange(w * h, dtype=np.int64)
    x, y = i % w, i // w
    cell = (y * PHASH_GRID // h) * PHASH_GRID + (x * PHASH_GRID // w)
    n_cells = PHASH_GRID * PHASH_GRID
    cell_sum = np.bincount(cell, weights=lum, minlength=n_cells).astype(np.int64)
    cell_n = np.bincount(cell, minlength=n_cells).astype(np.int64)
    total = int(lum.sum())
    bits = (cell_sum * (w * h)) > (total * cell_n)
    return (w, h, "".join("1" if b else "0" for b in bits))


def image_block_hash(media: DataFrame) -> DataFrame:
    """Image fingerprinting via mapInPandas: per payload, the REAL parsed
    dimensions and the 64-bit block-mean perceptual hash
    (:func:`_phash_kernel`). Malformed or sub-8x8 images are dropped (the
    dead-letter path). This is the decode -> fingerprint front of image
    dedup: downstream, near-dup pairing is pure DataFrame ops over the
    tiny (media_id, phash) table — the payload bytes never shuffle."""

    def hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                got = _phash_kernel(p) if p is not None else None
                if got is None:
                    continue
                w, h, bits = got
                rows.append((int(mid), w, h, bits))
            yield pd.DataFrame(
                rows, columns=["media_id", "width", "height", "phash"]
            )

    return media.mapInPandas(hash_batches, PHASH_SCHEMA)


def phash_near_dup_pairs(
    hashes: DataFrame, max_hamming: int = 6, n_bands: int | None = None
) -> DataFrame:
    """Near-duplicate image pairs by banded Hamming join over the 64-bit
    perceptual hash: split each hash into ``n_bands`` contiguous bands and
    equi-join per band (two images within Hamming distance n_bands-1 share
    at least one exact band by pigeonhole — so for max_hamming < n_bands
    the blocking is LOSSLESS; beyond that it is the standard recall
    trade), union the candidates, then verify exact Hamming distance
    JVM-side (zip_with over the bit chars). The default
    ``n_bands = max_hamming + 1`` therefore guarantees losslessness at
    the requested radius (bits the integer division leaves uncovered
    only help: differences there never spend a band); pass a smaller
    ``n_bands`` explicitly to trade recall for fewer/larger band keys —
    pipe_image_near_dup_recall MEASURES that trade against the exact
    pair set. The pair space never materializes: candidates come from
    equi-joins on short band keys — the same blocked shape as SimHash
    near-pairs (dedup.simhash_*), here fed by REAL pixel content.
    Out: (media_a, media_b, hamming)."""
    from pyspark.sql import functions as F  # local: keep module header lean

    if n_bands is None:
        n_bands = max_hamming + 1
    bits = 64
    band_w = bits // n_bands
    h = hashes.select("media_id", "phash")
    cands = None
    for b in range(n_bands):
        key = F.substring(F.col("phash"), b * band_w + 1, band_w)
        left = h.select(
            F.col("media_id").alias("media_a"),
            F.col("phash").alias("ph_a"),
            key.alias("band_key"),
        )
        right = h.select(
            F.col("media_id").alias("media_b"),
            F.col("phash").alias("ph_b"),
            key.alias("band_key"),
        )
        c = left.join(right, "band_key").filter(
            F.col("media_a") < F.col("media_b")
        )
        cands = c if cands is None else cands.unionAll(c)
    pairs = cands.select("media_a", "media_b", "ph_a", "ph_b").distinct()
    ham = F.size(
        F.filter(
            F.zip_with(
                F.split(F.col("ph_a"), ""),
                F.split(F.col("ph_b"), ""),
                lambda a, b: a != b,
            ),
            lambda d: d,
        )
    )
    return (
        pairs.withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("media_a", "media_b", "hamming")
    )


def video_frame_features(media: DataFrame, every_n: int = 2) -> DataFrame:
    """Frame sampling with REAL decode: mapInPandas parses each container,
    netpbm-decodes its frames, and emits every ``every_n``-th frame's
    (frame_idx, width, height). Malformed containers are dropped (the
    dead-letter path). The decode-after-explode shape of
    frame_sample_plan, with the decode now real."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                frames = _decode_video(p) if p is not None else None
                if frames is None:
                    continue
                for i in range(0, len(frames), every_n):
                    w, h = frames[i]
                    rows.append((int(mid), i, w, h))
            yield pd.DataFrame(
                rows, columns=["media_id", "frame_idx", "width", "height"]
            )

    return media.mapInPandas(decode, VIDEO_FRAME_SCHEMA)
