"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The pattern for image/audio/video at 100 TB: store the raw bytes as a
``binary`` column (or a reference into object storage) beside typed
metadata; run decode/feature-extraction as Arrow-batched ``mapInPandas``
so Python touches columnar batches, never rows.

The container has no image/audio libraries, so decode comes in two
tiers: :func:`decode_images` REALLY parses the two classic stdlib-
decodable formats (binary PPM ``P6``, uncompressed 24/32-bit BMP) with
per-row error quarantine, and the registry's hash-checked query uses a
deterministic stand-in decoder (fixture payloads are text bytes, not
images) whose byte-arithmetic a DuckDB twin can replay. The Spark-side
plumbing — binary schema, batch iteration, UDF signature, output schema,
partitioning — is identical in both; widening the real dispatch with
PIL/ffmpeg is a one-function change.

``multimodal_meta`` (oracle-checked) is the pure-SQL metadata path;
``multimodal_decode_stub`` is the mapInPandas path — oracle-checked too
(round 4): the deterministic stand-in features are byte-arithmetic, so a
DuckDB twin recomputes them by hex-expanding the same payload bytes.
"""

from __future__ import annotations

from collections.abc import Iterator

from ..session import materialize
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import h64, h64_sql
from ..sources.catalog import load_table

DECODE_SCHEMA = (
    "doc_id long, n_bytes long, width int, height int, channels int, "
    "mean_byte double"
)


def with_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the opaque binary column (UTF-8 bytes of the text stand in
    for real media payloads; schema/partitioning identical)."""
    return df.withColumn("payload", F.encode(F.col(text_col), "UTF-8"))


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over the binary column, all JVM-side: byte length,
    content digest, and hash-derived pseudo-dimensions (the shape a real
    pipeline stores next to the payload for pruning before decode)."""
    d = with_payload(load_table(spark, sf_dir, "documents"))
    h = h64("text")
    return d.select(
        "doc_id",
        F.octet_length("payload").cast("long").alias("n_bytes"),
        F.md5("payload").alias("payload_md5"),
        (F.lit(64) + (h % 896)).cast("int").alias("pseudo_width"),
        # shiftright, not division: float division of a 60-bit int loses
        # mantissa bits and would diverge from the oracle's integer div
        (F.lit(64) + (F.shiftright(h, 10) % 896)).cast("int").alias("pseudo_height"),
    )


MULTIMODAL_META_SQL = f"""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS payload_md5,  -- md5 over the same UTF-8 bytes
           CAST(64 + ({h64_sql('text')} % 896) AS INTEGER) AS pseudo_width,
           CAST(64 + (({h64_sql('text')} >> 10) % 896) AS INTEGER)
               AS pseudo_height
    FROM documents
"""


def decode_image_batch(payload: bytes) -> tuple[int, int, int, float]:
    """REAL minimal decoder for the classic header+raster formats a
    pure-stdlib environment can parse — binary PPM (``P6``), binary
    PGM (``P5``), and uncompressed 24/32-bit BMP (``BM``/BI_RGB).
    Returns ``(width, height, channels, mean_pixel_byte)`` where the
    mean is over PIXEL data only (BMP row padding excluded). Raises
    ``ValueError`` on any other format — a real deployment widens the
    dispatch with PIL/libvips, but the container has no image
    libraries, so these formats are what "real decode" can honestly
    mean here. The pipeline entry point is :func:`decode_images`;
    :func:`_fake_decode` remains the deterministic oracle twin for the
    hash-checked registry query (fixture payloads are text bytes, not
    images).
    """
    if payload[:2] == b"P6":
        return _decode_pnm(payload, channels=3)
    if payload[:2] == b"P5":
        return _decode_pnm(payload, channels=1)
    if payload[:2] == b"BM":
        return _decode_bmp(payload)
    raise ValueError(
        f"unsupported image format (magic {payload[:2]!r}); this minimal "
        "decoder handles binary PPM (P6), binary PGM (P5), and "
        "uncompressed 24/32-bit BMP"
    )


def _decode_pnm(payload: bytes, channels: int) -> tuple[int, int, int, float]:
    """Binary PPM/PGM: ``P6``/``P5`` then ``<w> <h> <maxval>`` header
    tokens (whitespace-separated, ``#`` comments allowed), one
    whitespace byte, and ``w*h*channels`` raw pixel bytes."""
    pos = 2
    vals: list[int] = []
    while len(vals) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment to end of line
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        vals.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval
    width, height, maxval = vals
    if maxval > 255:
        raise ValueError("16-bit PNM not supported by the minimal decoder")
    n = width * height * channels
    pixels = payload[pos : pos + n] if n >= 0 else b""
    if len(pixels) != n:
        raise ValueError(f"truncated PNM: want {n} pixel bytes, have {len(pixels)}")
    return width, height, channels, (sum(pixels) / n if n else 0.0)


def _decode_bmp(payload: bytes) -> tuple[int, int, int, float]:
    """Uncompressed (BI_RGB) 24/32-bit BMP with a BITMAPINFOHEADER:
    little-endian fields at fixed offsets, rows padded to 4 bytes
    (padding excluded from the mean), positive height = bottom-up."""
    import struct

    if len(payload) < 54:
        raise ValueError("truncated BMP header")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    width, height = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if compression != 0 or bpp not in (24, 32):
        raise ValueError(
            f"only uncompressed 24/32-bit BMP supported (bpp={bpp}, "
            f"compression={compression})"
        )
    channels = bpp // 8
    n_rows = abs(height)
    row_bytes = width * channels
    row_stride = (row_bytes + 3) & ~3
    total, count = 0, 0
    for r in range(n_rows):
        row = payload[data_off + r * row_stride : data_off + r * row_stride + row_bytes]
        if len(row) != row_bytes:
            raise ValueError(f"truncated BMP: row {r} short")
        total += sum(row)
        count += row_bytes
    return width, n_rows, channels, (total / count if count else 0.0)


def make_pixel_parser():
    """Build the shared executor-side image parser as a LOCAL function —
    one definition of the PPM/PGM/BMP pixel logic for every mapInPandas
    closure in this module (cloudpickle ships locally-defined functions
    by value, so operators capture the returned function and stay
    self-contained without triplicating the parser bodies — the drift
    risk the round-6 advice flagged when there were two copies).

    Returns ``parse(payload) -> (width, height, channels, pixels)`` with
    ``pixels`` row-major TOP-DOWN bytes: bottom-up BMPs (positive
    biHeight — the standard layout) are row-FLIPPED here, so
    spatially-sensitive consumers (perceptual hash, resize) see the same
    orientation from a BMP as from a PNM of the same image; a
    mean/statistics consumer is unaffected either way.
    """
    import struct

    def parse_pnm(payload: bytes, channels: int):
        pos, vals = 2, []
        while len(vals) < 3:
            while pos < len(payload) and payload[pos : pos + 1].isspace():
                pos += 1
            if payload[pos : pos + 1] == b"#":
                while pos < len(payload) and payload[pos] != 0x0A:
                    pos += 1
                continue
            start = pos
            while pos < len(payload) and not payload[pos : pos + 1].isspace():
                pos += 1
            vals.append(int(payload[start:pos]))
        pos += 1
        width, height, maxval = vals
        if maxval > 255:
            raise ValueError("16-bit PNM not supported")
        n = width * height * channels
        pixels = payload[pos : pos + n] if n >= 0 else b""
        if len(pixels) != n:
            raise ValueError(
                f"truncated PNM: want {n} pixel bytes, have {len(pixels)}"
            )
        return width, height, channels, pixels

    def parse_bmp(payload: bytes, pixels: bool = True):
        if len(payload) < 54:
            raise ValueError("truncated BMP header")
        data_off = struct.unpack_from("<I", payload, 10)[0]
        width, height = struct.unpack_from("<ii", payload, 18)
        bpp = struct.unpack_from("<H", payload, 28)[0]
        compression = struct.unpack_from("<I", payload, 30)[0]
        if compression != 0 or bpp not in (24, 32):
            raise ValueError(f"unsupported BMP (bpp={bpp}, comp={compression})")
        channels = bpp // 8
        n_rows, row_bytes = abs(height), width * channels
        stride = (row_bytes + 3) & ~3
        if not pixels:
            # stats mode: stream running sums, O(row) extra memory —
            # never materialize the pixel buffer for a scalar mean
            total = count = 0
            for r in range(n_rows):
                row = payload[
                    data_off + r * stride : data_off + r * stride + row_bytes
                ]
                if len(row) != row_bytes:
                    raise ValueError(f"truncated BMP: row {r} short")
                total += sum(row)
                count += row_bytes
            return width, n_rows, channels, (total, count)
        rows = []
        for r in range(n_rows):
            row = payload[data_off + r * stride : data_off + r * stride + row_bytes]
            if len(row) != row_bytes:
                raise ValueError(f"truncated BMP: row {r} short")
            rows.append(row)
        if height > 0:  # bottom-up storage (the standard) -> flip to top-down
            rows.reverse()
        return width, n_rows, channels, b"".join(rows)

    def parse(payload: bytes, pixels: bool = True):
        """pixels=True -> (w, h, c, top-down pixel bytes) for the
        spatially-sensitive consumers; pixels=False -> (w, h, c,
        (total, count)) streaming sums for stats-only consumers (a
        50 MP BMP never allocates its ~150 MB buffer for a mean)."""
        if payload[:2] == b"P6":
            w, h, c, px = parse_pnm(payload, 3)
        elif payload[:2] == b"P5":
            w, h, c, px = parse_pnm(payload, 1)
        elif payload[:2] == b"BM":
            return parse_bmp(payload, pixels)
        else:
            raise ValueError(f"unsupported image format (magic {payload[:2]!r})")
        if not pixels:
            return w, h, c, (sum(px), len(px))
        return w, h, c, px

    return parse


def _fake_decode(payload: bytes) -> tuple[int, int, int, float]:
    """Deterministic stand-in decoder (driver-side/tests only; the
    executor-side copy lives inlined inside the mapInPandas closure)."""
    width = 64 + (len(payload) * 31) % 896
    height = 64 + (len(payload) * 17) % 896
    channels = 3
    mean_byte = (sum(payload) / len(payload)) if payload else 0.0
    return width, height, channels, mean_byte


REAL_DECODE_SCHEMA = (
    "doc_id long, n_bytes long, width int, height int, channels int, "
    "mean_pixel double, decode_error string"
)


def decode_images(df: DataFrame) -> DataFrame:
    """REAL decode over a ``(doc_id, payload binary)`` DataFrame: parse
    each payload as PPM/PGM/BMP (:func:`decode_image_batch` semantics) and
    emit dimensions + mean pixel byte; undecodable payloads keep their
    row with NULL features and the error message in ``decode_error``
    (at 100 TB a poison payload must not kill the stage — the error
    column is the quarantine signal).

    Same Arrow ``mapInPandas`` shape as the stand-in path. The parser is
    the shared :func:`make_pixel_parser` product — a locally-defined
    function cloudpickle ships BY VALUE, so the closure stays
    self-contained (foreign-cwd executors never import this package)
    without a third copy of the parser bodies.
    """
    import pandas as pd

    parse = make_pixel_parser()

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        for pdf in batches:
            out = {
                "doc_id": [], "n_bytes": [], "width": [], "height": [],
                "channels": [], "mean_pixel": [], "decode_error": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                payload = bytes(payload)
                out["doc_id"].append(doc_id)
                out["n_bytes"].append(len(payload))
                try:
                    w, h, c, (total, count) = parse(payload, pixels=False)
                    m = (total / count) if count else 0.0
                    err = None
                except (ValueError, IndexError, struct.error) as ex:
                    w = h = c = m = None
                    err = str(ex)[:200]
                out["width"].append(w)
                out["height"].append(h)
                out["channels"].append(c)
                out["mean_pixel"].append(m)
                out["decode_error"].append(err)
            yield pd.DataFrame(out)

    return df.select("doc_id", "payload").mapInPandas(decode, REAL_DECODE_SCHEMA)


def multimodal_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched decode/feature-extract over binary payloads.

    ``mapInPandas``: each Python invocation receives a columnar batch;
    per-batch vectorized work, output schema declared up front. At 100 TB
    this parallelizes per input split with zero driver involvement;
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds batch memory
    against large payloads.
    """
    import pandas as pd

    d = with_payload(load_table(spark, sf_dir, "documents")).select("doc_id", "payload")

    # The closure must be SELF-CONTAINED (no references to this package):
    # cloudpickle ships module-level functions by reference, and executor
    # Python workers do not have the engine package on their import path
    # when the driver process was launched from elsewhere.
    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def fake_decode(payload: bytes) -> tuple[int, int, int, float]:
            width = 64 + (len(payload) * 31) % 896
            height = 64 + (len(payload) * 17) % 896
            mean_byte = (sum(payload) / len(payload)) if payload else 0.0
            return width, height, 3, mean_byte

        for pdf in batches:
            feats = [fake_decode(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "n_bytes": [len(p) for p in pdf["payload"]],
                    "width": [f[0] for f in feats],
                    "height": [f[1] for f in feats],
                    "channels": [f[2] for f in feats],
                    "mean_byte": [f[3] for f in feats],
                }
            )

    return d.mapInPandas(decode, DECODE_SCHEMA)


# DuckDB twin of the stand-in decoder: the payload is the UTF-8 text
# bytes, so hex-expand the blob and recompute the same byte arithmetic.
# Exactness: the byte sum is an exact integer in both engines and
# mean_byte is a single int/int division, so the doubles are bit-equal
# (fixture text is ASCII, but the hex expansion is byte-level and stays
# correct for any payload).
MULTIMODAL_DECODE_SQL = """
    WITH b AS (
        SELECT doc_id,
               hex(encode(text)) AS hx,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        FROM documents
    ),
    bytes AS (
        SELECT doc_id,
               CAST(('0x' || substr(hx, 2 * i.i - 1, 2)) AS INT) AS byte_val
        FROM b,
             LATERAL (SELECT unnest(generate_series(1, CAST(n_bytes AS INT))) AS i) i
    ),
    agg AS (SELECT doc_id, sum(byte_val) AS s, count(*) AS c FROM bytes GROUP BY 1)
    SELECT b.doc_id,
           b.n_bytes,
           CAST(64 + (b.n_bytes * 31) % 896 AS INT) AS width,
           CAST(64 + (b.n_bytes * 17) % 896 AS INT) AS height,
           3 AS channels,
           CASE WHEN b.n_bytes = 0 THEN 0.0
                ELSE CAST(agg.s AS DOUBLE) / agg.c END AS mean_byte
    FROM b LEFT JOIN agg USING (doc_id)
"""


FRAME_SAMPLE_SCHEMA = "doc_id long, frame_idx int, frame_md5 string"
N_FRAMES_SAMPLED = 4


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing for video-like payloads (stubbed decoder).

    Treats the payload as a virtual frame sequence (1 frame per 64 bytes),
    samples N evenly-spaced frame indices, and emits a digest per sampled
    frame — the exact shape a video pipeline needs (decode → sample →
    per-frame features), with the codec stub swapped for ffmpeg in a real
    deployment. One row per (doc, sampled frame); schema declared up
    front; closure self-contained.
    """
    import pandas as pd

    d = with_payload(load_table(spark, sf_dir, "documents")).select("doc_id", "payload")

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        def frames(payload: bytes):
            n_frames = max(1, len(payload) // 64)
            step = max(1, n_frames // N_FRAMES_SAMPLED)
            idxs = list(range(0, n_frames, step))[:N_FRAMES_SAMPLED]
            for i in idxs:
                chunk = payload[i * 64 : (i + 1) * 64]
                yield i, hashlib.md5(chunk).hexdigest()

        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "frame_md5": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                for i, digest in frames(payload):
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(i)
                    out["frame_md5"].append(digest)
            yield pd.DataFrame(out)

    return d.mapInPandas(sample, FRAME_SAMPLE_SCHEMA)


# DuckDB twin of the frame sampler. DuckDB cannot md5 a BLOB slice, but
# the fixture text is pure ASCII (asserted per-SF in tests), so the
# VARCHAR substring is byte-identical to the payload slice; the frame
# index arithmetic (n_frames = max(1, len//64), stride = max(1,
# n_frames//4), first 4) is mirrored with generate_series + row_number.
FRAME_SAMPLE_SQL = f"""
    WITH b AS (
        SELECT doc_id, text,
               greatest(1, octet_length(encode(text)) // {64}) AS n_frames
        FROM documents
    ),
    idx AS (
        SELECT doc_id, text,
               unnest(generate_series(
                   0, CAST(n_frames - 1 AS INT),
                   CAST(greatest(1, n_frames // {N_FRAMES_SAMPLED}) AS INT)
               )) AS frame_idx
        FROM b
    ),
    lim AS (
        SELECT doc_id, frame_idx, text,
               row_number() OVER (PARTITION BY doc_id ORDER BY frame_idx) AS rn
        FROM idx
    )
    SELECT doc_id,
           CAST(frame_idx AS INT) AS frame_idx,
           md5(substring(text, frame_idx * 64 + 1, 64)) AS frame_md5
    FROM lim
    WHERE rn <= {N_FRAMES_SAMPLED}
"""


# ------------------------------------------------ real audio decode (WAV)

AUDIO_DECODE_SCHEMA = (
    "doc_id long, n_bytes long, sample_rate int, n_channels int, "
    "n_samples long, duration_sec double, rms double, decode_error string"
)


def decode_audio_batch(payload: bytes) -> tuple[int, int, int, float, float]:
    """REAL minimal audio decoder: RIFF/WAVE PCM16 (the one audio
    container a pure-stdlib environment can parse honestly — the audio
    twin of :func:`decode_image_batch`'s PPM/PGM/BMP family). Walks the
    RIFF chunk list to ``fmt `` and ``data``, validates PCM16, and
    returns ``(sample_rate, n_channels, n_samples_per_channel,
    duration_sec, rms)``. RMS accumulates int16 squares in exact int64
    and takes one sqrt at the end (the engine's usual
    exact-until-the-last-op discipline). Raises ``ValueError`` on
    anything else; a real deployment widens the dispatch with
    soundfile/ffmpeg, which this container does not have.
    """
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError(f"not a RIFF/WAVE payload (magic {payload[:4]!r})")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid, size = payload[pos : pos + 4], struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8 : pos + 8 + size]
        if len(body) != size:
            raise ValueError(f"truncated WAV chunk {cid!r}")
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    if len(fmt) < 16:
        raise ValueError("truncated fmt chunk")
    audio_format, n_channels, sample_rate = struct.unpack_from("<HHI", fmt, 0)
    bits = struct.unpack_from("<H", fmt, 14)[0]
    if audio_format != 1 or bits != 16:
        raise ValueError(
            f"only PCM16 supported (format={audio_format}, bits={bits})"
        )
    if n_channels < 1:
        raise ValueError("WAV with zero channels")
    if len(data) % (2 * n_channels) != 0:
        raise ValueError("data chunk not a whole number of sample frames")
    n_samples = len(data) // (2 * n_channels)
    total = len(data) // 2
    if total:
        sq = 0
        for (s,) in struct.iter_unpack("<h", data):
            sq += s * s
        rms = (sq / total) ** 0.5
    else:
        rms = 0.0
    return sample_rate, n_channels, n_samples, n_samples / sample_rate, rms


def decode_audio(df: DataFrame) -> DataFrame:
    """REAL audio decode over a ``(doc_id, payload binary)`` DataFrame —
    the mapInPandas seam of :func:`decode_images` applied to WAV PCM16,
    with the same per-row error quarantine (poison payloads keep their
    row; ``decode_error`` carries the reason). The closure re-states the
    parser locally (cloudpickle foreign-cwd rule) but uses numpy for the
    square-sum (int16 → int64 exact) — pinned identical to
    :func:`decode_audio_batch` by the parity test.
    """
    import pandas as pd

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        import numpy as np

        def parse_wav(payload: bytes):
            if (
                len(payload) < 12
                or payload[:4] != b"RIFF"
                or payload[8:12] != b"WAVE"
            ):
                raise ValueError(
                    f"not a RIFF/WAVE payload (magic {payload[:4]!r})"
                )
            pos, fmt, data = 12, None, None
            while pos + 8 <= len(payload):
                cid = payload[pos : pos + 4]
                size = struct.unpack_from("<I", payload, pos + 4)[0]
                body = payload[pos + 8 : pos + 8 + size]
                if len(body) != size:
                    raise ValueError(f"truncated WAV chunk {cid!r}")
                if cid == b"fmt ":
                    fmt = body
                elif cid == b"data":
                    data = body
                pos += 8 + size + (size & 1)
            if fmt is None or data is None:
                raise ValueError("WAV missing fmt/data chunk")
            if len(fmt) < 16:
                raise ValueError("truncated fmt chunk")
            audio_format, n_channels, sample_rate = struct.unpack_from(
                "<HHI", fmt, 0
            )
            bits = struct.unpack_from("<H", fmt, 14)[0]
            if audio_format != 1 or bits != 16:
                raise ValueError(
                    f"only PCM16 supported (format={audio_format}, bits={bits})"
                )
            if n_channels < 1:
                raise ValueError("WAV with zero channels")
            if len(data) % (2 * n_channels) != 0:
                raise ValueError("data chunk not a whole number of sample frames")
            n_samples = len(data) // (2 * n_channels)
            total = len(data) // 2
            if total:
                s = np.frombuffer(data, dtype="<i2").astype("int64")
                rms = float(np.sqrt(int((s * s).sum()) / total))
            else:
                rms = 0.0
            return (
                sample_rate,
                n_channels,
                n_samples,
                n_samples / sample_rate,
                rms,
            )

        for pdf in batches:
            out = {
                "doc_id": [], "n_bytes": [], "sample_rate": [],
                "n_channels": [], "n_samples": [], "duration_sec": [],
                "rms": [], "decode_error": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                payload = bytes(payload)
                out["doc_id"].append(doc_id)
                out["n_bytes"].append(len(payload))
                try:
                    sr, nc, ns, dur, rms = parse_wav(payload)
                    err = None
                except (ValueError, IndexError, struct.error) as ex:
                    sr = nc = ns = dur = rms = None
                    err = str(ex)[:200]
                out["sample_rate"].append(sr)
                out["n_channels"].append(nc)
                out["n_samples"].append(ns)
                out["duration_sec"].append(dur)
                out["rms"].append(rms)
                out["decode_error"].append(err)
            yield pd.DataFrame(out)

    return df.select("doc_id", "payload").mapInPandas(decode, AUDIO_DECODE_SCHEMA)


# --------------------------------------------- image perceptual-hash dedup

AHASH_GRID = 8  # 8x8 average-hash -> 64-bit signature
AHASH_BANDS = 4  # 4 x 16-bit bands: hamming <= 3 => >= 1 band equal
AHASH_HAM_MAX = 3

IMAGE_AHASH_SCHEMA = "doc_id long, ahash long, decode_error string"


def image_ahash(df: DataFrame) -> DataFrame:
    """Perceptual average-hash (aHash) over REAL image payloads — the
    signature stage of image near-dup dedup (the LAION-style pipeline:
    re-encoded/brightness-shifted copies of an image land within a few
    bits of each other, where byte digests see unrelated blobs).

    Per payload: decode (PPM/PGM/BMP via the shared
    :func:`make_pixel_parser`, which flips bottom-up BMPs so the same
    image hashes identically from either container), collapse to
    grayscale integer luma sums, average-pool onto an 8x8 grid with
    INTEGER block arithmetic (pixel x maps to block x*8 DIV width — no
    float resampling, so the hash is bit-stable across hosts), then one
    bit per cell: 1 iff the cell mean exceeds the global mean, compared
    by exact cross-multiplication (cell_sum * total_n > total_sum *
    cell_n). Undecodable payloads quarantine into ``decode_error`` like
    every decoder in this module.

    Arrow ``mapInPandas``; the captured parser is a locally-defined
    function (pickled by value — executors never import this package).
    """
    import pandas as pd

    parse = make_pixel_parser()

    def hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        def ahash(payload: bytes) -> int:
            w, h, c, px = parse(payload)
            if w < 1 or h < 1:
                raise ValueError("degenerate image")
            G = 8  # AHASH_GRID (closure self-contained)
            cell_sum = [[0] * G for _ in range(G)]
            cell_n = [[0] * G for _ in range(G)]
            for y in range(h):
                by = y * G // h
                row_off = y * w * c
                srow, nrow = cell_sum[by], cell_n[by]
                for x in range(w):
                    bx = x * G // w
                    o = row_off + x * c
                    srow[bx] += sum(px[o : o + c])
                    nrow[bx] += c
            total_sum = sum(map(sum, cell_sum))
            total_n = sum(map(sum, cell_n))
            bits = 0
            for by in range(G):
                for bx in range(G):
                    bits <<= 1
                    if cell_sum[by][bx] * total_n > total_sum * cell_n[by][bx]:
                        bits |= 1
            # two's-complement into int64 (bit 63 may be set)
            return bits - (1 << 64) if bits >= (1 << 63) else bits

        for pdf in batches:
            out = {"doc_id": [], "ahash": [], "decode_error": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                out["doc_id"].append(doc_id)
                try:
                    out["ahash"].append(ahash(bytes(payload)))
                    out["decode_error"].append(None)
                except (ValueError, IndexError, struct.error) as ex:
                    out["ahash"].append(None)
                    out["decode_error"].append(str(ex)[:200])
            yield pd.DataFrame(out)

    return df.select("doc_id", "payload").mapInPandas(
        hash_batches, IMAGE_AHASH_SCHEMA
    )


def image_phash_neardup(df: DataFrame) -> DataFrame:
    """Image near-dup pairs over a ``(doc_id, payload binary)`` frame:
    aHash signatures -> pigeonhole band join -> exact hamming verify —
    the SimHash pattern (``dedup.dedup_simhash``) applied to pixels
    instead of tokens.

    Banding: 4 x 16-bit bands of the 64-bit hash; two hashes within
    hamming distance 3 differ in at most 3 bands, so at least one band
    matches exactly (pigeonhole) — candidate generation is an EQUI-join
    on (band_idx, band_value), never an all-pairs scan. Verification is
    ``bit_count(a ^ b) <= 3`` JVM-side on the candidates only.

    At 100 TB: signatures are one decode pass (Arrow-batched, the
    expensive step, embarrassingly parallel); the band join's fan-out is
    bounded by bucket occupancy exactly as in the token SimHash — a
    pathological bucket (e.g. flat-color images all hashing to 0) is a
    df-cap/salting decision, not a plan change.
    """
    sigs = image_ahash(df).where(F.col("decode_error").isNull()).select(
        "doc_id", "ahash"
    )
    sigs = materialize(sigs)
    bands = sigs.select(
        "doc_id",
        "ahash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.shiftrightunsigned("ahash", 16 * b)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("band_val"),
                    )
                    for b in range(AHASH_BANDS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "ahash", "b.band_idx", "b.band_val")
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.ahash").alias("ha"),
            F.col("b.ahash").alias("hb"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.expr("ha ^ hb")))
        .where(F.col("hamming") <= AHASH_HAM_MAX)
        .select("doc_a", "doc_b", "hamming")
    )


RESIZE_SCHEMA = (
    "doc_id long, width int, height int, out_w int, out_h int, "
    "pixels binary, checksum long, decode_error string"
)


def resize_images(df: DataFrame, out_w: int = 16, out_h: int = 16) -> DataFrame:
    """Integer box-filter resize over REAL image payloads: decode via
    the shared :func:`make_pixel_parser` (top-down pixel order — bottom-
    up BMPs are flipped, so thumbnails are upright from any container),
    collapse to grayscale luma, average-pool onto an out_h x out_w grid
    with the same integer block mapping the perceptual hash uses
    (pixel x -> block x*W DIV width; block value = sum DIV count —
    exact, host-stable), and emit the resized grayscale bytes plus an
    int64 checksum. The thumbnail/feature-map step of a multimodal
    training pipeline, with per-row quarantine.

    Arrow ``mapInPandas``; captured parser pickled by value. At 100 TB
    this is the embarrassingly-parallel decode pass — one partition per
    input split, output bounded at out_w x out_h bytes per image
    regardless of input size.
    """
    import pandas as pd

    W, H = int(out_w), int(out_h)
    parse = make_pixel_parser()

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        def do_resize(payload: bytes):
            w, h, c, px = parse(payload)
            if w < 1 or h < 1:
                raise ValueError("degenerate image")
            sums = [[0] * W for _ in range(H)]
            cnts = [[0] * W for _ in range(H)]
            for y in range(h):
                by = y * H // h
                row_off = y * w * c
                srow, nrow = sums[by], cnts[by]
                for x in range(w):
                    bx = x * W // w
                    o = row_off + x * c
                    # integer luma = mean of channel bytes (DIV c)
                    srow[bx] += sum(px[o : o + c]) // c
                    nrow[bx] += 1
            out = bytearray()
            for by in range(H):
                for bx in range(W):
                    out.append(
                        sums[by][bx] // cnts[by][bx] if cnts[by][bx] else 0
                    )
            checksum = 0
            for b in out:
                checksum = (checksum * 257 + b) % 2147483647
            return w, h, bytes(out), checksum

        for pdf in batches:
            o = {
                "doc_id": [], "width": [], "height": [], "out_w": [],
                "out_h": [], "pixels": [], "checksum": [], "decode_error": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                o["doc_id"].append(doc_id)
                o["out_w"].append(W)
                o["out_h"].append(H)
                try:
                    w, h, px, ck = do_resize(bytes(payload))
                    o["width"].append(w)
                    o["height"].append(h)
                    o["pixels"].append(px)
                    o["checksum"].append(ck)
                    o["decode_error"].append(None)
                except (ValueError, IndexError, struct.error) as ex:
                    o["width"].append(None)
                    o["height"].append(None)
                    o["pixels"].append(None)
                    o["checksum"].append(None)
                    o["decode_error"].append(str(ex)[:200])
            yield pd.DataFrame(o)

    return df.select("doc_id", "payload").mapInPandas(resize, RESIZE_SCHEMA)


# ------------------------------------------------- audio-like payloads

AUDIO_STATS_SCHEMA = (
    "doc_id long, n_samples long, sum_sq long, peak long, "
    "zero_crossings long, rms double"
)


def multimodal_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Waveform feature extraction over audio-like binary payloads: the
    payload bytes are interpreted as little-endian PCM16 samples (the
    WAV data-chunk layout) and reduced to the standard audio-pipeline
    screens — exact int64 energy (sum of squares), peak amplitude,
    zero-crossing count, and the derived RMS. The decode is one
    vectorized numpy ``frombuffer`` per Arrow batch (no per-sample
    Python), the same mapInPandas shape as the image decoders; a real
    deployment swaps the PCM interpretation for a codec call and keeps
    every other line.

    Scale shape: embarrassingly parallel single pass, zero shuffles,
    output row-per-payload. Exactness: sum_sq/peak/zero_crossings are
    exact integers (PCM16 squares bound 2^30, corpus-length sums far
    inside int64); ``rms`` is the one derived double. A trailing odd
    byte is dropped (PCM frames are 2-byte aligned). Sign semantics are
    true int16 two's complement — exercised on constructed negative
    samples in tests; the hex-free DuckDB twin mirrors the arithmetic
    over the fixture's ASCII payload bytes.
    """
    import pandas as pd

    d = with_payload(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "payload"
    )

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        import numpy as np

        for pdf in batches:
            out = {
                "doc_id": [], "n_samples": [], "sum_sq": [], "peak": [],
                "zero_crossings": [], "rms": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                n = len(b) // 2
                s = np.frombuffer(b[: 2 * n], dtype="<i2").astype(np.int64)
                sum_sq = int((s * s).sum()) if n else 0
                peak = int(np.abs(s).max()) if n else 0
                # crossing = adjacent strict sign change (0 is no sign)
                zc = int(((s[:-1] * s[1:]) < 0).sum()) if n > 1 else 0
                out["doc_id"].append(doc_id)
                out["n_samples"].append(n)
                out["sum_sq"].append(sum_sq)
                out["peak"].append(peak)
                out["zero_crossings"].append(zc)
                # math.sqrt, not ** 0.5: pow(x, 0.5) can be off by an
                # ulp from the correctly-rounded sqrt the SQL twin uses
                out["rms"].append(math.sqrt(sum_sq / n) if n else None)
            yield pd.DataFrame(out)

    return d.mapInPandas(stats, AUDIO_STATS_SCHEMA)


# DuckDB twin: the fixture payload is the text's ASCII bytes (asserted
# in tests), so sample i = ascii(t[2i-1]) + 256*ascii(t[2i]) in int16
# two's complement (the CASE handles the sign bit even though ASCII
# never sets it — same expression a real PCM blob would need).
_PCM_SAMPLE = (
    "list_transform(range(1, length(text) // 2 + 1), "
    "i -> CASE WHEN ascii(text[2*i-1]) + 256 * ascii(text[2*i]) >= 32768 "
    "THEN ascii(text[2*i-1]) + 256 * ascii(text[2*i]) - 65536 "
    "ELSE ascii(text[2*i-1]) + 256 * ascii(text[2*i]) END)"
)

MULTIMODAL_AUDIO_STATS_SQL = f"""
    WITH s AS (
        SELECT doc_id,
               CAST(length(text) // 2 AS BIGINT) AS n_samples,
               {_PCM_SAMPLE} AS pcm
        FROM documents
    )
    SELECT doc_id,
           n_samples,
           CAST(COALESCE(list_sum(list_transform(pcm, x -> x * x)), 0)
               AS BIGINT) AS sum_sq,
           CAST(COALESCE(list_max(list_transform(pcm, x -> abs(x))), 0)
               AS BIGINT) AS peak,
           CAST(COALESCE(list_sum(list_transform(
                   range(1, len(pcm)), i ->
                   CASE WHEN pcm[i] * pcm[i+1] < 0 THEN 1 ELSE 0 END)), 0)
               AS BIGINT) AS zero_crossings,
           CASE WHEN n_samples > 0
                THEN sqrt(CAST(list_sum(list_transform(pcm, x -> x * x))
                          AS DOUBLE) / n_samples)
                ELSE NULL END AS rms
    FROM s
"""


# ------------------------------------------------ perceptual near-dup

# dHash (difference hash) over the payload byte stream — the standard
# perceptual image near-dup signature: sample a fixed grid, compare each
# sample to its right neighbor, pack the comparison bits. On real media
# the grid samples a downscaled grayscale image (PIL one-liner); here it
# samples the stand-in payload bytes directly, so the Arrow plumbing,
# signature width, banding, and verify join are all the production
# shapes while the DuckDB twin can replay the byte arithmetic exactly.
# 7 rows x 9 samples -> 7x8 = 56 difference bits: the hash stays a
# positive int64 in both engines (no sign-bit disagreements).
DHASH_ROWS = 7
DHASH_COLS = 8  # comparisons per row (9 samples)
DHASH_BITS = DHASH_ROWS * DHASH_COLS  # 56
DHASH_BANDS = 4  # 14-bit bands; hamming <= 3 => >= 1 band equal
DHASH_BAND_BITS = DHASH_BITS // DHASH_BANDS
DHASH_RADIUS = 3
DHASH_SCHEMA = "doc_id long, dhash long"


def _dhash_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, dhash): Arrow-batched signature pass — one corpus scan,
    no shuffle; the closure is self-contained (cloudpickle ships it by
    value, foreign-cwd executors never import this package)."""
    import pandas as pd

    d = with_payload(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "payload"
    )

    def dhash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def one(p: bytes) -> int:
            n = len(p)
            if n < 2:
                return 0
            # 63 grid samples spread over the stream (endpoints included)
            v = [p[(k * (n - 1)) // 62] for k in range(63)]
            h = 0
            for r in range(7):
                for c in range(8):
                    if v[r * 9 + c] > v[r * 9 + c + 1]:
                        h |= 1 << (r * 8 + c)
            return h

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "dhash": [one(bytes(p)) for p in pdf["payload"]],
                }
            )

    return d.mapInPandas(dhash, DHASH_SCHEMA)


def multimodal_dhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup pairs within hamming ≤ 3 of the 56-bit dHash.

    Same scale shape as :func:`..dedup.dedup_simhash`: pigeonhole bands
    (4 × 14 bits — hamming ≤ 3 forces ≥ 1 identical band) make
    candidates an equi-join, never all-pairs; popcount(xor) verifies
    candidates only. The signature table is checkpointed once since both
    self-join sides read it. At 100 TB: signature pass is one scan;
    join work = O(corpus × bands) + O(candidates).

    Output: (doc_a, doc_b, hamming) — exact dups land at hamming 0.
    """
    sig = _dhash_df(spark, sf_dir)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("dhash"), b * DHASH_BAND_BITS)
            .bitwiseAND(F.lit((1 << DHASH_BAND_BITS) - 1))
            .alias("bkey"),
        )
        for b in range(DHASH_BANDS)
    ]
    banded = (
        sig.select(
            "doc_id", "dhash", F.explode(F.array(*band_structs)).alias("b")
        )
        .select(
            "doc_id",
            "dhash",
            F.col("b.band").alias("band"),
            F.col("b.bkey").alias("bkey"),
        )
        .transform(materialize)
    )
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.dhash").alias("ha"),
            F.col("b.dhash").alias("hb"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        cand.withColumn("hamming", ham.cast("long"))
        .filter(F.col("hamming") <= DHASH_RADIUS)
        .select("doc_a", "doc_b", "hamming")
    )


MULTIMODAL_DHASH_SQL = f"""
    WITH b AS (
        SELECT doc_id, hex(encode(text)) AS hx,
               CAST(octet_length(encode(text)) AS BIGINT) AS n
        FROM documents
    ),
    vals AS (
        SELECT doc_id,
               list_transform(range(0, 63), k ->
                   CAST(('0x' || substr(hx,
                        CAST(2 * (1 + (k * (n - 1)) // 62) - 1 AS INT), 2))
                       AS BIGINT)) AS v
        FROM b WHERE n >= 2
    ),
    sig AS (
        SELECT doc_id,
               CAST(COALESCE(list_sum(list_transform(range(0, {DHASH_BITS}),
                   j -> CASE WHEN v[CAST((j // 8) * 9 + (j % 8) + 1 AS INT)]
                                  > v[CAST((j // 8) * 9 + (j % 8) + 2 AS INT)]
                             THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)), 0)
                   AS BIGINT) AS dhash
        FROM vals
        UNION ALL
        SELECT doc_id, CAST(0 AS BIGINT) FROM b WHERE n < 2
    ),
    banded AS (
        SELECT doc_id, dhash, c AS band,
               (dhash >> (c * {DHASH_BAND_BITS})) & {(1 << DHASH_BAND_BITS) - 1}
                   AS bkey
        FROM sig, (SELECT unnest([0, 1, 2, 3]) AS c)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.dhash AS ha, b.dhash AS hb
        FROM banded a
        JOIN banded b ON a.band = b.band AND a.bkey = b.bkey
                     AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(ha, hb)) <= {DHASH_RADIUS}
"""
