"""Multimodal columns for training-data pipelines.

Images/audio/video ride as opaque ``binary`` columns with typed metadata.
What's REAL here (and tested): the Spark plumbing — schemas, Arrow-batched
``mapInPandas`` signatures, header (magic-byte) metadata parsing in pure
Python, deterministic feature extraction, partitioning discipline (binary
payloads are dropped before any shuffle) — and FOUR real decode paths:
16-bit PCM WAV and 24-bit BMP (struct walk, below), plus 8-bit truecolor
PNG and GIF87a/89a (stdlib-zlib inflate / hand-rolled LZW, in
``training/codecs.py``). What's STUBBED (this container has no
entropy-coded-DCT codecs): JPEG/MP4/MP3 — ``decode_media`` raises
NotImplementedError unless ``fake=True``, which produces a deterministic
sha256-seeded surrogate so downstream stages are exercisable end-to-end.

Media table schema:
  media_id: long, kind: string (image|audio|video),
  payload: binary, meta: map<string,string>
"""

from __future__ import annotations

import hashlib
import struct
from typing import Any, Dict, Iterator, List, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, FloatType, IntegerType, LongType, MapType,
    StringType, StructField, StructType,
)

from ..deploy import drop_zip_finders

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("payload", BinaryType(), True),
        StructField("meta", MapType(StringType(), StringType()), True),
    ]
)

MEDIA_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("format", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("sample_rate", IntegerType(), True),
        StructField("n_bytes", LongType(), True),
        StructField("payload_sha256", StringType(), True),
    ]
)

FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("feature", ArrayType(FloatType()), True),
    ]
)


def sniff_header(payload: Optional[bytes]) -> Dict[str, Any]:
    """Pure-Python magic-byte sniffing: PNG / JPEG / WAV / GIF headers.
    This is REAL metadata extraction, not a stub."""
    out: Dict[str, Any] = {"format": None, "width": None, "height": None, "sample_rate": None}
    if not payload:
        return out
    if payload[:8] == b"\x89PNG\r\n\x1a\n" and len(payload) >= 24:
        out["format"] = "png"
        out["width"], out["height"] = struct.unpack(">II", payload[16:24])
    elif payload[:3] == b"\xff\xd8\xff":
        out["format"] = "jpeg"
        i, n = 2, len(payload)
        while i + 9 < n:
            if payload[i] != 0xFF:
                i += 1
                continue
            marker = payload[i + 1]
            if marker in (0xC0, 0xC1, 0xC2, 0xC3):  # SOF segments carry dims
                out["height"], out["width"] = struct.unpack(">HH", payload[i + 5 : i + 9])
                break
            seg_len = struct.unpack(">H", payload[i + 2 : i + 4])[0]
            i += 2 + seg_len
    elif payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        out["format"] = "wav"
        if len(payload) >= 28:
            out["sample_rate"] = struct.unpack("<I", payload[24:28])[0]
    elif payload[:6] in (b"GIF87a", b"GIF89a") and len(payload) >= 10:
        out["format"] = "gif"
        out["width"], out["height"] = struct.unpack("<HH", payload[6:10])
    return out


def extract_media_metadata(media: DataFrame) -> DataFrame:
    """Arrow-batched header parse → typed metadata table. The binary column
    dies inside this stage (only narrow columns come out)."""
    from ..deploy import ensure_shipped

    ensure_shipped(media.sparkSession)

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        cols = [f.name for f in MEDIA_META_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"], pdf["payload"]):
                payload = bytes(payload) if payload is not None else None
                info = sniff_header(payload)
                rows.append(
                    {
                        "media_id": mid,
                        "kind": kind,
                        "format": info["format"],
                        "width": info["width"],
                        "height": info["height"],
                        "sample_rate": info["sample_rate"],
                        "n_bytes": len(payload) if payload is not None else 0,
                        "payload_sha256": hashlib.sha256(payload).hexdigest() if payload is not None else None,
                    }
                )
            yield pd.DataFrame(rows, columns=cols) if rows else pd.DataFrame(
                {c: pd.Series([], dtype="object") for c in cols}
            )
        drop_zip_finders()

    return media.select("media_id", "kind", "payload").mapInPandas(process, MEDIA_META_SCHEMA)


def decode_media(media: DataFrame, fake: bool = False) -> DataFrame:
    """Decode payloads to raw samples. STUB for entropy-coded-DCT formats
    (JPEG/MP4/MP3 — no codec libraries exist in this environment):
    ``fake=True`` yields a deterministic sha256-seeded surrogate (32
    floats in [0,1)) so downstream plumbing is testable; ``fake=False``
    raises NotImplementedError at plan time (fail fast). For formats this
    package CAN really decode — 16-bit PCM WAV, 24-bit BMP (struct walk),
    8-bit truecolor PNG (stdlib zlib + all five filter predictors) and
    GIF87a/89a (hand-rolled variable-width LZW) — use ``decode_features``
    below: a REAL, oracle-verified decode path (PNG/GIF live in
    ``training/codecs.py``)."""
    if not fake:
        raise NotImplementedError(
            "media decoding requires codec libraries (PIL/ffmpeg) not present "
            "in this environment; pass fake=True for the deterministic surrogate"
        )

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    rows.append({"media_id": mid, "feature": None})
                    continue
                digest = hashlib.sha256(bytes(payload)).digest()
                feat = [b / 255.0 for b in digest] + [b / 255.0 for b in digest[:0]]
                rows.append({"media_id": mid, "feature": feat})
            yield pd.DataFrame(rows, columns=["media_id", "feature"]) if rows else pd.DataFrame(
                {"media_id": pd.Series([], dtype="object"), "feature": pd.Series([], dtype="object")}
            )
        drop_zip_finders()

    return media.select("media_id", "payload").mapInPandas(process, FEATURES_SCHEMA)


def frame_sample_plan(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame-sampling *plan*: one output row per sampled frame index,
    derived from metadata only (duration unknown without codecs → frame
    count surrogate = n_bytes/65536). Decoding each frame is the stubbed
    step; the explode/partition shape is the real scale concern."""
    meta = extract_media_metadata(media.filter(F.col("kind") == "video"))
    n_frames = F.greatest((F.col("n_bytes") / 65536).cast("int"), F.lit(1))
    return (
        meta.withColumn("frame_idx", F.explode(F.sequence(F.lit(0), n_frames - 1, F.lit(every_n))))
        .select("media_id", "frame_idx", "n_bytes")
    )


def synth_media_corpus(documents: DataFrame) -> DataFrame:
    """Deterministic binary media derived from the documents table: REAL
    PNG/GIF/WAV headers (parseable by sniff_header) + text-derived payload
    bytes. doc_id % 3 picks the container."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                body = (text or "").encode("utf-8")[:256]
                w, h = int(16 + doc_id % 64), int(16 + (doc_id // 2) % 48)
                if doc_id % 3 == 0:
                    payload = b"\x89PNG\r\n\x1a\n" + struct.pack(">II", 13, 0) + struct.pack(">II", w, h) + body
                    kind = "image"
                elif doc_id % 3 == 1:
                    payload = b"GIF89a" + struct.pack("<HH", w, h) + body
                    kind = "image"
                else:
                    rate = 8000 + int(doc_id % 5) * 4000
                    payload = b"RIFF" + struct.pack("<I", 36 + len(body)) + b"WAVEfmt " + struct.pack("<IHH", 16, 1, 1) + struct.pack("<I", rate) + body
                    kind = "audio"
                rows.append({"media_id": doc_id, "kind": kind, "payload": payload, "meta": {"src": "documents"}})
            yield pd.DataFrame(rows, columns=["media_id", "kind", "payload", "meta"]) if rows else pd.DataFrame(
                {c: pd.Series([], dtype="object") for c in ("media_id", "kind", "payload", "meta")}
            )
        drop_zip_finders()

    from ..deploy import ensure_shipped

    ensure_shipped(documents.sparkSession)
    return documents.select("doc_id", "text").mapInPandas(process, MEDIA_SCHEMA)


def audio_chunk_plan(media: DataFrame, chunk_ms: int = 1000) -> DataFrame:
    """Audio chunking *plan*: one row per fixed-duration chunk, derived from
    metadata only (sample count surrogate = payload bytes / 2, 16-bit mono
    assumption — decoding is the stubbed step; the explode/partition shape
    is the real scale concern, same contract as frame_sample_plan).
    Integer arithmetic throughout so any engine reproduces the plan."""
    meta = extract_media_metadata(media.filter(F.col("kind") == "audio"))
    spc = (F.col("sample_rate") * chunk_ms / 1000).cast("long")  # samples/chunk
    n_chunks = F.greatest(
        F.expr(f"(n_bytes div (2 * (sample_rate * {chunk_ms} div 1000)))") + 1, F.lit(1)
    )
    return (
        meta.withColumn("chunk_idx", F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int"))))
        .select(
            "media_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            (F.col("chunk_idx") * spc).cast("long").alias("start_sample"),
            F.col("sample_rate").cast("long").alias("sample_rate"),
        )
    )


# ---------------------------------------------------------------------------
# REAL decode path (round 4): WAV PCM and BMP are decodable with nothing but
# struct — no codec library — so those two formats graduate from the stub.
# Every other container still fails fast (NotImplementedError) rather than
# pretending: JPEG/PNG/MP4 genuinely need codecs this environment lacks.
# ---------------------------------------------------------------------------


def wav_pcm_bytes(doc_id: int) -> bytes:
    """A VALID 16-bit mono PCM WAV (RIFF + fmt + data chunks), samples from
    a closed-form integer formula of (doc_id, i) so an ANSI-SQL oracle
    reproduces the decoded features exactly."""
    n = 100 + doc_id % 50
    rate = 8000 + (doc_id % 5) * 4000
    samples = [((doc_id * 31 + i * 17) % 65536) - 32768 for i in range(n)]
    data = b"".join(struct.pack("<h", s) for s in samples)
    return (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
        + b"data" + struct.pack("<I", len(data)) + data
    )


def bmp_bytes(doc_id: int) -> bytes:
    """A VALID 24-bit bottom-up BMP (BITMAPINFOHEADER, 4-byte row padding),
    pixels from closed-form integer formulas of (doc_id, x, y)."""
    w = 4 + doc_id % 5
    h = 3 + doc_id % 4
    row_pad = (4 - (w * 3) % 4) % 4
    rows = []
    for y in range(h):
        row = b"".join(
            struct.pack(
                "<BBB",
                (doc_id + x * 7 + y * 13) % 256,
                (doc_id * 3 + x * 11 + y * 5) % 256,
                (doc_id * 5 + x + y * 17) % 256,
            )
            for x in range(w)
        )
        rows.append(row + b"\x00" * row_pad)
    pix = b"".join(rows)
    return (
        b"BM" + struct.pack("<IHHI", 14 + 40 + len(pix), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix), 2835, 2835, 0, 0)
        + pix
    )


def synth_decodable_media(documents: DataFrame, wrap: int = 0) -> DataFrame:
    """Deterministic VALID media derived from documents: even doc_id → BMP
    image, odd → WAV audio (both parse end-to-end, not just headers).
    ``wrap`` > 0 builds the payload from ``doc_id % wrap`` while keeping
    ``media_id = doc_id`` — a corpus with PLANTED exact duplicates
    (every wrap-th doc shares pixels/samples), for dedup-by-decode
    tests; use an even wrap so the BMP/WAV parity split is preserved."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                pid = doc_id % wrap if wrap else doc_id
                if doc_id % 2 == 0:
                    payload, kind = bmp_bytes(pid), "image"
                else:
                    payload, kind = wav_pcm_bytes(pid), "audio"
                rows.append({"media_id": doc_id, "kind": kind, "payload": payload, "meta": {"src": "decodable"}})
            yield pd.DataFrame(rows, columns=["media_id", "kind", "payload", "meta"]) if rows else pd.DataFrame(
                {c: pd.Series([], dtype="object") for c in ("media_id", "kind", "payload", "meta")}
            )
        drop_zip_finders()

    from ..deploy import ensure_shipped

    ensure_shipped(documents.sparkSession)
    return documents.select("doc_id").mapInPandas(process, MEDIA_SCHEMA)


def _decode_wav_pcm(payload: bytes):
    """(n_samples, peak, checksum) from a 16-bit mono/stereo PCM WAV.
    Real chunk walk: RIFF header, then (id, size) chunks; fmt must arrive
    before data; only audio_format=1 (PCM) at 16 bits is supported."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise NotImplementedError("not a RIFF/WAVE container")
    i, fmt = 12, None
    while i + 8 <= len(payload):
        cid = payload[i : i + 4]
        sz = struct.unpack("<I", payload[i + 4 : i + 8])[0]
        body = payload[i + 8 : i + 8 + sz]
        if cid == b"fmt " and sz >= 16:
            audio_fmt, _ch, _rate = struct.unpack("<HHI", body[:8])
            bits = struct.unpack("<H", body[14:16])[0]
            fmt = (audio_fmt, bits)
        elif cid == b"data":
            if fmt is None or fmt != (1, 16):
                raise NotImplementedError("only 16-bit PCM WAV data is decodable here")
            n = len(body) // 2
            samples = struct.unpack(f"<{n}h", body[: n * 2])
            return n, max((abs(s) for s in samples), default=0), sum(abs(s) for s in samples)
        i += 8 + sz + (sz & 1)  # chunks are word-aligned
    raise NotImplementedError("WAV without a data chunk")


def _decode_bmp(payload: bytes):
    """(n_pixels, peak_byte, checksum) from a 24-bit uncompressed BMP.
    Parses the real header (pixel offset, dims, bpp) and walks padded rows."""
    if payload[:2] != b"BM":
        raise NotImplementedError("not a BMP")
    offset = struct.unpack("<I", payload[10:14])[0]
    w, h = struct.unpack("<ii", payload[18:26])
    bpp = struct.unpack("<H", payload[28:30])[0]
    compression = struct.unpack("<I", payload[30:34])[0]
    if bpp != 24 or compression != 0:
        raise NotImplementedError("only uncompressed 24-bit BMP is decodable here")
    h_abs = abs(h)
    stride = (w * 3 + 3) // 4 * 4
    peak, checksum = 0, 0
    for y in range(h_abs):
        row = payload[offset + y * stride : offset + y * stride + w * 3]
        if len(row) < w * 3:
            raise NotImplementedError("truncated BMP pixel data")
        m = max(row)
        peak = m if m > peak else peak
        checksum += sum(row)
    return w * h_abs, peak, checksum


DECODE_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_units", LongType()),
        StructField("peak", LongType()),
        StructField("checksum", LongType()),
    ]
)


def decode_features(media: DataFrame) -> DataFrame:
    """REAL decode → integer features per payload: WAV PCM (n_samples,
    peak |sample|, sum |sample|), BMP (n_pixels, peak byte, byte sum),
    PNG (zlib inflate + five-filter reconstruction) and GIF (real LZW)
    — pixel formats report (n_pixels, peak channel byte, channel-byte
    sum); any other format raises NotImplementedError (fail fast — no
    silent skips). Integer features so any engine reproduces them
    exactly. Arrow-batched; binary dies inside the stage (only 5 narrow
    columns come out)."""
    from ..deploy import ensure_shipped

    ensure_shipped(media.sparkSession)

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        from .codecs import PNG_SIG, decode_gif, decode_png

        cols = [f.name for f in DECODE_FEATURES_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                payload = bytes(payload)
                if payload[:4] == b"RIFF":
                    fmt = "wav"
                    n, peak, checksum = _decode_wav_pcm(payload)
                elif payload[:2] == b"BM":
                    fmt = "bmp"
                    n, peak, checksum = _decode_bmp(payload)
                elif payload[:8] == PNG_SIG:
                    fmt = "png"
                    w, h, grid = decode_png(payload)
                    n = w * h
                    peak = max(max(r) for r in grid) if grid else 0
                    checksum = sum(sum(r) for r in grid)
                elif payload[:4] == b"GIF8":
                    fmt = "gif"
                    w, h, grid = decode_gif(payload)
                    n = w * h
                    peak = max(max(r) for r in grid) if grid else 0
                    checksum = sum(sum(r) for r in grid)
                else:
                    raise NotImplementedError(
                        f"no stdlib decoder for payload starting {payload[:8]!r}"
                    )
                rows.append({"media_id": int(mid), "format": fmt, "n_units": n, "peak": peak, "checksum": checksum})
            yield pd.DataFrame(rows, columns=cols) if rows else pd.DataFrame(
                {c: pd.Series([], dtype="object") for c in cols}
            )
        drop_zip_finders()

    return media.select("media_id", "payload").mapInPandas(process, DECODE_FEATURES_SCHEMA)


def resize_media_bmp(media: DataFrame, out_w: int = 8, out_h: int = 6) -> DataFrame:
    """REAL image resize: parse each 24-bit BMP's pixel grid, nearest-
    neighbor sample to (out_w, out_h), re-encode a VALID BMP payload.
    NN index: src = (dst * src_dim) // dst_dim, in storage (bottom-up) row
    space on both sides — integer-exact, so an ANSI oracle reproduces the
    resized pixels from the generator formulas. Non-BMP payloads raise
    (fail fast); output schema = MEDIA_SCHEMA, so the result chains into
    decode_features / extract_media_metadata like any media frame."""
    from ..deploy import ensure_shipped

    ensure_shipped(media.sparkSession)

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for pdf in batches:
            rows = []
            for mid, kind, payload, meta in zip(pdf["media_id"], pdf["kind"], pdf["payload"], pdf["meta"]):
                payload = bytes(payload)
                if payload[:2] != b"BM":
                    raise NotImplementedError("resize supports 24-bit BMP only")
                offset = struct.unpack("<I", payload[10:14])[0]
                w, h = struct.unpack("<ii", payload[18:26])
                bpp = struct.unpack("<H", payload[28:30])[0]
                if bpp != 24 or struct.unpack("<I", payload[30:34])[0] != 0:
                    raise NotImplementedError("resize supports uncompressed 24-bit BMP only")
                h_abs = abs(h)
                stride = (w * 3 + 3) // 4 * 4
                grid = [payload[offset + y * stride : offset + y * stride + w * 3] for y in range(h_abs)]
                row_pad = (4 - (out_w * 3) % 4) % 4
                out_rows = []
                for y in range(out_h):
                    sy = (y * h_abs) // out_h
                    src = grid[sy]
                    row = b"".join(
                        src[((x * w) // out_w) * 3 : ((x * w) // out_w) * 3 + 3]
                        for x in range(out_w)
                    )
                    out_rows.append(row + b"\x00" * row_pad)
                pix = b"".join(out_rows)
                out_payload = (
                    b"BM" + struct.pack("<IHHI", 14 + 40 + len(pix), 0, 0, 54)
                    + struct.pack("<IiiHHIIiiII", 40, out_w, out_h, 1, 24, 0, len(pix), 2835, 2835, 0, 0)
                    + pix
                )
                rows.append({"media_id": int(mid), "kind": kind, "payload": out_payload,
                             "meta": dict(meta) if meta is not None else None})
            yield pd.DataFrame(rows, columns=["media_id", "kind", "payload", "meta"]) if rows else pd.DataFrame(
                {c: pd.Series([], dtype="object") for c in ("media_id", "kind", "payload", "meta")}
            )
        drop_zip_finders()

    return media.select("media_id", "kind", "payload", "meta").mapInPandas(process, MEDIA_SCHEMA)


AUDIO_ENERGY_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("n_samples", LongType()),
        StructField("peak", LongType()),
        StructField("energy", LongType()),
    ]
)


def _wav_samples(payload: bytes):
    """The raw 16-bit sample sequence from a PCM WAV (same chunk walk as
    _decode_wav_pcm, returning the samples instead of aggregates)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise NotImplementedError("not a RIFF/WAVE container")
    i, fmt = 12, None
    while i + 8 <= len(payload):
        cid = payload[i : i + 4]
        sz = struct.unpack("<I", payload[i + 4 : i + 8])[0]
        body = payload[i + 8 : i + 8 + sz]
        if cid == b"fmt " and sz >= 16:
            audio_fmt = struct.unpack("<H", body[:2])[0]
            bits = struct.unpack("<H", body[14:16])[0]
            fmt = (audio_fmt, bits)
        elif cid == b"data":
            if fmt != (1, 16):
                raise NotImplementedError("only 16-bit PCM WAV data is decodable here")
            n = len(body) // 2
            return struct.unpack(f"<{n}h", body[: n * 2])
        i += 8 + sz + (sz & 1)
    raise NotImplementedError("WAV without a data chunk")


def audio_frame_energy(media: DataFrame, frame: int = 25) -> DataFrame:
    """REAL audio feature extraction: decode each WAV-PCM payload and emit
    per-frame integer energy — (media_id, frame_idx, n_samples, peak,
    energy = Σ sample²) over fixed ``frame``-sample windows (the last
    frame may be short). This is the silence-detection / loudness-
    normalization primitive of an audio curation pipeline, kept in exact
    integer arithmetic (16-bit samples → Σs² ≤ frame·2³⁰, far inside
    int64) so a closed-form SQL oracle reproduces every cell.

    Scale shape: decode happens inside Arrow batches; the payload dies
    in-stage and only 5 narrow integer columns emerge — the frame explode
    multiplies rows BEFORE the shuffle-free projection, never the binary.
    Non-WAV payloads raise (fail fast, consistent with decode_features)."""
    from ..deploy import ensure_shipped

    ensure_shipped(media.sparkSession)

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        cols = [f.name for f in AUDIO_ENERGY_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                samples = _wav_samples(bytes(payload))
                for fi in range(0, (len(samples) + frame - 1) // frame):
                    chunk = samples[fi * frame : (fi + 1) * frame]
                    rows.append(
                        {
                            "media_id": int(mid),
                            "frame_idx": fi,
                            "n_samples": len(chunk),
                            "peak": max((abs(s) for s in chunk), default=0),
                            "energy": sum(s * s for s in chunk),
                        }
                    )
            yield pd.DataFrame(rows, columns=cols) if rows else pd.DataFrame(
                {c: pd.Series([], dtype="object") for c in cols}
            )
        drop_zip_finders()

    return media.select("media_id", "payload").mapInPandas(process, AUDIO_ENERGY_SCHEMA)


PATCH_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("px", LongType()),
        StructField("py", LongType()),
        StructField("patch_w", LongType()),
        StructField("patch_h", LongType()),
        StructField("checksum", LongType()),
    ]
)


def image_patches(media: DataFrame, patch: int = 2) -> DataFrame:
    """ViT-style patch extraction over REAL BMP decode: each 24-bit BMP's
    pixel grid is tiled into ``patch``×``patch`` blocks (edge blocks may
    be narrower/shorter — nothing is dropped or padded; the plan reports
    actual block dims) and each block emits the exact integer sum of its
    channel bytes — the patch-embedding precursor a vision pipeline
    computes before projection. Coordinates are in storage (bottom-up)
    row space, the same convention resize_media_bmp documents, so the
    closed-form oracle reproduces every checksum from the generator
    formulas.

    Scale shape: decode + tiling inside the Arrow batch; the payload dies
    in-stage and only 6 narrow integer columns emerge (patch explosion
    multiplies ROWS, never bytes). Non-BMP payloads raise — fail fast,
    like every real decode path here."""
    from ..deploy import ensure_shipped

    ensure_shipped(media.sparkSession)

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        cols = [f.name for f in PATCH_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                payload = bytes(payload)
                if payload[:2] != b"BM":
                    raise NotImplementedError("image_patches supports 24-bit BMP only")
                offset = struct.unpack("<I", payload[10:14])[0]
                w, h = struct.unpack("<ii", payload[18:26])
                h = abs(h)
                stride = (w * 3 + 3) // 4 * 4
                grid = [
                    payload[offset + y * stride : offset + y * stride + w * 3]
                    for y in range(h)
                ]
                for py in range(0, (h + patch - 1) // patch):
                    for px in range(0, (w + patch - 1) // patch):
                        x0, x1 = px * patch, min((px + 1) * patch, w)
                        y0, y1 = py * patch, min((py + 1) * patch, h)
                        checksum = sum(
                            sum(grid[y][x0 * 3 : x1 * 3]) for y in range(y0, y1)
                        )
                        rows.append(
                            {
                                "media_id": int(mid),
                                "px": px,
                                "py": py,
                                "patch_w": x1 - x0,
                                "patch_h": y1 - y0,
                                "checksum": checksum,
                            }
                        )
            yield pd.DataFrame(rows, columns=cols) if rows else pd.DataFrame(
                {c: pd.Series([], dtype="object") for c in cols}
            )
        drop_zip_finders()

    return media.select("media_id", "payload").mapInPandas(process, PATCH_SCHEMA)


DHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("b0", LongType(), False),
        StructField("b1", LongType(), False),
        StructField("b2", LongType(), False),
        StructField("b3", LongType(), False),
    ]
)


def dhash_signatures(media: DataFrame) -> DataFrame:
    """Perceptual difference-hash (dHash) of each 24-bit BMP through the
    REAL decode path: parse the pixel grid, nearest-neighbor sample a
    9×8 gray grid (src = (dst·src_dim) // dst_dim — the resize_media_bmp
    convention), gray = byte sum of the three channels (no division —
    stays integer), bit(gx, gy) = gray(gx+1, gy) > gray(gx, gy) over the
    8×8 horizontal gradients, packed row-major into four 16-bit band
    integers (b0..b3). Everything after the struct walk is integer
    arithmetic, so an ANSI oracle reproduces the signature closed-form
    from the generator formulas — the image-side analogue of the text
    SimHash, with the same banded-pair downstream.

    Binary payloads die inside this stage; five narrow longs come out.
    """
    from ..deploy import ensure_shipped

    ensure_shipped(media.sparkSession)

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        cols = [f.name for f in DHASH_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                payload = bytes(payload)
                if payload[:2] != b"BM":
                    raise NotImplementedError("dhash supports 24-bit BMP only")
                offset = struct.unpack("<I", payload[10:14])[0]
                w, h = struct.unpack("<ii", payload[18:26])
                bpp = struct.unpack("<H", payload[28:30])[0]
                if bpp != 24 or struct.unpack("<I", payload[30:34])[0] != 0:
                    raise NotImplementedError("dhash supports uncompressed 24-bit BMP only")
                h_abs = abs(h)
                stride = (w * 3 + 3) // 4 * 4
                def gray(gx: int, gy: int) -> int:
                    sx = (gx * w) // 9
                    sy = (gy * h_abs) // 8
                    p = offset + sy * stride + sx * 3
                    return payload[p] + payload[p + 1] + payload[p + 2]
                bands = [0, 0, 0, 0]
                for gy in range(8):
                    for gx in range(8):
                        if gray(gx + 1, gy) > gray(gx, gy):
                            i = gy * 8 + gx
                            bands[i // 16] |= 1 << (i % 16)
                rows.append({"media_id": int(mid), "b0": bands[0], "b1": bands[1],
                             "b2": bands[2], "b3": bands[3]})
            yield pd.DataFrame(rows, columns=cols) if rows else pd.DataFrame(
                {c: pd.Series([], dtype="object") for c in cols}
            )
        drop_zip_finders()

    return media.select("media_id", "payload").mapInPandas(process, DHASH_SCHEMA)


def dhash_pairs(sigs: DataFrame, max_hamming: int = 6) -> DataFrame:
    """Banded near-dup candidate generation + exact-Hamming verify over
    dHash signatures: two images are candidates iff they agree EXACTLY
    on at least one of the four 16-bit bands (an equi-join on
    (band_idx, band_val) — never all-pairs, the SimHash-pairs
    discipline), then the full 64-bit Hamming distance is computed with
    bit_count(xor) per band and pairs above ``max_hamming`` are
    dropped. A true dup (same pixels) collides on every band and
    verifies at distance 0; the banding guarantees recall for any pair
    with ≤ 3 bit flips landing outside one band (pigeonhole: 4 bands,
    so distance ≤ 3 always shares a clean band).
    """
    stacked = sigs.select(
        "media_id",
        F.expr(
            "stack(4, 0, b0, 1, b1, 2, b2, 3, b3) as (band_idx, band_val)"
        ),
    )
    x, y = stacked.alias("x"), stacked.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_val") == F.col("y.band_val"))
            & (F.col("x.media_id") < F.col("y.media_id")),
        )
        .select(
            F.col("x.media_id").alias("media_a"),
            F.col("y.media_id").alias("media_b"),
        )
        .distinct()
    )
    sa = sigs.select(
        F.col("media_id").alias("media_a"),
        *[F.col(c).alias(f"{c}_a") for c in ("b0", "b1", "b2", "b3")],
    )
    sb = sigs.select(
        F.col("media_id").alias("media_b"),
        *[F.col(c).alias(f"{c}_b") for c in ("b0", "b1", "b2", "b3")],
    )
    ham = sum(
        F.bit_count(F.expr(f"int(b{k}_a) ^ int(b{k}_b)")) for k in range(4)
    )
    return (
        cand.join(sa, "media_a")
        .join(sb, "media_b")
        .withColumn("hamming", ham.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("media_a", "media_b", "hamming")
    )


def audio_fingerprint_pairs(media: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Audio exact-dedup via a decoded-stream fingerprint through the
    REAL WAV decode path — the audio sibling of the image dHash's
    banded downstream: per-track 2-sample frame energies
    (``audio_frame_energy``, actual RIFF chunk walk), bit(i) =
    (energy(i) div 256) mod 2 over the first 32 frames (the energy LSB
    band — sensitive to the decoded samples, so two tracks collide iff
    their PCM streams agree, regardless of container/chunk layout),
    packed into two 16-bit bands; candidates collide on an exact band
    (equi-join, never all-pairs) and verify with bit_count Hamming ≤
    ``max_hamming``. A delta-sign (Haitsma-Kalker-shaped) bit
    derivation was tried first and REJECTED by the data: the synthetic
    ramp waveform made every track's delta signs identical (all
    C(250,2) pairs matched at sf0.01) — loudness-trend bits need real
    audio texture; the LSB band discriminates on the actual decoded
    values, which is the dedup contract this corpus can express.

    Tracks shorter than 32 frames (64 samples) are skipped — a partial
    fingerprint would alias unrelated tracks.
    """
    fe = audio_frame_energy(media, frame=2)
    bits = (
        fe.filter((F.col("frame_idx") <= 31) & (F.col("n_samples") == 2))
        .select(
            "media_id",
            F.col("frame_idx").alias("i"),
            F.expr("(energy div 256) % 2").cast("long").alias("b"),
        )
    )
    sigs = (
        bits.groupBy("media_id")
        .agg(
            F.count(F.lit(1)).alias("_nb"),
            F.sum(
                F.expr("case when i < 16 then shiftleft(b, cast(i as int)) else 0 end")
            ).cast("long").alias("b0"),
            F.sum(
                F.expr("case when i >= 16 then shiftleft(b, cast(i - 16 as int)) else 0 end")
            ).cast("long").alias("b1"),
        )
        .filter(F.col("_nb") == 32)
        .select("media_id", "b0", "b1")
    )
    stacked = sigs.select(
        "media_id", F.expr("stack(2, 0, b0, 1, b1) as (band_idx, band_val)")
    )
    x, y = stacked.alias("x"), stacked.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_val") == F.col("y.band_val"))
            & (F.col("x.media_id") < F.col("y.media_id")),
        )
        .select(
            F.col("x.media_id").alias("media_a"),
            F.col("y.media_id").alias("media_b"),
        )
        .distinct()
    )
    sa = sigs.select(
        F.col("media_id").alias("media_a"),
        F.col("b0").alias("b0_a"),
        F.col("b1").alias("b1_a"),
    )
    sb = sigs.select(
        F.col("media_id").alias("media_b"),
        F.col("b0").alias("b0_b"),
        F.col("b1").alias("b1_b"),
    )
    ham = F.bit_count(F.expr("int(b0_a) ^ int(b0_b)")) + F.bit_count(
        F.expr("int(b1_a) ^ int(b1_b)")
    )
    return (
        cand.join(sa, "media_a")
        .join(sb, "media_b")
        .withColumn("hamming", ham.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("media_a", "media_b", "hamming")
    )


def uniform_frame_plan(
    documents: DataFrame, n_samples: int = 4, chars_per_frame: int = 100
) -> DataFrame:
    """Uniform FRAME-SAMPLING plan for video-like assets — the
    fixed-budget complement of ``frame_sample_plan`` above (that one
    strides every Nth frame, cost ∝ asset length; this one spends
    exactly ``n_samples`` per asset whatever its length) — the
    Spark-side planning half of a frame-extraction pipeline: given
    per-asset frame counts (derived deterministically here as
    len(text) div chars_per_frame + 1, the testdata stand-in for real
    container metadata), emit ``n_samples`` uniformly spaced frame
    indices per asset, idx_j = (j·(n_frames−1)) div (n_samples−1) —
    exact integer spacing, first and last frame always included,
    short assets repeat indices rather than under-sample (the
    downstream decode batch dedups). The decode step itself stays a
    stub by design (no codec libs in this container — see the module
    docstring); the PLAN is the part that must be exact, distributed,
    and joinable back to the binary column.

    Output: (doc_id, frame_j, frame_idx, n_frames), n_samples rows
    per asset.

    Scale shape: pure per-row sequence explode — no shuffle at all;
    the plan co-partitions with the asset table for the decode join.
    """
    n_frames = F.expr(
        f"length(coalesce(text, '')) div {int(chars_per_frame)} + 1"
    )
    k = int(n_samples)
    return (
        documents.select(
            "doc_id", n_frames.cast("long").alias("n_frames")
        )
        .select(
            "doc_id",
            "n_frames",
            F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("frame_j"),
        )
        .select(
            "doc_id",
            F.col("frame_j").cast("long").alias("frame_j"),
            F.expr(
                f"CAST((frame_j * (n_frames - 1)) div {k - 1} AS BIGINT)"
            ).alias("frame_idx"),
            "n_frames",
        )
    )
