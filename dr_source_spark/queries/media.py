"""Multimodal (image, audio, video) feature queries."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..training.codecs import synth_compressed_media
from ..training.multimodal import (
    audio_chunk_plan,
    audio_fingerprint_pairs,
    audio_frame_energy,
    decode_features,
    dhash_pairs,
    dhash_signatures,
    extract_media_metadata,
    image_patches,
    resize_media_bmp,
    synth_decodable_media,
    synth_media_corpus,
    uniform_frame_plan,
)
from ._common import _t


def media_metadata(spark, sf_dir):
    # multimodal plumbing end-to-end: deterministic binary media synthesized
    # from documents (real PNG/GIF/WAV headers), Arrow-batched magic-byte
    # metadata extraction; every projected column is SQL-derivable from
    # doc_id/text (the blob sha256 column is dropped — constructing packed
    # binary headers in SQL is the one non-portable piece)
    media = synth_media_corpus(_t(spark, sf_dir, "documents"))
    return extract_media_metadata(media).drop("payload_sha256")


MEDIA_METADATA_SQL = """
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 3 = 2 THEN 'audio' ELSE 'image' END AS kind,
       CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'gif' ELSE 'wav' END AS format,
       CASE WHEN doc_id % 3 = 2 THEN NULL ELSE CAST(16 + doc_id % 64 AS INT) END AS width,
       CASE WHEN doc_id % 3 = 2 THEN NULL ELSE CAST(16 + (doc_id // 2) % 48 AS INT) END AS height,
       CASE WHEN doc_id % 3 = 2 THEN CAST(8000 + (doc_id % 5) * 4000 AS INT) ELSE NULL END AS sample_rate,
       CAST(CASE doc_id % 3 WHEN 0 THEN 24 WHEN 1 THEN 10 ELSE 28 END
            + least(octet_length(encode(text)), 256) AS BIGINT) AS n_bytes
FROM documents
"""


def media_decode_features(spark, sf_dir):
    # REAL media decode (round 4): valid WAV-PCM / BMP payloads built from
    # closed-form integer formulas, decoded by actual chunk/header parsers
    # (struct-only — no codec lib), features as exact integers
    docs = _t(spark, sf_dir, "documents")
    return decode_features(synth_decodable_media(docs))


MEDIA_DECODE_SQL = """
WITH wav AS (
  SELECT d.doc_id AS media_id, 'wav' AS format,
         CAST(100 + d.doc_id % 50 AS BIGINT) AS n_units,
         CAST(max(abs(((d.doc_id * 31 + t.i * 17) % 65536) - 32768)) AS BIGINT) AS peak,
         CAST(sum(abs(((d.doc_id * 31 + t.i * 17) % 65536) - 32768)) AS BIGINT) AS checksum
  FROM documents d
  CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(99 + d.doc_id % 50 AS INT))) AS i) t
  WHERE d.doc_id % 2 = 1
  GROUP BY d.doc_id
),
bmp AS (
  SELECT d.doc_id AS media_id, 'bmp' AS format,
         CAST((4 + d.doc_id % 5) * (3 + d.doc_id % 4) AS BIGINT) AS n_units,
         CAST(max(greatest((d.doc_id + x.x * 7 + y.y * 13) % 256,
                           (d.doc_id * 3 + x.x * 11 + y.y * 5) % 256,
                           (d.doc_id * 5 + x.x + y.y * 17) % 256)) AS BIGINT) AS peak,
         CAST(sum((d.doc_id + x.x * 7 + y.y * 13) % 256
                + (d.doc_id * 3 + x.x * 11 + y.y * 5) % 256
                + (d.doc_id * 5 + x.x + y.y * 17) % 256) AS BIGINT) AS checksum
  FROM documents d
  CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(3 + d.doc_id % 5 AS INT))) AS x) x
  CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(2 + d.doc_id % 4 AS INT))) AS y) y
  WHERE d.doc_id % 2 = 0
  GROUP BY d.doc_id
)
SELECT * FROM wav UNION ALL SELECT * FROM bmp
"""


def media_codec_features(spark, sf_dir):
    # REAL compressed-image decode (round 5): valid PNG (stdlib-zlib
    # inflate + all five scanline filter predictors) and GIF87a (hand
    # rolled variable-width LZW) payloads built from closed-form pixel
    # formulas, decoded by training/codecs.py, features as exact integers
    docs = _t(spark, sf_dir, "documents")
    return decode_features(synth_compressed_media(docs))


# Oracle: pixel formulas from codecs.png_bytes / gif_bytes + gif_palette,
# never touching the binary. Even doc_id -> PNG: w=4+id%5, h=5+id%5,
# r=(id*7+3x+11y)%256 g=(id*11+5x+3y)%256 b=(id*13+9x+7y)%256. Odd -> GIF:
# w=5+id%4, h=4+id%3, palette[(id+3x+5y)%256] with
# palette(i)=((7i+1)%256,(11i+3)%256,(13i+5)%256).
MEDIA_CODEC_SQL = """
WITH png AS (
  SELECT d.doc_id AS media_id, 'png' AS format,
         CAST((4 + d.doc_id % 5) * (5 + d.doc_id % 5) AS BIGINT) AS n_units,
         CAST(max(greatest((d.doc_id * 7 + x.x * 3 + y.y * 11) % 256,
                           (d.doc_id * 11 + x.x * 5 + y.y * 3) % 256,
                           (d.doc_id * 13 + x.x * 9 + y.y * 7) % 256)) AS BIGINT) AS peak,
         CAST(sum((d.doc_id * 7 + x.x * 3 + y.y * 11) % 256
                + (d.doc_id * 11 + x.x * 5 + y.y * 3) % 256
                + (d.doc_id * 13 + x.x * 9 + y.y * 7) % 256) AS BIGINT) AS checksum
  FROM documents d
  CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(3 + d.doc_id % 5 AS INT))) AS x) x
  CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(4 + d.doc_id % 5 AS INT))) AS y) y
  WHERE d.doc_id % 2 = 0
  GROUP BY d.doc_id
),
gif AS (
  SELECT d.doc_id AS media_id, 'gif' AS format,
         CAST((5 + d.doc_id % 4) * (4 + d.doc_id % 3) AS BIGINT) AS n_units,
         CAST(max(greatest((((d.doc_id + 3 * x.x + 5 * y.y) % 256) * 7 + 1) % 256,
                           (((d.doc_id + 3 * x.x + 5 * y.y) % 256) * 11 + 3) % 256,
                           (((d.doc_id + 3 * x.x + 5 * y.y) % 256) * 13 + 5) % 256)) AS BIGINT) AS peak,
         CAST(sum((((d.doc_id + 3 * x.x + 5 * y.y) % 256) * 7 + 1) % 256
                + (((d.doc_id + 3 * x.x + 5 * y.y) % 256) * 11 + 3) % 256
                + (((d.doc_id + 3 * x.x + 5 * y.y) % 256) * 13 + 5) % 256) AS BIGINT) AS checksum
  FROM documents d
  CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(4 + d.doc_id % 4 AS INT))) AS x) x
  CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(3 + d.doc_id % 3 AS INT))) AS y) y
  WHERE d.doc_id % 2 = 1
  GROUP BY d.doc_id
)
SELECT * FROM png UNION ALL SELECT * FROM gif
"""


def media_audio_energy(spark, sf_dir):
    # REAL audio feature extraction: WAV-PCM payloads decoded and windowed
    # into 25-sample frames with exact-integer energy (sum of squares) and
    # peak — the silence-detection / loudness primitive
    # (training/multimodal.py::audio_frame_energy)
    docs = _t(spark, sf_dir, "documents")
    audio = synth_decodable_media(docs).filter(F.col("kind") == "audio")
    return audio_frame_energy(audio, frame=25)


MEDIA_AUDIO_ENERGY_SQL = """
WITH s AS (
  SELECT d.doc_id AS media_id, t.i // 25 AS frame_idx,
         ((d.doc_id * 31 + t.i * 17) % 65536) - 32768 AS v
  FROM documents d
  CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(99 + d.doc_id % 50 AS INT))) AS i) t
  WHERE d.doc_id % 2 = 1
)
SELECT media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST(count(*) AS BIGINT) AS n_samples,
       CAST(max(abs(v)) AS BIGINT) AS peak,
       CAST(sum(v * v) AS BIGINT) AS energy
FROM s GROUP BY media_id, frame_idx
"""


def media_image_patches(spark, sf_dir):
    # ViT-style patch extraction: REAL BMP pixel-grid decode tiled into
    # 2x2 blocks with exact integer channel sums (edge blocks keep their
    # true dims) — training/multimodal.py::image_patches
    docs = _t(spark, sf_dir, "documents")
    imgs = synth_decodable_media(docs).filter(F.col("kind") == "image")
    return image_patches(imgs, patch=2)


MEDIA_PATCHES_SQL = """
WITH px AS (
  SELECT d.doc_id AS media_id,
         x.x // 2 AS px, y.y // 2 AS py, x.x AS xx, y.y AS yy,
         (d.doc_id + x.x * 7 + y.y * 13) % 256
       + (d.doc_id * 3 + x.x * 11 + y.y * 5) % 256
       + (d.doc_id * 5 + x.x + y.y * 17) % 256 AS s
  FROM documents d
  CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(3 + d.doc_id % 5 AS INT))) AS x) x
  CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(2 + d.doc_id % 4 AS INT))) AS y) y
  WHERE d.doc_id % 2 = 0
)
SELECT media_id, CAST(px AS BIGINT) AS px, CAST(py AS BIGINT) AS py,
       CAST(count(DISTINCT xx) AS BIGINT) AS patch_w,
       CAST(count(DISTINCT yy) AS BIGINT) AS patch_h,
       CAST(sum(s) AS BIGINT) AS checksum
FROM px GROUP BY media_id, px, py
"""


def media_resize_features(spark, sf_dir):
    # REAL resize -> REAL decode: BMP payloads nearest-neighbor resized to
    # 8x6 (payload-level re-encode), then decoded back to integer features;
    # the oracle reproduces the resized pixels from the generator formulas
    # via the same integer NN index (src = dst * src_dim // dst_dim)
    docs = _t(spark, sf_dir, "documents")
    media = synth_decodable_media(docs).filter(F.col("kind") == "image")
    return decode_features(resize_media_bmp(media, out_w=8, out_h=6))


MEDIA_RESIZE_SQL = """
SELECT d.doc_id AS media_id, 'bmp' AS format,
       CAST(48 AS BIGINT) AS n_units,
       CAST(max(greatest(
           (d.doc_id + ((x.x * (4 + d.doc_id % 5)) // 8) * 7 + ((y.y * (3 + d.doc_id % 4)) // 6) * 13) % 256,
           (d.doc_id * 3 + ((x.x * (4 + d.doc_id % 5)) // 8) * 11 + ((y.y * (3 + d.doc_id % 4)) // 6) * 5) % 256,
           (d.doc_id * 5 + ((x.x * (4 + d.doc_id % 5)) // 8) + ((y.y * (3 + d.doc_id % 4)) // 6) * 17) % 256)) AS BIGINT) AS peak,
       CAST(sum(
           (d.doc_id + ((x.x * (4 + d.doc_id % 5)) // 8) * 7 + ((y.y * (3 + d.doc_id % 4)) // 6) * 13) % 256
         + (d.doc_id * 3 + ((x.x * (4 + d.doc_id % 5)) // 8) * 11 + ((y.y * (3 + d.doc_id % 4)) // 6) * 5) % 256
         + (d.doc_id * 5 + ((x.x * (4 + d.doc_id % 5)) // 8) + ((y.y * (3 + d.doc_id % 4)) // 6) * 17) % 256) AS BIGINT) AS checksum
FROM documents d
CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS x) x
CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS y) y
WHERE d.doc_id % 2 = 0
GROUP BY d.doc_id
"""


def media_chunk_plan(spark, sf_dir):
    # metadata-only audio chunk plan (explode shape; decode stays stubbed)
    return audio_chunk_plan(synth_media_corpus(_t(spark, sf_dir, "documents")))


MEDIA_CHUNK_SQL = """
WITH meta AS (
  SELECT doc_id AS media_id,
         CAST(8000 + (doc_id % 5) * 4000 AS BIGINT) AS sample_rate,
         CAST(28 + least(octet_length(encode(text)), 256) AS BIGINT) AS n_bytes
  FROM documents WHERE doc_id % 3 = 2
), chunks AS (
  SELECT media_id, sample_rate,
         unnest(range(0, greatest(n_bytes // (2 * sample_rate) + 1, 1))) AS chunk_idx
  FROM meta
)
SELECT media_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(chunk_idx * sample_rate AS BIGINT) AS start_sample, sample_rate
FROM chunks
"""


def media_dhash_pairs(spark, sf_dir):
    # Image near-dup via perceptual dHash through the REAL BMP decode
    # path (training/multimodal.py::dhash_signatures/dhash_pairs):
    # 9×8 nearest-neighbor gray grid → 64 gradient bits → four 16-bit
    # bands → banded candidates → exact bit_count Hamming verify. The
    # corpus plants exact duplicates (payload from doc_id % 160, even
    # wrap preserves the BMP/WAV parity split) that the decode must
    # recover at distance 0.
    media = synth_decodable_media(_t(spark, sf_dir, "documents"), wrap=160)
    return dhash_pairs(
        dhash_signatures(media.filter(F.col("kind") == "image")), max_hamming=6
    )


def media_dhash_sql() -> str:
    def gray(sx: str, sy: str) -> str:
        return (
            f"((pid + ({sx}) * 7 + ({sy}) * 13) % 256"
            f" + (3 * pid + ({sx}) * 11 + ({sy}) * 5) % 256"
            f" + (5 * pid + ({sx}) + ({sy}) * 17) % 256)"
        )

    sy = "(gy * h) // 8"
    return f"""
WITH d AS (
  SELECT doc_id AS mid, doc_id % 160 AS pid,
         4 + (doc_id % 160) % 5 AS w, 3 + (doc_id % 160) % 4 AS h
  FROM documents WHERE doc_id % 2 = 0),
bits AS (
  SELECT mid, (gy * 8 + gx) // 16 AS band_idx, (gy * 8 + gx) % 16 AS pos,
         CASE WHEN {gray("((gx + 1) * w) // 9", sy)}
                 > {gray("(gx * w) // 9", sy)} THEN 1 ELSE 0 END AS bit
  FROM d
  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS gx) gxs
  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS gy) gys),
sig AS (
  SELECT mid,
         sum(CASE WHEN band_idx = 0 THEN bit << pos ELSE 0 END) AS b0,
         sum(CASE WHEN band_idx = 1 THEN bit << pos ELSE 0 END) AS b1,
         sum(CASE WHEN band_idx = 2 THEN bit << pos ELSE 0 END) AS b2,
         sum(CASE WHEN band_idx = 3 THEN bit << pos ELSE 0 END) AS b3
  FROM bits GROUP BY mid),
st AS (
  SELECT mid, 0 AS band_idx, b0 AS band_val FROM sig
  UNION ALL SELECT mid, 1, b1 FROM sig
  UNION ALL SELECT mid, 2, b2 FROM sig
  UNION ALL SELECT mid, 3, b3 FROM sig),
cand AS (
  SELECT DISTINCT x.mid AS media_a, y.mid AS media_b
  FROM st x JOIN st y
    ON x.band_idx = y.band_idx AND x.band_val = y.band_val AND x.mid < y.mid)
SELECT media_a, media_b,
       CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
          + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) AS BIGINT)
         AS hamming
FROM cand
JOIN sig a ON media_a = a.mid
JOIN sig b ON media_b = b.mid
WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
    + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 6
"""


def media_audio_fp_pairs(spark, sf_dir):
    # Audio near-dup via the energy-delta fingerprint through the REAL
    # WAV decode path (training/multimodal.py::audio_fingerprint_pairs)
    # — the audio sibling of media_dhash_pairs: 2-sample frame energies,
    # 32 energy-LSB bits (a delta-sign derivation degenerated on the
    # ramp-shaped synthetic waveform and was rejected — all pairs
    # matched), two 16-bit bands, banded candidates + exact Hamming
    # <= 3. Same wrap=160 planted-duplicate corpus (odd ids are WAV),
    # so the decode must recover the duplicates at distance 0.
    media = synth_decodable_media(_t(spark, sf_dir, "documents"), wrap=160)
    return audio_fingerprint_pairs(
        media.filter(F.col("kind") == "audio"), max_hamming=3
    )


MEDIA_AUDIO_FP_SQL = """
WITH s AS (
  SELECT d.doc_id AS mid, t.i // 2 AS fi,
         ((d.doc_id % 160) * 31 + t.i * 17) % 65536 - 32768 AS v
  FROM documents d
  CROSS JOIN LATERAL (
    SELECT unnest(generate_series(0, CAST(99 + (d.doc_id % 160) % 50 AS INT))) AS i) t
  WHERE d.doc_id % 2 = 1),
fe AS (SELECT mid, fi, sum(v * v) AS e, count(*) AS ns
       FROM s GROUP BY mid, fi),
bt AS (
  SELECT mid, fi, (e // 256) % 2 AS b
  FROM fe WHERE fi <= 31 AND ns = 2),
sig AS (
  SELECT mid,
         sum(CASE WHEN fi < 16 THEN b << fi ELSE 0 END) AS b0,
         sum(CASE WHEN fi >= 16 THEN b << (fi - 16) ELSE 0 END) AS b1
  FROM bt GROUP BY mid HAVING count(*) = 32),
st AS (
  SELECT mid, 0 AS band_idx, b0 AS band_val FROM sig
  UNION ALL SELECT mid, 1, b1 FROM sig),
cand AS (
  SELECT DISTINCT x.mid AS media_a, y.mid AS media_b
  FROM st x JOIN st y
    ON x.band_idx = y.band_idx AND x.band_val = y.band_val AND x.mid < y.mid)
SELECT media_a, media_b,
       CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1)) AS BIGINT)
         AS hamming
FROM cand
JOIN sig a ON media_a = a.mid
JOIN sig b ON media_b = b.mid
WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1)) <= 3
"""


def media_frame_plan(spark, sf_dir):
    # uniform frame-sampling plan for video-like assets
    # (training/multimodal.py::uniform_frame_plan): per asset, 4
    # uniformly spaced frame indices over a deterministically derived
    # frame count (len div 100 + 1 — the testdata stand-in for real
    # container metadata), idx = (j·(n−1)) div 3, first and last
    # frame always in. The exact, shuffle-free planning half of the
    # decode pipeline (decode itself stays a documented stub — no
    # codec libs in this container).
    return uniform_frame_plan(_t(spark, sf_dir, "documents"))


FRAME_PLAN_SQL = """
SELECT doc_id, CAST(u.j AS BIGINT) AS frame_j,
       CAST((u.j * (n_frames - 1)) // 3 AS BIGINT) AS frame_idx,
       n_frames
FROM (SELECT doc_id,
             CAST(length(coalesce(text, '')) // 100 + 1 AS BIGINT)
               AS n_frames
      FROM documents),
     unnest(generate_series(0, 3)) u(j)
"""
