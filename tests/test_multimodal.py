"""Multimodal binary-column plumbing: header parsing and the real decoders."""

import struct

import pytest
from pyspark.sql import functions as F

from dr_source_spark.training.multimodal import (
    extract_media_metadata,
    sniff_header,
    synth_media_corpus,
)


@pytest.fixture(scope="module")
def media(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    return synth_media_corpus(docs).cache()


def test_sniff_header_png_jpeg_wav_gif():
    png = b"\x89PNG\r\n\x1a\n" + struct.pack(">II", 13, 0) + struct.pack(">II", 640, 480)
    assert sniff_header(png) == {"format": "png", "width": 640, "height": 480, "sample_rate": None}
    gif = b"GIF89a" + struct.pack("<HH", 320, 200)
    assert sniff_header(gif)["format"] == "gif" and sniff_header(gif)["width"] == 320
    # minimal JPEG with an SOF0 segment
    jpeg = b"\xff\xd8\xff\xe0" + struct.pack(">H", 4) + b"\x00\x00" + b"\xff\xc0" + struct.pack(">H", 8) + b"\x08" + struct.pack(">HH", 100, 200) + b"\x01"
    info = sniff_header(jpeg)
    assert info["format"] == "jpeg" and (info["width"], info["height"]) == (200, 100)
    assert sniff_header(b"garbage")["format"] is None
    assert sniff_header(None)["format"] is None


def test_metadata_extraction_roundtrip(spark, media):
    meta = extract_media_metadata(media)
    rows = {r.media_id: r for r in meta.collect()}
    assert rows
    for mid, r in rows.items():
        if mid % 3 == 0:
            assert r.format == "png" and r.width == 16 + mid % 64
        elif mid % 3 == 1:
            assert r.format == "gif"
        else:
            assert r.format == "wav" and r.sample_rate == 8000 + (mid % 5) * 4000
        assert r.n_bytes > 0 and len(r.payload_sha256) == 64


def test_audio_chunk_plan_integer_chunking(spark):
    from dr_source_spark.training.multimodal import audio_chunk_plan, synth_media_corpus

    docs = spark.createDataFrame(
        [(2, "x" * 300), (5, "short")], "doc_id long, text string"
    )
    plan = audio_chunk_plan(synth_media_corpus(docs)).collect()
    by_media = {}
    for r in plan:
        by_media.setdefault(r.media_id, []).append(r)
    # doc 2: wav, sample_rate 8000+2*4000=16000, n_bytes=28+256=284
    # chunks = 284 // 32000 + 1 = 1
    assert len(by_media[2]) == 1 and by_media[2][0].start_sample == 0
    # doc 5: rate 8000, n_bytes 28+5=33 -> 1 chunk
    assert len(by_media[5]) == 1
    assert all(r.start_sample == r.chunk_idx * r.sample_rate for r in plan)


def test_real_decoders_roundtrip_known_payloads():
    """The struct-walk decoders recover the exact generator formulas —
    WAV via the RIFF chunk walk, BMP via header + padded-row walk."""
    from dr_source_spark.training.multimodal import (
        _decode_bmp, _decode_wav_pcm, bmp_bytes, wav_pcm_bytes,
    )

    for d in (1, 7, 499):
        n, peak, checksum = _decode_wav_pcm(wav_pcm_bytes(d))
        en = 100 + d % 50
        samples = [((d * 31 + i * 17) % 65536) - 32768 for i in range(en)]
        assert (n, peak, checksum) == (en, max(abs(s) for s in samples), sum(abs(s) for s in samples))
    for d in (0, 42, 498):
        n, peak, checksum = _decode_bmp(bmp_bytes(d))
        w, h = 4 + d % 5, 3 + d % 4
        pix = [((d + x * 7 + y * 13) % 256, (d * 3 + x * 11 + y * 5) % 256, (d * 5 + x + y * 17) % 256)
               for y in range(h) for x in range(w)]
        assert n == w * h and peak == max(max(t) for t in pix) and checksum == sum(sum(t) for t in pix)


def test_real_decoders_fail_fast_on_unsupported():
    """Codec-requiring or malformed payloads must raise, never silently
    skip: 8-bit WAV, compressed BMP, PNG, truncation."""
    import struct as _s

    import pytest as _pt

    from dr_source_spark.training.multimodal import _decode_bmp, _decode_wav_pcm, bmp_bytes, wav_pcm_bytes

    with _pt.raises(NotImplementedError):
        _decode_wav_pcm(b"\x89PNG\r\n\x1a\n" + b"\x00" * 20)
    wav8 = bytearray(wav_pcm_bytes(1))
    wav8[34:36] = _s.pack("<H", 8)  # bits-per-sample -> 8
    with _pt.raises(NotImplementedError):
        _decode_wav_pcm(bytes(wav8))
    with _pt.raises(NotImplementedError):
        _decode_wav_pcm(wav_pcm_bytes(1)[:40])  # data chunk never found
    bmp_rle = bytearray(bmp_bytes(0))
    bmp_rle[30:34] = _s.pack("<I", 1)  # BI_RLE8 compression
    with _pt.raises(NotImplementedError):
        _decode_bmp(bytes(bmp_rle))
    with _pt.raises(NotImplementedError):
        _decode_bmp(bmp_bytes(0)[:56])  # truncated pixel rows


def test_decode_features_spark_end_to_end(spark):
    from dr_source_spark.training.multimodal import decode_features, synth_decodable_media

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = decode_features(synth_decodable_media(docs))
    rows = {r.media_id: r for r in out.collect()}
    assert len(rows) == docs.count()
    assert all((r.format == "bmp") == (mid % 2 == 0) for mid, r in rows.items())
    assert all(r.n_units > 0 and r.peak >= 0 and r.checksum >= 0 for r in rows.values())


def test_resize_then_decode_matches_formula_nn(spark):
    """resize_media_bmp re-encodes a real BMP whose decode equals
    formula-side nearest-neighbor sampling of the source pixels."""
    from dr_source_spark.training.multimodal import (
        decode_features, resize_media_bmp, synth_decodable_media,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    media = synth_decodable_media(docs).filter("kind = 'image'")
    out = {r.media_id: r for r in decode_features(resize_media_bmp(media, 8, 6)).collect()}

    def expect(d):
        w, h = 4 + d % 5, 3 + d % 4
        px = lambda x, y: ((d + x * 7 + y * 13) % 256, (d * 3 + x * 11 + y * 5) % 256, (d * 5 + x + y * 17) % 256)
        pix = [px((x * w) // 8, (y * h) // 6) for y in range(6) for x in range(8)]
        return 48, max(max(t) for t in pix), sum(sum(t) for t in pix)

    for mid, r in out.items():
        n, peak, checksum = expect(int(mid))
        assert (r.n_units, r.peak, r.checksum) == (n, peak, checksum), mid


def test_audio_frame_energy_windows_and_integers(spark):
    """Frames tile the sample sequence (last may be short); peak/energy
    match a direct Python decode of the same payload."""
    from dr_source_spark.training.multimodal import (
        _wav_samples,
        audio_frame_energy,
        synth_decodable_media,
        wav_pcm_bytes,
    )
    from pyspark.sql import functions as F

    docs = spark.createDataFrame([(i,) for i in (1, 3, 5, 7)], "doc_id long")
    audio = synth_decodable_media(docs).filter(F.col("kind") == "audio")
    out = audio_frame_energy(audio, frame=25).collect()
    by_media = {}
    for r in out:
        by_media.setdefault(r.media_id, []).append(r)
    for mid, rows in by_media.items():
        samples = _wav_samples(wav_pcm_bytes(mid))
        rows.sort(key=lambda r: r.frame_idx)
        assert [r.frame_idx for r in rows] == list(range(len(rows)))
        assert sum(r.n_samples for r in rows) == len(samples)
        assert rows[-1].n_samples == len(samples) - 25 * (len(rows) - 1)
        for r in rows:
            chunk = samples[r.frame_idx * 25 : r.frame_idx * 25 + 25]
            assert r.peak == max(abs(s) for s in chunk)
            assert r.energy == sum(s * s for s in chunk)


def test_image_patches_tile_exactly(spark):
    """Patches tile the pixel grid: per-image checksum sum equals the
    whole-image decode checksum, edge patches carry true dims."""
    from pyspark.sql import functions as F

    from dr_source_spark.training.multimodal import (
        _decode_bmp,
        bmp_bytes,
        image_patches,
        synth_decodable_media,
    )

    docs = spark.createDataFrame([(i,) for i in (2, 4, 6, 8)], "doc_id long")
    imgs = synth_decodable_media(docs).filter(F.col("kind") == "image")
    out = image_patches(imgs, patch=2).collect()
    by_img = {}
    for r in out:
        by_img.setdefault(r.media_id, []).append(r)
    for mid, rows in by_img.items():
        n_px, _, checksum = _decode_bmp(bmp_bytes(mid))
        assert sum(r.checksum for r in rows) == checksum
        assert sum(r.patch_w * r.patch_h for r in rows) == n_px
        w = 4 + mid % 5
        h = 3 + mid % 4
        assert max(r.px for r in rows) == (w + 1) // 2 - 1
        assert max(r.py for r in rows) == (h + 1) // 2 - 1
        # edge patches: width/height never exceed the patch or the image
        assert all(1 <= r.patch_w <= 2 and 1 <= r.patch_h <= 2 for r in rows)


def test_png_roundtrip_all_filters_closed_form():
    """decode_png reconstructs the closed-form pixel formulas exactly for
    images whose rows cycle through ALL FIVE scanline filters (png_bytes
    uses filter y % 5 and h >= 5, so every predictor is exercised in
    every image). A broken Sub/Up/Average/Paeth predictor diverges."""
    from dr_source_spark.training.codecs import decode_png, png_bytes

    for doc_id in range(0, 40, 2):
        w, h, rows = decode_png(png_bytes(doc_id))
        assert w == 4 + doc_id % 5 and h == 5 + doc_id % 5
        for y, row in enumerate(rows):
            assert len(row) == 3 * w
            for x in range(w):
                assert row[3 * x] == (doc_id * 7 + x * 3 + y * 11) % 256
                assert row[3 * x + 1] == (doc_id * 11 + x * 5 + y * 3) % 256
                assert row[3 * x + 2] == (doc_id * 13 + x * 9 + y * 7) % 256


def test_png_crc_verified():
    """A flipped bit in the IDAT body fails the CRC-32 check (corrupt
    inputs die loudly, not as silent wrong pixels)."""
    import pytest as _pytest

    from dr_source_spark.training.codecs import decode_png, png_bytes

    p = bytearray(png_bytes(4))
    idat = p.find(b"IDAT")
    p[idat + 6] ^= 0x40  # inside the IDAT data
    with _pytest.raises(NotImplementedError, match="CRC"):
        decode_png(bytes(p))


def test_gif_lzw_roundtrip_closed_form():
    """decode_gif (real variable-width LZW, 9->12-bit growth) resolves
    palette indices to the closed-form RGB values for every image."""
    from dr_source_spark.training.codecs import decode_gif, gif_bytes, gif_palette

    for doc_id in range(1, 41, 2):
        w, h, rows = decode_gif(gif_bytes(doc_id))
        assert w == 5 + doc_id % 4 and h == 4 + doc_id % 3
        for y, row in enumerate(rows):
            for x in range(w):
                idx = (doc_id + 3 * x + 5 * y) % 256
                assert tuple(row[3 * x : 3 * x + 3]) == gif_palette(idx)


def test_lzw_kwkwk_and_width_growth():
    """The LZW coder survives the KwKwK self-referential case and code
    widths growing past 9 bits (dictionary > 512 entries)."""
    from dr_source_spark.training.codecs import _lzw_decode, _lzw_encode

    # KwKwK: aababa... pattern forces code-not-yet-in-dict on decode
    data = b"\x01\x01\x02\x01\x01\x02\x01\x01\x02\x01\x01"
    assert _lzw_decode(_lzw_encode(data), len(data)) == data
    # long low-entropy run: dictionary blows through the 9-bit boundary
    big = bytes((i * 37 + (i // 7) * 3) % 251 for i in range(20000))
    assert _lzw_decode(_lzw_encode(big), len(big)) == big


def test_decode_features_handles_png_gif(spark):
    """decode_features over synth_compressed_media: the Arrow-batched
    Spark path decodes real zlib/LZW payloads and emits exact integer
    features matching a driver-side recompute."""
    from dr_source_spark.training.codecs import synth_compressed_media
    from dr_source_spark.training.multimodal import decode_features

    docs = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    out = decode_features(synth_compressed_media(docs)).collect()
    assert len(out) == 12
    from dr_source_spark.training.codecs import decode_gif, decode_png, gif_bytes, png_bytes

    for r in out:
        if r.media_id % 2 == 0:
            assert r.format == "png"
            w, h, rows = decode_png(png_bytes(r.media_id))
        else:
            assert r.format == "gif"
            w, h, rows = decode_gif(gif_bytes(r.media_id))
        assert r.n_units == w * h
        assert r.peak == max(max(row) for row in rows)
        assert r.checksum == sum(sum(row) for row in rows)
