from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkgraft import multimodal as M


@pytest.fixture()
def media(spark):
    rows = [
        (1, bytearray(b"\x00\x01\x02\x03" * 16)),
        (2, bytearray(b"\xff" * 8)),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "id int, raw binary")
    return M.attach_media_metadata(df, "raw", modality="image", format="fake", id_col="id")


def test_attach_media_metadata(media):
    rows = {r.media_id: r for r in media.collect()}
    assert rows[1].n_bytes == 64 and rows[1].modality == "image"
    assert rows[3].n_bytes is None


def test_extract_features_batched(media):
    out = {r.media_id: r for r in M.extract_features(media).collect()}
    assert out[1].feat_n_bytes == 64
    assert out[1].feat_mean_byte == pytest.approx(1.5)
    assert out[2].feat_first_byte == 255
    # decode failure -> NULL features, row survives (dead-letter, not crash)
    assert out[3].feat_n_bytes is None


def test_sample_frames_declarative(media):
    out = M.sample_frames(media.where(F.col("media_id") == 1), n_frames=4, frame_bytes=8)
    rows = sorted((r.frame_idx, bytes(r.frame)) for r in out.collect())
    assert len(rows) == 4
    assert all(len(f) == 8 for _, f in rows)
    assert rows[0][1] == b"\x00\x01\x02\x03\x00\x01\x02\x03"


def test_resize_media_fixed_output_size(media):
    out = {r.media_id: r for r in M.resize_media(media, 4, 4).collect()}
    # every decodable payload lands at exactly width*height bytes
    assert len(bytes(out[1].payload)) == 16
    assert len(bytes(out[2].payload)) == 16
    assert (out[1].width, out[1].height) == (4, 4)
    # NULL payload dead-letters to NULL, row survives
    assert out[3].payload is None
    # deterministic: same input -> same resized bytes
    again = {r.media_id: r for r in M.resize_media(media, 4, 4).collect()}
    assert bytes(again[1].payload) == bytes(out[1].payload)


def test_resize_then_extract_composes(media):
    resized = M.resize_media(media, 4, 2)
    out = {r.media_id: r for r in M.extract_features(resized).collect()}
    assert out[1].feat_n_bytes == 8  # features of the RESIZED payload
    assert out[3].feat_n_bytes is None


def test_resize_media_shorter_payload_cycles(spark):
    df = spark.createDataFrame([(1, bytearray(b"\xab"))], "id int, raw binary")
    m = M.attach_media_metadata(df, "raw", "image", "fake", "id")
    (row,) = M.resize_media(m, 3, 3).collect()
    assert bytes(row.payload) == b"\xab" * 9


def test_embed_media_unit_norm_and_dead_letter(media):
    import math

    out = {r.media_id: r for r in M.embed_media(media, dim=8).collect()}
    v1 = out[1].embedding
    assert len(v1) == 8
    assert math.isclose(sum(x * x for x in v1), 1.0, rel_tol=1e-5)
    assert out[3].embedding is None  # NULL payload dead-letters


def test_media_near_dup_via_embedding_bridge(spark):
    """The cross-tier composition: media payloads -> embed_media ->
    the SAME cosine near-dup operator the text embeddings use. Planted
    byte-identical payloads must surface as a near-dup pair; the
    distinct payload must not."""
    from sparkgraft import similarity as S

    rows = [
        (1, bytearray(b"\x01\x02\x03\x04" * 32)),
        (2, bytearray(b"\x01\x02\x03\x04" * 32)),  # exact dup of 1
        (3, bytearray(bytes(range(128)))),          # distinct
        (4, None),                                  # dead letter
    ]
    media = M.attach_media_metadata(
        spark.createDataFrame(rows, "id int, raw binary"),
        "raw", modality="image", format="fake", id_col="id",
    )
    emb = M.embed_media(media, dim=16).withColumnRenamed("media_id", "vec_id")
    pairs = S.cosine_pairs(emb, threshold=0.999).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert got == {(1, 2)}


def test_embed_media_empty_payload_dead_letters(spark):
    rows = [(1, bytearray(b"")), (2, bytearray(b"\x01\x02"))]
    media = M.attach_media_metadata(
        spark.createDataFrame(rows, "id int, raw binary"),
        "raw", modality="image", format="fake", id_col="id",
    )
    out = {r.media_id: r.embedding for r in M.embed_media(media, dim=4).collect()}
    assert out[1] is None       # zero-length payload -> dead letter
    assert out[2] is not None


def test_decode_fn_seam_carries_real_codec(spark):
    """VERDICT r4 task 7: prove the ``decode_fn`` seam carries a real
    third-party codec end-to-end, not just the byte-stat stub. The
    codec here is a genuine (if tiny) decoder for a synthetic
    fixed-header image format — magic + struct-packed dimensions +
    pixel plane — implemented with stdlib ``struct``: it validates the
    container, parses the header, and computes statistics over the
    DECODED pixel plane (not the raw container bytes), exactly the
    shape of a PIL/cv2 decode. Corrupt payloads (bad magic, truncated
    plane) must dead-letter like any real decode error."""
    import struct

    def simg_encode(width: int, height: int, pixels: bytes) -> bytes:
        assert len(pixels) == width * height
        return b"SIMG" + struct.pack("<HH", width, height) + pixels

    def simg_decode(payload: bytes) -> dict:
        if payload is None:
            raise NotImplementedError("no payload")
        if payload[:4] != b"SIMG":
            raise ValueError("bad magic")
        (width, height) = struct.unpack("<HH", payload[4:8])
        pixels = payload[8:]
        if len(pixels) != width * height:
            raise ValueError("truncated pixel plane")
        return {
            "n_bytes": len(pixels),  # decoded size, not container size
            "mean_byte": sum(pixels) / len(pixels) if pixels else 0.0,
            "first_byte": pixels[0] if pixels else -1,
        }

    rows = [
        (1, bytearray(simg_encode(4, 2, bytes(range(10, 18))))),
        (2, bytearray(simg_encode(2, 2, b"\xff\x00\xff\x00"))),
        (3, bytearray(b"JPEG" + b"\x00" * 12)),            # bad magic
        (4, bytearray(simg_encode(4, 2, bytes(8))[:-3])),  # truncated
    ]
    media = M.attach_media_metadata(
        spark.createDataFrame(rows, "id int, raw binary"),
        "raw", modality="image", format="simg", id_col="id",
    )
    out = {r.media_id: r for r in M.extract_features(media, decode_fn=simg_decode).collect()}
    # decoded-plane stats, not container stats (container is 8B bigger)
    assert out[1].feat_n_bytes == 8
    assert out[1].feat_mean_byte == pytest.approx(13.5)
    assert out[1].feat_first_byte == 10
    assert out[2].feat_mean_byte == pytest.approx(127.5)
    # real decode errors dead-letter exactly like the stub's
    assert out[3].feat_n_bytes is None
    assert out[4].feat_n_bytes is None


def test_perceptual_hash_near_dup_vs_unrelated(spark):
    """dHash: identical payloads collide exactly; a lightly-corrupted
    copy lands within a few bits; unrelated payloads are far — and the
    SimHash-style Hamming verdict separates the two. NULLs dead-letter."""
    import random

    rng = random.Random(42)
    base = bytes(rng.randrange(256) for _ in range(512))
    # corrupt 4 bytes of 512 (re-encode-ish noise)
    corrupted = bytearray(base)
    for i in (7, 100, 301, 444):
        corrupted[i] = (corrupted[i] + 13) % 256
    unrelated = bytes(rng.randrange(256) for _ in range(512))
    df = spark.createDataFrame(
        [
            (1, bytearray(base)),
            (2, bytearray(base)),
            (3, corrupted),
            (4, bytearray(unrelated)),
            (5, None),
        ],
        "id int, raw binary",
    )
    media = M.attach_media_metadata(
        df, "raw", modality="image", format="fake", id_col="id"
    )
    out = {r.media_id: r.phash for r in M.perceptual_hash(media).collect()}

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert out[1] == out[2]  # byte-identical -> identical hash
    assert out[5] is None  # dead-letter
    assert hamming(out[1], out[3]) <= 12  # near-dup: few flipped bits
    assert hamming(out[1], out[4]) >= 16  # unrelated: far
    assert hamming(out[1], out[3]) < hamming(out[1], out[4])


def test_perceptual_hash_exact_in_a_batch_with_a_null_payload(spark):
    """A NULL payload in the same Arrow batch leaves every other hash
    bit-exact: a float64 column would round 64-bit hashes to 53 bits."""
    import random

    rng = random.Random(7)
    rows = [(i, bytearray(rng.randrange(256) for _ in range(256))) for i in range(8)]

    def hashes(rows):
        df = spark.createDataFrame(rows, "id int, raw binary").coalesce(1)
        media = M.attach_media_metadata(
            df, "raw", modality="image", format="fake", id_col="id"
        )
        return {r.media_id: r.phash for r in M.perceptual_hash(media).collect()}

    clean = hashes(rows)
    assert any(abs(h) > 1 << 53 for h in clean.values())
    with_null = hashes(rows + [(99, None)])
    assert with_null.pop(99) is None
    assert with_null == clean


def test_perceptual_hash_custom_resize_seam(spark):
    """A third-party normalizer rides the same seam: constant-grid
    resize makes every payload hash to the same value."""
    df = spark.createDataFrame(
        [(1, bytearray(b"abc")), (2, bytearray(b"xyz" * 50))],
        "id int, raw binary",
    )
    media = M.attach_media_metadata(
        df, "raw", modality="image", format="fake", id_col="id"
    )
    out = {
        r.media_id: r.phash
        for r in M.perceptual_hash(
            media, resize_fn=lambda p, w, h: bytes(range(w)) * h
        ).collect()
    }
    assert out[1] == out[2]


def test_perceptual_planted_twins_land_and_controls_do_not(spark, sf_dir):
    """The planted perceptual-hash gate (media near-dup north star):
    every byte-shifted re-encode must land at Hamming 0 against its
    original (the +1 shift preserves every dHash neighbor comparison),
    and md5-distinct control payloads must NOT pair — their hashes sit
    near the 32-bit random-pair expectation, far above the threshold."""
    from sparkgraft.io import read_table
    from sparkgraft.queries import QUERIES

    # promoted to an active driver slot r8
    out = QUERIES["perceptual_near_dup_planted"](spark, sf_dir).toPandas()
    doc_ids = [
        r.doc_id
        for r in read_table(spark, sf_dir, "documents")
        .select("doc_id")
        .collect()
    ]
    expected_twins = {(d, d + 10_000_000) for d in doc_ids if d % 20 == 0}
    got_twins = {
        (r.media_a, r.media_b)
        for r in out.itertuples(index=False)
        if r.is_planted_twin
    }
    # every planted visually-identical pair is found, at distance 0
    assert got_twins == expected_twins
    assert (out[out.is_planted_twin].hamming == 0).all()
    # md5-distinct control: two specific unrelated base payloads must
    # sit far outside the threshold (deterministic given the testdata)
    a_id, b_id = doc_ids[0], doc_ids[1]
    docs = read_table(spark, sf_dir, "documents").where(
        F.col("doc_id").isin([a_id, b_id])
    )
    payloads = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(
            F.concat(
                F.md5(F.col("text")),
                F.lit("|MM01|"),
                F.col("doc_id").cast("string"),
            ),
            "UTF-8",
        ).alias("payload"),
    )
    ph = {r.media_id: r.phash for r in M.perceptual_hash(payloads).collect()}
    hamming = bin((ph[a_id] ^ ph[b_id]) & ((1 << 64) - 1)).count("1")
    assert hamming > 6
    # and no control pair leaked into the output as a pseudo-twin
    non_twin = out[~out.is_planted_twin]
    assert (non_twin.hamming <= 6).all()  # every kept pair passed verify


def _png_encode(arr, color_type=0, filter_type=0):
    """Stdlib-only PNG encoder (test helper): 8-bit gray (0) or RGB
    (2), one filter type for every scanline — re-encoding the SAME
    pixels with a different color type or filter produces byte-
    distinct files with identical content, exactly the real-world
    re-encode near-dup the perceptual tier exists to catch."""
    import struct
    import zlib

    import numpy as np

    arr = np.asarray(arr, dtype=np.uint8)
    if color_type == 0:
        px = arr[:, :, None] if arr.ndim == 2 else arr
        channels = 1
    else:
        px = np.repeat(arr[:, :, None], 3, axis=2) if arr.ndim == 2 else arr
        channels = 3
    h, w = px.shape[:2]
    stride = w * channels
    raw = bytearray()
    prev = bytes(stride)
    for y in range(h):
        line = px[y].tobytes()
        raw.append(filter_type)
        if filter_type == 0:
            raw.extend(line)
        elif filter_type == 2:  # Up
            raw.extend(bytes((line[i] - prev[i]) & 0xFF for i in range(stride)))
        elif filter_type == 1:  # Sub
            raw.extend(
                bytes(
                    (line[i] - (line[i - channels] if i >= channels else 0))
                    & 0xFF
                    for i in range(stride)
                )
            )
        else:
            raise ValueError(filter_type)
        prev = line

    def chunk(ctype, data):
        c = struct.pack(">I", len(data)) + ctype + data
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return c + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def _test_image(seed, h=24, w=24):
    """Deterministic smooth gradient + a seed-placed bright block —
    smooth structure so dHash bits encode real content, not noise."""
    import numpy as np

    yy, xx = np.mgrid[0:h, 0:w]
    img = ((yy * 5 + xx * 3 + seed * 17) % 200).astype(np.uint8)
    r, c = (seed * 7) % (h - 8), (seed * 11) % (w - 8)
    img[r : r + 6, c : c + 6] = 250
    return img


def test_png_decode_roundtrips_every_supported_shape(spark):
    """png_decode must invert _png_encode for gray + RGB across the
    None/Sub/Up filters, byte-exactly on the luminance plane."""
    import numpy as np

    img = _test_image(1)
    for color_type in (0, 2):
        for filt in (0, 1, 2):
            payload = _png_encode(img, color_type=color_type, filter_type=filt)
            lum = M.png_decode(payload)
            assert lum.shape == img.shape
            if color_type == 0:
                assert (lum == img).all(), (color_type, filt)
            else:
                # RGB with equal channels: BT.601 luma == the gray value
                assert (lum == img).all(), (color_type, filt)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="signature"):
        M.png_decode(b"not a png at all" * 4)
    # real stats flow through the extract_features seam unchanged
    media = spark.createDataFrame(
        [(1, bytearray(_png_encode(img))), (2, bytearray(b"corrupt"))],
        "media_id long, payload binary",
    )
    feats = {
        r.media_id: r
        for r in M.extract_features(media, decode_fn=M.png_decode_stats).collect()
    }
    assert feats[1].feat_n_bytes == img.size
    assert abs(feats[1].feat_mean_byte - float(img.mean())) < 1e-9
    assert feats[2].feat_n_bytes is None  # corrupt file dead-lettered


def test_png_decode_corrupt_chunks_dead_letter_not_crash(spark):
    """ADVICE r7: a payload with a VALID PNG signature but corrupt
    chunk internals used to escape the dead-letter handlers — zlib
    raised zlib.error on a corrupt IDAT and struct raised struct.error
    on a truncated IHDR, neither of which the (NotImplementedError,
    ValueError) except tuples catch, killing the whole task. png_decode
    must normalize BOTH to ValueError so every mapInPandas stage
    dead-letters the row and the job survives."""
    import struct
    import zlib

    import pytest as _pytest

    img = _test_image(5)
    good = _png_encode(img, color_type=0, filter_type=0)

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    sig = b"\x89PNG\r\n\x1a\n"
    ihdr = struct.pack(">IIBBBBB", 8, 8, 8, 0, 0, 0, 0)
    # corrupt IDAT: well-formed chunks, garbage deflate stream
    bad_idat = (
        sig
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", b"\x00definitely-not-deflate\xff")
        + chunk(b"IEND", b"")
    )
    # truncated IHDR: 5 bytes where struct expects 13
    bad_ihdr = sig + chunk(b"IHDR", b"\x01\x02\x03\x04\x05")
    with _pytest.raises(ValueError, match="IDAT"):
        M.png_decode(bad_idat)
    with _pytest.raises(ValueError, match="IHDR"):
        M.png_decode(bad_ihdr)
    # end-to-end: every dead-letter site survives both payloads
    media = spark.createDataFrame(
        [
            (1, bytearray(good)),
            (2, bytearray(bad_idat)),
            (3, bytearray(bad_ihdr)),
        ],
        "media_id long, payload binary",
    )
    feats = {
        r.media_id: r.feat_n_bytes
        for r in M.extract_features(media, decode_fn=M.png_decode_stats).collect()
    }
    assert feats[1] == img.size and feats[2] is None and feats[3] is None
    ph = {
        r.media_id: r.phash
        for r in M.perceptual_hash(media, resize_fn=M.png_resize).collect()
    }
    assert ph[1] is not None and ph[2] is None and ph[3] is None


def test_perceptual_hash_real_png_re_encode_near_dup(spark):
    """VERDICT r6 stretch: REAL PNG bytes through the existing gate
    shape — a re-encoded duplicate (same pixels, different color type
    + filter -> md5-distinct bytes) plus a mildly-noised copy must land
    within Hamming 6 of the original under png_resize, while an
    unrelated image stays far outside; corrupt bytes dead-letter."""
    import numpy as np

    img = _test_image(3)
    noisy = img.copy()
    noisy[::7, ::5] = np.clip(noisy[::7, ::5].astype(int) + 4, 0, 255).astype(
        np.uint8
    )
    rows = [
        (0, bytearray(_png_encode(img, color_type=0, filter_type=0))),
        # visually identical, byte-distinct re-encode
        (1, bytearray(_png_encode(img, color_type=2, filter_type=2))),
        # mild pixel noise (sensor/recompress stand-in)
        (2, bytearray(_png_encode(noisy, color_type=0, filter_type=1))),
        # unrelated control
        (3, bytearray(_png_encode(_test_image(9), color_type=0, filter_type=0))),
        (4, bytearray(b"\x89PNG\r\n\x1a\ncorrupted rest")),
    ]
    import hashlib

    assert len({hashlib.md5(bytes(p)).hexdigest() for _, p in rows}) == 5
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    ph = {
        r.media_id: r.phash
        for r in M.perceptual_hash(media, resize_fn=M.png_resize).collect()
    }

    def hamming(a, b):
        return bin((ph[a] ^ ph[b]) & ((1 << 64) - 1)).count("1")

    assert hamming(0, 1) == 0  # identical pixels -> identical dHash
    assert hamming(0, 2) <= 6  # mild noise stays within the gate
    assert hamming(0, 3) > 6  # unrelated image far outside
    assert ph[4] is None  # corrupt PNG dead-lettered, job alive


def _wav_encode(samples, rate, bits=16, channels=1):
    """Minimal RIFF/PCM writer for test fixtures (the _png_encode
    pattern): float samples in [-1, 1] -> WAV bytes."""
    import struct

    import numpy as np

    x = np.asarray(samples, dtype=np.float64)
    if channels > 1:
        x = np.repeat(x[:, None], channels, axis=1).reshape(-1)
    if bits == 16:
        data = (np.clip(x, -1, 1) * 32767.0).round().astype("<i2").tobytes()
    else:
        data = (
            (np.clip(x, -1, 1) * 127.0).round().astype(np.int8) + 128
        ).astype(np.uint8).tobytes()
    fmt = struct.pack(
        "<HHIIHH",
        1,
        channels,
        rate,
        rate * channels * bits // 8,
        channels * bits // 8,
        bits,
    )
    chunks = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(chunks)) + chunks


def _tone(rate, seconds, freq, envelope_freq=2.0):
    """Amplitude-modulated tone sampled from the same analytic signal
    at any rate — so two rates yield the SAME recording, different
    bytes."""
    import numpy as np

    t = np.arange(int(rate * seconds)) / rate
    return 0.6 * np.sin(2 * np.pi * freq * t) * (
        0.55 + 0.45 * np.sin(2 * np.pi * envelope_freq * t)
    )


def test_wav_decode_roundtrips_and_normalizes_to_mono():
    """wav_decode must invert _wav_encode across bit depths and fold
    stereo to mono; corrupt/unsupported payloads raise ValueError (the
    dead-letter contract), never struct/buffer errors."""
    import struct

    import numpy as np
    import pytest as _pytest

    sig = _tone(8000, 0.25, 440.0)
    for bits in (16, 8):
        out, rate = M.wav_decode(_wav_encode(sig, 8000, bits=bits))
        assert rate == 8000 and out.size == sig.size
        tol = 1.5 / (32768.0 if bits == 16 else 128.0)
        assert float(np.max(np.abs(out - sig))) <= tol, bits
    # stereo duplicated channels average back to the mono signal
    out, rate = M.wav_decode(_wav_encode(sig, 8000, channels=2))
    assert out.size == sig.size
    assert float(np.max(np.abs(out - sig))) <= 1.5 / 32768.0
    # corruption taxonomy -> ValueError, one case per guard
    good = _wav_encode(sig, 8000)
    with _pytest.raises(ValueError, match="signature"):
        M.wav_decode(b"RIFX" + good[4:])
    with _pytest.raises(ValueError, match="too short"):
        M.wav_decode(good[:8])
    with _pytest.raises(ValueError, match="truncated fmt"):
        M.wav_decode(
            b"RIFF" + struct.pack("<I", 16) + b"WAVE"
            + b"fmt " + struct.pack("<I", 4) + b"\x01\x00\x01\x00"
        )
    with _pytest.raises(ValueError, match="unsupported"):
        # format code 3 = IEEE float: a real corpus file we don't parse
        M.wav_decode(good[:20] + b"\x03" + good[21:])
    with _pytest.raises(ValueError, match="missing fmt or data"):
        M.wav_decode(b"RIFF" + struct.pack("<I", 4) + b"WAVE")


def test_wav_stats_flow_through_extract_features_seam(spark):
    """Real WAV bytes end-to-end through the UNCHANGED extract_features
    stage (decode_fn swap only), corrupt payloads dead-lettered as NULL
    rows — the audio analogue of the PNG seam proof."""
    import numpy as np

    sig = _tone(8000, 0.25, 440.0)
    media = spark.createDataFrame(
        [
            (1, bytearray(_wav_encode(sig, 8000))),
            (2, bytearray(b"RIFF\x10\x00\x00\x00WAVEjunkdata")),
            (3, bytearray(b"not audio at all")),
        ],
        "media_id long, payload binary",
    )
    feats = {
        r.media_id: r
        for r in M.extract_features(media, decode_fn=M.wav_decode_stats).collect()
    }
    assert feats[1].feat_n_bytes == sig.size
    rms = float(np.sqrt(np.mean(sig * sig)))
    assert abs(feats[1].feat_mean_byte - rms) < 1e-3
    assert feats[2].feat_n_bytes is None and feats[3].feat_n_bytes is None


def test_embed_audio_catches_planted_resampled_duplicate(spark):
    """The planted-duplicate gate for audio: the SAME recording encoded
    at 8 kHz and 16 kHz is md5-distinct but must embed at cosine ~1
    under the rate-invariant windowed RMS/ZCR features, while a
    different recording stays clearly separated and corrupt bytes
    dead-letter as NULL."""
    import hashlib

    import numpy as np

    a8 = _wav_encode(_tone(8000, 0.5, 440.0), 8000)
    a16 = _wav_encode(_tone(16000, 0.5, 440.0), 16000)  # resampled twin
    other = _wav_encode(_tone(8000, 0.5, 1750.0, envelope_freq=7.0), 8000)
    assert len({hashlib.md5(p).hexdigest() for p in (a8, a16, other)}) == 3
    media = spark.createDataFrame(
        [
            (0, bytearray(a8)),
            (1, bytearray(a16)),
            (2, bytearray(other)),
            (3, bytearray(b"RIFFbroken")),
        ],
        "media_id long, payload binary",
    )
    emb = {r.media_id: r.embedding for r in M.embed_audio(media).collect()}

    def cos(i, j):
        u, v = np.asarray(emb[i]), np.asarray(emb[j])
        return float(np.dot(u, v))

    assert cos(0, 1) > 0.999  # resampled duplicate lands on top
    assert cos(0, 2) < 0.9    # different recording stays apart
    assert emb[3] is None     # corrupt file dead-lettered, job alive


def _jpeg_test_image(h=24, w=40):
    """Deterministic grayscale test image: smooth gradient + a blocky
    feature so both DC and AC paths carry signal."""
    import numpy as np

    img = np.add.outer(
        np.linspace(0, 180, h), np.linspace(0, 60, w)
    ).astype(np.uint8)
    img[6:14, 8:20] = 230  # a bright rectangle (sharp edges)
    img[16:22, 26:38] = 25  # a dark one
    return img


def test_jpeg_encode_decode_roundtrip_and_restart_markers():
    """Baseline JPEG codec (reference has no multimodal surface — this
    is the LLM-pipeline extension tier): encode(quality q) -> decode
    recovers the image within DCT quantization error, at several
    qualities, at non-multiple-of-8 shapes, and with restart markers
    (DRI + RSTn resync, DC predictor reset) in the stream."""
    import numpy as np

    img = _jpeg_test_image()
    for q, tol_mean, tol_max in ((95, 1.5, 20), (85, 3.0, 35), (60, 6.0, 60)):
        payload = M.jpeg_encode_gray(img, quality=q)
        assert payload[:2] == b"\xff\xd8" and payload[-2:] == b"\xff\xd9"
        out = M.jpeg_decode(payload)
        assert out.shape == img.shape and out.dtype == np.uint8
        err = np.abs(out.astype(int) - img.astype(int))
        assert err.mean() < tol_mean, (q, err.mean())
        assert err.max() <= tol_max, (q, err.max())

    with_rst = M.jpeg_encode_gray(img, quality=90, restart_interval=2)
    assert b"\xff\xdd" in with_rst  # DRI segment present
    out = M.jpeg_decode(with_rst)
    err = np.abs(out.astype(int) - img.astype(int))
    assert err.mean() < 2.0 and err.max() <= 25

    # odd shapes exercise edge-replicate padding + crop
    odd = _jpeg_test_image(h=17, w=23)
    out = M.jpeg_decode(M.jpeg_encode_gray(odd, quality=90))
    assert out.shape == (17, 23)
    assert np.abs(out.astype(int) - odd.astype(int)).mean() < 2.5


def test_jpeg_unsupported_and_corrupt_dead_letter():
    """The codec seam's dead-letter contract: non-baseline SOFs,
    malformed progressive streams, truncated and garbage payloads all
    raise ValueError (never a crash class the mapInPandas handlers
    don't catch)."""
    import pytest

    img = _jpeg_test_image()
    payload = bytearray(M.jpeg_encode_gray(img, quality=85))

    sof = payload.index(b"\xff\xc0")
    # SOF0 relabeled SOF2 (r11: progressive now DECODES, so this byte
    # flip yields a MALFORMED progressive stream — the baseline scan
    # header's full 0..63 band is illegal for a progressive DC scan)
    progressive = bytearray(payload)
    progressive[sof + 1] = 0xC2
    with pytest.raises(ValueError, match="Se != 0"):
        M.jpeg_decode(bytes(progressive))

    # still-unsupported SOFs keep the dead-letter contract
    lossless = bytearray(payload)
    lossless[sof + 1] = 0xC3  # SOF3: lossless sequential
    with pytest.raises(ValueError, match="non-baseline"):
        M.jpeg_decode(bytes(lossless))

    two_comp = bytearray(payload)
    two_comp[sof + 9] = 2  # ncomp byte of SOF0: 2 components unsupported
    with pytest.raises(ValueError, match="2-component"):
        M.jpeg_decode(bytes(two_comp))

    # a 4:2:0-subsampled color frame dead-letters by contract: claim 3
    # components (header then under-runs -> truncated, also ValueError)
    three_comp = bytearray(payload)
    three_comp[sof + 9] = 3
    with pytest.raises(ValueError, match="truncated SOF0 components"):
        M.jpeg_decode(bytes(three_comp))

    with pytest.raises(ValueError, match="truncated|marker|scan"):
        M.jpeg_decode(bytes(payload[: len(payload) // 2]))
    with pytest.raises(ValueError, match="SOI"):
        M.jpeg_decode(b"not a jpeg")
    with pytest.raises(NotImplementedError):
        M.jpeg_decode(None)

    # ADVICE r9: an SOS with seglen == 2 has an EMPTY body — body[0]
    # must not be read unguarded (was IndexError, escaping the
    # ValueError-only dead-letter contract)
    sos = payload.index(b"\xff\xda")
    empty_sos = bytearray(payload)
    empty_sos[sos + 2 : sos + 4] = b"\x00\x02"
    with pytest.raises(ValueError, match="truncated SOS"):
        M.jpeg_decode(bytes(empty_sos))


def test_jpeg_fill_bytes_before_markers_are_legal():
    """T.81 B.1.1.2: any number of 0xFF fill bytes may pad the stream
    before a marker byte — baseline JPEGs from encoders that pad this
    way must decode identically, not dead-letter (ADVICE r9)."""
    import numpy as np

    img = _jpeg_test_image()
    payload = bytearray(M.jpeg_encode_gray(img, quality=85))
    want = M.jpeg_decode(bytes(payload))
    # pad fill bytes before the DQT, DHT and SOS markers
    for marker in (b"\xff\xdb", b"\xff\xc4", b"\xff\xda"):
        at = payload.index(marker)
        payload[at:at] = b"\xff\xff\xff"
    got = M.jpeg_decode(bytes(payload))
    assert np.array_equal(got, want)


def test_jpeg_stats_flow_through_extract_features_seam(spark):
    """Real JPEG bytes end-to-end through the UNCHANGED
    extract_features stage (decode_fn swap only), corrupt payloads
    dead-lettered as NULL rows — the image analogue of the WAV seam
    proof, closing the last fake-only format (VERDICT r8 #8)."""
    import numpy as np

    img = _jpeg_test_image()
    media = spark.createDataFrame(
        [
            (1, bytearray(M.jpeg_encode_gray(img, quality=92))),
            (2, bytearray(b"\xff\xd8\xff\xee garbage")),
            (3, bytearray(b"png? jpeg? neither")),
        ],
        "media_id long, payload binary",
    )
    feats = {
        r.media_id: r
        for r in M.extract_features(
            media, decode_fn=M.jpeg_decode_stats
        ).collect()
    }
    assert feats[1].feat_n_bytes == img.size
    assert abs(feats[1].feat_mean_byte - float(img.mean())) < 4.0
    assert feats[2].feat_n_bytes is None and feats[3].feat_n_bytes is None


def test_jpeg_reencode_caught_by_perceptual_hash(spark):
    """The planted re-encode gate: the SAME image encoded at two
    qualities is md5-distinct but must land within a few dHash bits
    under jpeg_resize (the real-codec resize_fn), while a different
    image stays many bits away — the image-dedup story PNG proved,
    now on JPEG bytes."""
    import hashlib

    a = M.jpeg_encode_gray(_jpeg_test_image(), quality=92)
    b = M.jpeg_encode_gray(_jpeg_test_image(), quality=55)  # re-encode
    other_img = 255 - _jpeg_test_image().T[:24, :24].copy()
    c = M.jpeg_encode_gray(other_img, quality=92)
    assert len({hashlib.md5(p).hexdigest() for p in (a, b, c)}) == 3

    media = spark.createDataFrame(
        [(0, bytearray(a)), (1, bytearray(b)), (2, bytearray(c)),
         (3, bytearray(b"corrupt"))],
        "media_id long, payload binary",
    )
    hashes = {
        r.media_id: r.phash
        for r in M.perceptual_hash(media, resize_fn=M.jpeg_resize).collect()
    }

    def ham(x, y):
        return bin((x ^ y) & ((1 << 64) - 1)).count("1")

    # measured margins: q92-vs-q55 re-encode lands 4-8 bits apart on
    # this image (smooth-gradient cells sit at knife-edge neighbor
    # comparisons, so quantization flips a few), the different image
    # 53 bits — the gate sits in the wide gap
    assert ham(hashes[0], hashes[1]) <= 12  # re-encode: near-identical
    assert ham(hashes[0], hashes[2]) >= 30  # different image: far
    assert hashes[3] is None                # corrupt: dead-lettered


def test_codec_dead_letter_contract_under_fuzz():
    """Property fuzz over all THREE real codecs: any truncation or
    single-byte corruption of a valid payload must either decode
    cleanly or raise ValueError — never IndexError / struct.error /
    KeyError / zlib.error — because the mapInPandas dead-letter
    handlers catch exactly (NotImplementedError, ValueError) and
    anything else would kill a 100 TB job on one bad file."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    img = _jpeg_test_image(16, 16)
    payloads = [
        M.jpeg_encode_gray(img, quality=80),
        _wav_encode(_tone(8000, 0.05, 440.0), 8000),
        _png_encode(img, color_type=0, filter_type=0),
        # r11: a progressive color payload joins the fuzz pool — its
        # multi-scan loop has parse states the baseline payload lacks
        M.jpeg_encode_progressive_ycbcr(img, quality=80),
    ]
    decoders = [
        M.jpeg_decode,
        lambda b: M.wav_decode(b)[0],
        M.png_decode,
        M.jpeg_decode,
    ]

    @settings(max_examples=120, deadline=None)
    @given(
        which=st.integers(min_value=0, max_value=len(payloads) - 1),
        cut=st.floats(min_value=0.0, max_value=1.0),
        flip_pos=st.floats(min_value=0.0, max_value=1.0),
        flip_val=st.integers(min_value=0, max_value=255),
        mode=st.sampled_from(["truncate", "flip", "both"]),
    )
    def fuzz(which, cut, flip_pos, flip_val, mode):
        payload = bytearray(payloads[which])
        if mode in ("truncate", "both"):
            payload = payload[: max(1, int(len(payload) * cut))]
        if mode in ("flip", "both") and payload:
            payload[int((len(payload) - 1) * flip_pos)] = flip_val
        try:
            out = decoders[which](bytes(payload))
            assert isinstance(out, np.ndarray)
        except ValueError:
            pass  # the dead-letter contract

    fuzz()


def test_jpeg_decoder_exhaustive_corruption_sweep():
    """EXHAUSTIVE dead-letter sweep over the JPEG parser (the fuzz
    test's property at full coverage — this sweep caught a truncated-
    DHT IndexError the sampled fuzz missed): every single-byte flip
    (4 values per position) and every truncation of a real payload
    must decode or raise ValueError, never any other exception."""
    import numpy as np

    img = np.add.outer(
        np.linspace(0, 180, 16), np.linspace(0, 60, 16)
    ).astype(np.uint8)
    payload = bytearray(M.jpeg_encode_gray(img, quality=80, restart_interval=2))
    # 0x02 covers the empty-segment class the 4-value sweep missed
    # (ADVICE r9: SOS seglen -> 2 gives an empty body, was IndexError)
    for pos in range(len(payload)):
        for val in (0x00, 0x02, 0xFF, payload[pos] ^ 0x80, payload[pos] ^ 0x01):
            p = bytearray(payload)
            p[pos] = val
            try:
                M.jpeg_decode(bytes(p))
            except ValueError:
                pass
    for cut in range(1, len(payload)):
        try:
            M.jpeg_decode(bytes(payload[:cut]))
        except ValueError:
            pass


def test_jpeg_color_444_luminance_roundtrip_and_contract():
    """Baseline 4:4:4 COLOR JPEG: the decoder entropy-decodes all
    three interleaved YCbCr components (keeping the bit stream in
    sync) and returns the luminance plane — with neutral AND with
    structured non-neutral chroma, with restart markers, at the same
    fidelity as the grayscale path. Chroma SUBSAMPLING (the 4:2:0 a
    camera emits) dead-letters by contract."""
    import numpy as np
    import pytest

    img = _jpeg_test_image()
    gray_err = np.abs(
        M.jpeg_decode(M.jpeg_encode_gray(img, quality=90)).astype(int)
        - img.astype(int)
    ).mean()

    neutral = M.jpeg_decode(M.jpeg_encode_ycbcr444(img, quality=90))
    assert neutral.shape == img.shape
    assert np.abs(neutral.astype(int) - img.astype(int)).mean() <= gray_err + 0.1

    cb = ((np.add.outer(np.arange(24), np.arange(40)) * 5) % 256).astype(
        np.uint8
    )
    structured = M.jpeg_decode(
        M.jpeg_encode_ycbcr444(img, cb, 255 - cb, quality=90, restart_interval=3)
    )
    assert np.abs(structured.astype(int) - img.astype(int)).mean() <= gray_err + 0.1

    # SUPERSAMPLED chroma (a chroma component above 1x1 — no real
    # encoder emits it) dead-letters; subsampled-LUMA layouts are the
    # r10 supported surface (test_jpeg_chroma_subsampled_*)
    payload = bytearray(M.jpeg_encode_ycbcr444(img, quality=90))
    sof = payload.index(b"\xff\xc0")
    payload[sof + 14] = 0x22  # component Cb sampling 2x2
    with pytest.raises(ValueError, match="chroma sampling above 1x1"):
        M.jpeg_decode(bytes(payload))


def test_jpeg_chroma_subsampled_roundtrip_and_contract():
    """r10 (VERDICT r9 #3): baseline chroma-subsampled color JPEG —
    4:2:0 (the layout cameras and the web overwhelmingly emit), 4:2:2
    and 4:4:0 — decodes through the real MCU walk (4 luma + 1 Cb +
    1 Cr blocks per 16x16 MCU at 4:2:0) at grayscale-path fidelity,
    with structured chroma, restart markers and odd shapes; luminance
    factors beyond 2x2 still dead-letter."""
    import numpy as np
    import pytest

    img = _jpeg_test_image()
    gray_err = np.abs(
        M.jpeg_decode(M.jpeg_encode_gray(img, quality=90)).astype(int)
        - img.astype(int)
    ).mean()

    cb = ((np.add.outer(np.arange(24), np.arange(40)) * 5) % 256).astype(
        np.uint8
    )
    for sampling in ((2, 2), (2, 1), (1, 2)):
        out = M.jpeg_decode(
            M.jpeg_encode_ycbcr420(img, quality=90, sampling=sampling)
        )
        assert out.shape == img.shape
        err = np.abs(out.astype(int) - img.astype(int)).mean()
        assert err <= gray_err + 0.1, (sampling, err, gray_err)

    # structured (non-neutral) chroma + restart markers: the luminance
    # return is unchanged and the stream stays in sync across RSTn
    with_rst = M.jpeg_encode_ycbcr420(
        img, cb, 255 - cb, quality=90, restart_interval=3
    )
    assert b"\xff\xdd" in with_rst
    out = M.jpeg_decode(with_rst)
    assert np.abs(out.astype(int) - img.astype(int)).mean() <= gray_err + 0.1

    # odd (non-multiple-of-16) shapes: MCU padding + crop
    odd = _jpeg_test_image(h=17, w=23)
    out = M.jpeg_decode(M.jpeg_encode_ycbcr420(odd, quality=90))
    assert out.shape == (17, 23)
    assert np.abs(out.astype(int) - odd.astype(int)).mean() < 2.5

    # luminance factors beyond 2x2 dead-letter by contract
    payload = bytearray(M.jpeg_encode_ycbcr420(img, quality=90))
    sof = payload.index(b"\xff\xc0")
    payload[sof + 11] = 0x33  # Y sampling 3x3
    with pytest.raises(ValueError, match="luminance sampling beyond 2x2"):
        M.jpeg_decode(bytes(payload))

    # encoder guards: 1x1 belongs to the 4:4:4 encoder; >2 rejected
    with pytest.raises(ValueError, match="sampling"):
        M.jpeg_encode_ycbcr420(img, sampling=(1, 1))
    with pytest.raises(ValueError, match="sampling"):
        M.jpeg_encode_ycbcr420(img, sampling=(4, 1))


def test_jpeg_420_reencode_caught_by_perceptual_hash(spark):
    """The planted-re-encode gate END TO END over a 4:2:0 payload
    (VERDICT r9 #3's done-criterion): the same image re-encoded as
    4:2:0 color lands within a few dHash bits of its grayscale
    original through perceptual_hash + jpeg_resize, while a different
    image stays far — so a camera-shaped corpus dedups through the
    same seam the 4:4:4/gray payloads already use."""
    import hashlib

    img = _jpeg_test_image()
    a = M.jpeg_encode_gray(img, quality=92)
    b = M.jpeg_encode_ycbcr420(img, quality=60)  # 4:2:0 re-encode
    other_img = 255 - img.T[:24, :24].copy()
    c = M.jpeg_encode_ycbcr420(other_img, quality=92)
    assert len({hashlib.md5(p).hexdigest() for p in (a, b, c)}) == 3

    media = spark.createDataFrame(
        [(0, bytearray(a)), (1, bytearray(b)), (2, bytearray(c))],
        "media_id long, payload binary",
    )
    hashes = {
        r.media_id: r.phash
        for r in M.perceptual_hash(media, resize_fn=M.jpeg_resize).collect()
    }

    def ham(x, y):
        return bin((x ^ y) & ((1 << 64) - 1)).count("1")

    assert ham(hashes[0], hashes[1]) <= 12  # 4:2:0 re-encode: near
    assert ham(hashes[0], hashes[2]) >= 30  # different image: far


def test_jpeg_420_decoder_exhaustive_corruption_sweep():
    """The exhaustive byte-flip/truncation sweep extended over a 4:2:0
    payload (VERDICT r9 #3): every single-byte flip (5 values per
    position, including the empty-segment 0x02 class) and every
    truncation must decode or raise ValueError — the subsampled MCU
    walk adds new parse states (sampling factors, per-component block
    loops) that the grayscale sweep never reaches."""
    import numpy as np

    img = np.add.outer(
        np.linspace(0, 180, 16), np.linspace(0, 60, 16)
    ).astype(np.uint8)
    payload = bytearray(
        M.jpeg_encode_ycbcr420(img, quality=80, restart_interval=2)
    )
    for pos in range(len(payload)):
        for val in (0x00, 0x02, 0xFF, payload[pos] ^ 0x80, payload[pos] ^ 0x01):
            p = bytearray(payload)
            p[pos] = val
            try:
                M.jpeg_decode(bytes(p))
            except ValueError:
                pass
    for cut in range(1, len(payload)):
        try:
            M.jpeg_decode(bytes(payload[:cut]))
        except ValueError:
            pass

def test_jpeg_progressive_matches_baseline_reconstruction_exactly():
    """Progressive (SOF2) decode — VERDICT r10 #3: every scan script
    must reconstruct the SAME quantized coefficients the one-scan
    baseline stream carries, so the decoded plane is BIT-IDENTICAL to
    the baseline decode of the same image at the same quality — across
    grayscale, 4:4:4 / 4:2:2 / 4:4:0 / 4:2:0 color, restart markers
    inside progressive scans, and odd (non-multiple-of-8) shapes.
    This pins the whole Annex G surface at once: DC first/refine, AC
    first per spectral band, AC refinement with correction bits, ZRL,
    EOB-run accumulation, per-scan DHT redefinition."""
    import numpy as np

    img = _jpeg_test_image()
    cb = ((np.add.outer(np.arange(img.shape[0]), np.arange(img.shape[1])) * 5)
          % 256).astype(np.uint8)

    base = M.jpeg_decode(M.jpeg_encode_gray(img, quality=85))
    assert np.array_equal(
        base, M.jpeg_decode(M.jpeg_encode_progressive_gray(img, quality=85))
    )
    assert np.array_equal(
        base,
        M.jpeg_decode(
            M.jpeg_encode_progressive_gray(img, quality=85, restart_interval=3)
        ),
    )

    for sampling in ((1, 1), (2, 1), (1, 2), (2, 2)):
        if sampling == (1, 1):
            ref = M.jpeg_decode(
                M.jpeg_encode_ycbcr444(img, cb, 255 - cb, quality=85)
            )
        else:
            ref = M.jpeg_decode(
                M.jpeg_encode_ycbcr420(
                    img, cb, 255 - cb, quality=85, sampling=sampling
                )
            )
        prog = M.jpeg_decode(
            M.jpeg_encode_progressive_ycbcr(
                img, cb, 255 - cb, quality=85, sampling=sampling
            )
        )
        assert np.array_equal(ref, prog), sampling

    # restarts inside a subsampled progressive stream
    assert np.array_equal(
        M.jpeg_decode(
            M.jpeg_encode_ycbcr420(img, cb, 255 - cb, quality=80,
                                   restart_interval=2)
        ),
        M.jpeg_decode(
            M.jpeg_encode_progressive_ycbcr(img, cb, 255 - cb, quality=80,
                                            restart_interval=2)
        ),
    )

    for shape in ((8, 8), (9, 17), (31, 33)):
        odd = _jpeg_test_image(h=shape[0], w=shape[1])
        assert np.array_equal(
            M.jpeg_decode(M.jpeg_encode_gray(odd, quality=70)),
            M.jpeg_decode(M.jpeg_encode_progressive_gray(odd, quality=70)),
        ), shape


def test_jpeg_progressive_reencode_caught_by_perceptual_hash(spark):
    """The planted-re-encode gate END TO END over a PROGRESSIVE payload
    (VERDICT r10 #3's done-criterion): the same image re-encoded as a
    progressive 4:2:0 color JPEG lands within a few dHash bits of its
    baseline grayscale original through perceptual_hash + jpeg_resize,
    while a different progressive image stays far — a web-crawl corpus
    full of progressive JPEGs dedups through the same seam."""
    import hashlib

    img = _jpeg_test_image()
    a = M.jpeg_encode_gray(img, quality=92)
    b = M.jpeg_encode_progressive_ycbcr(img, quality=60)  # progressive 4:2:0
    other_img = 255 - img.T[:24, :24].copy()
    c = M.jpeg_encode_progressive_gray(other_img, quality=92)
    assert len({hashlib.md5(p).hexdigest() for p in (a, b, c)}) == 3

    media = spark.createDataFrame(
        [(0, bytearray(a)), (1, bytearray(b)), (2, bytearray(c))],
        "media_id long, payload binary",
    )
    hashes = {
        r.media_id: r.phash
        for r in M.perceptual_hash(media, resize_fn=M.jpeg_resize).collect()
    }

    def ham(x, y):
        return bin((x ^ y) & ((1 << 64) - 1)).count("1")

    assert ham(hashes[0], hashes[1]) <= 12  # progressive re-encode: near
    assert ham(hashes[0], hashes[2]) >= 30  # different image: far


def test_jpeg_progressive_decoder_exhaustive_corruption_sweep():
    """The exhaustive byte-flip/truncation sweep over a PROGRESSIVE
    payload (VERDICT r10 #3): every single-byte flip (5 values per
    position, including the empty-segment 0x02 class) and every
    truncation must decode or raise ValueError — the multi-scan loop
    adds parse states (per-scan SOS/DHT, spectral bands, successive-
    approximation fields, EOB runs, refinement bits) the baseline
    sweeps never reach."""
    import numpy as np

    img = np.add.outer(
        np.linspace(0, 180, 16), np.linspace(0, 60, 16)
    ).astype(np.uint8)
    payload = bytearray(
        M.jpeg_encode_progressive_gray(img, quality=80, restart_interval=2)
    )
    for pos in range(len(payload)):
        for val in (0x00, 0x02, 0xFF, payload[pos] ^ 0x80, payload[pos] ^ 0x01):
            p = bytearray(payload)
            p[pos] = val
            try:
                M.jpeg_decode(bytes(p))
            except ValueError:
                pass
    for cut in range(1, len(payload)):
        try:
            M.jpeg_decode(bytes(payload[:cut]))
        except ValueError:
            pass


def test_jpeg_progressive_stats_flow_through_extract_features_seam(spark):
    """Progressive bytes end-to-end through the UNCHANGED
    extract_features stage (the seam dispatches on the SOF marker, so
    no decode_fn change), corrupt progressive payloads dead-lettered
    as NULL rows."""
    img = _jpeg_test_image()
    good = M.jpeg_encode_progressive_gray(img, quality=92)
    broken = bytearray(good)
    broken[len(broken) // 2] ^= 0x80  # usually corrupts a scan
    media = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(b"\xff\xd8\xff\xc2 junk"))],
        "media_id long, payload binary",
    )
    feats = {
        r.media_id: r
        for r in M.extract_features(
            media, decode_fn=M.jpeg_decode_stats
        ).collect()
    }
    assert feats[1].feat_n_bytes == img.size
    assert abs(feats[1].feat_mean_byte - float(img.mean())) < 4.0
    assert feats[2].feat_n_bytes is None

def _png_encode_adam7(arr, color_type=0, filter_type=0):
    """Stdlib-only Adam7 INTERLACED PNG encoder (test helper): the
    seven pass sub-images are sliced off the pixel grid, each filtered
    independently scanline by scanline (its own prev-row state), and
    concatenated into one IDAT — the wire layout png_decode's r11
    interlace support reverses."""
    import struct
    import zlib

    import numpy as np

    arr = np.asarray(arr, dtype=np.uint8)
    if color_type == 0:
        px = arr[:, :, None] if arr.ndim == 2 else arr
        channels = 1
    else:
        px = np.repeat(arr[:, :, None], 3, axis=2) if arr.ndim == 2 else arr
        channels = 3
    h, w = px.shape[:2]
    raw = bytearray()
    for x0, y0, dx, dy in (
        (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
    ):
        sub = px[y0::dy, x0::dx]
        ph, pw = sub.shape[:2]
        if ph == 0 or pw == 0:
            continue
        stride = pw * channels
        prev = bytes(stride)
        for y in range(ph):
            line = sub[y].tobytes()
            raw.append(filter_type)
            if filter_type == 0:
                raw.extend(line)
            elif filter_type == 2:  # Up, against the PASS's prev row
                raw.extend(
                    bytes((line[i] - prev[i]) & 0xFF for i in range(stride))
                )
            elif filter_type == 1:  # Sub
                raw.extend(
                    bytes(
                        (line[i] - (line[i - channels] if i >= channels
                                    else 0)) & 0xFF
                        for i in range(stride)
                    )
                )
            else:
                raise ValueError(filter_type)
            prev = line

    def chunk(ctype, data):
        c = struct.pack(">I", len(data)) + ctype + data
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return c + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 1)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_adam7_interlaced_decodes_identically():
    """Adam7 interlaced PNGs (r11): the same pixels encoded interlaced
    must decode IDENTICALLY to the sequential encoding — per color
    type, per filter type, and at odd shapes where some passes are
    empty (a 1-pixel image has exactly one pass; a 7x5 image drops the
    8-stride passes' columns)."""
    import numpy as np

    for h, w in ((24, 24), (9, 13), (7, 5), (1, 1), (8, 3), (3, 8)):
        img = _test_image(3, h=max(h, 9), w=max(w, 9))[:h, :w].copy()
        for color_type in (0, 2):
            want = M.png_decode(_png_encode(img, color_type=color_type))
            for filt in (0, 1, 2):
                got = M.png_decode(
                    _png_encode_adam7(
                        img, color_type=color_type, filter_type=filt
                    )
                )
                assert np.array_equal(got, want), (h, w, color_type, filt)


def test_png_adam7_corruption_dead_letters():
    """The exhaustive byte-flip/truncation sweep over an interlaced
    payload: the per-pass size accounting must dead-letter short or
    oversized pass data as ValueError, never an index crash."""
    img = _test_image(5, h=12, w=14)
    payload = bytearray(_png_encode_adam7(img, color_type=2, filter_type=1))
    for pos in range(len(payload)):
        for val in (0x00, 0x02, 0xFF, payload[pos] ^ 0x80, payload[pos] ^ 0x01):
            p = bytearray(payload)
            p[pos] = val
            try:
                M.png_decode(bytes(p))
            except ValueError:
                pass
    for cut in range(1, len(payload)):
        try:
            M.png_decode(bytes(payload[:cut]))
        except ValueError:
            pass


def test_jpeg_progressive_per_component_dc_scans():
    """ADVICE r11: a single-component (Ns=1) DC scan in a
    multi-component frame is NON-interleaved per T.81 §A.2 — the
    encoder must walk the component's own ceil-dims block grid, not
    the padded MCU grid (the decoder already did). A fully
    per-component scan script (DC first + AC band + DC refine, one
    component at a time) must reconstruct bit-identically to the
    baseline encode, including under 4:2:0 subsampling where the MCU
    and block grids genuinely differ."""
    import numpy as np

    img = _jpeg_test_image()
    cb = ((np.add.outer(np.arange(img.shape[0]), np.arange(img.shape[1])) * 5)
          % 256).astype(np.uint8)
    script = [
        ("dc", [0], 0, 0, 0, 1),
        ("dc", [1], 0, 0, 0, 1),
        ("dc", [2], 0, 0, 0, 1),
        ("ac", [0], 1, 63, 0, 0),
        ("ac", [1], 1, 63, 0, 0),
        ("ac", [2], 1, 63, 0, 0),
        ("dc", [0], 0, 0, 1, 0),
        ("dc", [1], 0, 0, 1, 0),
        ("dc", [2], 0, 0, 1, 0),
    ]
    for sampling in ((1, 1), (2, 2)):
        if sampling == (1, 1):
            ref = M.jpeg_decode(
                M.jpeg_encode_ycbcr444(img, cb, 255 - cb, quality=85)
            )
        else:
            ref = M.jpeg_decode(
                M.jpeg_encode_ycbcr420(
                    img, cb, 255 - cb, quality=85, sampling=sampling
                )
            )
        prog = M.jpeg_decode(
            M.jpeg_encode_progressive_ycbcr(
                img, cb, 255 - cb, quality=85, sampling=sampling,
                scan_script=script,
            )
        )
        assert np.array_equal(ref, prog), sampling


def test_exif_orientation_parser_and_apply():
    """The EXIF orientation surface, both halves: the parser reads tag
    0x0112 from real APP1 bytes in either byte order (and returns 1 —
    never raises — on missing/malformed metadata), and exif_apply's
    eight transforms invert the corresponding storage transforms
    exactly (stored = inverse(o)(upright) -> apply(o) == upright)."""
    import numpy as np

    img = _jpeg_test_image()
    base = M.jpeg_encode_gray(img, quality=85)

    # no APP1 -> upright
    assert M.exif_orientation(base) == 1
    # both byte orders round-trip every legal value through real bytes
    for bo in (b"II", b"MM"):
        for o in range(1, 9):
            tagged = base[:2] + M.exif_app1(o, byte_order=bo) + base[2:]
            assert M.exif_orientation(tagged) == o, (bo, o)
            # the tagged stream still decodes (APP1 is skipped cleanly)
            assert np.array_equal(M.jpeg_decode(tagged), M.jpeg_decode(base))
    # malformed metadata never raises: truncated TIFF, bad magic,
    # out-of-range value, non-Exif APP1
    bad_app1 = b"\xff\xe1\x00\x08Exif\x00\x00"
    assert M.exif_orientation(base[:2] + bad_app1 + base[2:]) == 1
    xmp = b"\xff\xe1\x00\x0fhttp://ns.adobe"
    assert M.exif_orientation(base[:2] + xmp + base[2:]) == 1
    assert M.exif_orientation(b"\xff\xd8\x00") == 1
    assert (
        M.exif_orientation(base[:2] + M.exif_app1(9) + base[2:]) == 1
    )  # out of range

    # apply(o) inverts the storage transform for all 8 orientations
    up = np.arange(24 * 40, dtype=np.uint8).reshape(24, 40)
    stored = {
        1: up,
        2: up[:, ::-1],
        3: up[::-1, ::-1],
        4: up[::-1, :],
        5: up.T,                    # transpose is self-inverse
        6: np.rot90(up, 1),         # displayed by rotating 90 CW
        7: up[::-1, ::-1].T,        # transverse is self-inverse
        8: np.rot90(up, -1),        # displayed by rotating 90 CCW
    }
    for o, s in stored.items():
        assert np.array_equal(M.exif_apply(s, o), up), o


def test_perceptual_hash_catches_exif_rotated_twin(spark):
    """VERDICT r11 #7: re-crawls of one image that differ ONLY by an
    EXIF orientation tag (the camera stored the sensor rotation, the
    CDN stripped-or-kept the tag) must land on NEARBY dHashes. The
    planted twin stores the image rotated 90° CCW with orientation=6;
    normalized, its hash sits within a few bits of the upright
    original — while ignoring the tag (raw decode) leaves them ~half
    the bits apart, un-pairable by any Hamming tier."""
    import numpy as np

    # a strongly DIRECTIONAL image (horizontal ramp): its dHash is
    # all horizontal-gradient bits, so a 90° rotation flips
    # essentially every bit unless the orientation tag is honored
    img = np.broadcast_to(
        (np.arange(48) * 4).astype(np.uint8), (48, 48)
    ).copy()
    upright = M.jpeg_encode_gray(img, quality=92)
    rotated = M.jpeg_encode_gray(
        np.ascontiguousarray(np.rot90(img, 1)), quality=92
    )
    twin = rotated[:2] + M.exif_app1(6) + rotated[2:]

    media = spark.createDataFrame(
        [(1, "image", "jpeg", len(upright), bytearray(upright)),
         (2, "image", "jpeg", len(twin), bytearray(twin))],
        M.MEDIA_SCHEMA,
    )
    got = {
        r.media_id: r.phash
        for r in M.perceptual_hash(media, resize_fn=M.jpeg_resize).collect()
    }

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    d_norm = ham(got[1], got[2])
    assert d_norm <= 6, d_norm  # same page, perceptual-near

    # counterfactual: WITHOUT orientation normalization the twins are
    # perceptually unrelated (the pre-r12 miss this test pins)
    raw = {
        r.media_id: r.phash
        for r in M.perceptual_hash(
            media,
            resize_fn=lambda p, w, h: (
                lambda lum: lum[
                    np.ix_(
                        np.minimum(np.arange(h) * lum.shape[0] // h,
                                   lum.shape[0] - 1),
                        np.minimum(np.arange(w) * lum.shape[1] // w,
                                   lum.shape[1] - 1),
                    )
                ].tobytes()
            )(M.jpeg_decode(p)),
        ).collect()
    }
    assert ham(raw[1], raw[2]) > 16
