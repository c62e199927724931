"""Perceptual image dedup: the dHash kernel convention, the Spark
decode+hash operator, and Hamming banding recall vs brute force."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from hll_spark.operators.dedup import hamming_band_pairs, image_dup_pairs
from hll_spark.operators.multimodal import (
    dhash_image,
    encode_png,
    image_dhash,
)


def _brute_hash(img):
    # independent reference for the 8x9 grid-identity case
    bits = (img[:, :-1].astype(float) > img[:, 1:].astype(float)).ravel()
    return sum(int(b) << k for k, b in enumerate(bits))


def test_grid_identity_matches_direct_comparisons():
    rng = np.random.default_rng(3)
    for _ in range(20):
        img = rng.integers(0, 256, (8, 9)).astype(np.uint8)
        assert dhash_image(img) == _brute_hash(img)


def test_monotonic_rows_give_all_zero_and_all_one():
    inc = (np.arange(72).reshape(8, 9) % 251).astype(np.uint8)
    assert dhash_image(inc) == 0
    dec = inc[:, ::-1].copy()
    assert dhash_image(dec) == (1 << 64) - 1


def test_rgb_equal_channels_matches_gray():
    rng = np.random.default_rng(5)
    g = rng.integers(0, 256, (16, 18)).astype(np.uint8)
    rgb = np.stack([g, g, g], axis=2)
    assert dhash_image(rgb) == dhash_image(g)


def test_pixel_repetition_upscale_is_hash_invariant():
    # box means over x2-repeated bands equal the original means
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (8, 9)).astype(np.uint8)
    big = np.repeat(np.repeat(img, 4, axis=0), 4, axis=1)
    assert dhash_image(big) == dhash_image(img)


def test_small_images_upscale_to_grid():
    rng = np.random.default_rng(9)
    img = rng.integers(0, 256, (3, 4)).astype(np.uint8)
    h = dhash_image(img)
    assert 0 <= h < (1 << 64)
    # same as hashing the explicit pixel-repetition blow-up
    blown = np.repeat(np.repeat(img, 3, axis=0), 3, axis=1)
    assert dhash_image(blown) == h


def test_video_hashes_first_frame():
    rng = np.random.default_rng(11)
    frames = rng.integers(0, 256, (4, 16, 18, 3)).astype(np.uint8)
    assert dhash_image(frames) == dhash_image(frames[0])


def test_guards():
    with pytest.raises(ValueError):
        dhash_image(np.array([1, 2, 3]))
    with pytest.raises(ValueError):
        dhash_image(np.zeros((0, 5)))


def test_jpeg_reencode_is_near_duplicate():
    # coarse block structure survives lossy re-encoding: dHash of the
    # JPEG round-trip stays within a small Hamming budget of the
    # original (the property that makes dHash a near-dup key, where a
    # byte hash sees two unrelated blobs)
    from hll_spark.operators.jpegcodec import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(13)
    blocks = rng.integers(0, 2, (8, 9)) * 200 + 20
    img = np.repeat(np.repeat(blocks, 16, axis=0), 16, axis=1).astype(np.uint8)
    redec = decode_jpeg(encode_jpeg(img, quality=85))
    d = bin(dhash_image(img) ^ dhash_image(np.asarray(redec))).count("1")
    assert d <= 2


# max_hamming 4 and 6 split the hash into 5 and 7 chunks of uneven width
@pytest.mark.parametrize("max_hamming", [3, 4, 6])
def test_banding_parity_with_brute_force(spark, max_hamming):
    rng = np.random.default_rng(17)
    n = 300
    base = rng.integers(-(2**62), 2**62, n, dtype=np.int64)
    # plant near-dup structure: 40 ids are 1..max_hamming bit flips of
    # earlier ones
    for i in range(40):
        src = int(base[i])
        flips = rng.choice(64, size=rng.integers(1, max_hamming + 1), replace=False)
        v = src
        for f in flips:
            v ^= 1 << int(f)
        base[n - 1 - i] = np.int64(np.uint64(v % (1 << 64)).astype(np.int64))
    pdf = pd.DataFrame({"id": np.arange(n, dtype=np.int64), "h": base})
    hashed = spark.createDataFrame(pdf)
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in hamming_band_pairs(hashed, "id", "h", max_hamming).collect()
    }
    u = base.astype(np.uint64)

    def popcount(arr):
        return np.unpackbits(arr.view(np.uint8).reshape(len(arr), 8), axis=1).sum(axis=1)

    want = set()
    for a in range(n):
        ham = popcount(u ^ u[a])
        for b in np.nonzero((ham <= max_hamming) & (np.arange(n) > a))[0]:
            want.add((a, int(b), int(ham[b])))
    assert got == want


def test_image_dup_pairs_end_to_end(spark):
    rng = np.random.default_rng(19)
    rows = []
    for i in range(12):
        img = rng.integers(0, 256, (24, 27)).astype(np.uint8)
        rows.append((2 * i, bytearray(encode_png(img))))
        rows.append((2 * i + 1, bytearray(encode_png(img))))  # clone
    rows.append((100, None))  # null payload
    rows.append((101, bytearray(b"not an image at all")))  # corrupt
    df = spark.createDataFrame(rows, "media_id bigint, payload binary")
    pairs = image_dup_pairs(df, "payload", "media_id", max_hamming=2)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert {(2 * i, 2 * i + 1) for i in range(12)} <= got
    flat = {x for p in got for x in p}
    assert 100 not in flat and 101 not in flat


def test_image_dhash_null_for_audio_and_corrupt(spark):
    from hll_spark.operators.multimodal import encode_wav

    wav = encode_wav(np.zeros(10, dtype=np.int16))
    df = spark.createDataFrame(
        [(0, bytearray(wav)), (1, bytearray(b"junk")), (2, None)],
        "media_id bigint, payload binary",
    )
    got = {r["media_id"]: r["dhash"] for r in image_dhash(df).collect()}
    assert got == {0: None, 1: None, 2: None}


def test_simhash_pairs_unchanged_by_refactor(spark):
    # the banding extraction must not have changed simhash_pairs
    from hll_spark.operators.dedup import simhash_pairs

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy dogs"),
            (2, "completely different content about spark plans"),
        ],
        "doc_id bigint, text string",
    )
    got = {
        (r["id_a"], r["id_b"]) for r in
        simhash_pairs(docs, "text", "doc_id", max_hamming=10).collect()
    }
    assert (0, 1) in got and (0, 2) not in got


# -- audio fingerprint ------------------------------------------------------


def _afp_reference(samples):
    # independent reference: exact integer cross-multiplied means
    e = np.abs(np.asarray(samples).astype(np.int64))
    if e.ndim == 2:
        e = e.sum(axis=1)
    parts = np.array_split(e, 65)
    s = [int(p.sum()) for p in parts]
    n = [len(p) for p in parts]
    return sum(
        int(s[k] * n[k + 1] > s[k + 1] * n[k]) << k for k in range(64)
    )


def test_audio_fingerprint_matches_reference():
    from hll_spark.operators.multimodal import audio_fingerprint

    rng = np.random.default_rng(23)
    for n in (650, 653, 64, 1):
        s = rng.integers(-30000, 30000, n).astype(np.int16)
        assert audio_fingerprint(s) == _afp_reference(
            np.repeat(s, -(-65 // n)) if n < 65 else s
        )


def test_audio_fingerprint_stereo_channel_sum():
    from hll_spark.operators.multimodal import audio_fingerprint

    rng = np.random.default_rng(29)
    st = rng.integers(-1000, 1000, (650, 2)).astype(np.int16)
    mono_e = np.abs(st.astype(np.int64)).sum(axis=1)
    assert audio_fingerprint(st) == _afp_reference(mono_e)


def test_audio_wav_roundtrip_invariant():
    from hll_spark.operators.multimodal import (
        audio_fingerprint,
        decode_wav,
        encode_wav,
    )

    rng = np.random.default_rng(31)
    s = rng.integers(-30000, 30000, 650).astype(np.int16)
    assert audio_fingerprint(s) == audio_fingerprint(decode_wav(encode_wav(s)))


def test_modality_magic_sniffing(spark):
    # a grayscale PNG must NOT fingerprint as audio; a stereo WAV must
    # NOT dhash as an image — magic decides, not decoded array shape
    import wave as _wave  # noqa: F401  (documents the stdlib path)

    from hll_spark.operators.multimodal import audio_afp, image_dhash

    rng = np.random.default_rng(37)
    png = encode_png(rng.integers(0, 256, (16, 18)).astype(np.uint8))
    stereo = rng.integers(-1000, 1000, (100, 2)).astype(np.int16)
    import io

    buf = io.BytesIO()
    with _wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(stereo.tobytes())
    wav2 = buf.getvalue()
    df = spark.createDataFrame(
        [(0, bytearray(png)), (1, bytearray(wav2))],
        "media_id bigint, payload binary",
    )
    afp = {r["media_id"]: r["afp"] for r in audio_afp(df).collect()}
    dh = {r["media_id"]: r["dhash"] for r in image_dhash(df).collect()}
    assert afp[0] is None and afp[1] is not None
    assert dh[0] is not None and dh[1] is None


def test_audio_dup_pairs_end_to_end(spark):
    from hll_spark.operators.dedup import audio_dup_pairs
    from hll_spark.operators.multimodal import encode_wav

    rng = np.random.default_rng(41)
    rows = []
    for i in range(8):
        s = rng.integers(-30000, 30000, 650).astype(np.int16)
        rows.append((2 * i, bytearray(encode_wav(s))))
        rows.append((2 * i + 1, bytearray(encode_wav(s))))  # clone
    rows.append((100, bytearray(b"RIFFjunkWAVEbroken")))
    rows.append((101, None))
    df = spark.createDataFrame(rows, "media_id bigint, payload binary")
    got = {
        (r["id_a"], r["id_b"])
        for r in audio_dup_pairs(df, "payload", "media_id", 2).collect()
    }
    assert {(2 * i, 2 * i + 1) for i in range(8)} <= got
    flat = {x for p in got for x in p}
    assert 100 not in flat and 101 not in flat


@pytest.mark.parametrize("max_hamming", [3, 4, 6])
def test_band_join_parity_with_brute_force(spark, max_hamming):
    # cross-table analog of the self-join brute-force parity: split
    # the same planted near-dup population into two tables and demand
    # the exact cross-pair set (recall 1 within the Hamming budget)
    from hll_spark.operators.dedup import hamming_band_join

    rng = np.random.default_rng(23)
    n = 300
    base = rng.integers(-(2**62), 2**62, n, dtype=np.int64)
    for i in range(40):
        src = int(base[i])
        flips = rng.choice(64, size=rng.integers(1, max_hamming + 1), replace=False)
        v = src
        for f in flips:
            v ^= 1 << int(f)
        base[n - 1 - i] = np.int64(np.uint64(v % (1 << 64)).astype(np.int64))
    left = spark.createDataFrame(
        pd.DataFrame({"id": np.arange(0, n, 2), "h": base[0::2]})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"id": np.arange(1, n, 2), "h": base[1::2]})
    )
    got = {
        (r["left_id"], r["right_id"], r["hamming"])
        for r in hamming_band_join(left, right, "id", "h", max_hamming).collect()
    }
    u = base.astype(np.uint64)

    def popcount(arr):
        return np.unpackbits(arr.view(np.uint8).reshape(len(arr), 8), axis=1).sum(axis=1)

    want = set()
    for a in range(0, n, 2):  # left ids are even positions
        ham = popcount(u ^ u[a])
        for b in np.nonzero(ham <= max_hamming)[0]:
            if b % 2 == 1:  # right ids are odd positions
                want.add((a, int(b), int(ham[b])))
    assert got == want


def test_image_dup_join_cross_corpus(spark):
    # increment images 0-5 clone corpus images 100-105; increment 6-7
    # are novel; null/corrupt payloads drop out of both sides
    from hll_spark.operators.dedup import image_dup_join

    rng = np.random.default_rng(29)
    imgs = [rng.integers(0, 256, (24, 27)).astype(np.uint8) for _ in range(8)]
    new_rows = [(i, bytearray(encode_png(imgs[i]))) for i in range(8)]
    new_rows.append((50, None))
    corp_rows = [(100 + i, bytearray(encode_png(imgs[i]))) for i in range(6)]
    corp_rows.append((150, bytearray(b"corrupt")))
    new = spark.createDataFrame(new_rows, "media_id bigint, payload binary")
    corpus = spark.createDataFrame(corp_rows, "media_id bigint, payload binary")
    got = {
        (r["left_id"], r["right_id"])
        for r in image_dup_join(new, corpus, "payload", "media_id", max_hamming=2).collect()
    }
    assert {(i, 100 + i) for i in range(6)} <= got
    flat = {x for p in got for x in p}
    assert 50 not in flat and 150 not in flat


def test_audio_dup_join_cross_corpus(spark):
    from hll_spark.operators.dedup import audio_dup_join
    from hll_spark.operators.multimodal import encode_wav

    rng = np.random.default_rng(43)
    sigs = [rng.integers(-30000, 30000, 650).astype(np.int16) for _ in range(6)]
    new_rows = [(i, bytearray(encode_wav(s))) for i, s in enumerate(sigs)]
    new_rows.append((50, None))
    corp_rows = [(100 + i, bytearray(encode_wav(sigs[i]))) for i in range(4)]
    corp_rows.append((150, bytearray(b"RIFFjunkWAVEbroken")))
    new = spark.createDataFrame(new_rows, "media_id bigint, payload binary")
    corpus = spark.createDataFrame(corp_rows, "media_id bigint, payload binary")
    got = {
        (r["left_id"], r["right_id"])
        for r in audio_dup_join(new, corpus, "payload", "media_id", 2).collect()
    }
    assert {(i, 100 + i) for i in range(4)} <= got
    flat = {x for p in got for x in p}
    assert 50 not in flat and 150 not in flat
