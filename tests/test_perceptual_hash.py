"""Perceptual image/audio near-dup tier (operators/imagehash.py,
operators/audiohash.py, r13): hash bits against naive closed-form
recomputation, banded-blocking exhaustiveness (pigeonhole), and the
planted group/variant structure of the synthesizers."""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F

from rippledb_engine.operators import audiohash as AH
from rippledb_engine.operators import imagehash as IH


def _ids_df(spark, n=40):
    return spark.range(n).select(F.col("id").alias("doc_id"))


def _naive_group_pixels(mid, groups=50, variants=5):
    g, v = mid % groups, (mid // groups) % variants
    w, h = 4 + g % 13, 3 + g % 7
    px = [
        (31 * g + 7 * k + (3 if k % variants == v else 0)) % 256
        for k in range(w * h)
    ]
    return w, h, px


def _naive_resize(w, h, px, ow, oh):
    return [
        px[((i * h) // oh) * w + (j * w) // ow]
        for i in range(oh)
        for j in range(ow)
    ]


def _pack(bits):
    hi = lo = 0
    for k, b in enumerate(bits):
        if k < 32:
            hi = hi * 2 + b
        else:
            lo = lo * 2 + b
    return hi, lo


def _naive_ahash(mid):
    w, h, px = _naive_group_pixels(mid)
    r = _naive_resize(w, h, px, 8, 8)
    tot = sum(r)
    return _pack([1 if p * 64 >= tot else 0 for p in r])


def _naive_dhash(mid):
    w, h, px = _naive_group_pixels(mid)
    r = _naive_resize(w, h, px, 9, 8)
    return _pack(
        [1 if r[i * 9 + j] > r[i * 9 + j + 1] else 0
         for i in range(8) for j in range(8)]
    )


def _naive_audio_hash(mid, groups=50, variants=5):
    g, v = mid % groups, (mid // groups) % variants
    e = []
    for f in range(AH.N_FRAMES):
        a = (31 * g + 13 * f) % 97 + (20 if f == v else 0)
        e.append(sum((a * (k - 16)) ** 2 for k in range(AH.FRAME_LEN)))
    return _pack([1 if e[f] > e[f + 1] else 0 for f in range(64)])


def test_ahash_matches_naive_closed_form(spark):
    media = IH.synthesize_group_pngs(_ids_df(spark), "doc_id")
    got = {
        r["media_id"]: (r["hash_hi"], r["hash_lo"])
        for r in IH.ahash_images(media).collect()
    }
    assert len(got) == 40
    for mid, hv in got.items():
        assert hv == _naive_ahash(mid), f"ahash mismatch at {mid}"
        assert 0 <= hv[0] < 2**32 and 0 <= hv[1] < 2**32


def test_dhash_matches_naive_closed_form(spark):
    media = IH.synthesize_group_pngs(_ids_df(spark), "doc_id")
    got = {
        r["media_id"]: (r["hash_hi"], r["hash_lo"])
        for r in IH.dhash_images(media).collect()
    }
    for mid, hv in got.items():
        assert hv == _naive_dhash(mid), f"dhash mismatch at {mid}"


def test_audio_fingerprint_matches_naive_closed_form(spark):
    media = AH.synthesize_group_wavs(_ids_df(spark), "doc_id")
    got = {
        r["media_id"]: (r["hash_hi"], r["hash_lo"])
        for r in AH.audio_fingerprints(media).collect()
    }
    assert len(got) == 40
    for mid, hv in got.items():
        assert hv == _naive_audio_hash(mid), f"audio fp mismatch at {mid}"


def _hamming(a, b):
    return bin(a[0] ^ b[0]).count("1") + bin(a[1] ^ b[1]).count("1")


def test_hamming_pairs_exhaustive_at_radius_3(spark):
    # hand-built hashes: every pair with hamming <= 3 MUST appear
    # (pigeonhole over 4x16-bit bands), nothing above 3 may appear
    base = (0x12345678, 0x9ABCDEF0)
    rows = [
        (0, base[0], base[1]),
        (1, base[0] ^ 0b1, base[1]),  # hamming 1 vs id 0
        (2, base[0] ^ 0b11, base[1] ^ 0b1),  # hamming 3 vs id 0
        (3, base[0] ^ 0xF, base[1] ^ 0xF),  # hamming 8 vs id 0
        (4, 0x0F0F0F0F, 0xF0F0F0F0),  # far from everything
    ]
    hashes = spark.createDataFrame(
        rows, "media_id long, hash_hi long, hash_lo long"
    )
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in IH.hamming_pairs(hashes).collect()
    }
    by_id = {r[0]: (r[1], r[2]) for r in rows}
    want = {
        (a, b): _hamming(by_id[a], by_id[b])
        for a in by_id
        for b in by_id
        if a < b and _hamming(by_id[a], by_id[b]) <= 3
    }
    assert got == want


def test_hamming_pairs_validates_bands(spark):
    hashes = spark.createDataFrame(
        [(0, 1, 1)], "media_id long, hash_hi long, hash_lo long"
    )
    with pytest.raises(ValueError):
        IH.hamming_pairs(hashes, bands=3)
    with pytest.raises(ValueError):
        IH.hamming_pairs(hashes, bands=1)


def test_hamming_pairs_warns_beyond_pigeonhole(spark):
    hashes = spark.createDataFrame(
        [(0, 1, 1)], "media_id long, hash_hi long, hash_lo long"
    )
    with pytest.warns(UserWarning, match="no longer exhaustive"):
        IH.hamming_pairs(hashes, bands=4, max_hamming=4)


def test_planted_group_structure_images(spark):
    # ids 0..99 over 50 groups: id and id+50 share a group (variants 0
    # and 1). Ground truth from the naive closed form — the pair set
    # must match EXACTLY (pigeonhole exhaustiveness on real data)
    media = IH.synthesize_group_pngs(
        spark.range(100).select(F.col("id").alias("doc_id")), "doc_id"
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in IH.hamming_pairs(IH.ahash_images(media)).collect()
    }
    naive = {m: _naive_ahash(m) for m in range(100)}
    want = {
        (a, b): _hamming(naive[a], naive[b])
        for a in range(100)
        for b in range(a + 1, 100)
        if _hamming(naive[a], naive[b]) <= 3
    }
    assert pairs == want
    # the planted signal dominates: most same-group pairs are near-dups
    found = [1 for i in range(50) if (i, i + 50) in pairs]
    assert len(found) >= 40


def test_planted_group_structure_audio(spark):
    media = AH.synthesize_group_wavs(
        spark.range(100).select(F.col("id").alias("doc_id")), "doc_id"
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in IH.hamming_pairs(AH.audio_fingerprints(media)).collect()
    }
    naive = {m: _naive_audio_hash(m) for m in range(100)}
    want = {
        (a, b): _hamming(naive[a], naive[b])
        for a in range(100)
        for b in range(a + 1, 100)
        if _hamming(naive[a], naive[b]) <= 3
    }
    assert pairs == want
    # variants boost one frame each (bits {v-1, v} touched): same-group
    # pairs sit within hamming 4, most within 3 and found
    found = [1 for i in range(50) if (i, i + 50) in pairs]
    assert len(found) >= 35


def _naive_video_hash(mid, groups=50, variants=5):
    g, v = mid % groups, (mid // groups) % variants
    w, h, nf = 4 + g % 5, 3 + g % 3, 1 + g % 4
    frame_bits = []
    for f in range(nf):
        px = [
            (31 * g + 11 * f + 7 * (p // 3)
             + (3 if p % variants == v else 0)) % 256
            for p in range(w * h)
        ]
        r = _naive_resize(w, h, px, 8, 8)
        tot = sum(r)
        frame_bits.append([1 if p * 64 >= tot else 0 for p in r])
    maj = [
        1 if 2 * sum(fb[k] for fb in frame_bits) >= nf else 0
        for k in range(64)
    ]
    return _pack(maj)


def test_video_ahash_matches_naive_closed_form(spark):
    media = IH.synthesize_group_avis(_ids_df(spark), "doc_id")
    got = {
        r["media_id"]: (r["hash_hi"], r["hash_lo"])
        for r in IH.video_ahash(media).collect()
    }
    assert len(got) == 40
    for mid, hv in got.items():
        assert hv == _naive_video_hash(mid), f"video hash mismatch at {mid}"


def test_video_ahash_frame_sampling_deterministic(spark):
    media = IH.synthesize_group_avis(_ids_df(spark), "doc_id")
    # sampling with a budget >= every video's frame count (nf <= 4) is
    # the identity — stride 1 everywhere
    full = {
        r["media_id"]: (r["hash_hi"], r["hash_lo"])
        for r in IH.video_ahash(media).collect()
    }
    capped = {
        r["media_id"]: (r["hash_hi"], r["hash_lo"])
        for r in IH.video_ahash(media, max_frames=4).collect()
    }
    assert capped == full
    # max_frames=1 keeps exactly frame 0: equal to the naive frame-0 hash
    one = {
        r["media_id"]: (r["hash_hi"], r["hash_lo"])
        for r in IH.video_ahash(media, max_frames=1).collect()
    }
    for mid, hv in one.items():
        g, v = mid % 50, (mid // 50) % 5
        w, h = 4 + g % 5, 3 + g % 3
        px = [
            (31 * g + 7 * (p // 3) + (3 if p % 5 == v else 0)) % 256
            for p in range(w * h)
        ]
        r = _naive_resize(w, h, px, 8, 8)
        tot = sum(r)
        assert hv == _pack([1 if p * 64 >= tot else 0 for p in r]), mid


def test_video_ahash_corrupt_payload_dropped(spark):
    media = spark.createDataFrame(
        [(1, bytearray(b"RIFFxxxxnope"), "video/x-msvideo")],
        "media_id long, payload binary, media_type string",
    )
    assert IH.video_ahash(media).count() == 0


def test_near_dup_drops_greedy_min_keeps(spark):
    # hand-built: ids 0/1/2 share one exact hash (0 is representative),
    # id 3 is hamming-1 from it (dropped vs rep 0), id 4 is far (kept)
    rows = [
        (0, 100, 200),
        (1, 100, 200),
        (2, 100, 200),
        (3, 101, 200),  # hamming 1 from (100, 200)
        (4, 0x0F0F0F0F, 0xF0F0F0F0),
    ]
    hashes = spark.createDataFrame(
        rows, "media_id long, hash_hi long, hash_lo long"
    )
    drops = {r["media_id"] for r in IH.near_dup_drops(hashes).collect()}
    assert drops == {1, 2, 3}


def test_resize_pixels_corrupt_payload_survives(spark):
    media = spark.createDataFrame(
        [(1, bytearray(b"not a png"), "image/png")],
        "media_id long, payload binary, media_type string",
    )
    rows = IH.resize_pixels(media, 8, 8).collect()
    assert len(rows) == 1 and rows[0]["decode_ok"] is False
    assert IH.ahash_images(media).count() == 0


# --- r14: format-dispatching decode + mixed-format corpus --------------------


def _mixed_field(mid, groups=25, variants=4):
    g, v = mid % groups, (mid // groups) % variants
    w, h = 8 * (4 + g % 3), 8 * (4 + g % 2)
    bw = w // 8
    px = bytes(
        (53 * (g + 1) * ((y // 8) * bw + x // 8 + 1) ** 2
         + 17 * ((y // 8) * bw + x // 8)
         + (9 if ((y // 8) * bw + x // 8) % variants == v else 0)) % 256
        for y in range(h)
        for x in range(w)
    )
    return w, h, px


def test_decode_image_pixels_dispatch_exact_all_formats():
    """Every container's REAL decode path reproduces the one planted
    pixel field byte for byte (the exactness the mixed-format oracle
    rides on): PNG zlib/unfilter, baseline JPEG entropy+IDCT on
    block-constant content, GIF LZW indices through the identity-gray
    table, BMP BI_RGB and BI_RLE8 via palette luma, TIFF strips with
    and without LZW."""
    from rippledb_engine.operators.imagehash import decode_image_pixels
    from rippledb_engine.operators.jpeg import encode_jpeg_gray
    from rippledb_engine.operators.multimodal import (
        encode_bmp,
        encode_gif_gray,
        encode_png,
        encode_tiff,
    )

    pal = [(i, i, i) for i in range(256)]
    for mid in (0, 7, 31, 99, 260, 481):
        w, h, px = _mixed_field(mid)
        payloads = [
            ("image/png", encode_png(w, h, px)),
            ("image/jpeg", encode_jpeg_gray(w, h, px)),
            ("image/gif", encode_gif_gray(w, h, px)),
            ("image/bmp", encode_bmp(w, h, px, pal, rle8=bool(mid % 2))),
            ("image/tiff", encode_tiff(w, h, px, lzw=bool(mid % 2))),
        ]
        for mt, payload in payloads:
            dw, dh, dec = decode_image_pixels(payload, mt)
            assert (dw, dh) == (w, h), mt
            assert bytes(dec) == px, f"{mt} did not round-trip id {mid}"


def test_decode_image_pixels_unknown_type_refuses():
    from rippledb_engine.operators.imagehash import decode_image_pixels

    with pytest.raises(ValueError, match="no image decoder"):
        decode_image_pixels(b"\x00" * 32, "image/webp")


def test_palette_luma_weights():
    """Non-identity palettes go through integer Rec.601 luma (exact for
    identity-gray by weight-sum-1000 construction)."""
    from rippledb_engine.operators.imagehash import _palette_luma

    pal = [(255, 0, 0), (0, 255, 0), (0, 0, 255)] + [(7, 7, 7)] * 253
    out = _palette_luma(bytes([0, 1, 2, 3]), pal)
    assert list(out) == [
        299 * 255 // 1000, 587 * 255 // 1000, 114 * 255 // 1000, 7
    ]


def test_mixed_format_cross_container_duplicates_pair_at_zero(spark):
    """Cross-format same-(g,v) duplicates — one pixel field in five
    containers — must ALL pair at Hamming 0 through the one-pass
    dispatching decode (the r14 planted claim)."""
    # ids g + 100*fmt for g in {0, 1}: 2 (g,v) combos x 5 formats
    ids = [g + 100 * f for g in (0, 1) for f in range(5)]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    media = IH.synthesize_mixed_format_images(df, "doc_id")
    # all five containers present
    assert set(
        r["media_type"] for r in media.select("media_type").distinct().collect()
    ) == set(IH.MIXED_FORMATS)
    pairs = IH.hamming_pairs(IH.ahash_images(media)).collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    for g in (0, 1):
        same = sorted(g + 100 * f for f in range(5))
        for i, a in enumerate(same):
            for b in same[i + 1 :]:
                assert got.get((a, b)) == 0, (a, b, got.get((a, b)))
    # and nothing pairs across the two groups
    assert not any(
        (a % 25) != (b % 25) for (a, b) in got
    ), "cross-group leakage in the planted mixed corpus"


# --- r14: MPEG-1 video fingerprint adapter -----------------------------------


def _naive_mpeg1_video_ahash(mid, groups=50, variants=5):
    g, v = mid % groups, (mid // groups) % variants
    w, h = 16 * (2 + g % 2), 16 * (2 + g % 3)
    nf = 1 + g % 3
    bw = w // 8
    per_frame_bits = []
    for f in range(nf):
        px = [
            (53 * (g + 1) * ((y // 8) * bw + x // 8 + 1) ** 2
             + 17 * ((y // 8) * bw + x // 8) + 11 * f
             + (9 if ((y // 8) * bw + x // 8) % variants == v else 0)) % 256
            for y in range(h)
            for x in range(w)
        ]
        r = _naive_resize(w, h, px, 8, 8)
        tot = sum(r)
        per_frame_bits.append([1 if p * 64 >= tot else 0 for p in r])
    maj = [
        1 if 2 * sum(fb[k] for fb in per_frame_bits) >= nf else 0
        for k in range(64)
    ]
    return _pack(maj)


def test_mpeg1_video_ahash_matches_naive(spark):
    """The REAL MPEG-1 decode (slice walk, DC prediction, dequant,
    IDCT) feeding video_ahash must land the closed-form hash for every
    (dims, frame-count) shape in the planted family."""
    ids = [0, 1, 2, 3, 4, 5, 53, 107, 251]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    media = IH.synthesize_group_mpeg1(df, "doc_id")
    got = {
        r["media_id"]: (r["hash_hi"], r["hash_lo"])
        for r in IH.video_ahash(media).collect()
    }
    assert set(got) == set(ids)
    for mid in ids:
        assert got[mid] == _naive_mpeg1_video_ahash(mid), mid


def test_video_dispatch_unknown_and_corrupt(spark):
    from rippledb_engine.operators.imagehash import decode_video_gray_frames

    with pytest.raises(ValueError, match="no video decoder"):
        decode_video_gray_frames(b"\x00" * 16, "video/webm")
    media = spark.createDataFrame(
        [(1, bytearray(b"junk"), "video/mpeg;codec=mpeg1")],
        "media_id long, payload binary, media_type string",
    )
    rows = IH.video_frame_pixels(media, 8, 8).collect()
    assert len(rows) == 1 and rows[0]["decode_ok"] is False


# --- r14: dual audio fingerprint ---------------------------------------------


def _naive_wav_samples(mid, groups=50, variants=5):
    g, v = mid % groups, (mid // groups) % variants
    return [
        ((31 * g + 13 * (t // 32)) % 97 + (20 if t // 32 == v else 0))
        * (t % 32 - 16)
        for t in range(2080)
    ]


def test_audio_dual_fingerprints_match_naive(spark):
    ids = [0, 3, 57, 101, 263]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    media = AH.synthesize_group_wavs(df, "doc_id")
    got = {
        r["media_id"]: r
        for r in AH.audio_fingerprints_dual(media).collect()
    }
    for mid in ids:
        s = _naive_wav_samples(mid)
        e1 = [sum(x * x for x in s[f * 32 : f * 32 + 32]) for f in range(65)]
        e2 = [sum(x * x for x in s[f * 16 : f * 16 + 16]) for f in range(130)]
        b1 = [1 if e1[k] > e1[k + 1] else 0 for k in range(64)]
        b2 = [1 if e2[2 * k + 1] > e2[2 * k + 2] else 0 for k in range(64)]
        hi1, lo1 = _pack(b1)
        hi2, lo2 = _pack(b2)
        r = got[mid]
        assert (r["hash_hi"], r["hash_lo"]) == (hi1, lo1), mid
        assert (r["hash2_hi"], r["hash2_lo"]) == (hi2, lo2), mid


def test_audio_dual_pairs_gate_and_recall(spark):
    """Same-(g,v) clips pair at (0, 0); the dual gate only ever REMOVES
    pairs the fp1 blocking found (it is a post-filter — no new pairs),
    and same-group pairs survive it on the planted corpus."""
    ids = [0, 50, 100, 7, 57]  # group 0 x 3 variants, group 7 x 2
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    media = AH.synthesize_group_wavs(df, "doc_id")
    rows = AH.audio_dual_pairs(media).collect()
    base = {
        (r["id_a"], r["id_b"])
        for r in IH.hamming_pairs(
            AH.audio_fingerprints(media)
        ).collect()
    }
    assert {(r["id_a"], r["id_b"]) for r in rows} == base
    same_group = [r for r in rows if r["id_a"] % 50 == r["id_b"] % 50]
    assert same_group and all(r["dual"] for r in same_group)
    exact = [r for r in rows if r["hamming"] == 0]
    assert all(r["hamming2"] == 0 for r in exact)


# --- r14: DCT pHash -----------------------------------------------------------


def test_dct_phash_matches_naive(spark):
    """The Arrow-stage integer DCT (T @ px @ T.T) + JVM median/packing
    must land the pure-Python closed-form hash bit for bit."""
    from rippledb_engine.operators import dctphash as DP

    ids = [0, 5, 49, 123, 250]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    media = IH.synthesize_group_pngs(df, "doc_id")
    got = {
        r["media_id"]: (r["hash_hi"], r["hash_lo"])
        for r in DP.dct_phash_images(media).collect()
    }
    T = [DP.DCT_BASIS[u * 32 + i] for u in range(8) for i in range(32)]
    for mid in ids:
        w, h, px = _naive_group_pixels(mid)
        rs = _naive_resize(w, h, px, 32, 32)
        r_stage = [
            sum(T[u * 32 + i] * rs[i * 32 + j] for i in range(32))
            for u in range(8)
            for j in range(32)
        ]
        c = [
            sum(T[v * 32 + j] * r_stage[u * 32 + j] for j in range(32))
            for u in range(8)
            for v in range(8)
        ]
        s = sorted(c)
        m = s[31] + s[32]
        bits = [1 if 2 * x > m else 0 for x in c]
        assert got[mid] == _pack(bits), mid


def test_dct_phash_corrupt_and_formats(spark):
    """Corrupt rows drop; the DCT tier rides the SAME format dispatch
    as the aHash tier (a JPEG and a PNG of one field hash identically)."""
    from rippledb_engine.operators import dctphash as DP
    from rippledb_engine.operators.jpeg import encode_jpeg_gray
    from rippledb_engine.operators.multimodal import encode_png

    w, h, px = _mixed_field(3)
    media = spark.createDataFrame(
        [
            (1, bytearray(encode_png(w, h, px)), "image/png"),
            (2, bytearray(encode_jpeg_gray(w, h, px)), "image/jpeg"),
            (3, bytearray(b"junk"), "image/png"),
        ],
        "media_id long, payload binary, media_type string",
    )
    rows = {r["media_id"]: (r["hash_hi"], r["hash_lo"])
            for r in DP.dct_phash_images(media).collect()}
    assert set(rows) == {1, 2}
    assert rows[1] == rows[2]


# --- r14: animated-GIF video fingerprint --------------------------------------


def test_animated_gif_video_ahash_matches_avi_twin(spark):
    """The animated-GIF corpus shares the AVI corpus's pixel closed
    form, so the two containers must land IDENTICAL fingerprints per
    media_id — the strongest cross-container check available for the
    video tier."""
    ids = [0, 1, 2, 7, 53, 107]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    gif_h = {
        r["media_id"]: (r["hash_hi"], r["hash_lo"])
        for r in IH.video_ahash(
            IH.synthesize_group_animated_gifs(df, "doc_id")
        ).collect()
    }
    avi_h = {
        r["media_id"]: (r["hash_hi"], r["hash_lo"])
        for r in IH.video_ahash(
            IH.synthesize_group_avis(df, "doc_id")
        ).collect()
    }
    assert gif_h == avi_h and set(gif_h) == set(ids)


def test_animated_gif_partial_frame_composites(spark):
    """r15: a partial second frame COMPOSITES over the logical screen
    (the r14 refusal is gone) — both displayed frames come back at
    screen dims, the smaller update overlaid on the persisted canvas."""
    from rippledb_engine.operators.imagehash import decode_video_gray_frames
    from rippledb_engine.operators.multimodal import encode_gif_frames

    ident = [(i, i, i) for i in range(256)]
    base = bytes((11 * k) % 256 for k in range(12))
    payload = encode_gif_frames(4, 3, [
        dict(width=4, height=3, indices=base, disposal=1),
        dict(left=1, top=1, width=2, height=2, indices=bytes([250]) * 4,
             disposal=0),
    ], global_palette=ident)
    w, h, frames = decode_video_gray_frames(payload, "image/gif")
    assert (w, h) == (4, 3) and len(frames) == 2
    assert frames[0] == base
    exp = bytearray(base)
    for y, x in ((1, 1), (1, 2), (2, 1), (2, 2)):
        exp[y * 4 + x] = 250
    assert frames[1] == bytes(exp)


def test_gif_compositor_palettes_disposal_transparency():
    """The r15 compositing model end to end against hand-built frames:
    local color tables override the global one, transparent indices
    leave the canvas, disposal 2 restores the rect to background and
    3 to the pre-frame canvas, and never-painted areas show the
    background color."""
    from rippledb_engine.operators.imagehash import composite_gif_luma_frames
    from rippledb_engine.operators.multimodal import encode_gif_frames

    ident = [(i, i, i) for i in range(256)]
    base = bytes((7 * k) % 256 for k in range(12 * 8))
    shift = 40
    rotated = [((i + shift) % 256,) * 3 for i in range(256)]
    # tile indices: 255 transparent, others map through the ROTATED
    # local table to luma 200 — a decoder using the global table would
    # land (200 - 40) and mismatch
    tile = bytes(((200 - shift) % 256) if (i % 4) else 255 for i in range(16))
    payload = encode_gif_frames(12, 8, [
        dict(width=12, height=8, indices=base, disposal=1),
        dict(left=4, top=4, width=4, height=4, indices=tile,
             local_palette=rotated, disposal=3, transparent_idx=255),
        dict(left=0, top=0, width=4, height=4, indices=bytes([9]) * 16,
             disposal=2),
        dict(left=8, top=0, width=4, height=4, indices=bytes([33]) * 16,
             disposal=1),
    ], global_palette=ident, bg_index=5)
    w, h, frames = composite_gif_luma_frames(payload)
    assert (w, h, len(frames)) == (12, 8, 4)
    assert frames[0] == base
    exp1 = bytearray(base)
    for i in range(16):
        if i % 4:
            exp1[(4 + i // 4) * 12 + 4 + i % 4] = 200
    assert frames[1] == bytes(exp1)  # local palette + transparency
    exp2 = bytearray(base)  # disposal 3 wiped the frame-1 tile
    for i in range(16):
        exp2[(i // 4) * 12 + i % 4] = 9
    assert frames[2] == bytes(exp2)
    exp3 = bytearray(base)  # disposal 2 -> origin rect shows BACKGROUND
    for i in range(16):
        exp3[(i // 4) * 12 + i % 4] = 5
    for i in range(16):
        exp3[(i // 4) * 12 + 8 + i % 4] = 33
    assert frames[3] == bytes(exp3)


def test_gif_compositor_refusals():
    """Structurally wrong streams refuse loudly instead of
    fingerprinting wrong (the refuse-loudly contract the r14 ADVICE
    flagged as violated by the silent global-palette fallback)."""
    import pytest

    from rippledb_engine.operators.imagehash import composite_gif_luma_frames
    from rippledb_engine.operators.multimodal import encode_gif_frames

    ident = [(i, i, i) for i in range(256)]
    small = [(0, 0, 0), (255, 255, 255)]

    # background needed but no global table to define it
    p = encode_gif_frames(6, 4, [dict(width=2, height=2, indices=bytes(4),
                                      local_palette=ident)])
    with pytest.raises(ValueError, match="no global color table"):
        composite_gif_luma_frames(p)
    # frame with neither local nor global table
    p = bytearray(encode_gif_frames(2, 2, [dict(width=2, height=2,
                                                indices=bytes(4),
                                                local_palette=small)]))
    # strip the local-table flag + 6 table bytes out of the descriptor
    i = p.index(0x2C)
    assert p[i + 9] == 0x80
    p[i + 9] = 0x00
    del p[i + 10 : i + 16]
    with pytest.raises(ValueError, match="no local color table"):
        composite_gif_luma_frames(bytes(p))
    # index beyond the frame's table
    p = bytearray(encode_gif_frames(2, 2, [dict(width=2, height=2,
                                                indices=bytes([1]) * 4,
                                                local_palette=small)],
                                    global_palette=small))
    with pytest.raises(ValueError, match="beyond the color table"):
        # rewrite the global table to 2 entries but plant index 3 via a
        # hand-made frame: easier — encode with indices in range, then
        # decode a stream built directly with a 2-entry table and a
        # field of 3s through the raw fixed-width encoder
        from rippledb_engine.operators.multimodal import _gif_lzw_fixed
        import struct as _s

        raw = bytearray(b"GIF89a") + _s.pack("<HH", 2, 2)
        raw += bytes([0x80, 0, 0]) + b"\x00\x00\x00\xff\xff\xff"
        raw += b"\x21\xf9\x04\x00\x0a\x00\x00\x00"
        raw += b"\x2c" + _s.pack("<HHHH", 0, 0, 2, 2) + b"\x00"
        raw += _gif_lzw_fixed(bytes([3]) * 4, 2)
        raw += b"\x3b"
        composite_gif_luma_frames(bytes(raw))
    # rect outside the logical screen
    with pytest.raises(ValueError, match="exceeds the logical screen"):
        encode_gif_frames(4, 4, [dict(left=2, top=0, width=4, height=2,
                                      indices=bytes(8))],
                          global_palette=ident)
    # reserved disposal method (hand-patch the GCE)
    p = bytearray(encode_gif_frames(2, 2, [dict(width=2, height=2,
                                                indices=bytes(4))],
                                    global_palette=ident))
    gce = bytes(p).index(b"\x21\xf9")
    p[gce + 3] = 5 << 2
    with pytest.raises(ValueError, match="reserved disposal"):
        composite_gif_luma_frames(bytes(p))


def test_near_dup_drops_dual_gate_semantics(spark):
    """The r15 dual gate: identical fp1 with DIVERGENT fp2 must NOT
    collapse or drop (that is the false-drop class the gate exists to
    kill); identical full fingerprints collapse; fp1-near pairs drop
    only when fp2 confirms; a NULL fp2 passes (video degrades to the
    coarse rule)."""
    rows = [
        # a/b: identical fp1, fp2 wildly apart -> BOTH survive
        (0, 100, 200, 0x0F0F0F0F, 0x33CC33CC),
        (1, 100, 200, 0x70F0F0F0, 0x0C33CC33),
        # c/d: identical full fingerprint -> d collapses onto c
        (2, 500, 600, 7, 9),
        (3, 500, 600, 7, 9),
        # e/f: fp1 hamming 1, fp2 hamming 1 (confirmed) -> f drops
        (4, 0x1000, 0x2000, 0x44, 0x55),
        (5, 0x1001, 0x2000, 0x44, 0x54),
        # g/h: fp1 hamming 1, NULL fp2 on one side -> passes, h drops
        (6, 0x700000, 0x800000, None, None),
        (7, 0x700001, 0x800000, 0x1, 0x2),
    ]
    hashes = spark.createDataFrame(
        rows,
        "media_id long, hash_hi long, hash_lo long,"
        " hash2_hi long, hash2_lo long",
    )
    got = sorted(
        r["media_id"] for r in IH.near_dup_drops_dual(
            hashes, max_hamming2=2
        ).collect()
    )
    assert got == [3, 5, 7]
    # the by-kind dispatcher: dual columns present -> image/audio gate,
    # absent confirm entry (video) -> coarse rule
    kinds = hashes.withColumn("kind", F.lit("image"))
    by_kind = sorted(
        r["media_id"]
        for r in IH.near_dup_drops_by_kind(
            kinds, kinds=("image",), confirm={"image": 2}
        ).collect()
    )
    assert by_kind == [3, 5, 7]
    video = hashes.withColumn("kind", F.lit("video"))
    coarse = sorted(
        r["media_id"]
        for r in IH.near_dup_drops_by_kind(video, kinds=("video",)).collect()
    )
    # coarse rule: fp2 ignored entirely -> 1 drops against 0 too
    assert coarse == [1, 3, 5, 7]


def test_media_confirm_radii_match_source_constants():
    from rippledb_engine.operators.audiohash import MAX_HAMMING2
    from rippledb_engine.operators.dctphash import DCT_CONFIRM_MAX_HAMMING

    assert IH.MEDIA_CONFIRM_RADII == {
        "image": DCT_CONFIRM_MAX_HAMMING,
        "audio": MAX_HAMMING2,
    }
