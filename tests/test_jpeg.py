"""Baseline JPEG codec + MJPEG-in-AVI (operators/jpeg.py, r8)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from rippledb_engine.operators.jpeg import (
    AC_BITS,
    AC_VALUES,
    DC_BITS,
    decode_jpeg_gray,
    encode_jpeg_gray,
)
from rippledb_engine.operators.multimodal import (
    decode_avi_frames,
    encode_avi,
    synth_mjpeg_dims,
    synth_mjpeg_pixels,
)


def test_annex_k_table_shapes():
    assert sum(DC_BITS) == 12
    assert sum(AC_BITS) == len(AC_VALUES) == 162


def test_block_constant_round_trip_is_exact():
    rng = np.random.default_rng(7)
    for w, h in [(8, 8), (16, 8), (24, 16), (13, 10)]:
        bw, bh = -(-w // 8), -(-h // 8)
        vals = rng.integers(0, 256, (bh, bw), dtype=np.uint8)
        img = np.repeat(np.repeat(vals, 8, 0), 8, 1)[:h, :w]
        got_w, got_h, pix = decode_jpeg_gray(encode_jpeg_gray(w, h, img.tobytes()))
        assert (got_w, got_h) == (w, h)
        assert np.frombuffer(pix, np.uint8).reshape(h, w).tolist() == img.tolist()


def test_arbitrary_content_round_trip_within_rounding():
    rng = np.random.default_rng(41)
    img = rng.integers(0, 256, (24, 40), dtype=np.uint8)
    _, _, pix = decode_jpeg_gray(encode_jpeg_gray(40, 24, img.tobytes()))
    got = np.frombuffer(pix, np.uint8).reshape(24, 40).astype(int)
    # unit quant table: the only loss is coefficient rounding (≤1 LSB)
    assert np.abs(got - img.astype(int)).max() <= 1


def test_lossy_quant_bounded_and_smaller():
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (32, 32), dtype=np.uint8)
    e1 = encode_jpeg_gray(32, 32, img.tobytes())
    e16 = encode_jpeg_gray(32, 32, img.tobytes(), quant=[16] * 64)
    assert len(e16) < len(e1)  # coarser quant compresses harder
    _, _, pix = decode_jpeg_gray(e16)
    got = np.frombuffer(pix, np.uint8).reshape(32, 32).astype(int)
    assert np.abs(got - img.astype(int)).max() < 64


def test_gradient_survives_entropy_coding():
    # smooth ramp: long zero runs + ZRL/EOB paths all get exercised
    img = np.add.outer(np.arange(16) * 8, np.arange(24) * 5).astype(np.uint8)
    _, _, pix = decode_jpeg_gray(encode_jpeg_gray(24, 16, img.tobytes()))
    got = np.frombuffer(pix, np.uint8).reshape(16, 24).astype(int)
    assert np.abs(got - img.astype(int)).max() <= 1


def test_decoder_refusals_are_loud():
    ok = encode_jpeg_gray(8, 8, bytes(64))
    with pytest.raises(ValueError, match="missing SOI"):
        decode_jpeg_gray(b"\x00\x01")
    # SOF0 -> SOF2 with the baseline full-band scan params: progressive
    # decodes now (r15), but Ss=0/Se=63 is an illegal progressive scan
    prog = ok.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(ValueError, match="mixes DC and AC"):
        decode_jpeg_gray(prog)
    # genuinely unsupported SOF modes still refuse loudly
    arith = ok.replace(b"\xff\xc0", b"\xff\xc9", 1)
    with pytest.raises(ValueError, match="SOF9"):
        decode_jpeg_gray(arith)
    # cut mid-scan on an image whose entropy segment is long enough
    rng = np.random.default_rng(5)
    big = encode_jpeg_gray(
        32, 32, rng.integers(0, 256, 1024, dtype=np.uint8).tobytes()
    )
    with pytest.raises(ValueError, match="truncated JPEG"):
        decode_jpeg_gray(big[:-40])
    # SOF claiming 3 components without their bytes refuses cleanly
    at = ok.index(b"\xff\xc0")
    multi = bytearray(ok)
    multi[at + 9] = 3  # ncomp field of SOF0
    with pytest.raises(ValueError, match="truncated JPEG SOF"):
        decode_jpeg_gray(bytes(multi))
    # SOF/SOS component-count mismatch (partial scan) refuses too
    from rippledb_engine.operators.jpeg import encode_jpeg_color as _ejc

    color_ok = _ejc(8, 8, bytes(64), bytes(64), bytes(64), sampling=(1, 1))
    sos_at = color_ok.index(b"\xff\xda")
    partial = bytearray(color_ok)
    # shrink the SOS to 1 component: ns=1, keep comp 1, splice tail
    partial[sos_at : sos_at + 12] = (
        b"\xff\xda\x00\x08\x01\x01\x00\x00\x3f\x00"
    )
    with pytest.raises(ValueError, match="partial-scan"):
        decode_jpeg_gray(bytes(partial))
    # decode_jpeg_gray on a genuine color stream points at the color API
    from rippledb_engine.operators.jpeg import encode_jpeg_color

    color = encode_jpeg_color(
        8, 8, bytes(64), bytes(64), bytes(64), sampling=(1, 1)
    )
    with pytest.raises(ValueError, match="decode_jpeg_planes handles color"):
        decode_jpeg_gray(color)


def test_mjpeg_avi_round_trip_exact():
    for mid in range(10):
        w, h, nf, uspf = synth_mjpeg_dims(mid)
        frames = [synth_mjpeg_pixels(mid, f, w, h) for f in range(nf)]
        v = decode_avi_frames(
            encode_avi(w, h, frames, us_per_frame=uspf, codec="mjpg")
        )
        assert v["compression"] == "mjpg"
        assert (v["width"], v["height"], v["n_frames"]) == (w, h, nf)
        assert v["frames"] == frames, mid  # exact: block-constant + unit quant


def test_mjpeg_frame_dims_must_match_container():
    # strf says 16x8 but the JPEG inside is 8x8 → loud refusal
    good = encode_avi(8, 8, [bytes(64)], codec="mjpg")
    bad = bytearray(good)
    at = bad.index(struct.pack("<Ii", 40, 8))  # BITMAPINFOHEADER
    struct.pack_into("<i", bad, at + 4, 16)  # biWidth = 16
    with pytest.raises(ValueError, match="strf says"):
        decode_avi_frames(bytes(bad))


# ---------------------------------------------------------------------------
# color / sampling / restart (r8 generalization)
# ---------------------------------------------------------------------------

from rippledb_engine.operators.jpeg import (  # noqa: E402
    decode_jpeg_planes,
    encode_jpeg_color,
    jpeg_to_rgb,
)


def _block_constant(w, h, rng):
    vals = rng.integers(0, 256, (h // 8, w // 8), dtype=np.uint8)
    return np.repeat(np.repeat(vals, 8, 0), 8, 1)


@pytest.mark.parametrize("sampling", [(1, 1), (2, 1), (2, 2)])
def test_color_block_constant_exact_with_restarts(sampling):
    hy, vy = sampling
    rng = np.random.default_rng(sum(sampling))
    w, h = 32, 32
    y = _block_constant(w, h, rng)
    cb = _block_constant(w // hy, h // vy, rng)
    cr = _block_constant(w // hy, h // vy, rng)
    enc = encode_jpeg_color(
        w, h, y.tobytes(), cb.tobytes(), cr.tobytes(),
        sampling=sampling, restart_interval=1,
    )
    assert b"\xff\xdd" in enc and b"\xff\xd0" in enc  # DRI + RST0 present
    d = decode_jpeg_planes(enc)
    got = [np.frombuffer(c["plane"], np.uint8) for c in d["components"]]
    assert (got[0] == y.ravel()).all()
    assert (got[1] == cb.ravel()).all()
    assert (got[2] == cr.ravel()).all()
    assert [(c["h"], c["v"]) for c in d["components"]] == [
        (hy, vy), (1, 1), (1, 1),
    ]


def test_color_arbitrary_content_within_rounding_444():
    rng = np.random.default_rng(17)
    w, h = 24, 16
    planes = [rng.integers(0, 256, (h, w), dtype=np.uint8) for _ in range(3)]
    enc = encode_jpeg_color(
        w, h, *(p.tobytes() for p in planes), sampling=(1, 1)
    )
    d = decode_jpeg_planes(enc)
    for want, c in zip(planes, d["components"]):
        got = np.frombuffer(c["plane"], np.uint8).reshape(h, w).astype(int)
        assert np.abs(got - want.astype(int)).max() <= 1


def test_restart_predictors_actually_reset():
    # two MCUs with wildly different DC; interval 1 forces a reset between
    # them — if the decoder kept the predictor, block 2 would be wrong
    img = np.concatenate(
        [np.full((8, 8), 250, np.uint8), np.full((8, 8), 3, np.uint8)], axis=1
    )
    enc = encode_jpeg_gray(16, 8, img.tobytes(), restart_interval=1)
    _, _, pix = decode_jpeg_gray(enc)
    assert np.frombuffer(pix, np.uint8).reshape(8, 16).tolist() == img.tolist()
    # a wrong RST index refuses loudly
    bad = enc.replace(b"\xff\xd0", b"\xff\xd3", 1)
    with pytest.raises(ValueError, match="expected RST0"):
        decode_jpeg_gray(bad)


def test_jpeg_to_rgb_known_values():
    # flat planes away from .5 conversion boundaries: Y=120, Cb=100, Cr=200
    # R = 120 + 1.402·72 = 220.944 → 221
    # G = 120 − 0.344136·(−28) − 0.714136·72 = 78.24 → 78
    # B = 120 + 1.772·(−28) = 70.384 → 70
    w = h = 16
    enc = encode_jpeg_color(
        w, h,
        bytes([120] * (w * h)),
        bytes([100] * (w * h)),
        bytes([200] * (w * h)),
        sampling=(1, 1),
    )
    gw, gh, rgb = jpeg_to_rgb(enc)
    assert (gw, gh) == (w, h)
    px = np.frombuffer(rgb, np.uint8).reshape(h, w, 3)
    assert px[0, 0].tolist() == [221, 78, 70]
    assert (px == px[0, 0]).all()
    # grayscale input → R=G=B=Y
    _, _, rgb2 = jpeg_to_rgb(encode_jpeg_gray(8, 8, bytes([77] * 64)))
    assert set(np.frombuffer(rgb2, np.uint8).tolist()) == {77}


def test_chroma_upsampling_replicates_into_place():
    # 4:2:0, chroma plane with a single distinctive 8x8 block pattern:
    # each chroma sample must cover a 2x2 luma-resolution cell
    w = h = 16
    y = np.zeros((16, 16), np.uint8)
    cb = np.arange(64, dtype=np.uint8).reshape(8, 8)  # full chroma plane
    cr = np.full((8, 8), 128, np.uint8)
    enc = encode_jpeg_color(
        w, h, y.tobytes(), cb.tobytes(), cr.tobytes(), sampling=(2, 2)
    )
    # decoded chroma plane is exact (block-constant not needed: single
    # block, unit quant, values ≤ 63 keep IDCT rounding inside 1... use
    # tolerance)
    d = decode_jpeg_planes(enc)
    got_cb = np.frombuffer(d["components"][1]["plane"], np.uint8).reshape(8, 8)
    assert np.abs(got_cb.astype(int) - cb.astype(int)).max() <= 1
    _, _, rgb = jpeg_to_rgb(enc)
    px = np.frombuffer(rgb, np.uint8).reshape(16, 16, 3).astype(int)
    # B channel ≈ Y + 1.772(cb−128): the 2x2 cell (0..1, 2..3) must read
    # the SAME upsampled chroma sample cb[0,1]
    cell = px[0:2, 2:4, 2]
    assert (cell == cell[0, 0]).all()


# --- progressive (SOF2, r15) -------------------------------------------------


def test_progressive_decodes_identically_to_baseline_gray():
    """Progressive transmission re-orders the SAME quantized
    coefficients, so progressive and baseline encodes of one field must
    decode BIT-IDENTICALLY — any content, any quant table."""
    from rippledb_engine.operators.jpeg import encode_jpeg_gray_progressive

    rng = np.random.default_rng(11)
    for w, h in ((8, 8), (24, 17), (64, 48), (7, 5)):
        for q in ([1] * 64, [2 + (i % 7) for i in range(64)], [16] * 64):
            px = rng.integers(0, 256, w * h, dtype=np.uint8).tobytes()
            assert decode_jpeg_gray(
                encode_jpeg_gray_progressive(w, h, px, quant=q)
            ) == decode_jpeg_gray(encode_jpeg_gray(w, h, px, quant=q))


def test_progressive_decodes_identically_to_baseline_color():
    from rippledb_engine.operators.jpeg import (
        decode_jpeg_planes,
        encode_jpeg_color,
        encode_jpeg_color_progressive,
    )

    rng = np.random.default_rng(12)
    for w, h, samp in ((16, 16, (2, 2)), (24, 16, (2, 1)), (17, 13, (2, 2)),
                       (20, 12, (1, 1))):
        hy, vy = samp
        cw, ch = -(-w // hy), -(-h // vy)
        y = rng.integers(0, 256, w * h, dtype=np.uint8).tobytes()
        cb = rng.integers(0, 256, cw * ch, dtype=np.uint8).tobytes()
        cr = rng.integers(0, 256, cw * ch, dtype=np.uint8).tobytes()
        b = decode_jpeg_planes(encode_jpeg_color(w, h, y, cb, cr, sampling=samp))
        p = decode_jpeg_planes(
            encode_jpeg_color_progressive(w, h, y, cb, cr, sampling=samp)
        )
        for comp_b, comp_p in zip(b["components"], p["components"]):
            assert comp_b["plane"] == comp_p["plane"]


def test_progressive_eobrun_and_restart_paths():
    """Flat and sparse content drives long EOBn runs; a restart interval
    drives RSTn handling inside every progressive scan type."""
    from rippledb_engine.operators.jpeg import encode_jpeg_gray_progressive

    flat = bytes([128]) * (64 * 64)
    assert decode_jpeg_gray(
        encode_jpeg_gray_progressive(64, 64, flat)
    ) == decode_jpeg_gray(encode_jpeg_gray(64, 64, flat))
    sparse = bytearray([100] * (40 * 24))
    sparse[5], sparse[-1] = 220, 0
    sparse = bytes(sparse)
    assert decode_jpeg_gray(
        encode_jpeg_gray_progressive(40, 24, sparse)
    ) == decode_jpeg_gray(encode_jpeg_gray(40, 24, sparse))
    rng = np.random.default_rng(13)
    for ri in (1, 2, 3):
        px = rng.integers(0, 256, 32 * 24, dtype=np.uint8).tobytes()
        assert decode_jpeg_gray(
            encode_jpeg_gray_progressive(32, 24, px, restart_interval=ri)
        ) == decode_jpeg_gray(encode_jpeg_gray(32, 24, px))


def test_progressive_block_constant_exact():
    """The oracle class: block-constant + all-ones quant is numerically
    lossless through BOTH stream shapes — the planted claim of
    progressive_jpeg_phash_accounting."""
    from rippledb_engine.operators.jpeg import encode_jpeg_gray_progressive

    w, h = 32, 24
    px = bytes(
        (37 * ((y // 8) * 4 + x // 8 + 1) ** 2 + 11) % 256
        for y in range(h)
        for x in range(w)
    )
    assert decode_jpeg_gray(encode_jpeg_gray_progressive(w, h, px)) == (
        w, h, px
    )


def test_progressive_scan_refusals():
    from rippledb_engine.operators.jpeg import (
        decode_jpeg_planes,
        encode_jpeg_color_progressive,
    )

    # an AC scan naming several components is illegal (G.1.1.1.1):
    # patch the first AC SOS of a color progressive stream to ns=2
    p = bytearray(
        encode_jpeg_color_progressive(
            8, 8, bytes(64), bytes(64), bytes(64), sampling=(1, 1)
        )
    )
    at = -1
    for _ in range(3):  # third SOS = first AC scan
        at = bytes(p).index(b"\xff\xda", at + 1)
    assert p[at + 4] == 1  # ns
    # splice in a second component entry (cid 2, tables 0x01)
    p[at + 2 : at + 4] = (10).to_bytes(2, "big")
    p[at + 4] = 2
    p[at + 5 : at + 7] = bytes((p[at + 5], p[at + 6], 2, 0x01))
    with pytest.raises(ValueError, match="single-component"):
        decode_jpeg_planes(bytes(p))
