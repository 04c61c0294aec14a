"""MPEG-1 intra codec (operators/mpeg1.py, r11): exact DC round-trips,
the AC path against an independent numpy IDCT, VLC details, refusals,
and the Spark frame-stats surface."""

from __future__ import annotations

import numpy as np
import pytest

from rippledb_engine.operators.mpeg1 import (
    _AC_EOB,
    _AC_TABLE,
    _Bits,
    _DC_SIZE_CHROMA,
    _DC_SIZE_LUMA,
    _INTRA_Q,
    _MBA_TABLE,
    _dc_diff_bits,
    decode_mpeg1_frames,
    encode_mpeg1_intra,
)


def _const_planes(w, h, fn_y, cb=128, cr=128):
    bw = w // 8
    y = bytes(fn_y((yy // 8) * bw + (xx // 8)) % 256
              for yy in range(h) for xx in range(w))
    c1 = bytes([cb]) * (w * h // 4)
    c2 = bytes([cr]) * (w * h // 4)
    return y, c1, c2


def test_dc_only_roundtrip_is_exact():
    w, h = 48, 32
    frames = [_const_planes(w, h, lambda b, f=f: 43 * 9 + 19 * f + 13 * b)
              for f in range(3)]
    es = encode_mpeg1_intra(w, h, frames, rate_code=4)
    v = decode_mpeg1_frames(es)
    assert (v["width"], v["height"], v["n_frames"]) == (w, h, 3)
    assert v["us_per_frame"] == 33366
    for f in range(3):
        assert v["frames"][f] == frames[f]


def _handmade_stream_with_ac(run, level, qscale=8):
    """One 16x16 I-picture whose FIRST luma block carries dc=100 plus
    one AC coefficient (run, level); everything else flat 128."""
    bits = _Bits()
    bits.start_code(0xB3)
    bits.w(16, 12); bits.w(16, 12); bits.w(1, 4); bits.w(3, 4)
    bits.w(0x3FFFF, 18); bits.w(1, 1); bits.w(0, 10); bits.w(0, 1)
    bits.w(0, 1); bits.w(0, 1)
    bits.start_code(0x00)
    bits.w(0, 10); bits.w(1, 3); bits.w(0xFFFF, 16); bits.w(0, 1)
    bits.start_code(0x01)
    bits.w(qscale, 5); bits.w(0, 1)
    bits.wstr(_MBA_TABLE[1]); bits.wstr("1")  # MB 0, intra
    preds = {"y": 128, "cb": 128, "cr": 128}
    for i, comp in enumerate(("y", "y", "y", "y", "cb", "cr")):
        dc = 100 if i == 0 else 128
        diff = dc - preds[comp]
        preds[comp] = dc
        size, amp = _dc_diff_bits(diff)
        tab = _DC_SIZE_LUMA if comp == "y" else _DC_SIZE_CHROMA
        bits.wstr(tab[size])
        if size:
            bits.w(amp, size)
        if i == 0:
            bits.wstr(_AC_TABLE[(run, abs(level))])
            bits.w(0 if level > 0 else 1, 1)  # sign
        bits.wstr(_AC_EOB)
    bits.start_code(0xB7)
    bits.align()
    return bytes(bits.buf)


@pytest.mark.parametrize(
    "run,level", [(0, 1), (1, 1), (0, 2), (2, 3), (5, 1), (5, -1), (0, -2)]
)
def test_ac_path_matches_independent_idct(run, level):
    """The AC dequant + zigzag + IDCT chain checked against a from-
    scratch numpy reference (NOT jpeg.py's matrix — an independent
    derivation of the 8x8 DCT-II basis)."""
    from rippledb_engine.operators.jpeg import _Z

    qscale = 8
    es = _handmade_stream_with_ac(run, level, qscale)
    v = decode_mpeg1_frames(es)
    y = np.frombuffer(v["frames"][0][0], dtype=np.uint8).reshape(16, 16)
    got = y[:8, :8].astype(np.int64)

    # independent reference: coefficient grid -> pixels
    k = run + 1  # zigzag index of the AC coefficient
    r, c = _Z[k]
    w = _INTRA_Q[r * 8 + c]
    prod = 2 * level * qscale * w
    rec = prod // 16 if prod >= 0 else -((-prod) // 16)  # trunc toward 0
    if rec and rec % 2 == 0:
        rec -= 1 if rec > 0 else -1
    F = np.zeros((8, 8))
    F[0, 0] = 100 * 8
    F[r, c] = rec
    x = np.arange(8)
    basis = np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16)
    a = np.full(8, np.sqrt(2.0 / 8))
    a[0] = np.sqrt(1.0 / 8)
    # f(y,x) = sum_u sum_v a(u)a(v) F[u,v] cos_u(y) cos_v(x)
    ref = np.zeros((8, 8))
    for u in range(8):
        for vv in range(8):
            ref += a[u] * a[vv] * F[u, vv] * np.outer(basis[u], basis[vv])
    ref = np.clip(np.round(ref), 0, 255).astype(np.int64)
    assert np.array_equal(got, ref)
    # the rest of the picture decoded flat 128
    assert (y[8:, :] == 128).all() and (y[:8, 8:] == 128).all()


def test_refusals():
    with pytest.raises(ValueError, match="multiples of 16"):
        encode_mpeg1_intra(20, 16, [])
    # non-block-constant content refuses loudly (DC-only fixture class)
    y = bytes(range(256))
    c = bytes([128]) * 64
    with pytest.raises(ValueError, match="non-block-constant"):
        encode_mpeg1_intra(16, 16, [(y, c, c)])
    # a P picture with no preceding reference refuses loudly (r11:
    # P is now decoded, but only after an I establishes the reference)
    bits = _Bits()
    bits.start_code(0xB3)
    bits.w(16, 12); bits.w(16, 12); bits.w(1, 4); bits.w(3, 4)
    bits.w(0x3FFFF, 18); bits.w(1, 1); bits.w(0, 10); bits.w(0, 1)
    bits.w(0, 1); bits.w(0, 1)
    bits.start_code(0x00)
    bits.w(0, 10); bits.w(2, 3)  # P
    bits.w(0xFFFF, 16)
    bits.start_code(0xB7)
    bits.align()
    with pytest.raises(ValueError, match="P picture before"):
        decode_mpeg1_frames(bytes(bits.buf))


def test_custom_intra_matrix_roundtrip():
    """load_intra_quantizer_matrix parses (DC-only content is matrix-
    independent, so the round-trip stays exact)."""
    from rippledb_engine.operators.jpeg import _Z
    from rippledb_engine.operators.mpeg1 import _Bits as B

    w, h = 16, 16
    frames = [_const_planes(w, h, lambda b: 50 + b)]
    es = bytearray(encode_mpeg1_intra(w, h, frames))
    # rewrite the sequence header with load_intra=1 + a custom matrix
    bits = B()
    bits.start_code(0xB3)
    bits.w(w, 12); bits.w(h, 12); bits.w(1, 4); bits.w(3, 4)
    bits.w(0x3FFFF, 18); bits.w(1, 1); bits.w(0, 10); bits.w(0, 1)
    bits.w(1, 1)  # load intra matrix
    for k in range(64):
        bits.w(16 if k else 8, 8)  # zigzag order
    bits.w(0, 1)
    bits.align()
    head = bytes(bits.buf)
    rest = bytes(es[12:])  # original stream after its 12-byte seq header
    v = decode_mpeg1_frames(head + rest)
    assert v["frames"][0] == frames[0]


def test_spark_frame_stats_surface(spark, sf_dir):
    from rippledb_engine.operators import multimodal as MM
    from rippledb_engine.tables import load

    d = load(spark, sf_dir, "documents").filter("doc_id % 4 = 2").limit(6)
    media = MM.synthesize_mpeg1_streams(d, "doc_id")
    stats = MM.mpeg1_frame_pixel_stats(media, every_n=1).collect()
    assert len(stats) > 0
    for r in stats:
        w, h = r["width"], r["height"]
        assert r["n_pixels"] == w * h
        # closed-form y_sum from the fixture arithmetic
        bw, bh = w // 8, h // 8
        want = 64 * sum(
            (43 * r["media_id"] + 19 * r["frame_no"] + 13 * b) % 256
            for b in range(bw * bh)
        )
        assert r["y_sum"] == want


def _bc_plane(w, h, fn):
    bw = w // 8
    return bytes(fn((y // 8) * bw + (x // 8)) % 256
                 for y in range(h) for x in range(w))


def test_p_picture_mc_shift_and_skip_exact():
    """r11: zero-residual P pictures — skip copy, MC shift, chroma
    halving, MV differential wrap — all numerically exact."""
    import numpy as np

    from rippledb_engine.operators.mpeg1 import encode_mpeg1_ip

    w, h = 48, 32
    Y = _bc_plane(w, h, lambda b: 30 + 13 * b)
    Cb = _bc_plane(24, 16, lambda b: 90 + 7 * b)
    Cr = _bc_plane(24, 16, lambda b: 60 + 5 * b)
    mbw = w // 16
    hold = [None] * (mbw * 2)
    shift = [((0, 0) if mx == 0 else (-16, 0))
             for my in range(2) for mx in range(mbw)]
    es = encode_mpeg1_ip(w, h, (Y, Cb, Cr), [hold, shift])
    v = decode_mpeg1_frames(es)
    assert v["n_frames"] == 3
    assert v["frames"][1] == (Y, Cb, Cr)  # all-skip P == reference
    Y2 = np.frombuffer(v["frames"][2][0], dtype=np.uint8).reshape(h, w)
    Y0 = np.frombuffer(Y, dtype=np.uint8).reshape(h, w)
    assert (Y2[:, 16:] == Y0[:, :-16]).all()
    assert (Y2[:, :16] == Y0[:, :16]).all()
    Cb2 = np.frombuffer(v["frames"][2][1], dtype=np.uint8).reshape(16, 24)
    Cb0 = np.frombuffer(Cb, dtype=np.uint8).reshape(16, 24)
    assert (Cb2[:, 8:] == Cb0[:, :-8]).all()


def test_p_picture_refusals():
    from rippledb_engine.operators.mpeg1 import _Bits, encode_mpeg1_ip

    w, h = 32, 32
    Y = _bc_plane(w, h, lambda b: 100)
    C = _bc_plane(16, 16, lambda b: 128)
    # MC source out of frame refuses at decode (vector past the edge)
    with pytest.raises(ValueError, match="out of frame"):
        decode_mpeg1_frames(
            encode_mpeg1_ip(w, h, (Y, C, C), [[(-2, 0)] * 4])
        )
    # P before I refuses at decode
    bits = _Bits()
    bits.start_code(0xB3)
    bits.w(w, 12); bits.w(h, 12); bits.w(1, 4); bits.w(3, 4)
    bits.w(0x3FFFF, 18); bits.w(1, 1); bits.w(0, 10); bits.w(0, 1)
    bits.w(0, 1); bits.w(0, 1)
    bits.start_code(0x00)
    bits.w(0, 10); bits.w(2, 3); bits.w(0xFFFF, 16)
    bits.w(1, 1); bits.w(1, 3); bits.w(0, 1)
    bits.start_code(0xB7); bits.align()
    with pytest.raises(ValueError, match="P picture before"):
        decode_mpeg1_frames(bytes(bits.buf))
    # B picture refuses
    bits = _Bits()
    bits.start_code(0xB3)
    bits.w(w, 12); bits.w(h, 12); bits.w(1, 4); bits.w(3, 4)
    bits.w(0x3FFFF, 18); bits.w(1, 1); bits.w(0, 10); bits.w(0, 1)
    bits.w(0, 1); bits.w(0, 1)
    bits.start_code(0x00)
    bits.w(0, 10); bits.w(3, 3); bits.w(0xFFFF, 16)
    bits.start_code(0xB7); bits.align()
    # r12: B decodes now, but not without its two reference anchors
    with pytest.raises(ValueError, match="B picture before"):
        decode_mpeg1_frames(bytes(bits.buf))
    # invalid picture type codes (5-7) keep refusing loudly (r12: D
    # pictures decode now, so 4 is no longer the refusal)
    bits = _Bits()
    bits.start_code(0xB3)
    bits.w(w, 12); bits.w(h, 12); bits.w(1, 4); bits.w(3, 4)
    bits.w(0x3FFFF, 18); bits.w(1, 1); bits.w(0, 10); bits.w(0, 1)
    bits.w(0, 1); bits.w(0, 1)
    bits.start_code(0x00)
    bits.w(0, 10); bits.w(6, 3); bits.w(0xFFFF, 16)
    bits.start_code(0xB7); bits.align()
    with pytest.raises(ValueError, match="picture type"):
        decode_mpeg1_frames(bytes(bits.buf))


def test_p_residual_dc_and_ac_matches_independent_idct():
    """r12: residual-coded P macroblocks — Table B.3 CBP, the
    dct_coeff_first '1s' short code, escape coding, non-intra dequant
    (trunc-toward-zero + oddification), and IDCT-add onto the MC
    prediction — all against an independent numpy mirror."""
    import numpy as np

    from rippledb_engine.operators.mpeg1 import (
        _Z,
        _dct_matrix,
        _dequant_non_intra,
        encode_mpeg1_ip,
    )

    w, h = 32, 16
    Y = _bc_plane(w, h, lambda b: 100 + 10 * b)
    Cb = _bc_plane(16, 8, lambda b: 90)
    Cr = _bc_plane(16, 8, lambda b: 60)
    # MB0 holds with a DC residual on each luma block; MB1 MC-copies
    # MB0 and carries an AC residual (leading ±1 short code, a mid
    # coefficient, and an out-of-table escape) plus a chroma DC.
    resid0 = {bi: [(0, 3)] for bi in range(4)}
    resid1 = {0: [(0, -1), (5, 4), (20, 47)], 4: [(0, 2)]}
    es = encode_mpeg1_ip(
        w, h, (Y, Cb, Cr), [[(0, 0, resid0), (-16, 0, resid1)]]
    )
    v = decode_mpeg1_frames(es)
    assert v["n_frames"] == 2
    M = _dct_matrix()

    def resid_block(coeffs, q=8):
        F = np.zeros((8, 8))
        for k, lv in coeffs:
            r, c = _Z[k]
            F[r, c] = _dequant_non_intra(lv, q, 16)
        return M.T @ F @ M

    Y0 = np.frombuffer(Y, np.uint8).reshape(h, w).astype(np.float64)
    exp = Y0.copy()
    for by in range(2):
        for bx in range(2):
            exp[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] += resid_block([(0, 3)])
    exp[:, 16:32] = Y0[:, 0:16]
    exp[0:8, 16:24] += resid_block([(0, -1), (5, 4), (20, 47)])
    exp = np.clip(np.round(exp), 0, 255)
    Y1 = np.frombuffer(v["frames"][1][0], np.uint8).reshape(h, w)
    assert (Y1 == exp).all()
    Cb0 = np.frombuffer(Cb, np.uint8).reshape(8, 16).astype(np.float64)
    expc = Cb0.copy()
    expc[:, 8:16] = Cb0[:, 0:8]
    expc[0:8, 8:16] += resid_block([(0, 2)])
    expc = np.clip(np.round(expc), 0, 255)
    Cb1 = np.frombuffer(v["frames"][1][1], np.uint8).reshape(8, 16)
    assert (Cb1 == expc).all()
    # Cr untouched by any pattern bit: pure MC copy
    Cr0 = np.frombuffer(Cr, np.uint8).reshape(8, 16)
    Cr1 = np.frombuffer(v["frames"][1][2], np.uint8).reshape(8, 16)
    assert (Cr1[:, 8:] == Cr0[:, :8]).all()


def test_non_intra_dequant_rules():
    """§2.4.4.2 fine print: truncation toward ZERO, oddification
    toward zero, ±2048 clamp, zero passthrough."""
    from rippledb_engine.operators.mpeg1 import _dequant_non_intra

    assert _dequant_non_intra(0, 8, 16) == 0
    # (2·3+1)·8·16/16 = 56 even → 55
    assert _dequant_non_intra(3, 8, 16) == 55
    # negative mirrors: (2·(−3)−1)·8 = −56 → −55
    assert _dequant_non_intra(-3, 8, 16) == -55
    # truncation toward zero: (2·(−1)−1)·3·17/16 = −153/16 → −9 (floor
    # would give −10); odd already
    assert _dequant_non_intra(-1, 3, 17) == -9
    # clamp
    assert _dequant_non_intra(127, 31, 16) == 2047
    assert _dequant_non_intra(-127, 31, 16) == -2048


def test_motion_f_code2_sign_before_residual():
    """ADVICE r11: Table B.4 puts the sign INSIDE the motion_code
    codeword, before the f_size residual. Pin the bit order by hand
    and round-trip an f_code=2 stream whose vectors need residuals."""
    import numpy as np

    from rippledb_engine.operators.mpeg1 import (
        _Bits,
        _decode_motion,
        _encode_motion,
        encode_mpeg1_ip,
    )

    # delta −6 at f_size=1: magnitude code 3 = '00010', then sign 1
    # (negative), THEN the 1-bit residual 1 — mag ((3−1)<<1)+1+1 = 6
    b = _Bits()
    _encode_motion(b, -6, 1)
    b.align()
    s = "".join(format(x, "08b") for x in b.buf)
    assert s.startswith("00010" + "1" + "1")
    b.pos = 0
    assert _decode_motion(b, 1, [0, 0], 0) == -6
    for f_size in (0, 1, 2, 3):
        f = 1 << f_size
        for delta in (-6, 6, -1, 5, 16 * f - 1, -16 * f):
            if not -16 * f <= delta <= 16 * f - 1:
                continue
            b = _Bits()
            _encode_motion(b, delta, f_size)
            b.align()
            b.pos = 0
            assert _decode_motion(b, f_size, [0, 0], 0) == delta
    # full stream at f_code=2 (every coded vector carries a residual)
    w, h = 48, 16
    Y = _bc_plane(w, h, lambda b: 20 + 17 * b)
    C = _bc_plane(24, 8, lambda b: 128)
    mvs = [(0, 0), (-16, 0), (-16, 0)]
    v = decode_mpeg1_frames(encode_mpeg1_ip(w, h, (Y, C, C), [mvs], f_code=2))
    Y0 = np.frombuffer(Y, np.uint8).reshape(h, w)
    Y1 = np.frombuffer(v["frames"][1][0], np.uint8).reshape(h, w)
    assert (Y1[:, 16:] == Y0[:, :-16]).all()
    assert (Y1[:, :16] == Y0[:, :16]).all()


def test_cbp_table_is_prefix_free_and_complete():
    from rippledb_engine.operators.mpeg1 import _CBP_TABLE

    assert sorted(_CBP_TABLE) == list(range(1, 64))
    codes = sorted(_CBP_TABLE.values(), key=len)
    for i, a in enumerate(codes):
        for b in codes[i + 1:]:
            assert not b.startswith(a), (a, b)


def test_intra_refresh_inside_p_picture():
    """An intra macroblock inside a P picture decodes with fresh DC
    predictors while its neighbors skip-copy."""
    import numpy as np

    from rippledb_engine.operators.mpeg1 import (
        _Bits,
        _DC_SIZE_CHROMA,
        _DC_SIZE_LUMA,
        _MBA_TABLE,
        _dc_diff_bits,
        encode_mpeg1_intra,
    )

    w, h = 32, 16
    Y = _bc_plane(w, h, lambda b: 40 + b)
    C = _bc_plane(16, 8, lambda b: 128)
    base = encode_mpeg1_intra(w, h, [(Y, C, C)])
    bits = _Bits(base[:-4])
    # P picture: MB0 intra-refreshed to value 200, MB1 coded (0,0) copy
    bits.start_code(0x00)
    bits.w(1, 10); bits.w(2, 3); bits.w(0xFFFF, 16)
    bits.w(1, 1); bits.w(1, 3); bits.w(0, 1)
    bits.start_code(0x01)
    bits.w(8, 5); bits.w(0, 1)
    bits.wstr(_MBA_TABLE[1])
    bits.wstr("00011")  # intra MB in P
    preds = {"y": 128, "cb": 128, "cr": 128}
    for comp in ("y", "y", "y", "y", "cb", "cr"):
        dc = 200 if comp == "y" else 128
        diff = dc - preds[comp]
        preds[comp] = dc
        size, amp = _dc_diff_bits(diff)
        tab = _DC_SIZE_LUMA if comp == "y" else _DC_SIZE_CHROMA
        bits.wstr(tab[size])
        if size:
            bits.w(amp, size)
        bits.wstr("10")  # EOB
    bits.wstr(_MBA_TABLE[1])
    bits.wstr("001")  # pred-mc, MV (0,0)
    bits.wstr("1"); bits.wstr("1")  # motion codes 0, 0
    bits.start_code(0xB7); bits.align()
    v = decode_mpeg1_frames(bytes(bits.buf))
    Y1 = np.frombuffer(v["frames"][1][0], dtype=np.uint8).reshape(h, w)
    Y0 = np.frombuffer(Y, dtype=np.uint8).reshape(h, w)
    assert (Y1[:, :16] == 200).all()          # refreshed MB
    assert (Y1[:, 16:] == Y0[:, 16:]).all()   # copied MB


def test_half_pel_and_odd_vector_mc_matches_independent_mirror():
    """r12: half-pel motion compensation — odd FULL-pel vectors (chroma
    interpolates, luma shifts whole pels) and half-pel streams
    (full_pel_forward_vector=0; luma interpolates too) — both against
    an independent numpy mirror of §2.4.4.2's round-half-away
    averages."""
    import numpy as np

    from rippledb_engine.operators.mpeg1 import encode_mpeg1_ip

    w, h = 32, 16
    Y = _bc_plane(w, h, lambda b: 37 + 23 * b)
    Cb = _bc_plane(16, 8, lambda b: 80 + 9 * b)
    Cr = _bc_plane(16, 8, lambda b: 50 + 5 * b)
    Y0 = np.frombuffer(Y, np.uint8).reshape(h, w).astype(np.int64)
    Cb0 = np.frombuffer(Cb, np.uint8).reshape(8, 16).astype(np.int64)

    # odd full-pel vector (-1, 0) on MB1: luma shifts one whole pel,
    # chroma vector trunc(-2/2) = -1 half-pels → horizontal average
    v = decode_mpeg1_frames(
        encode_mpeg1_ip(w, h, (Y, Cb, Cr), [[(0, 0), (-1, 0)]])
    )
    Y1 = np.frombuffer(v["frames"][1][0], np.uint8).reshape(h, w)
    assert (Y1[:, 16:] == Y0[:, 15:31]).all()  # whole-pel luma shift
    assert (Y1[:, :16] == Y0[:, :16]).all()
    Cb1 = np.frombuffer(v["frames"][1][1], np.uint8).reshape(8, 16)
    # chroma: ix = -1>>1 = -1, half flag 1 → (p[x-1] + p[x] + 1) >> 1
    want = (Cb0[:, 7:15] + Cb0[:, 8:16] + 1) >> 1
    assert (Cb1[:, 8:] == want).all()

    # half-pel stream: vector (-1, 0) in HALF pels on MB1 → luma
    # horizontal average at x-0.5; chroma trunc(-1/2) = 0 → copy
    v2 = decode_mpeg1_frames(
        encode_mpeg1_ip(
            w, h, (Y, Cb, Cr), [[(0, 0), (-1, 0)]], full_pel=False
        )
    )
    Y2 = np.frombuffer(v2["frames"][1][0], np.uint8).reshape(h, w)
    wanty = (Y0[:, 15:31] + Y0[:, 16:32] + 1) >> 1
    assert (Y2[:, 16:] == wanty).all()
    Cb2 = np.frombuffer(v2["frames"][1][1], np.uint8).reshape(8, 16)
    assert (Cb2[:, 8:] == Cb0[:, 8:]).all()

    # vertical + diagonal half-pel on a 32x32 frame's second MB row:
    # MB2 takes (0, -1) (two-point vertical average), MB3 takes
    # (-1, -1) (the 4-point average (a+b+c+d+2)>>2)
    h2 = 32
    Yt = _bc_plane(w, h2, lambda b: (29 * b + 11) % 256)
    Ct = _bc_plane(16, 16, lambda b: 128)
    Yt0 = np.frombuffer(Yt, np.uint8).reshape(h2, w).astype(np.int64)
    v3 = decode_mpeg1_frames(
        encode_mpeg1_ip(
            w, h2, (Yt, Ct, Ct),
            [[(0, 0), (0, 0), (0, -1), (-1, -1)]], full_pel=False,
        )
    )
    Y3 = np.frombuffer(v3["frames"][1][0], np.uint8).reshape(h2, w)
    want2 = (Yt0[15:31, 0:16] + Yt0[16:32, 0:16] + 1) >> 1
    assert (Y3[16:32, 0:16] == want2).all()
    want3 = (
        Yt0[15:31, 15:31] + Yt0[15:31, 16:32]
        + Yt0[16:32, 15:31] + Yt0[16:32, 16:32] + 2
    ) >> 2
    assert (Y3[16:32, 16:32] == want3).all()


def test_b_pictures_decode_with_display_reorder():
    """r12: B pictures — Table B.2c types, forward/backward/interp
    prediction, independent MV predictors, skip-repeats-prediction, a
    residual-coded B macroblock, and coded→display reordering — all
    against numpy mirrors of §2.4.4.3's (f+b+1)>>1 average."""
    import numpy as np

    from rippledb_engine.operators.mpeg1 import (
        _Z,
        _dct_matrix,
        _dequant_non_intra,
        encode_mpeg1_ipb,
    )

    w, h = 32, 16
    Y = _bc_plane(w, h, lambda b: 40 + 20 * b)
    Cb = _bc_plane(16, 8, lambda b: 100 + 3 * b)
    Cr = _bc_plane(16, 8, lambda b: 60 + 7 * b)
    Y0 = np.frombuffer(Y, np.uint8).reshape(h, w).astype(np.int64)

    # coded order I(0) P(2) B(1); P shifts its right MB from the left
    # half; B: MB0 interpolates both anchors at (0,0), MB1 takes the
    # backward anchor with a forward-shifted vector AND a DC residual
    p_mbs = [(0, 0), (-16, 0)]
    resid = {0: [(0, 3)]}
    b_mbs = [((0, 0), (0, 0)), (None, (-16, 0), resid)]
    es = encode_mpeg1_ipb(
        w, h, (Y, Cb, Cr), [("P", 2, p_mbs), ("B", 1, b_mbs)]
    )
    v = decode_mpeg1_frames(es)
    assert v["n_frames"] == 3  # display: I, B, P
    I_ = np.frombuffer(v["frames"][0][0], np.uint8).reshape(h, w)
    B_ = np.frombuffer(v["frames"][1][0], np.uint8).reshape(h, w)
    P_ = np.frombuffer(v["frames"][2][0], np.uint8).reshape(h, w)
    assert (I_ == Y0).all()
    expP = Y0.copy()
    expP[:, 16:] = Y0[:, :16]
    assert (P_ == expP).all()
    M = _dct_matrix()
    Fq = np.zeros((8, 8))
    Fq[_Z[0][0], _Z[0][1]] = _dequant_non_intra(3, 8, 16)
    rblk = M.T @ Fq @ M
    expB = np.zeros_like(Y0, dtype=np.float64)
    expB[:, :16] = (Y0[:, :16] + expP[:, :16] + 1) >> 1  # interp MB0
    expB[:, 16:] = expP[:, :16]  # bwd MC with (-16, 0) reads P's left half
    expB[0:8, 16:24] += rblk  # the residual-coded Y0 block of MB1
    expB = np.clip(np.round(expB), 0, 255)
    assert (B_ == expB).all()

    # skip in B repeats the previous macroblock's mode and vectors
    w2 = 48
    Y2 = _bc_plane(w2, h, lambda b: 10 + 11 * b)
    C2 = _bc_plane(24, 8, lambda b: 128)
    v2 = decode_mpeg1_frames(
        encode_mpeg1_ipb(
            w2, h, (Y2, C2, C2),
            [("P", 2, [(0, 0)] * 3),
             ("B", 1, [((0, 0), (0, 0)), None, ((0, 0), (0, 0))])],
        )
    )
    Y20 = np.frombuffer(Y2, np.uint8).reshape(h, w2)
    B2 = np.frombuffer(v2["frames"][1][0], np.uint8).reshape(h, w2)
    assert (B2 == Y20).all()  # P == I, so every B MB interpolates to I

    # fixture refusals: skip at slice edge, empty prediction
    with pytest.raises(ValueError, match="first and last"):
        encode_mpeg1_ipb(
            w, h, (Y, Cb, Cr), [("B", 1, [None, ((0, 0), None)])]
        )
    with pytest.raises(ValueError, match="fwd and/or bwd"):
        encode_mpeg1_ipb(
            w, h, (Y, Cb, Cr), [("B", 1, [(None, None), (None, None)])]
        )


def test_b_picture_fwd_only_and_two_anchor_bookkeeping():
    """A longer GOP: I P1 P2 with a B between P1 and P2 — the B's
    forward anchor must be P1 (not I), its backward anchor P2, and
    display order must interleave correctly."""
    import numpy as np

    from rippledb_engine.operators.mpeg1 import encode_mpeg1_ipb

    w, h = 32, 16
    Y = _bc_plane(w, h, lambda b: 25 + 31 * b)
    C = _bc_plane(16, 8, lambda b: 128)
    Y0 = np.frombuffer(Y, np.uint8).reshape(h, w).astype(np.int64)
    # coded: I(0) P1(1) P2(3) B(2); P1 shifts right MB, P2 shifts again;
    # B forward-only from P1 at (0,0) → B == P1 exactly
    p1 = [(0, 0), (-16, 0)]
    p2 = [(0, 0), (-16, 0)]
    b = [((0, 0), None), ((0, 0), None)]
    v = decode_mpeg1_frames(
        encode_mpeg1_ipb(
            w, h, (Y, C, C),
            [("P", 1, p1), ("P", 3, p2), ("B", 2, b)],
        )
    )
    assert v["n_frames"] == 4  # display: I, P1, B, P2
    I_ = np.frombuffer(v["frames"][0][0], np.uint8).reshape(h, w)
    P1 = np.frombuffer(v["frames"][1][0], np.uint8).reshape(h, w)
    B_ = np.frombuffer(v["frames"][2][0], np.uint8).reshape(h, w)
    P2 = np.frombuffer(v["frames"][3][0], np.uint8).reshape(h, w)
    assert (I_ == Y0).all()
    expP1 = Y0.copy()
    expP1[:, 16:] = Y0[:, :16]
    assert (P1 == expP1).all()
    expP2 = expP1.copy()
    expP2[:, 16:] = expP1[:, :16]
    assert (P2 == expP2).all()
    assert (B_ == expP1).all()  # fwd-only from its true forward anchor


def test_d_pictures_decode_exactly():
    """r12: D pictures — the obsolete DC-only type, Table B.2d's single
    macroblock code and the end_of_macroblock bit — round-trip exactly
    on block-constant content, completing the picture-type surface
    (I/P/B/D all decode; only invalid type codes refuse)."""
    from rippledb_engine.operators.mpeg1 import _Bits, encode_mpeg1_d

    w, h = 32, 16
    frames = [
        (
            _bc_plane(w, h, lambda b, f=f: 30 + 17 * f + 9 * b),
            _bc_plane(16, 8, lambda b, f=f: 100 + 5 * f + 3 * b),
            _bc_plane(16, 8, lambda b, f=f: 70 + 7 * f + 2 * b),
        )
        for f in range(2)
    ]
    v = decode_mpeg1_frames(encode_mpeg1_d(w, h, frames))
    assert v["n_frames"] == 2
    for f in range(2):
        assert v["frames"][f] == frames[f]
    # a D macroblock without its end_of_macroblock bit refuses loudly:
    # hand-write one MB whose end bit is 0
    from rippledb_engine.operators.mpeg1 import (
        _DC_SIZE_CHROMA,
        _DC_SIZE_LUMA,
        _MBA_TABLE,
        _dc_diff_bits,
    )

    bits = _Bits()
    bits.start_code(0xB3)
    bits.w(16, 12); bits.w(16, 12); bits.w(1, 4); bits.w(3, 4)
    bits.w(0x3FFFF, 18); bits.w(1, 1); bits.w(0, 10); bits.w(0, 1)
    bits.w(0, 1); bits.w(0, 1)
    bits.start_code(0x00)
    bits.w(0, 10); bits.w(4, 3); bits.w(0xFFFF, 16); bits.w(0, 1)
    bits.start_code(0x01)
    bits.w(8, 5); bits.w(0, 1)
    bits.wstr(_MBA_TABLE[1]); bits.wstr("1")  # the one D MB type
    preds = {"y": 128, "cb": 128, "cr": 128}
    for comp in ("y", "y", "y", "y", "cb", "cr"):
        size, amp = _dc_diff_bits(100 - preds[comp])
        preds[comp] = 100
        tab = _DC_SIZE_LUMA if comp == "y" else _DC_SIZE_CHROMA
        bits.wstr(tab[size])
        if size:
            bits.w(amp, size)
    bits.w(0, 1)  # end_of_macroblock = 0: ILLEGAL
    bits.start_code(0xB7); bits.align()
    with pytest.raises(ValueError, match="end_of_macroblock"):
        decode_mpeg1_frames(bytes(bits.buf))
    # D frames are never references: mixing D with I/P/B refuses
    ies = encode_mpeg1_intra(16, 16, [(
        _bc_plane(16, 16, lambda b: 50),
        _bc_plane(8, 8, lambda b: 128),
        _bc_plane(8, 8, lambda b: 128),
    )])
    des = encode_mpeg1_d(16, 16, [(
        _bc_plane(16, 16, lambda b: 60),
        _bc_plane(8, 8, lambda b: 128),
        _bc_plane(8, 8, lambda b: 128),
    )])
    mixed = ies[:-4] + des[des.index(b"\x00\x00\x01\x00"):]
    with pytest.raises(ValueError, match="cannot mix"):
        decode_mpeg1_frames(mixed)
    # invalid picture type codes (5-7) refuse
    bits = _Bits()
    bits.start_code(0xB3)
    bits.w(16, 12); bits.w(16, 12); bits.w(1, 4); bits.w(3, 4)
    bits.w(0x3FFFF, 18); bits.w(1, 1); bits.w(0, 10); bits.w(0, 1)
    bits.w(0, 1); bits.w(0, 1)
    bits.start_code(0x00)
    bits.w(0, 10); bits.w(5, 3); bits.w(0xFFFF, 16)
    bits.start_code(0xB7); bits.align()
    with pytest.raises(ValueError, match="invalid picture type"):
        decode_mpeg1_frames(bytes(bits.buf))


def test_stream_info_header_walk():
    """mpeg1_stream_info (r15): shape fields from the sequence header +
    a picture-start-code count — no pixel decode — and loud refusals on
    streams the feature stage must not mis-shape."""
    from rippledb_engine.operators.mpeg1 import mpeg1_stream_info

    es = encode_mpeg1_intra(32, 48, [(
        _const_planes(32, 48, lambda b: 40 + b)[0],
        bytes([128]) * (16 * 24),
        bytes([128]) * (16 * 24),
    )] * 3)
    info = mpeg1_stream_info(es)
    assert (info["width"], info["height"], info["n_frames"]) == (32, 48, 3)
    assert info["us_per_frame"] > 0
    with pytest.raises(ValueError, match="sequence header"):
        mpeg1_stream_info(b"\x00\x00\x01\xb7")
    with pytest.raises(ValueError, match="no pictures"):
        mpeg1_stream_info(es[: es.index(b"\x00\x00\x01\x00")])


def test_dc_only_idct_shortcut_bitexact():
    """r16: the DC-only intra block shortcut (_dc_only_pix) must equal
    the full matmul IDCT + round/clip/astype chain EXACTLY for every
    reachable DC reconstruction value. The shortcut's premise is that
    the DCT matrix's DC row is one repeated float and the matmul adds
    only exact zeros — both asserted here, plus the end-to-end scalar
    for a dense dcv sweep (positive, negative, clipped, zero)."""
    import numpy as np

    from rippledb_engine.operators.mpeg1 import _DC_C0, _dc_only_pix
    from rippledb_engine.operators.jpeg import _dct_matrix

    M = _dct_matrix()
    assert all(M[0, x] == _DC_C0 for x in range(8))
    for dcv in list(range(-4096, 4097, 7)) + [-4096, -8, 0, 8, 2040, 4096]:
        F = np.zeros((8, 8), dtype=np.float64)
        F[0, 0] = dcv
        blk = M.T @ F @ M
        ref = np.clip(np.round(blk), 0, 255).astype(np.int32)
        assert (ref == ref[0, 0]).all(), dcv  # constant block
        assert _dc_only_pix(dcv) == int(ref[0, 0]), dcv


def test_fast_bit_reader_matches_serial_semantics():
    """r16: the word-table read path — values, bounds errors, and
    interleaved write-then-read invalidation."""
    import pytest

    from rippledb_engine.operators.mpeg1 import _Bits

    b = _Bits(bytes([0b10110100, 0b01111111, 0xFF]))
    assert b.bit() == 1
    assert b.bits(5) == 0b01101
    assert b.peek(10) == 0b0001111111
    assert b.bits(10) == 0b0001111111
    assert b.bits(8) == 0xFF
    with pytest.raises(IndexError):
        b.bit()
    b.pos = 23
    with pytest.raises(IndexError):
        b.bits(2)  # crosses the end
    assert b.bits(1) == 1  # last real bit still readable
    # writes invalidate the read table
    w = _Bits()
    w.w(0b1011, 4)
    w.align()
    w.pos = 0
    assert w.bits(8) == 0b10110000
    w.w(0xAB, 8)
    w.pos = 8
    assert w.bits(8) == 0xAB
