"""G.711 μ-law/A-law + IMA-ADPCM WAV decode (operators/multimodal.py, r9)."""

from __future__ import annotations

import pytest

from rippledb_engine.operators.multimodal import (
    alaw_decode_byte,
    decode_wav_samples,
    encode_wav_g711,
    encode_wav_ima,
    ima_decode_block,
    mulaw_decode_byte,
    synth_g711_adpcm_params,
)


def test_mulaw_spec_spot_values():
    # both zero codes decode to 0 (positive and negative zero)
    assert mulaw_decode_byte(0xFF) == 0
    assert mulaw_decode_byte(0x7F) == 0
    # decode is odd-symmetric across the sign bit
    for b in range(128):
        assert mulaw_decode_byte(b) == -mulaw_decode_byte(b | 0x80)
    # monotone within the positive half (higher code = closer to zero)
    pos = [mulaw_decode_byte(b) for b in range(0x80, 0x100)]
    assert all(a > b for a, b in zip(pos, pos[1:]))
    assert pos[0] == 32124  # the G.711 table maximum


def test_alaw_spec_spot_values():
    assert alaw_decode_byte(0x55) == -8   # smallest negative
    assert alaw_decode_byte(0xD5) == 8    # smallest positive
    for b in range(128):
        assert alaw_decode_byte(b) == -alaw_decode_byte(b | 0x80)
    assert max(alaw_decode_byte(b) for b in range(256)) == 32256
    # A-law has no zero: smallest magnitudes are +-8
    assert min(abs(alaw_decode_byte(b)) for b in range(256)) == 8


def test_ima_decode_block_recurrence():
    # pred=0, idx=0 (step 7): code 0 -> diff 0, idx clamps at 0;
    # code 7 -> diff 0+1+3+7=11, idx 0+8=8 (step 16); code 15 ->
    # diff 2+4+8+16=30 subtracted -> pred 11-30=-19, idx 8+8=16
    assert ima_decode_block(0, 0, [0, 7, 15]) == [0, 11, -19]
    # clamping: from near the rail, a big positive step clamps at 32767
    out = ima_decode_block(32760, 88, [7])
    assert out == [32767]


def test_g711_wav_roundtrip():
    raw = bytes(range(256))
    for law, dec in (("ulaw", mulaw_decode_byte), ("alaw", alaw_decode_byte)):
        rate, s = decode_wav_samples(encode_wav_g711(8000, raw, law))
        assert rate == 8000
        assert list(s) == [dec(b) for b in raw]


def test_ima_wav_roundtrip():
    nibs = [(3 * i) % 16 for i in range(20)]
    payload = encode_wav_ima(8000, -1234, 40, nibs)
    rate, s = decode_wav_samples(payload)
    assert rate == 8000
    assert list(s) == [-1234] + ima_decode_block(-1234, 40, nibs)


def test_ima_encode_refusals():
    with pytest.raises(ValueError, match="even"):
        encode_wav_ima(8000, 0, 0, [1, 2, 3])
    with pytest.raises(ValueError, match="out of range"):
        encode_wav_ima(8000, 0, 89, [1, 2])
    with pytest.raises(ValueError, match="4-bit"):
        encode_wav_ima(8000, 0, 0, [16, 1])


def test_unsupported_format_tag_refuses():
    import struct

    fmt = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)  # IEEE float
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", 4) + b"\x00" * 4)
    payload = b"RIFF" + struct.pack("<I", len(body)) + body
    with pytest.raises(ValueError, match="unsupported WAV format tag"):
        decode_wav_samples(payload)


def test_synth_params_cover_all_codecs_and_are_deterministic():
    modes = {synth_g711_adpcm_params(i)["mode"] for i in range(9)}
    assert modes == {0, 1, 2}
    assert synth_g711_adpcm_params(5) == synth_g711_adpcm_params(5)
    p = synth_g711_adpcm_params(2)  # mode 2: IMA
    assert p["n_samples"] == 1 + len(p["nibbles"])
    assert 0 <= p["idx0"] <= 88 and -2000 <= p["pred0"] <= 2000


# ---------------------------------------------------------------------------
# TIFF (r9) — grayscale baseline, PackBits, both endians, multi-strip
# ---------------------------------------------------------------------------


def test_packbits_roundtrip_and_spec_cases():
    from rippledb_engine.operators.multimodal import (
        packbits_decode,
        packbits_encode,
    )

    cases = [
        b"",
        b"\x00",
        b"aaaa",                      # pure run
        b"abcdef",                    # pure literal
        b"aaabccccdd",                # mixed
        bytes(range(256)),            # long literal (cap at 128)
        b"z" * 300,                   # long run (cap at 128)
    ]
    for raw in cases:
        enc = packbits_encode(raw)
        assert packbits_decode(enc, len(raw)) == raw, raw[:16]
    # the spec's no-op byte is skipped
    assert packbits_decode(b"\x80\x00a", 1) == b"a"
    import pytest as _pt
    with _pt.raises(ValueError, match="truncated"):
        packbits_decode(b"", 1)


def test_tiff_roundtrip_all_profile_corners():
    from rippledb_engine.operators.multimodal import decode_tiff, encode_tiff

    pix = bytes((3 * k) % 256 for k in range(7 * 5))
    for packbits in (False, True):
        for big in (False, True):
            for rps in (5, 2):
                payload = encode_tiff(
                    7, 5, pix, packbits=packbits, big_endian=big,
                    rows_per_strip=rps,
                )
                d = decode_tiff(payload)
                assert (d["width"], d["height"]) == (7, 5)
                assert d["pixels"] == pix, (packbits, big, rps)


def test_tiff_refusals():
    import struct as _s

    import pytest as _pt

    from rippledb_engine.operators.multimodal import decode_tiff, encode_tiff

    with _pt.raises(ValueError, match="byte-order"):
        decode_tiff(b"XX\x2a\x00")
    payload = bytearray(encode_tiff(2, 2, b"abcd"))
    # patch Compression (tag 259) to JPEG-in-TIFF (7): unsupported, loud
    # (LZW=5 became a supported profile member in r10)
    at = payload.index(_s.pack("<HH", 259, 3))
    _s.pack_into("<H", payload, at + 8, 7)
    with _pt.raises(ValueError, match="unsupported TIFF compression"):
        decode_tiff(bytes(payload))
    # patch Predictor (tag 317) to floating-point differencing (3)
    payload = bytearray(encode_tiff(2, 2, b"abcd", lzw=True, predictor=2))
    at = payload.index(_s.pack("<HH", 317, 3))
    _s.pack_into("<H", payload, at + 8, 3)
    with _pt.raises(ValueError, match="unsupported TIFF predictor"):
        decode_tiff(bytes(payload))


def test_tiff_lzw_stream_roundtrip_and_width_schedule():
    """TIFF 6.0 §13 LZW: MSB-first codes, EARLY width changes, table
    reset via ClearCode at 4094 — exercised by a stream long enough to
    cross every width bump and force a reset."""
    from rippledb_engine.operators.multimodal import (
        tiff_lzw_decode,
        tiff_lzw_encode,
    )

    cases = [
        b"",
        b"\x00",
        b"aaaa",                       # run: reuses table entries
        b"abcdef",                     # literals only
        bytes(range(256)) * 3,         # every root, then pairs
        b"z" * 5000,                   # long run (width bumps on runs)
        bytes((i * 7 + (i >> 3)) % 256 for i in range(30000)),  # reset
    ]
    for raw in cases:
        enc = tiff_lzw_encode(raw)
        assert tiff_lzw_decode(enc, len(raw)) == raw, len(raw)
    # the stream begins with CLEAR (256 at 9 bits = 0b100000000 MSB-first)
    enc = tiff_lzw_encode(b"a")
    assert enc[0] == 0x80
    import pytest as _pt
    with _pt.raises(ValueError, match="truncated"):
        tiff_lzw_decode(b"", 1)
    with _pt.raises(ValueError, match="does not start with CLEAR"):
        # 9-bit code 97 ('a') without a leading CLEAR
        tiff_lzw_decode(bytes([97 >> 1, (97 & 1) << 7]), 2)


def test_tiff_lzw_roundtrip_all_profile_corners():
    from rippledb_engine.operators.multimodal import decode_tiff, encode_tiff

    pix = bytes((3 * k) % 256 for k in range(7 * 5))
    for pred in (1, 2):
        for big in (False, True):
            for rps in (5, 2):
                payload = encode_tiff(
                    7, 5, pix, lzw=True, predictor=pred, big_endian=big,
                    rows_per_strip=rps,
                )
                d = decode_tiff(payload)
                assert (d["width"], d["height"]) == (7, 5)
                assert d["pixels"] == pix, (pred, big, rps)
    # predictor composes with the other compressions too (spec §14)
    for kw in (dict(packbits=True, predictor=2), dict(predictor=2)):
        assert decode_tiff(encode_tiff(7, 5, pix, **kw))["pixels"] == pix
    import pytest as _pt
    with _pt.raises(ValueError, match="pick one compression"):
        encode_tiff(7, 5, pix, packbits=True, lzw=True)


# ---------------------------------------------------------------------------
# BMP (r9) — 8-bit paletted, BI_RGB/BI_RLE8, bottom-up/top-down
# ---------------------------------------------------------------------------


def test_bmp_roundtrip_all_storage_orders():
    from rippledb_engine.operators.multimodal import decode_bmp, encode_bmp

    pal = [(i, (3 * i) % 256, (7 * i) % 256) for i in range(256)]
    idx = bytes((5 * k) % 256 for k in range(6 * 4))
    for rle8, topdown in ((False, False), (False, True), (True, False)):
        d = decode_bmp(encode_bmp(6, 4, idx, pal, rle8=rle8, topdown=topdown))
        assert (d["width"], d["height"]) == (6, 4)
        assert d["indices"] == idx, (rle8, topdown)
        assert d["palette"][:256] == pal


def test_bmp_refusals():
    import struct as _s

    import pytest as _pt

    from rippledb_engine.operators.multimodal import decode_bmp, encode_bmp

    pal = [(0, 0, 0)] * 256
    with _pt.raises(ValueError, match="always bottom-up"):
        encode_bmp(2, 2, b"abcd", pal, rle8=True, topdown=True)
    with _pt.raises(ValueError, match="bad magic"):
        decode_bmp(b"XY" + b"\x00" * 60)
    payload = bytearray(encode_bmp(2, 2, b"abcd", pal))
    _s.pack_into("<H", payload, 28, 24)  # biBitCount -> 24bpp
    with _pt.raises(ValueError, match="8-bit palette"):
        decode_bmp(bytes(payload))
