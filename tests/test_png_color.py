"""Color PNG decode: types 2/3/6, bpp-aware filters, PLTE (r8)."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from rippledb_engine.operators.multimodal import (
    _PNG_SIG,
    _png_chunk,
    decode_png_any,
    decode_png_pixels,
    encode_png_color,
    encode_png_palette,
    synth_color_png_palette,
    synth_color_png_pixels,
    synth_color_png_shape,
)


def test_truecolor_and_rgba_round_trip():
    rng = np.random.default_rng(3)
    for alpha in (False, True):
        ch = 4 if alpha else 3
        w, h = 11, 7
        px = rng.integers(0, 256, w * h * ch, dtype=np.uint8).tobytes()
        d = decode_png_any(encode_png_color(w, h, px, alpha=alpha))
        assert (d["width"], d["height"], d["channels"]) == (w, h, ch)
        assert d["color_type"] == (6 if alpha else 2)
        assert d["pixels"] == px


def test_palette_round_trip_expands_plte():
    w, h = 6, 4
    palette = bytes(range(48))  # 16 entries
    idx = bytes((k * 5) % 16 for k in range(w * h))
    d = decode_png_any(encode_png_palette(w, h, idx, palette))
    assert d["channels"] == 3 and d["color_type"] == 3
    want = b"".join(palette[3 * i : 3 * i + 3] for i in idx)
    assert d["pixels"] == want


def _forward_filter(img: np.ndarray, bpp: int, ftype: int) -> bytes:
    """Reference FORWARD filter (RFC 2083 §6.3) — produces the scanline
    bytes a conforming encoder using ``ftype`` everywhere would emit, so
    the decoder's unfilter is tested against independent arithmetic."""
    h, stride = img.shape
    out = bytearray()
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        line = img[y].astype(np.int64)
        left = np.concatenate([np.zeros(bpp, np.int64), line[:-bpp]])
        ul = np.concatenate([np.zeros(bpp, np.int64), prev[:-bpp]])
        if ftype == 1:
            enc = line - left
        elif ftype == 2:
            enc = line - prev
        elif ftype == 3:
            enc = line - (left + prev) // 2
        else:  # Paeth
            p = left + prev - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - ul)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, ul)
            )
            enc = line - pred
        out += bytes([ftype]) + (enc % 256).astype(np.uint8).tobytes()
        prev = line
    return bytes(out)


@pytest.mark.parametrize("ftype", [1, 2, 3, 4])
@pytest.mark.parametrize("color_type,ch", [(2, 3), (6, 4)])
def test_bpp_aware_unfilter_all_types(ftype, color_type, ch):
    """The decoder must reference the sample one PIXEL left (bpp bytes),
    not one byte — filtered fixtures come from an independent forward
    filterer, not this module's filter-0 writer."""
    rng = np.random.default_rng(ftype * 10 + ch)
    w, h = 9, 5
    img = rng.integers(0, 256, (h, w * ch), dtype=np.uint8)
    raw = _forward_filter(img, ch, ftype)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    payload = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )
    d = decode_png_any(payload)
    assert d["pixels"] == img.tobytes(), (ftype, color_type)


def test_refusals_are_loud():
    w, h = 4, 3
    palette = bytes(range(12))  # 4 entries
    idx = bytes([0, 1, 2, 3] * 3)
    ok = encode_png_palette(w, h, idx, palette)
    # palette index out of range: patch an index above the entry count
    # (re-deflate the IDAT with a bad index)
    bad_raw = b"".join(
        b"\x00" + bytes([9, 1, 2, 3]) if y == 0 else b"\x00" + idx[y * w : (y + 1) * w]
        for y in range(h)
    )
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
    bad = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", palette)
        + _png_chunk(b"IDAT", zlib.compress(bad_raw))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="out of range"):
        decode_png_any(bad)
    # missing PLTE
    no_plte = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"".join(
            b"\x00" + idx[y * w : (y + 1) * w] for y in range(h)
        )))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="missing its PLTE"):
        decode_png_any(no_plte)
    # tRNS on palette now DECODES (r11): RGBA with the opaque-tail rule
    # (this exact shape was the pre-r11 loud refusal)
    trns = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", palette)
        + _png_chunk(b"tRNS", bytes([128]))
        + _png_chunk(b"IDAT", zlib.compress(b"\x00" + idx[:w]))
        + _png_chunk(b"IEND", b"")
    )
    # note: this fixture is 1 row tall (h in IHDR is 3 but only one
    # scanline was compressed) — the length gate must still fire first
    with pytest.raises(ValueError, match="length mismatch"):
        decode_png_any(trns)
    # grayscale wrapper still refuses color
    with pytest.raises(ValueError, match="grayscale PNG only"):
        decode_png_pixels(ok)


def test_synth_fixtures_match_their_formulas():
    for mid in (0, 1, 2, 7, 11):
        w, h, ct = synth_color_png_shape(mid)
        px = synth_color_png_pixels(mid)
        if ct == 3:
            pal = synth_color_png_palette(mid)
            assert len(px) == w * h and max(px) < 16 and len(pal) == 48
        else:
            assert len(px) == w * h * (4 if ct == 6 else 3)


def test_palette_trns_expands_to_rgba():
    """r11: tRNS alpha — short table, opaque tail, RGBA expansion."""
    from rippledb_engine.operators.multimodal import (
        decode_png_any,
        encode_png_palette,
    )

    palette = bytes(range(48))  # 16 entries
    idx = bytes([0, 5, 9, 10, 15, 2] * 4)  # 4x6, crosses the tRNS tail
    trns = bytes(250 - 7 * j for j in range(10))
    png = encode_png_palette(6, 4, idx, palette, trns=trns)
    d = decode_png_any(png)
    assert d["channels"] == 4 and d["color_type"] == 3
    px = d["pixels"]
    for k, i in enumerate(idx):
        assert px[4 * k : 4 * k + 3] == palette[3 * i : 3 * i + 3]
        want_a = trns[i] if i < len(trns) else 255
        assert px[4 * k + 3] == want_a
    # alpha-less palette still decodes to plain RGB (channels 3)
    d3 = decode_png_any(encode_png_palette(6, 4, idx, palette))
    assert d3["channels"] == 3


def test_trns_refusals():
    import pytest as _pytest

    from rippledb_engine.operators.multimodal import encode_png_palette

    palette = bytes(range(48))
    idx = bytes([0] * 24)
    with _pytest.raises(ValueError, match="tRNS longer"):
        encode_png_palette(6, 4, idx, palette, trns=bytes(17))
