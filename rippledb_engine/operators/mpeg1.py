"""MPEG-1 video decode: I, P, B and D pictures — the COMPLETE ISO/IEC
11172-2 picture-type surface, the "real video codec" of the multimodal
tier (closes the documented stub in operators/multimodal.py; H.264/VP9
keep refusing loudly — they genuinely need codec libraries).

What's implemented (all public, ISO/IEC 11172-2):
- bitstream walk: sequence header (§2.4.2.3), GOP (§2.4.2.4), picture
  (§2.4.2.5, I, P and B), slice (§2.4.2.6), macroblock (§2.4.2.7),
  block (§2.4.2.8);
- entropy decode: macroblock_address_increment VLC (Table B.1, incl.
  escape/stuffing), I- and P-picture macroblock_type (Tables B.2a/
  B.2b), motion-vector VLC (Table B.4) with f_code residuals,
  differential prediction and the modulo-32f principal-range wrap
  (§2.4.4.2), intra DC size VLCs (Tables B.5a/B.5b) with JPEG-style
  amplitude extension, AC run/level VLC (Table B.5c "dct_coeff_next"
  incl. the 6-bit-run + 8/16-bit-level ESCAPE), EOB;
- reconstruction: differential DC (predictor 128·8 reset per slice /
  non-intra MB / skip, recon = dc·8 — §2.4.4.1), intra AC dequant
  (2·QF·scale·W)/16 with the oddification mismatch control and ±2048
  clamp, zigzag unscan (jpeg._Z — MPEG-1 shares JPEG's scan),
  orthonormal IDCT (jpeg._dct_matrix), 4:2:0 plane assembly;
- P reconstruction (r11): skipped-macroblock copy (§2.4.4.4), full-pel
  forward MC at even vectors (the chroma-exact class — MC copy is then
  numerically LOSSLESS, which is what lets the GOP oracle stay closed-
  form), intra-refresh macroblocks inside P pictures;
- P residual blocks (r12): coded_block_pattern VLC (Table B.3),
  dct_coeff_first's '1s' short code (Table B.5b), non-intra dequant
  ((2·QF+Sign)·scale·W)/16 with truncation toward zero, oddification
  and clamp (§2.4.4.2), loadable non-intra quantizer matrix, and
  IDCT-add of the residual onto the MC prediction;
- half-pel motion compensation (r12): (a+b+1)>>1 / (a+b+c+d+2)>>2
  interpolation (§2.4.4.2's round-half-away integer division),
  full_pel_forward_vector=0 streams, and the trunc-toward-zero
  luma→chroma vector halving — so odd and half-pel vectors decode
  instead of refusing;
- B pictures (r12): Table B.2c macroblock types, independent forward/
  backward vector predictors, bidirectional interpolated prediction
  ((f+b+1)>>1, §2.4.4.3), skip = repeat the previous macroblock's mode
  and RETAINED vectors (§2.4.4.4 — unlike P's reset-and-copy), two-
  anchor reference bookkeeping, and coded→DISPLAY order re-emission
  (anchors held pending until the next anchor releases them);
- D pictures (r12): the obsolete DC-only type — Table B.2d's single
  macroblock code, DC-only blocks (no AC, no EOB), the
  end_of_macroblock bit (§2.4.3.1).

Loud refusals (the honest boundary, never silent): invalid picture
type codes (5-7); at the module boundary, H.264/VP9 payloads.

The ENCODER here exists to synthesize certified fixtures: intra-only
streams whose blocks are DC-only (block-constant pixel content) — the
content class where MPEG-1 intra coding is numerically EXACT (the DC
path has no quantizer: recon = dc·8, IDCT constant = dc), exactly the
closed-form-oracle trick the MJPEG/JPEG queries use
(queries/pipeline6.mjpeg_frame_accounting docstring). AC-bearing
streams are decoded too and pinned in pytest against an independent
numpy IDCT, but the SQL oracle certifies the DC fixture class.

100 TB shape: decode runs inside Arrow ``mapInPandas`` where the
payload bytes already are (1 stream → n frame rows in the kernel) —
the avi_frame_pixel_stats shape; no driver loops, no per-row Python
UDFs.

Reference comparison: n/a (no binary/media surface in the reference;
/root/reference/src is triple storage + SPARQL only).
"""

from __future__ import annotations

import numpy as np

from rippledb_engine.operators.jpeg import _Z, _dct_matrix

# zigzag index k → flat (row-major) position r*8+c, as a numpy index
# array for one-shot unscan assignments (r16)
_ZFLAT = np.array([r * 8 + c for r, c in _Z], dtype=np.int64)
_ZFLAT_L = _ZFLAT.tolist()

# DC-only intra blocks (the certified fixture class) reconstruct to a
# CONSTANT pixel: with only F[0,0] = dcv set, the orthonormal IDCT
# M.T @ F @ M evaluates every cell as fl(fl(M[0,x]·dcv)·M[0,y]) plus
# additions of exact ±0.0 (every other product term is a multiply by
# 0.0), and row 0 of the DCT matrix is ONE repeated value c = 0.5/√2 —
# so the whole block is the scalar clip(rint(fl(fl(c·dcv)·c)), 0, 255),
# computed here without the per-block matmul/round/clip dispatch and
# memoized on dcv. Bit-parity with the matmul path is pinned by
# tests/test_mpeg1.py::test_dc_only_idct_shortcut_bitexact.
_DC_C0 = float(0.5 / np.sqrt(2.0))
_DC_PIX: dict[int, int] = {}


def _dc_only_pix(dcv: int) -> int:
    v = _DC_PIX.get(dcv)
    if v is None:
        b = (_DC_C0 * dcv) * _DC_C0
        r = round(b)  # Python round = half-even on floats, like np.rint
        v = _DC_PIX[dcv] = 0 if r < 0 else (255 if r > 255 else r)
    return v

# --- fixed VLC tables (ISO 11172-2 Annex B) --------------------------------

# Table B.1: macroblock_address_increment (value → bitstring)
_MBA_TABLE = {
    1: "1", 2: "011", 3: "010", 4: "0011", 5: "0010",
    6: "00011", 7: "00010", 8: "0000111", 9: "0000110",
    10: "00001011", 11: "00001010", 12: "00001001", 13: "00001000",
    14: "00000111", 15: "00000110", 16: "0000010111", 17: "0000010110",
    18: "0000010101", 19: "0000010100", 20: "0000010011",
    21: "0000010010", 22: "00000100011", 23: "00000100010",
    24: "00000100001", 25: "00000100000", 26: "00000011111",
    27: "00000011110", 28: "00000011101", 29: "00000011100",
    30: "00000011011", 31: "00000011010", 32: "00000011001",
    33: "00000011000",
}
_MBA_ESCAPE = "00000001000"   # +33, then another increment code
_MBA_STUFFING = "00000001111"  # discarded

# Tables B.5a / B.5b: intra DC size VLCs
_DC_SIZE_LUMA = {
    0: "100", 1: "00", 2: "01", 3: "101", 4: "110", 5: "1110",
    6: "11110", 7: "111110", 8: "1111110",
}
_DC_SIZE_CHROMA = {
    0: "00", 1: "01", 2: "10", 3: "110", 4: "1110", 5: "11110",
    6: "111110", 7: "1111110", 8: "11111110",
}

# Table B.5c (dct_coeff_next — shared with MPEG-2 Table B.14): the
# run/level VLC for AC coefficients of intra blocks. (run, level) →
# bitstring WITHOUT the trailing sign bit. EOB and ESCAPE handled
# separately. Levels are magnitudes (sign bit follows the code).
_AC_TABLE = {
    (0, 1): "11", (0, 2): "0100", (0, 3): "00101", (0, 4): "0000110",
    (0, 5): "00100110", (0, 6): "00100001", (0, 7): "0000001010",
    (0, 8): "000000011101", (0, 9): "000000011000",
    (0, 10): "000000010011", (0, 11): "000000010000",
    (0, 12): "0000000011010", (0, 13): "0000000011001",
    (0, 14): "0000000011000", (0, 15): "0000000010111",
    (1, 1): "011", (1, 2): "000110", (1, 3): "00100101",
    (1, 4): "0000001100", (1, 5): "000000011011",
    (1, 6): "0000000010110", (1, 7): "0000000010101",
    (2, 1): "0101", (2, 2): "0000100", (2, 3): "0000001011",
    (2, 4): "000000010100", (2, 5): "0000000010100",
    (3, 1): "00111", (3, 2): "00100100", (3, 3): "000000011100",
    (3, 4): "0000000010011",
    (4, 1): "00110", (4, 2): "0000001111", (4, 3): "000000010010",
    (5, 1): "000111", (5, 2): "0000001001", (5, 3): "0000000010010",
    (6, 1): "000101", (6, 2): "000000011110",
    (7, 1): "000100", (7, 2): "000000010101",
    (8, 1): "0000111", (8, 2): "000000010001",
    (9, 1): "0000101", (9, 2): "0000000010001",
    (10, 1): "00100111", (10, 2): "0000000010000",
    (11, 1): "00100011", (12, 1): "00100010", (13, 1): "00100000",
    (14, 1): "0000001110", (15, 1): "0000001101", (16, 1): "0000001000",
    (17, 1): "000000011111", (18, 1): "000000011010",
    (19, 1): "000000011001", (20, 1): "000000010111",
    (21, 1): "000000010110", (22, 1): "0000000011111",
    (23, 1): "0000000011110", (24, 1): "0000000011101",
    (25, 1): "0000000011100", (26, 1): "0000000011011",
}
_AC_EOB = "10"
_AC_ESCAPE = "000001"

# default intra quantizer matrix (§2.4.2.3), raster order
_INTRA_Q = [
    8, 16, 19, 22, 26, 27, 29, 34,
    16, 16, 22, 24, 27, 29, 34, 37,
    19, 22, 26, 27, 29, 34, 34, 38,
    22, 22, 26, 27, 29, 34, 37, 40,
    22, 26, 27, 29, 32, 35, 40, 48,
    26, 27, 29, 32, 35, 40, 48, 58,
    26, 27, 29, 34, 38, 46, 56, 69,
    27, 29, 35, 38, 46, 56, 69, 83,
]

# picture_rate code (§2.4.3.2) → integer microseconds per frame
_RATE_US = {1: 41708, 2: 41666, 3: 40000, 4: 33366, 5: 33333,
            6: 20000, 7: 16683, 8: 16666}

_SEQ, _GOP, _PIC, _END = 0xB3, 0xB8, 0x00, 0xB7


class _Bits:
    """MSB-first bit writer/reader over a plain byte buffer (MPEG has
    no byte stuffing — unlike JPEG's FF 00).

    r16: both directions are bulk now (guide §4.2 — the interpreted
    per-BIT loops were the measured per-row cost of the whole MPEG-1
    family). Writes accumulate whole codewords into an int; reads go
    through a lazily built word table (`_words`): one 64-bit window per
    byte offset, so any ≤ 57-bit field is one list index + shift + mask
    instead of n method calls. Bit accounting is integer-exact, so the
    bitstreams and decoded symbols are byte-identical to the serial
    forms (pinned by the round-trip suite)."""

    def __init__(self, data: bytes = b""):
        self.buf = bytearray(data)
        self.acc = 0
        self.nb = 0
        self.pos = 0  # read cursor (bits)
        self._rw: list[int] | None = None  # read word table (lazy)
        self._rn = 0  # readable bits when _rw was built

    # -- write --
    def w(self, value: int, n: int) -> None:
        acc = (self.acc << n) | (value & ((1 << n) - 1))
        nb = self.nb + n
        buf = self.buf
        while nb >= 8:
            nb -= 8
            buf.append((acc >> nb) & 0xFF)
        self.acc = acc & ((1 << nb) - 1)
        self.nb = nb
        self._rw = None

    def wstr(self, bits: str) -> None:
        if bits:
            self.w(int(bits, 2), len(bits))

    def align(self) -> None:
        if self.nb:
            self.w(0, 8 - self.nb)

    def start_code(self, code: int) -> None:
        self.align()
        self.buf += bytes((0, 0, 1, code))
        self._rw = None

    # -- read --
    def _words(self) -> list[int]:
        """words[i] = the 8 bytes at byte offset i, big-endian (zero
        padded past the end): peek(n ≤ 57) at bit pos p is then
        words[p>>3] >> (64 - (p&7) - n)."""
        pad = bytes(self.buf) + b"\x00" * 8
        n = len(self.buf) + 1
        a = np.frombuffer(pad, dtype=np.uint8)
        w = np.zeros(n, dtype=np.uint64)
        for k in range(8):
            w |= a[k : k + n].astype(np.uint64) << np.uint64(56 - 8 * k)
        self._rw = out = w.tolist()
        self._rn = (n - 1) << 3
        return out

    def peek(self, n: int) -> int:
        """Next ``n`` bits without consuming, zero-padded past the end
        (callers bounds-check against ``_rn`` before consuming)."""
        rw = self._rw
        if rw is None:
            rw = self._words()
        p = self.pos
        return (rw[p >> 3] >> (64 - (p & 7) - n)) & ((1 << n) - 1)

    def bit(self) -> int:
        rw = self._rw
        if rw is None:
            rw = self._words()
        p = self.pos
        if p >= self._rn:
            raise IndexError("mpeg1: bit read past end of stream")
        self.pos = p + 1
        return (rw[p >> 3] >> (63 - (p & 7))) & 1

    def bits(self, n: int) -> int:
        rw = self._rw
        if rw is None:
            rw = self._words()
        p = self.pos
        if p + n > self._rn:
            raise IndexError("mpeg1: bit read past end of stream")
        self.pos = p + n
        return (rw[p >> 3] >> (64 - (p & 7) - n)) & ((1 << n) - 1)

    def balign(self) -> None:
        self.pos = (self.pos + 7) & ~7

    def next_start_code(self) -> int | None:
        """Align and scan to the next 00 00 01 xx; returns xx with the
        cursor just past it, or None at end of data."""
        self.balign()
        i = self.buf.find(b"\x00\x00\x01", self.pos >> 3)
        if i < 0 or i + 3 >= len(self.buf):
            return None
        self.pos = (i + 4) << 3
        return self.buf[i + 3]


def _lut_from_codes(entries: dict[str, object], width: int) -> list:
    """{bitstring: payload} → flat LUT of size 2**width: every index
    whose leading bits spell a codeword maps to (payload, code length);
    indexes matching no codeword map to None. Prefix-free inputs make
    the fill unambiguous, and zero padding past the real bit stream
    cannot mis-decode: a resolved code of length ≤ the remaining real
    bits used only real bits, and a longer one fails the caller's
    bounds check exactly where the serial walk would have run out."""
    lut: list = [None] * (1 << width)
    for code, payload in entries.items():
        ln = len(code)
        base = int(code, 2) << (width - ln)
        for i in range(1 << (width - ln)):
            lut[base + i] = (payload, ln)
    return lut


_VLC_LUTS: dict[int, list] = {}


def _vlc_decode(bits: _Bits, table: dict[str, int], maxlen: int) -> int:
    """Decode one prefix code from a {bitstring: symbol} table
    (LUT-dispatched; the serial walk remains as the miss path so
    malformed streams raise the identical error)."""
    lut = _VLC_LUTS.get(id(table))
    if lut is None:
        lut = _VLC_LUTS[id(table)] = _lut_from_codes(table, maxlen)
    ent = lut[bits.peek(maxlen)]
    if ent is not None:
        sym, ln = ent
        p = bits.pos
        if p + ln <= bits._rn:
            bits.pos = p + ln
            return sym
    s = ""
    for _ in range(maxlen):
        s += str(bits.bit())
        if s in table:
            return table[s]
    raise ValueError(f"mpeg1: invalid VLC prefix {s!r}")


_AC_DEC = {code: rl for rl, code in _AC_TABLE.items()}
_DC_LUMA_DEC = {v: k for k, v in _DC_SIZE_LUMA.items()}
_DC_CHROMA_DEC = {v: k for k, v in _DC_SIZE_CHROMA.items()}
_MBA_DEC = {v: k for k, v in _MBA_TABLE.items()}

# 11-bit LUT over macroblock_address_increment codes; stuffing/escape
# carry negative sentinels (both are exactly 11 bits, codes ≤ 11 — the
# decode loop restarts its budget after each, like the serial walk did).
_MBA_LUT = _lut_from_codes(
    {**{code: sym for sym, code in _MBA_TABLE.items()},
     _MBA_STUFFING: -1, _MBA_ESCAPE: -2},
    11,
)


def _dc_diff_bits(diff: int) -> tuple[int, int]:
    """JPEG-style (size, amplitude-bits) for a DC differential."""
    size = 0
    a = abs(diff)
    while a:
        size += 1
        a >>= 1
    if size == 0:
        return 0, 0
    return size, diff if diff >= 0 else diff + (1 << size) - 1


def _dc_diff_value(size: int, raw: int) -> int:
    """Inverse of :func:`_dc_diff_bits` (§2.4.4.1 receive/extend)."""
    if size == 0:
        return 0
    if raw < (1 << (size - 1)):
        return raw - (1 << size) + 1
    return raw


# --- encoder (fixture synthesis: intra-only, DC-only blocks) ---------------


def encode_mpeg1_intra(
    width: int,
    height: int,
    frames: list[tuple[bytes, bytes, bytes]],
    rate_code: int = 3,
) -> bytes:
    """Intra-only MPEG-1 video elementary stream from 4:2:0 planes.
    Each frame is (Y, Cb, Cr) raw planes; every 8×8 block of every
    plane must be CONSTANT (the DC-only fixture class — loud refusal
    otherwise, because general content would need AC quantization and
    the closed-form oracle would no longer hold)."""
    if width % 16 or height % 16:
        raise ValueError("mpeg1 fixture dims must be multiples of 16")
    if rate_code not in _RATE_US:
        raise ValueError(f"bad picture_rate code {rate_code}")
    bits = _Bits()
    bits.start_code(_SEQ)
    bits.w(width, 12)
    bits.w(height, 12)
    bits.w(1, 4)   # pel aspect 1:1
    bits.w(rate_code, 4)
    bits.w(0x3FFFF, 18)  # variable bit rate
    bits.w(1, 1)   # marker
    bits.w(0, 10)  # vbv buffer
    bits.w(0, 1)   # constrained
    bits.w(0, 1)   # load intra q: default
    bits.w(0, 1)   # load non-intra q: default
    bits.start_code(_GOP)
    bits.w(0, 25)  # time code
    bits.w(1, 1)   # closed gop
    bits.w(0, 1)   # broken link
    mbw, mbh = width // 16, height // 16
    for tref, (py, pcb, pcr) in enumerate(frames):
        bits.start_code(_PIC)
        bits.w(tref, 10)
        bits.w(1, 3)       # I picture
        bits.w(0xFFFF, 16)  # vbv delay
        bits.w(0, 1)       # extra_bit_picture
        bits.start_code(0x01)  # one slice, vertical position 1
        bits.w(8, 5)       # quantizer_scale
        bits.w(0, 1)       # extra_bit_slice
        preds = {"y": 128, "cb": 128, "cr": 128}
        cw = width // 2

        def dc_grid(plane: bytes, pw: int, ph: int) -> list[list[int]]:
            """Verify every 8×8 block is constant (one vectorized
            comparison per plane — r16, replacing the per-row Python
            scan) and return the per-block DC values as nested lists."""
            a = np.frombuffer(plane, dtype=np.uint8).reshape(ph, pw)
            b = a.reshape(ph // 8, 8, pw // 8, 8)
            if not (b == b[:, :1, :, :1]).all():
                raise ValueError(
                    "encode_mpeg1_intra: non-block-constant "
                    "content — this encoder is the DC-only "
                    "fixture synthesizer (module docstring)"
                )
            return b[:, 0, :, 0].tolist()

        gy = dc_grid(py, width, height)
        gcb = dc_grid(pcb, cw, height // 2)
        gcr = dc_grid(pcr, cw, height // 2)
        for my in range(mbh):
            for mx in range(mbw):
                bits.wstr(_MBA_TABLE[1])
                bits.wstr("1")  # macroblock_type: intra
                # 4 luma blocks then Cb, Cr (§2.4.2.7 block order)
                for comp, grid, bx, by in (
                    ("y", gy, 2 * mx, 2 * my), ("y", gy, 2 * mx + 1, 2 * my),
                    ("y", gy, 2 * mx, 2 * my + 1),
                    ("y", gy, 2 * mx + 1, 2 * my + 1),
                    ("cb", gcb, mx, my), ("cr", gcr, mx, my),
                ):
                    val = grid[by][bx]
                    diff = val - preds[comp]
                    preds[comp] = val
                    size, amp = _dc_diff_bits(diff)
                    tab = _DC_SIZE_LUMA if comp == "y" else _DC_SIZE_CHROMA
                    bits.wstr(tab[size])
                    if size:
                        bits.w(amp, size)
                    bits.wstr(_AC_EOB)
    bits.start_code(_END)
    bits.align()
    return bytes(bits.buf)


# --- decoder (full intra path) ---------------------------------------------


def _ac_escape_tail(bits: _Bits) -> tuple[int, int]:
    """The 6-bit-run + 8/16-bit-level ESCAPE continuation (shared by the
    serial and LUT decode paths — consumed AFTER the escape prefix)."""
    run = bits.bits(6)
    lv = bits.bits(8)
    if lv == 0:            # forbidden/extended: +128..255
        lv = bits.bits(8)
    elif lv == 128:        # extended negative: -256+(next 8)
        lv = bits.bits(8) - 256
    elif lv > 128:
        lv -= 256
    if lv == 0:
        raise ValueError("mpeg1: escape level 0")
    return run, lv


def _decode_ac_coeff_serial(
    bits: _Bits, prefix: str = ""
) -> tuple[int, int] | None:
    """Bit-serial dct_coeff_next walk — the LUT miss path, kept verbatim
    so malformed streams raise the exact pre-r16 errors."""
    s = prefix
    for _ in range(17):
        s += str(bits.bit())
        if s == _AC_EOB:
            return None
        if s == _AC_ESCAPE:
            return _ac_escape_tail(bits)
        key = _AC_DEC.get(s)
        if key is not None:
            sign = bits.bit()
            return key[0], -key[1] if sign else key[1]
    raise ValueError(f"mpeg1: invalid AC VLC prefix {s!r}")


def _build_ac_lut(strip_leading_zero: bool) -> list:
    """14-bit LUT over dct_coeff codes WITH their sign bit folded in
    (max code 13 bits + sign = 14). ``strip_leading_zero`` builds the
    dct_coeff_first '0…' continuation variant (§2.4.3.7): only codes
    starting '0', with that bit already consumed by the caller. EOB
    ('10') exists only in the unstripped table; payload markers 'EOB' /
    'ESC' are resolved by identity in the decode loop."""
    entries: dict[str, object] = {}
    for (run, mag), code in _AC_TABLE.items():
        if strip_leading_zero and not code.startswith("0"):
            continue
        c = code[1:] if strip_leading_zero else code
        entries[c + "0"] = (run, mag)
        entries[c + "1"] = (run, -mag)
    if not strip_leading_zero:
        entries[_AC_EOB] = "EOB"
    entries[_AC_ESCAPE[1:] if strip_leading_zero else _AC_ESCAPE] = "ESC"
    return _lut_from_codes(entries, 14)


_AC_LUT = _build_ac_lut(False)
_AC_LUT_P0 = _build_ac_lut(True)


def _decode_ac_coeff(bits: _Bits, prefix: str = "") -> tuple[int, int] | None:
    """One dct_coeff_next: → (run, signed level), or None at EOB.
    ``prefix`` seeds the code walk with bits already consumed by the
    caller (the dct_coeff_first '0…' continuation, §2.4.3.7)."""
    lut = _AC_LUT if not prefix else _AC_LUT_P0
    ent = lut[bits.peek(14)]
    if ent is not None:
        payload, ln = ent
        p = bits.pos
        if p + ln <= bits._rn:
            if type(payload) is tuple:
                bits.pos = p + ln
                return payload
            bits.pos = p + ln
            if payload == "EOB":
                return None
            return _ac_escape_tail(bits)
    return _decode_ac_coeff_serial(bits, prefix)


# Table B.4: motion_code VLC (magnitude → bitstring; sign bit follows
# for nonzero codes, 1 = negative — the level-sign convention).
_MOTION_TABLE = {
    0: "1", 1: "010", 2: "0010", 3: "00010", 4: "0000110",
    5: "00001010", 6: "00001000", 7: "00000110", 8: "0000010110",
    9: "0000010100", 10: "0000010010", 11: "00000100010",
    12: "00000100000", 13: "00000011110", 14: "00000011100",
    15: "00000011010", 16: "00000011000",
}
_MOTION_DEC = {v: k for k, v in _MOTION_TABLE.items()}

# Table B.3: coded_block_pattern VLC (cbp 1..63 → bitstring). Bit 32
# = block 0 (top-left luma) … bit 1 = block 5 (Cr), §2.4.3.6.
_CBP_TABLE = {
    60: "111", 4: "1101", 8: "1100", 16: "1011", 32: "1010",
    12: "10011", 48: "10010", 20: "10001", 40: "10000",
    28: "01111", 44: "01110", 52: "01101", 56: "01100",
    1: "01011", 61: "01010", 2: "01001", 62: "01000",
    24: "001111", 36: "001110", 3: "001101", 63: "001100",
    5: "0010111", 9: "0010110", 17: "0010101", 33: "0010100",
    6: "0010011", 10: "0010010", 18: "0010001", 34: "0010000",
    7: "00011111", 11: "00011110", 19: "00011101", 35: "00011100",
    13: "00011011", 49: "00011010", 21: "00011001", 41: "00011000",
    14: "00010111", 50: "00010110", 22: "00010101", 42: "00010100",
    15: "00010011", 51: "00010010", 23: "00010001", 43: "00010000",
    25: "00001111", 37: "00001110", 26: "00001101", 38: "00001100",
    29: "00001011", 45: "00001010", 53: "00001001", 57: "00001000",
    30: "00000111", 46: "00000110", 54: "00000101", 58: "00000100",
    31: "000000111", 47: "000000110", 55: "000000101", 59: "000000100",
    27: "000000011", 39: "000000010",
}
_CBP_DEC = {v: k for k, v in _CBP_TABLE.items()}

# default non-intra quantizer matrix (§2.4.2.3): flat 16
_NON_INTRA_Q = [16] * 64


def _dequant_non_intra(level: int, qscale: int, w: int) -> int:
    """Non-intra coefficient reconstruction (§2.4.4.2): ((2·QF +
    Sign(QF))·qscale·W)/16 with truncation toward zero, oddification
    toward zero, clamp to [−2048, 2047]; QF = 0 reconstructs 0."""
    if level == 0:
        return 0
    sign = 1 if level > 0 else -1
    prod = (2 * level + sign) * qscale * w
    rec = prod // 16 if prod >= 0 else -((-prod) // 16)
    if rec and rec % 2 == 0:
        rec -= sign
    return max(-2048, min(2047, rec))


def _decode_non_intra_block(bits: _Bits) -> list[int]:
    """One non-intra block → 64 quantized levels in zigzag order.
    dct_coeff_first (Table B.5b): '1s' codes (0, ±1) and EOB cannot
    occur; every other first code equals its dct_coeff_next twin."""
    zz = [0] * 64
    if bits.bit():
        run, level = 0, -1 if bits.bit() else 1
    else:
        nxt = _decode_ac_coeff(bits, prefix="0")
        if nxt is None:
            raise ValueError("mpeg1: EOB as dct_coeff_first")
        run, level = nxt
    k = run
    zz[k] = level
    while True:
        nxt = _decode_ac_coeff(bits)
        if nxt is None:
            return zz
        run, level = nxt
        k += run + 1
        if k > 63:
            raise ValueError("mpeg1: AC index overflow (non-intra)")
        zz[k] = level


def _decode_p_mb_type(bits: _Bits) -> tuple[int, int, int, int]:
    """P-picture macroblock_type (Table B.2b) →
    (motion_forward, pattern, intra, quant)."""
    if bits.bit():
        return 1, 1, 0, 0        # 1: pred-mc-cbp
    if bits.bit():
        return 0, 1, 0, 0        # 01: pred-cbp
    if bits.bit():
        return 1, 0, 0, 0        # 001: pred-mc
    if bits.bit():
        if bits.bit():
            return 0, 0, 1, 0    # 00011: intra
        return 1, 1, 0, 1        # 00010: pred-mc-cbp + quant
    if bits.bit():
        return 0, 1, 0, 1        # 00001: pred-cbp + quant
    if bits.bit():
        return 0, 0, 1, 1        # 000001: intra + quant
    raise ValueError("mpeg1: bad P-MB type prefix")


def _decode_motion(bits: _Bits, f_size: int, mv_pred: list[int], axis: int) -> int:
    """One motion-vector component (§2.4.4.2): Table B.4 code (+sign),
    optional f_size residual bits, differential against the predictor,
    wrap into the principal range [−16f, 16f−1]. Updates mv_pred[axis]
    and returns the reconstructed component (in full or half pels per
    the picture's full_pel flag — caller interprets)."""
    mag = _vlc_decode(bits, _MOTION_DEC, 11)
    if mag == 0:
        delta = 0
    else:
        # Table B.4: the sign is the FINAL bit of the motion_code
        # codeword itself, so it precedes motion_r (the f_size residual)
        # in the stream. Reading it after the residual only worked for
        # f_code=1 streams, where motion_r is absent (ADVICE r11).
        sign = bits_sign(bits)
        if f_size:
            residual = bits.bits(f_size)
            mag = ((mag - 1) << f_size) + residual + 1
        delta = -mag if sign else mag
    f = 1 << f_size
    v = mv_pred[axis] + delta
    if v < -16 * f:
        v += 32 * f
    elif v > 16 * f - 1:
        v -= 32 * f
    mv_pred[axis] = v
    return v


def bits_sign(bits: _Bits) -> int:
    return bits.bit()


def _mc_fetch(plane, y0: int, x0: int, h: int, w: int, hy: int, hx: int):
    """One motion-compensated prediction block with optional half-pel
    interpolation (§2.4.4.2): the two-point average is (a+b+1)>>1 and
    the four-point average (a+b+c+d+2)>>2 — the spec's integer division
    rounding to nearest with halves away from zero (operands are
    non-negative pixels, so the shift forms are exact)."""
    H, W = plane.shape
    if not (0 <= y0 and y0 + h + (1 if hy else 0) <= H
            and 0 <= x0 and x0 + w + (1 if hx else 0) <= W):
        raise ValueError("mpeg1: MC source out of frame")
    a = plane[y0:y0 + h, x0:x0 + w]
    if not hx and not hy:
        return a.copy()
    if hx and hy:
        b = plane[y0:y0 + h, x0 + 1:x0 + 1 + w]
        c = plane[y0 + 1:y0 + 1 + h, x0:x0 + w]
        d = plane[y0 + 1:y0 + 1 + h, x0 + 1:x0 + 1 + w]
        return (a + b + c + d + 2) >> 2
    if hx:
        return (a + plane[y0:y0 + h, x0 + 1:x0 + 1 + w] + 1) >> 1
    return (a + plane[y0 + 1:y0 + 1 + h, x0:x0 + w] + 1) >> 1


def _mc_blocks(src_pad, mx: int, my: int, dx: int, dy: int, full_pel: int):
    """One macroblock's motion-compensated prediction from a reference
    picture → (y 16×16, cb 8×8, cr 8×8). Vectors are in full pels when
    ``full_pel`` else half pels; chroma vectors are the luma vector / 2
    with truncation toward zero (§2.4.4.2)."""
    hx = dx << 1 if full_pel else dx
    hy = dy << 1 if full_pel else dy
    cvx = hx // 2 if hx >= 0 else -((-hx) // 2)
    cvy = hy // 2 if hy >= 0 else -((-hy) // 2)
    yb = _mc_fetch(src_pad[0], my * 16 + (hy >> 1), mx * 16 + (hx >> 1),
                   16, 16, hy & 1, hx & 1)
    cy, cx = my * 8 + (cvy >> 1), mx * 8 + (cvx >> 1)
    cb = _mc_fetch(src_pad[1], cy, cx, 8, 8, cvy & 1, cvx & 1)
    cr = _mc_fetch(src_pad[2], cy, cx, 8, 8, cvy & 1, cvx & 1)
    return yb, cb, cr


def _decode_add_residuals(
    bits: _Bits, Y, Cb, Cr, mx: int, my: int, qscale: int,
    non_intra_q: list[int], M,
) -> None:
    """coded_block_pattern + its coded blocks: Table B.3 VLC, non-intra
    dequant, IDCT, clip-ADD onto the prediction already written into
    the frame planes (shared by P and B macroblocks)."""
    pattern = _vlc_decode(bits, _CBP_DEC, 9)
    for bi, (comp, bx, by) in enumerate((
        ("y", 2 * mx, 2 * my), ("y", 2 * mx + 1, 2 * my),
        ("y", 2 * mx, 2 * my + 1), ("y", 2 * mx + 1, 2 * my + 1),
        ("cb", mx, my), ("cr", mx, my),
    )):
        if not pattern & (32 >> bi):
            continue
        zz = _decode_non_intra_block(bits)
        Fq = np.zeros((8, 8), dtype=np.float64)
        for idx, (r, c) in enumerate(_Z):
            if zz[idx]:
                Fq[r, c] = _dequant_non_intra(
                    zz[idx], qscale, non_intra_q[r * 8 + c]
                )
        resid = M.T @ Fq @ M
        tgt = {"y": Y, "cb": Cb, "cr": Cr}[comp]
        sl = tgt[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8]
        tgt[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = np.clip(
            np.round(sl + resid), 0, 255
        ).astype(np.int32)


def _decode_b_mb_type(bits: _Bits) -> tuple[int, int, int, int, int]:
    """B-picture macroblock_type (Table B.2c) →
    (motion_forward, motion_backward, pattern, intra, quant)."""
    if bits.bit():
        if bits.bit():
            return 1, 1, 1, 0, 0     # 11: interp-mc-cbp
        return 1, 1, 0, 0, 0         # 10: interp-mc
    if bits.bit():
        if bits.bit():
            return 0, 1, 1, 0, 0     # 011: bwd-mc-cbp
        return 0, 1, 0, 0, 0         # 010: bwd-mc
    if bits.bit():
        if bits.bit():
            return 1, 0, 1, 0, 0     # 0011: fwd-mc-cbp
        return 1, 0, 0, 0, 0         # 0010: fwd-mc
    if bits.bit():
        if bits.bit():
            return 0, 0, 0, 1, 0     # 00011: intra
        return 1, 1, 1, 0, 1         # 00010: interp-mc-cbp + quant
    if bits.bit():
        if bits.bit():
            return 1, 0, 1, 0, 1     # 000011: fwd-mc-cbp + quant
        return 0, 1, 1, 0, 1         # 000010: bwd-mc-cbp + quant
    if bits.bit():
        return 0, 0, 0, 1, 1         # 000001: intra + quant
    raise ValueError("mpeg1: bad B-MB type prefix")


def mpeg1_stream_info(payload: bytes) -> dict:
    """Cheap header walk of an MPEG-1 video elementary stream →
    {width, height, us_per_frame, n_frames} — the crawl feature stage's
    shape probe (r15, closing the r14 VERDICT gap #4: the dedup screen
    fingerprinted video/mpeg fetches while the feature stage passed them
    by). Parses the sequence header (ISO 11172-2 §2.4.2.3) and counts
    picture start codes with one byte scan — no slice/block decode, so
    a 100 TB crawl pays header cost, not pixel cost, for shape rows."""
    bits = _Bits(payload)
    if bits.next_start_code() != _SEQ:
        raise ValueError("mpeg1: missing sequence header")
    width = bits.bits(12)
    height = bits.bits(12)
    if not width or not height:
        raise ValueError("mpeg1: zero dimension in sequence header")
    bits.bits(4)  # aspect
    rate_code = bits.bits(4)
    us = _RATE_US.get(rate_code)
    if us is None:
        raise ValueError(f"mpeg1: bad picture_rate code {rate_code}")
    n_frames = payload.count(b"\x00\x00\x01\x00")  # picture start codes
    if not n_frames:
        raise ValueError("mpeg1: stream has no pictures")
    return {
        "width": width,
        "height": height,
        "us_per_frame": us,
        "n_frames": n_frames,
    }


def decode_mpeg1_frames(payload: bytes) -> dict:
    """Parse an MPEG-1 video elementary stream → {width, height,
    us_per_frame, n_frames, frames: [(Y, Cb, Cr) plane bytes]}.
    Supported pictures: I (full intra path), P (skip copy, full/half-
    pel forward MC, intra refresh, residual blocks — r12), B (r12:
    forward/backward/interpolated prediction, retained-vector skip,
    residuals; frames return in DISPLAY order) and D (r12: DC-only;
    per ISO 11172-2 §2.4.1 a sequence with D pictures contains ONLY D
    pictures — mixing refuses loudly, as do invalid type codes)."""
    bits = _Bits(payload)
    code = bits.next_start_code()
    if code != _SEQ:
        raise ValueError("mpeg1: missing sequence header")
    width = bits.bits(12)
    height = bits.bits(12)
    bits.bits(4)  # aspect
    rate_code = bits.bits(4)
    bits.bits(18)
    bits.bits(1)
    bits.bits(10)
    bits.bits(1)
    if bits.bit():  # load_intra_quantizer_matrix
        q = [bits.bits(8) for _ in range(64)]
        intra_q = [0] * 64
        for k, (r, c) in enumerate(_Z):
            intra_q[r * 8 + c] = q[k]
    else:
        intra_q = list(_INTRA_Q)
    if bits.bit():  # load_non_intra_quantizer_matrix
        q = [bits.bits(8) for _ in range(64)]
        non_intra_q = [0] * 64
        for k, (r, c) in enumerate(_Z):
            non_intra_q[r * 8 + c] = q[k]
    else:
        non_intra_q = list(_NON_INTRA_Q)
    us = _RATE_US.get(rate_code)
    if us is None:
        raise ValueError(f"mpeg1: bad picture_rate code {rate_code}")
    mbw, mbh = (width + 15) // 16, (height + 15) // 16
    M = _dct_matrix()
    frames: list[tuple[bytes, bytes, bytes]] = []
    # reference bookkeeping (r12, B pictures): the two most recent
    # ANCHORS (I/P) in coded order. P predicts from anchor_new; a B
    # picture predicts forward from anchor_old and backward from
    # anchor_new (coded order puts the future anchor BEFORE its Bs).
    # Emission is DISPLAY order: an anchor is held pending and emitted
    # when the next anchor arrives (its Bs emit in between); the last
    # pending anchor flushes at stream end.
    anchor_old = anchor_new = None
    pending: tuple[bytes, bytes, bytes] | None = None
    saw_d = saw_ipb = False

    def _emit(planes) -> tuple[bytes, bytes, bytes]:
        Yp, Cbp, Crp = planes
        return (
            Yp[:height, :width].astype(np.uint8).tobytes(),
            Cbp[:height // 2, :width // 2].astype(np.uint8).tobytes(),
            Crp[:height // 2, :width // 2].astype(np.uint8).tobytes(),
        )

    code = bits.next_start_code()
    while code is not None and code != _END:
        if code == _GOP:
            bits.bits(27)
            code = bits.next_start_code()
            continue
        if code != _PIC:
            code = bits.next_start_code()
            continue
        bits.bits(10)  # temporal reference
        ptype = bits.bits(3)
        if ptype not in (1, 2, 3, 4):
            raise ValueError(f"mpeg1: invalid picture type {ptype}")
        # §2.4.1: a sequence containing D pictures contains ONLY D
        # pictures — a D frame must never become a P/B reference, so
        # mixing refuses loudly instead of silently predicting from it
        if ptype == 4:
            saw_d = True
        else:
            saw_ipb = True
        if saw_d and saw_ipb:
            raise ValueError(
                "mpeg1: D pictures cannot mix with I/P/B in one "
                "sequence (§2.4.1 — a D frame is never a reference)"
            )
        bits.bits(16)  # vbv delay
        full_pel_f, f_size_f = 0, 0
        full_pel_b, f_size_b = 0, 0
        if ptype in (2, 3):
            if anchor_new is None:
                raise ValueError(
                    "mpeg1: P picture before any I picture"
                    if ptype == 2
                    else "mpeg1: B picture before any I picture"
                )
            full_pel_f = bits.bit()
            f_code = bits.bits(3)
            if not 1 <= f_code <= 7:
                raise ValueError(f"mpeg1: bad forward_f_code {f_code}")
            f_size_f = f_code - 1
        if ptype == 3:
            if anchor_old is None:
                raise ValueError(
                    "mpeg1: B picture needs two reference anchors"
                )
            full_pel_b = bits.bit()
            b_code = bits.bits(3)
            if not 1 <= b_code <= 7:
                raise ValueError(f"mpeg1: bad backward_f_code {b_code}")
            f_size_b = b_code - 1
        while bits.bit():  # extra_information_picture
            bits.bits(8)
        if ptype == 2:
            # prefill with the reference picture: skipped MBs are then
            # already reconstructed (skip ≡ copy with MV 0, §2.4.4.4)
            Y = anchor_new[0].copy()
            Cb = anchor_new[1].copy()
            Cr = anchor_new[2].copy()
        else:
            Y = np.zeros((mbh * 16, mbw * 16), dtype=np.int32)
            Cb = np.zeros((mbh * 8, mbw * 8), dtype=np.int32)
            Cr = np.zeros((mbh * 8, mbw * 8), dtype=np.int32)
        def _b_predict(bmx: int, bmy: int, mode: tuple[int, int]) -> None:
            # one B macroblock's prediction: forward from anchor_old,
            # backward from anchor_new, interpolated = (f + b + 1) >> 1
            # (§2.4.4.3's round-half-away average of two predictions)
            bmf, bmb = mode
            parts = []
            if bmf:
                parts.append(_mc_blocks(anchor_old, bmx, bmy,
                                        mv_pred[0], mv_pred[1], full_pel_f))
            if bmb:
                parts.append(_mc_blocks(anchor_new, bmx, bmy,
                                        mv_pred_b[0], mv_pred_b[1],
                                        full_pel_b))
            if len(parts) == 2:
                blocks = tuple((a + b + 1) >> 1 for a, b in zip(*parts))
            else:
                blocks = parts[0]
            Y[bmy * 16:bmy * 16 + 16, bmx * 16:bmx * 16 + 16] = blocks[0]
            Cb[bmy * 8:bmy * 8 + 8, bmx * 8:bmx * 8 + 8] = blocks[1]
            Cr[bmy * 8:bmy * 8 + 8, bmx * 8:bmx * 8 + 8] = blocks[2]

        code = bits.next_start_code()
        while code is not None and 0x01 <= code <= 0xAF:  # slices
            svp = code  # slice_vertical_position (1-based MB row)
            qscale = bits.bits(5)
            while bits.bit():  # extra_information_slice
                bits.bits(8)
            preds = {"y": 128, "cb": 128, "cr": 128}
            mv_pred = [0, 0]
            mv_pred_b = [0, 0]
            b_prev: tuple[int, int] | None = None
            mb_addr = (svp - 1) * mbw - 1
            while True:
                # peek for start code: slices are byte-aligned; detect
                # 23+ zero bits (next start code) to end the slice
                save = bits.pos
                try:
                    # LUT walk (r16) — the 11-bit prefix budget is PER
                    # CODE: each decoded escape/stuffing restarts it
                    # (r11 review fix); any decode failure (invalid
                    # prefix / read past end) ends the slice exactly as
                    # the serial walk's errors did.
                    if bits._rw is None:
                        bits._words()
                    inc = 0
                    while True:
                        ent = _MBA_LUT[bits.peek(11)]
                        if ent is None:
                            raise ValueError("mpeg1: bad MBA prefix")
                        sym, ln = ent
                        if bits.pos + ln > bits._rn:
                            raise IndexError("mpeg1: MBA past end")
                        bits.pos += ln
                        if sym == -1:
                            continue  # stuffing: discarded
                        if sym == -2:
                            inc += 33  # escape: increment continues
                            continue
                        inc += sym
                        break
                except (ValueError, IndexError):
                    bits.pos = save
                    break
                if inc == 0:
                    bits.pos = save
                    break
                mb_addr += inc
                if inc > 1:
                    # skipped MBs: DC predictors reset (§2.4.4.1). In P,
                    # MV predictors reset too and the prefill already
                    # holds the copy (§2.4.4.4). In B, predictors are
                    # RETAINED and each skipped MB repeats the previous
                    # macroblock's prediction mode and vectors.
                    preds = {"y": 128, "cb": 128, "cr": 128}
                    if ptype == 2:
                        mv_pred = [0, 0]
                    elif ptype == 3:
                        if b_prev is None:
                            raise ValueError(
                                "mpeg1: B-picture skip with no previous "
                                "coded prediction (slice start or after "
                                "intra — illegal per §2.4.4.4)"
                            )
                        for sk in range(mb_addr - inc + 1, mb_addr):
                            _b_predict(sk % mbw, sk // mbw, b_prev)
                mx, my = mb_addr % mbw, mb_addr // mbw
                if ptype == 1:
                    # macroblock_type, I-picture (Table B.2a)
                    if bits.bit():
                        pass  # '1' intra
                    else:
                        if not bits.bit():
                            raise ValueError("mpeg1: bad I-MB type")
                        qscale = bits.bits(5)  # '01' intra+quant
                elif ptype == 4:
                    # macroblock_type, D-picture (Table B.2d): the one
                    # code '1' (r12 — the obsolete DC-only picture type)
                    if not bits.bit():
                        raise ValueError("mpeg1: bad D-MB type")
                elif ptype == 2:
                    # macroblock_type, P-picture (Table B.2b)
                    mc, cbp, intra_mb, quant = _decode_p_mb_type(bits)
                    if quant:
                        qscale = bits.bits(5)
                    if not intra_mb:
                        preds = {"y": 128, "cb": 128, "cr": 128}
                        if mc:
                            dx = _decode_motion(bits, f_size_f, mv_pred, 0)
                            dy = _decode_motion(bits, f_size_f, mv_pred, 1)
                        else:
                            dx = dy = 0
                            mv_pred = [0, 0]
                        # r12: half-pel MC (§2.4.4.2) — _mc_blocks does
                        # the half-pel split and the trunc-toward-zero
                        # chroma vector halving
                        yb, cbb, crb = _mc_blocks(
                            anchor_new, mx, my, dx, dy, full_pel_f
                        )
                        Y[my * 16:my * 16 + 16, mx * 16:mx * 16 + 16] = yb
                        Cb[my * 8:my * 8 + 8, mx * 8:mx * 8 + 8] = cbb
                        Cr[my * 8:my * 8 + 8, mx * 8:mx * 8 + 8] = crb
                        if cbp:
                            # r12: residual-coded P blocks — Table B.3
                            # pattern, non-intra dequant, IDCT-ADD onto
                            # the MC prediction written above (§2.4.4.2)
                            _decode_add_residuals(
                                bits, Y, Cb, Cr, mx, my, qscale,
                                non_intra_q, M,
                            )
                        continue
                    mv_pred = [0, 0]  # intra MB resets the MV predictor
                else:
                    # macroblock_type, B-picture (Table B.2c, r12)
                    mf, mb_, cbp, intra_mb, quant = _decode_b_mb_type(bits)
                    if quant:
                        qscale = bits.bits(5)
                    if not intra_mb:
                        preds = {"y": 128, "cb": 128, "cr": 128}
                        if mf:
                            _decode_motion(bits, f_size_f, mv_pred, 0)
                            _decode_motion(bits, f_size_f, mv_pred, 1)
                        if mb_:
                            _decode_motion(bits, f_size_b, mv_pred_b, 0)
                            _decode_motion(bits, f_size_b, mv_pred_b, 1)
                        b_prev = (mf, mb_)
                        _b_predict(mx, my, b_prev)
                        if cbp:
                            _decode_add_residuals(
                                bits, Y, Cb, Cr, mx, my, qscale,
                                non_intra_q, M,
                            )
                        continue
                    # intra MB in B resets BOTH predictors, and skip may
                    # not follow it (§2.4.4.2, §2.4.4.4)
                    mv_pred = [0, 0]
                    mv_pred_b = [0, 0]
                    b_prev = None
                for comp, bx, by in (
                    ("y", 2 * mx, 2 * my), ("y", 2 * mx + 1, 2 * my),
                    ("y", 2 * mx, 2 * my + 1), ("y", 2 * mx + 1, 2 * my + 1),
                    ("cb", mx, my), ("cr", mx, my),
                ):
                    tab = _DC_LUMA_DEC if comp == "y" else _DC_CHROMA_DEC
                    size = _vlc_decode(bits, tab, 8)
                    diff = _dc_diff_value(size, bits.bits(size) if size else 0)
                    dc = preds[comp] + diff
                    preds[comp] = dc
                    if ptype == 4:
                        # D blocks carry ONLY the DC (no AC, no EOB):
                        # recon = dc·8, IDCT constant = dc — exact
                        pix = max(0, min(255, dc))
                        if comp == "y":
                            Y[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = pix
                        elif comp == "cb":
                            Cb[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = pix
                        else:
                            Cr[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = pix
                        continue
                    nz: list | None = None  # (flat index, rec) nonzero ACs
                    k = 0
                    while True:
                        nxt = _decode_ac_coeff(bits)
                        if nxt is None:
                            break
                        run, level = nxt
                        k += run + 1
                        if k > 63:
                            raise ValueError("mpeg1: AC index overflow")
                        w = intra_q[_ZFLAT_L[k]]
                        prod = 2 * level * qscale * w
                        # §2.4.4.1 "/" truncates toward ZERO — Python's
                        # floor division is wrong for negative products
                        # (r11 review fix: floor(-132/16) = -9 but the
                        # spec wants trunc = -8 → oddified -7)
                        rec = prod // 16 if prod >= 0 else -((-prod) // 16)
                        # oddification mismatch control (§2.4.4.1)
                        if rec and rec % 2 == 0:
                            rec -= 1 if rec > 0 else -1
                        rec = max(-2048, min(2047, rec))
                        if rec:  # a zero adds nothing to F
                            if nz is None:
                                nz = []
                            nz.append((_ZFLAT_L[k], rec))
                    if nz is None:
                        # DC-only block: the IDCT of F with only F[0,0]
                        # set is the constant fl(fl(c·dc·8)·c), c =
                        # M[0,0] (the DC row of M is one repeated value)
                        # — bit-identical to the matmul, scalar-computed
                        # and memoized (r16; pinned by
                        # test_dc_only_idct_shortcut_bitexact)
                        pix = _dc_only_pix(dc * 8)
                    else:
                        F = np.zeros((8, 8), dtype=np.float64)
                        F.flat[0] = dc * 8  # intra DC: recon = dc·8
                        for fi, rec in nz:
                            F.flat[fi] = rec
                        blk = M.T @ F @ M
                        pix = np.clip(np.round(blk), 0, 255).astype(np.int32)
                    if comp == "y":
                        Y[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = pix
                    elif comp == "cb":
                        Cb[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = pix
                    else:
                        Cr[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = pix
                if ptype == 4 and not bits.bit():
                    # §2.4.3.1: D macroblocks end with end_of_macroblock=1
                    raise ValueError(
                        "mpeg1: missing end_of_macroblock in D picture"
                    )
            code = bits.next_start_code()
        if ptype == 3:
            # B pictures emit immediately (display order) and never
            # become references
            frames.append(_emit((Y, Cb, Cr)))
        elif ptype == 4:
            # D pictures emit in coded order and are NEVER references
            # (the mixing guard above keeps the sequence D-only)
            frames.append(_emit((Y, Cb, Cr)))
        else:
            # a new anchor releases the pending one (its Bs, already
            # emitted, display between them)
            if pending is not None:
                frames.append(pending)
            pending = _emit((Y, Cb, Cr))
            anchor_old, anchor_new = anchor_new, (Y, Cb, Cr)
    if pending is not None:
        frames.append(pending)
    return {
        "width": width,
        "height": height,
        "us_per_frame": us,
        "n_frames": len(frames),
        "frames": frames,
    }


def _encode_motion(bits: _Bits, delta: int, f_size: int = 0) -> None:
    """Encode one MV differential (wrapped into the principal range
    [−16f, 16f−1], f = 1<<f_size — the decoder's modulo-32f wrap
    recovers the intended vector, §2.4.4.2). Bit order per Table B.4:
    motion_code magnitude VLC, then its sign bit (1 = negative), THEN
    the f_size-bit motion_r residual — the sign belongs to the
    motion_code codeword, so it precedes motion_r (ADVICE r11)."""
    f = 1 << f_size
    delta = ((delta + 16 * f) % (32 * f)) - 16 * f
    mag = abs(delta)
    if mag == 0:
        bits.wstr(_MOTION_TABLE[0])
        return
    code = ((mag - 1) >> f_size) + 1
    bits.wstr(_MOTION_TABLE[code])
    bits.w(1 if delta < 0 else 0, 1)
    if f_size:
        bits.w((mag - 1) & (f - 1), f_size)


def _encode_run_level(bits: _Bits, run: int, level: int,
                      first: bool = False) -> None:
    """One non-intra (run, level) pair: Table B.5b's '1s' short code
    for a leading (0, ±1), the shared B.5c VLC + sign otherwise, and
    the 6+8(+8)-bit escape for pairs outside the table."""
    if level == 0:
        raise ValueError("mpeg1 fixture: zero level is not codable")
    mag = abs(level)
    if first and run == 0 and mag == 1:
        bits.wstr("1")
        bits.w(1 if level < 0 else 0, 1)
        return
    code = _AC_TABLE.get((run, mag))
    if code is not None:
        bits.wstr(code)
        bits.w(1 if level < 0 else 0, 1)
        return
    if not 0 <= run <= 63:
        raise ValueError(f"mpeg1 fixture: escape run {run} out of range")
    bits.wstr(_AC_ESCAPE)
    bits.w(run, 6)
    if -127 <= level <= 127:
        bits.w(level & 0xFF, 8)
    elif 128 <= level <= 255:
        bits.w(0, 8)
        bits.w(level, 8)
    elif -255 <= level <= -128:
        bits.w(128, 8)
        bits.w(level + 256, 8)
    else:
        raise ValueError(f"mpeg1 fixture: escape level {level} out of range")


def _encode_non_intra_block(bits: _Bits, coeffs: list[tuple[int, int]]) -> None:
    """Write one coded block: (zigzag index, level) pairs → runs +
    dct_coeff_first/next VLCs + EOB."""
    pairs = sorted(coeffs)
    if not pairs:
        raise ValueError("mpeg1 fixture: a coded block needs ≥1 coefficient")
    prev = -1
    for i, (k, level) in enumerate(pairs):
        if not 0 <= k <= 63 or k <= prev:
            raise ValueError("mpeg1 fixture: bad zigzag index sequence")
        _encode_run_level(bits, k - prev - 1, level, first=(i == 0))
        prev = k
    bits.wstr(_AC_EOB)


def encode_mpeg1_ip(
    width: int,
    height: int,
    iframe: tuple[bytes, bytes, bytes],
    p_motions: list[list[tuple[int, int] | None]],
    rate_code: int = 3,
    f_code: int = 1,
    full_pel: bool = True,
) -> bytes:
    """Fixture synthesizer for I+P streams: one leading I picture
    (block-constant planes — encode_mpeg1_intra's contract) followed by
    one zero-residual P picture per ``p_motions`` entry. Each entry
    lists, per macroblock in raster order, its forward motion vector
    (dx, dy) — in FULL pels when ``full_pel`` (even vectors are the
    chroma-exact lossless class; odd vectors interpolate chroma), or
    in HALF pels when ``full_pel=False`` (odd components interpolate
    luma too) — or ``None`` to skip (copy in place), or
    ``(dx, dy, resid)`` (r12)
    where ``resid`` maps block index 0-5 (Y0 Y1 Y2 Y3 Cb Cr) to a
    non-empty list of (zigzag index, quantized level) residual
    coefficients — emitted as a pred-mc-cbp macroblock with the Table
    B.3 pattern. The first and last macroblock of a slice cannot be
    skipped (§2.4.2.7): ``None`` there is coerced to a coded (0, 0)
    vector, which reconstructs identically."""
    pictures = [("P", tref, mvs)
                for tref, mvs in enumerate(p_motions, start=1)]
    return encode_mpeg1_ipb(
        width, height, iframe, pictures,
        rate_code=rate_code, f_code=f_code, full_pel=full_pel,
    )


def _write_mba(bits: _Bits, inc: int) -> None:
    while inc > 33:
        bits.wstr(_MBA_ESCAPE)
        inc -= 33
    bits.wstr(_MBA_TABLE[inc])


def _write_resid(bits: _Bits, resid: dict) -> None:
    pattern = 0
    for bi in resid:
        if not 0 <= bi <= 5:
            raise ValueError("mpeg1 fixture: block index 0-5")
        pattern |= 32 >> bi
    bits.wstr(_CBP_TABLE[pattern])
    for bi in sorted(resid):
        _encode_non_intra_block(bits, resid[bi])


def _write_p_picture(bits: _Bits, tref: int, mvs: list, f_code: int,
                     full_pel: bool) -> None:
    bits.start_code(_PIC)
    bits.w(tref % 1024, 10)
    bits.w(2, 3)        # P picture
    bits.w(0xFFFF, 16)  # vbv delay
    bits.w(1 if full_pel else 0, 1)  # full_pel_forward_vector
    bits.w(f_code, 3)   # forward_f_code
    bits.w(0, 1)        # extra_bit_picture
    bits.start_code(0x01)
    bits.w(8, 5)        # quantizer_scale
    bits.w(0, 1)        # extra_bit_slice
    f_size = f_code - 1
    coerced = list(mvs)
    if coerced[0] is None:
        coerced[0] = (0, 0)
    if coerced[-1] is None:
        coerced[-1] = (0, 0)
    mv_pred = [0, 0]
    pending = 0
    for mv in coerced:
        if mv is None:
            pending += 1
            mv_pred = [0, 0]  # skip resets the predictor
            continue
        _write_mba(bits, pending + 1)
        pending = 0
        dx, dy = mv[0], mv[1]
        resid = mv[2] if len(mv) > 2 else None
        if resid:
            bits.wstr("1")  # macroblock_type: pred-mc-cbp
        else:
            bits.wstr("001")  # macroblock_type: pred-mc (no residual)
        _encode_motion(bits, dx - mv_pred[0], f_size)
        _encode_motion(bits, dy - mv_pred[1], f_size)
        mv_pred = [dx, dy]
        if resid:
            _write_resid(bits, resid)


def _write_b_picture(bits: _Bits, tref: int, mbs: list, f_code: int,
                     full_pel: bool) -> None:
    """One B picture (r12): each entry is ``None`` (skip — repeats the
    previous macroblock's mode and vectors, so the first/last entry
    must be coded, §2.4.4.4) or ``(fwd, bwd)`` / ``(fwd, bwd, resid)``
    with fwd/bwd = (dx, dy) or None — at least one present; both →
    interpolated prediction."""
    bits.start_code(_PIC)
    bits.w(tref % 1024, 10)
    bits.w(3, 3)        # B picture
    bits.w(0xFFFF, 16)  # vbv delay
    bits.w(1 if full_pel else 0, 1)  # full_pel_forward_vector
    bits.w(f_code, 3)   # forward_f_code
    bits.w(1 if full_pel else 0, 1)  # full_pel_backward_vector
    bits.w(f_code, 3)   # backward_f_code
    bits.w(0, 1)        # extra_bit_picture
    bits.start_code(0x01)
    bits.w(8, 5)        # quantizer_scale
    bits.w(0, 1)        # extra_bit_slice
    f_size = f_code - 1
    if mbs[0] is None or mbs[-1] is None:
        raise ValueError(
            "mpeg1 fixture: a B slice's first and last macroblock must "
            "be coded (skip repeats the previous prediction, §2.4.4.4)"
        )
    mvf, mvb = [0, 0], [0, 0]
    pending = 0
    for mb in mbs:
        if mb is None:
            pending += 1
            continue  # B skip retains predictors
        _write_mba(bits, pending + 1)
        pending = 0
        fwd, bwd = mb[0], mb[1]
        resid = mb[2] if len(mb) > 2 else None
        if fwd is None and bwd is None:
            raise ValueError(
                "mpeg1 fixture: B macroblock needs fwd and/or bwd"
            )
        if fwd is not None and bwd is not None:
            bits.wstr("11" if resid else "10")
        elif bwd is not None:
            bits.wstr("011" if resid else "010")
        else:
            bits.wstr("0011" if resid else "0010")
        if fwd is not None:
            _encode_motion(bits, fwd[0] - mvf[0], f_size)
            _encode_motion(bits, fwd[1] - mvf[1], f_size)
            mvf = list(fwd)
        if bwd is not None:
            _encode_motion(bits, bwd[0] - mvb[0], f_size)
            _encode_motion(bits, bwd[1] - mvb[1], f_size)
            mvb = list(bwd)
        if resid:
            _write_resid(bits, resid)


def encode_mpeg1_ipb(
    width: int,
    height: int,
    iframe: tuple[bytes, bytes, bytes],
    pictures: list[tuple[str, int, list]],
    rate_code: int = 3,
    f_code: int = 1,
    full_pel: bool = True,
) -> bytes:
    """Fixture synthesizer for I+P+B streams (r12): one leading I
    picture (temporal reference 0), then ``pictures`` in CODED order —
    ("P", tref, p_mbs) entries shaped like encode_mpeg1_ip's and
    ("B", tref, b_mbs) entries shaped like _write_b_picture's. The
    decoder returns DISPLAY order, so temporal references should
    reflect the intended display positions (anchors ahead of their
    Bs in coded order)."""
    if width % 16 or height % 16:
        raise ValueError("mpeg1 fixture dims must be multiples of 16")
    if not 1 <= f_code <= 7:
        raise ValueError(f"mpeg1 fixture: bad forward_f_code {f_code}")
    n_mb = (width // 16) * (height // 16)
    base = encode_mpeg1_intra(width, height, [iframe], rate_code=rate_code)
    bits = _Bits(base[: len(base) - 4])  # drop the sequence_end code
    for kind, tref, mbs in pictures:
        if len(mbs) != n_mb:
            raise ValueError(f"each picture needs {n_mb} macroblocks")
        if kind == "P":
            _write_p_picture(bits, tref, mbs, f_code, full_pel)
        elif kind == "B":
            _write_b_picture(bits, tref, mbs, f_code, full_pel)
        else:
            raise ValueError(f"mpeg1 fixture: unknown picture kind {kind}")
    bits.start_code(_END)
    bits.align()
    return bytes(bits.buf)


def encode_mpeg1_d(
    width: int,
    height: int,
    frames: list[tuple[bytes, bytes, bytes]],
    rate_code: int = 3,
) -> bytes:
    """Fixture synthesizer for D-only streams (r12 — ISO 11172-2's
    obsolete DC-only picture type, kept for a COMPLETE picture-type
    surface): each frame is block-constant 4:2:0 planes; every
    macroblock is the single D type ('1'), carries the six DC
    differentials and ends with end_of_macroblock=1 — no AC, no EOB.
    DC-only content round-trips exactly (recon = dc)."""
    if width % 16 or height % 16:
        raise ValueError("mpeg1 fixture dims must be multiples of 16")
    if rate_code not in _RATE_US:
        raise ValueError(f"bad picture_rate code {rate_code}")
    bits = _Bits()
    bits.start_code(_SEQ)
    bits.w(width, 12)
    bits.w(height, 12)
    bits.w(1, 4)
    bits.w(rate_code, 4)
    bits.w(0x3FFFF, 18)
    bits.w(1, 1)
    bits.w(0, 10)
    bits.w(0, 1)
    bits.w(0, 1)
    bits.w(0, 1)
    mbw, mbh = width // 16, height // 16
    cw = width // 2
    for tref, (py, pcb, pcr) in enumerate(frames):
        bits.start_code(_PIC)
        bits.w(tref, 10)
        bits.w(4, 3)       # D picture
        bits.w(0xFFFF, 16)
        bits.w(0, 1)       # extra_bit_picture
        bits.start_code(0x01)
        bits.w(8, 5)       # quantizer_scale (unused: DC path)
        bits.w(0, 1)
        preds = {"y": 128, "cb": 128, "cr": 128}
        for my in range(mbh):
            for mx in range(mbw):
                bits.wstr(_MBA_TABLE[1])
                bits.wstr("1")  # macroblock_type: the one D code
                for comp, bx, by in (
                    ("y", 2 * mx, 2 * my), ("y", 2 * mx + 1, 2 * my),
                    ("y", 2 * mx, 2 * my + 1), ("y", 2 * mx + 1, 2 * my + 1),
                    ("cb", mx, my), ("cr", mx, my),
                ):
                    if comp == "y":
                        plane, pw = py, width
                    else:
                        plane, pw = (pcb if comp == "cb" else pcr), cw
                    val = plane[(by * 8) * pw + bx * 8]
                    diff = val - preds[comp]
                    preds[comp] = val
                    size, amp = _dc_diff_bits(diff)
                    tab = _DC_SIZE_LUMA if comp == "y" else _DC_SIZE_CHROMA
                    bits.wstr(tab[size])
                    if size:
                        bits.w(amp, size)
                bits.w(1, 1)  # end_of_macroblock
    bits.start_code(_END)
    bits.align()
    return bytes(bits.buf)
